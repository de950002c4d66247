"""Span recorder for the traced run, and the per-layer table derived from it.

A span is one call into a layer: name, start, end, parent, plus counters
(files, bytes, rows) attached where the work happens. Spans stay in memory
while the run measures and are written as JSON lines when it ends;
``derive`` then reads that file back and computes each layer's self time
(the span's duration minus the part of it that its child spans cover) and
counts. Run this file on a spans file to print the table again::

    python3 perfbench/spans.py .perfbench/trace/tail-s1.jsonl

``install`` puts the wrappers at the names each caller looks up (module
globals such as ``streaming.apply.compact``, class attributes such as
``LakeTable.commit_append``) and returns the function that takes them out.
README.md lists every span name with the public function it wraps.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import sys
import time

#: per-layer metrics of one traced round: name -> unit
LAYER_METRICS = {
    "stream.list_s": "s",
    "apply.self_s": "s",
    "evolve.s": "s",
    "evolve.calls": "count",
    "table.write_s": "s",
    "table.write_files": "count",
    "table.write_bytes": "B",
    "table.rows_per_file": "rows",
    "table.commit_s": "s",
    "table.commit_calls": "count",
    "table.commit_conflicts": "count",
    "table.load_s": "s",
    "table.load_calls": "count",
    "table.files_end": "count",
    "table.bytes_end": "B",
    "table.scan_files_per_lookup": "count",
    "merge.compact_s": "s",
    "merge.compact_calls": "count",
    "merge.compact_bytes_rewritten": "B",
    "merge.lookup_s": "s",
    "merge.read_current_s": "s",
    "commitlog.s": "s",
    "commitlog.calls": "count",
    "lineage.s": "s",
    "lineage.calls": "count",
    "bench.self_s": "s",
    "trace.bookkeeping_s": "s",
    "trace.replay_wall_s": "s",
    "trace.replay_self_sum_s": "s",
}

#: span name -> the layer metric its self time and call count feed
_LAYER_OF = {
    "stream.replay_bulk": "stream.list",
    "stream.list_epochs": "stream.list",
    "apply.apply_epoch": "apply.self",
    "apply.apply_epochs_bulk_files": "apply.self",
    "evolve.evolve_if_needed": "evolve",
    "table.write_data_files_direct": "table.write",
    "table.write_change_files_direct": "table.write",
    "table.commit_append": "table.commit",
    "table.commit_overwrite": "table.commit",
    "table.load": "table.load",
    "merge.compact": "merge.compact",
    "merge.point_lookup": "merge.lookup",
    "merge.read_current": "merge.read_current",
    "commitlog.is_committed": "commitlog",
    "commitlog.commit": "commitlog",
    "commitlog.compact_log": "commitlog",
    "lineage.append_lineage_rows": "lineage",
    "lineage.append_metrics": "lineage",
}

#: root spans whose intervals make up the replay wall time
REPLAY_ROOTS = ("bench.list", "bench.epoch", "bench.replay")


class Tracer:
    """In-memory span stack for one client thread."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.round = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; the yielded dict takes counters,
        also after the body has ended."""
        if not self.enabled:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "round": self.round,
            "start": time.perf_counter_ns(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter_ns()

    def note(self, name: str, **attrs) -> None:
        """A zero-length record of this round's state, e.g. at its end."""
        now = time.perf_counter_ns()
        self.spans.append({
            "id": len(self.spans), "name": name, "parent": None,
            "round": self.round, "start": now, "end": now, "attrs": attrs,
        })

    def count_written(self) -> None:
        """Replace the staged paths recorded on writer spans by their file,
        byte and row counts (read from disk, after the timed part)."""
        import pyarrow.parquet as pq

        for rec in self.spans:
            paths = rec["attrs"].pop("paths", None)
            if paths is None:
                continue
            rec["attrs"]["files"] = len(paths)
            rec["attrs"]["bytes"] = sum(os.path.getsize(p) for p in paths)
            rec["attrs"]["rows"] = sum(
                pq.read_metadata(p).num_rows for p in paths
            )

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, name: str, after=None):
    """Replace ``owner.attr`` with a traced version; return the undo.

    ``after(attrs, args, result)`` fills span counters once the call has
    returned. It runs inside a ``trace.overhead`` span, so that its cost is
    charged to the tracer and not to the layer that called."""
    raw = owner.__dict__[attr]
    is_cm = isinstance(raw, classmethod)
    fn = raw.__func__ if is_cm else raw

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as attrs:
            try:
                out = fn(*args, **kwargs)
            except Exception as e:
                attrs["error"] = type(e).__name__
                raise
        if after is not None:
            with tracer.span("trace.overhead"):
                after(attrs, args, out)
        return out

    setattr(owner, attr, classmethod(traced) if is_cm else traced)
    return lambda: setattr(owner, attr, raw)


def _record_paths(attrs, args, out) -> None:
    files = out[0]  # both direct writers return (files, ...)
    attrs["paths"] = [
        os.path.join(args[0].root, p) for fs in files.values() for p in fs
    ]


def install(tracer: Tracer):
    """Wrap every layer boundary the two workloads cross; return the undo."""
    from etl_documentos_spark.lake.table import LakeTable
    from etl_documentos_spark.streaming import apply, commitlog, stream

    raw_compact = apply.compact

    @functools.wraps(raw_compact)
    def compact(spark, table, *args, **kwargs):
        buckets = kwargs.get("buckets", args[0] if args else None)
        with tracer.span("trace.overhead"):
            rewritten = sum(table.bucket_sizes(buckets).values())
        with tracer.span("merge.compact", bytes_rewritten=rewritten):
            return raw_compact(spark, table, *args, **kwargs)

    apply.compact = compact
    undo = [lambda: setattr(apply, "compact", raw_compact)]
    for owner, attr, name, after in [
        (stream, "replay_bulk", "stream.replay_bulk", None),
        (stream, "list_epochs", "stream.list_epochs", None),
        (apply.CdcPipeline, "apply_epoch", "apply.apply_epoch", None),
        (
            apply.CdcPipeline, "apply_epochs_bulk_files",
            "apply.apply_epochs_bulk_files", None,
        ),
        (apply, "evolve_if_needed", "evolve.evolve_if_needed", None),
        (apply, "append_lineage_rows", "lineage.append_lineage_rows", None),
        (apply, "append_metrics", "lineage.append_metrics", None),
        (
            LakeTable, "write_data_files_direct",
            "table.write_data_files_direct", _record_paths,
        ),
        (
            LakeTable, "write_change_files_direct",
            "table.write_change_files_direct", _record_paths,
        ),
        (LakeTable, "commit_append", "table.commit_append", None),
        (LakeTable, "commit_overwrite", "table.commit_overwrite", None),
        (LakeTable, "load", "table.load", None),
        (commitlog.CommitLog, "is_committed", "commitlog.is_committed", None),
        (commitlog.CommitLog, "commit", "commitlog.commit", None),
        (commitlog.CommitLog, "compact_log", "commitlog.compact_log", None),
    ]:
        undo.append(_wrap(tracer, owner, attr, name, after))

    def uninstall():
        for u in reversed(undo):
            u()

    return uninstall


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> seconds not covered by its child spans. Spans come from
    one thread, so children never overlap and their durations add up."""
    covered: dict[int, int] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0) + s["end"] - s["start"]
    return {
        s["id"]: (s["end"] - s["start"] - covered.get(s["id"], 0)) / 1e9
        for s in spans
    }


def derive_round(spans: list[dict]) -> dict[str, float]:
    """The per-layer table of one traced round (see ``LAYER_METRICS``)."""
    own = self_times(spans)
    by_id = {s["id"]: s for s in spans}
    secs: dict[str, float] = {}
    calls: dict[str, int] = {}
    for s in spans:
        layer = _LAYER_OF.get(s["name"])
        if s["name"].startswith("bench."):
            layer = "bench.self"
        elif s["name"] == "trace.overhead":
            layer = "trace.bookkeeping"
        if layer is None:
            continue
        secs[layer] = secs.get(layer, 0.0) + own[s["id"]]
        calls[layer] = calls.get(layer, 0) + 1

    def attrs(name: str, key: str) -> list:
        return [
            s["attrs"][key]
            for s in spans
            if s["name"] == name and key in s["attrs"]
        ]

    def root_of(s: dict) -> dict:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s

    replay_roots = [s for s in spans if s["name"] in REPLAY_ROOTS and s["parent"] is None]
    replay_ids = {s["id"] for s in replay_roots}
    written = [
        s["attrs"] for s in spans if s["name"].startswith("table.write_")
    ]
    files = sum(a.get("files", 0) for a in written)
    rows = sum(a.get("rows", 0) for a in written)
    lookup_files = attrs("bench.lookup", "input_files")
    lookups = [own[s["id"]] for s in spans if s["name"] == "merge.point_lookup"]
    reads = [own[s["id"]] for s in spans if s["name"] == "merge.read_current"]
    end = next((s["attrs"] for s in spans if s["name"] == "bench.end"), {})
    return {
        "stream.list_s": secs.get("stream.list", 0.0),
        "apply.self_s": secs.get("apply.self", 0.0),
        "evolve.s": secs.get("evolve", 0.0),
        "evolve.calls": calls.get("evolve", 0),
        "table.write_s": secs.get("table.write", 0.0),
        "table.write_files": files,
        "table.write_bytes": sum(a.get("bytes", 0) for a in written),
        "table.rows_per_file": rows / files if files else 0.0,
        "table.commit_s": secs.get("table.commit", 0.0),
        "table.commit_calls": calls.get("table.commit", 0),
        "table.commit_conflicts": sum(
            1
            for s in spans
            if s["name"].startswith("table.commit_") and "error" in s["attrs"]
        ),
        "table.load_s": secs.get("table.load", 0.0),
        "table.load_calls": calls.get("table.load", 0),
        "table.files_end": end.get("files", 0),
        "table.bytes_end": end.get("bytes", 0),
        "table.scan_files_per_lookup": (
            statistics.fmean(lookup_files) if lookup_files else 0.0
        ),
        "merge.compact_s": secs.get("merge.compact", 0.0),
        "merge.compact_calls": calls.get("merge.compact", 0),
        "merge.compact_bytes_rewritten": sum(
            attrs("merge.compact", "bytes_rewritten")
        ),
        "merge.lookup_s": statistics.median(lookups) if lookups else 0.0,
        "merge.read_current_s": statistics.median(reads) if reads else 0.0,
        "commitlog.s": secs.get("commitlog", 0.0),
        "commitlog.calls": calls.get("commitlog", 0),
        "lineage.s": secs.get("lineage", 0.0),
        "lineage.calls": calls.get("lineage", 0),
        "bench.self_s": secs.get("bench.self", 0.0),
        "trace.bookkeeping_s": secs.get("trace.bookkeeping", 0.0),
        "trace.replay_wall_s": sum(
            (s["end"] - s["start"]) / 1e9 for s in replay_roots
        ),
        "trace.replay_self_sum_s": sum(
            own[s["id"]] for s in spans if root_of(s)["id"] in replay_ids
        ),
    }


def derive(path: str) -> dict[str, float]:
    """Median over the traced rounds in a spans file of each layer metric."""
    spans = load(path)
    rounds = sorted({s["round"] for s in spans})
    per = [derive_round([s for s in spans if s["round"] == r]) for r in rounds]
    return {k: statistics.median(p[k] for p in per) for k in LAYER_METRICS}


if __name__ == "__main__":
    for k, v in derive(sys.argv[1]).items():
        print(f"{k:32s} {v:14.4f} {LAYER_METRICS[k]}")
