"""Workload shapes, their generated inputs, and one measured round of each.

Both workloads are closed loops with one caller, which is how a
``foreachBatch`` handler and a backfill job call the engine. A round builds
a fresh table and pipeline (default settings), drives the generated input
through the engine's public functions, and records what a user would wait
for. The checks that follow a round run outside its timed part.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from dataclasses import dataclass, field, replace

import host

from etl_documentos_spark import datagen
from etl_documentos_spark.lake.table import LakeTable
from etl_documentos_spark.operators import merge
from etl_documentos_spark.schemas import CHANGE_EVENTS, CHANGE_EVENTS_V2, TRANSCRIPTS
from etl_documentos_spark.streaming import stream
from etl_documentos_spark.streaming.apply import CdcPipeline
from etl_documentos_spark.streaming.lineage import read_lineage
from pyspark.sql import functions as F

HOT_CONV = "conv_hot"
#: share of lookups sent to the hot conversation, matching the ~30% of
#: writes ``datagen.change_stream`` puts there
HOT_LOOKUP_FRAC = 0.3
#: generated inputs kept on disk; older ones are removed
KEEP_INPUTS = 24


@dataclass(frozen=True)
class Shape:
    """What ``datagen.change_stream`` + ``write_epochs`` generate, the table
    it lands in, how many lookups a round makes (None: one after each
    committed epoch) and how many full reads of the final table it times.
    The schema-evolution tranche starts at the midpoint."""

    n_events: int
    events_per_epoch: int
    n_convs: int
    turns_per_conv: int
    files_per_epoch: int
    num_buckets: int
    lookups: int | None
    scans: int

    @property
    def evolve_epoch(self) -> int:
        return self.n_events // 2 // self.events_per_epoch

    def key(self) -> str:
        """Names the generated input: the fields ``ensure_input`` uses."""
        gen = (self.n_events, self.events_per_epoch, self.n_convs,
               self.turns_per_conv, self.files_per_epoch)
        return hashlib.sha1(repr(gen).encode()).hexdigest()[:10]


SHAPES = {
    # 24 serial micro-batches of 20k events and a point lookup after each:
    # every per-epoch cost (Arrow write, snapshot commit, commit log,
    # lineage and metrics rows, threshold compaction at about epoch 17) and
    # MOR read amplification, on 40k keys. Two thirds of the lookups come
    # before a bucket holds 32 files or after the compaction, so p50 and
    # p90 fall on either side of that step, not on it.
    "tail": Shape(480_000, 20_000, 2_000, 20, 4, 8, None, 2),
    # one replay_bulk super-batch of 4 epochs x 200k events, then the full
    # read_current and 3 lookups: the zero-IPC file writer on 400k keys. A
    # round takes about 6 s, so a run makes several and reports medians
    "backfill": Shape(800_000, 200_000, 20_000, 20, 8, 8, 3, 1),
}


#: inputs of the untimed warmup round, generated from seed 0 and kept on
#: disk: the tail's first 2 epochs (the second already in the evolved
#: schema) and half the backfill. With the C1 compiler alone (see
#: ``run.py``) a timed tail round after this warmup started no slower than
#: one after a 4-epoch warmup with 8 more lookups, which took 9 s longer.
WARM = {
    "tail": replace(SHAPES["tail"], n_events=40_000, scans=1),
    "backfill": replace(SHAPES["backfill"], n_events=400_000),
}


def ensure_input(spark, cache: str, name: str, shape: Shape, seed: int) -> tuple[str, bool]:
    """Generated change log for (name, shape, seed), built once and kept
    in ``cache``. Returns its ``epoch=N`` directory and whether it was
    already there."""
    d = os.path.join(cache, f"{name}-{shape.key()}-s{seed}")
    ready = os.path.join(d, "READY")
    events = os.path.join(d, "events")
    if os.path.exists(ready):
        os.utime(ready)
        return events, True
    shutil.rmtree(d, ignore_errors=True)
    df = datagen.change_stream(
        spark,
        n_events=shape.n_events,
        n_convs=shape.n_convs,
        turns_per_conv=shape.turns_per_conv,
        seed=seed,
        events_per_epoch=shape.events_per_epoch,
        evolve_from_lsn=shape.evolve_epoch * shape.events_per_epoch,
    )
    datagen.write_epochs(df, events, files_per_epoch=shape.files_per_epoch)
    open(ready, "w").close()
    _evict(cache, keep=d)
    return events, False


def _evict(cache: str, keep: str) -> None:
    """Remove the least recently used finished inputs past ``KEEP_INPUTS``.
    An input without READY may be another run's generation in progress; a
    cut-short one is removed when its (shape, seed) is generated again."""
    ready = []
    for entry in os.listdir(cache):
        d = os.path.join(cache, entry)
        if d == keep:
            continue
        try:
            ready.append((os.path.getmtime(os.path.join(d, "READY")), d))
        except OSError:
            pass
    for _, d in sorted(ready)[: max(0, len(ready) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def input_bytes(events: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(events)
        for f in fs
        if f.endswith(".parquet")
    )


def lookup_plan(n: int, n_convs: int, seed: int | str) -> list[str]:
    """``n`` conversation ids: ``round(HOT_LOOKUP_FRAC * n)`` of them the hot
    conversation, at evenly spaced places, the rest drawn from the seed,
    uniform over the typical ones. The places are the same for every seed,
    so each run has as many hot lookups in each stretch of the tail (few
    delta files, many, after a compaction) and the lookup percentiles do
    not move with where a shuffle put them."""
    rng = random.Random(seed)
    n_hot = round(HOT_LOOKUP_FRAC * n)
    hot = {int((j + 0.5) * n / n_hot) for j in range(n_hot)}
    return [
        HOT_CONV if i in hot else f"conv_{rng.randrange(n_convs)}"
        for i in range(n)
    ]


def new_pipeline(spark, root: str, shape: Shape) -> CdcPipeline:
    from etl_documentos_spark.operators.merge import physical_schema

    table_root = os.path.join(root, "table")
    LakeTable.create(
        table_root, physical_schema(TRANSCRIPTS), num_buckets=shape.num_buckets
    )
    return CdcPipeline(spark, table_root, os.path.join(root, "work"))


def read_epoch(spark, events: str, shape: Shape, k: int):
    """Epoch ``k`` as the source hands it to ``foreachBatch``: narrow before
    the evolution tranche, with the two tool columns from it on."""
    schema = CHANGE_EVENTS_V2 if k >= shape.evolve_epoch else CHANGE_EVENTS
    return spark.read.schema(schema).parquet(os.path.join(events, f"epoch={k}"))


@dataclass
class Round:
    """What one round measured, and its checks' tally."""

    traced: bool
    events: int = 0
    replay_s: float = 0.0
    epoch_s: list[float] = field(default_factory=list)
    lookup_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    check_s: float = 0.0
    timed_s: float = 0.0
    table_files: int = 0
    table_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    host: dict = field(default_factory=dict)
    cpu: dict = field(default_factory=dict)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


class Bench:
    """Everything a round needs: session, tracer, input and its reduction."""

    def __init__(self, spark, tracer, name: str, shape: Shape, events: str, ref, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.name = name
        self.shape = shape
        self.events = events
        self.ref = ref
        self.seed = seed
        self.rounds = 0
        self.input_bytes = input_bytes(events)

    @property
    def lookup_seed(self) -> str:
        """Each round of a run looks up its own conversations."""
        return f"{self.seed}/{self.rounds}"

    # -- timed operations ---------------------------------------------
    def lookup(self, p: CdcPipeline, conv: str, r: Round):
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("bench.lookup") as attrs:
            table = p.table
            with tr.span("merge.point_lookup"):
                df = merge.point_lookup(self.spark, table, conv)
                got = df.toArrow()
        r.lookup_s.append(time.perf_counter() - t0)
        r.attempted += 1
        if tr.enabled:
            with tr.span("trace.overhead"):
                attrs["input_files"] = len(df.inputFiles())
        return got

    def scan(self, p: CdcPipeline, r: Round):
        """The shape's number of full reads of the final table; the first
        is checked."""
        tr = self.tracer
        reads = []
        for _ in range(self.shape.scans):
            t0 = time.perf_counter()
            with tr.span("bench.scan"):
                table = p.table
                with tr.span("merge.read_current"):
                    reads.append(merge.read_current(self.spark, table).toArrow())
            r.scan_s.append(time.perf_counter() - t0)
        r.attempted += 1
        return reads[0]

    def tail(self, root: str, r: Round):
        """Serial micro-batch tail, one ``point_lookup`` after each commit."""
        spark, tr, shape = self.spark, self.tracer, self.shape
        p = new_pipeline(spark, root, shape)
        t0 = time.perf_counter()
        with tr.span("bench.list"):
            epochs = stream.list_epochs(self.events)
        r.replay_s += time.perf_counter() - t0
        convs = lookup_plan(len(epochs), shape.n_convs, self.lookup_seed)
        lookups, results = [], []
        for k, conv in zip(epochs, convs):
            t0 = time.perf_counter()
            with tr.span("bench.epoch"):
                res = p.apply_epoch(read_epoch(spark, self.events, shape, k), k)
            dt = time.perf_counter() - t0
            r.replay_s += dt
            r.epoch_s.append(dt)
            r.events += res.events
            r.attempted += 1
            lookups.append((len(lookups), conv, k))
            results.append(self.lookup(p, conv, r))
        final = self.scan(p, r)
        return p, final, lookups, results, epochs

    def backfill(self, root: str, r: Round):
        """One ``replay_bulk`` super-batch, the full read, then lookups."""
        p = new_pipeline(self.spark, root, self.shape)
        t0 = time.perf_counter()
        with self.tracer.span("bench.replay"):
            res = stream.replay_bulk(p, self.events, schema=CHANGE_EVENTS_V2)
        r.replay_s = time.perf_counter() - t0
        r.epoch_s.append(r.replay_s)
        r.events = sum(x.events for x in res)
        r.attempted += 1
        final = self.scan(p, r)
        epochs = [x.epoch_id for x in res]
        convs = lookup_plan(self.shape.lookups, self.shape.n_convs, self.lookup_seed)
        lookups = [(i, c, max(epochs)) for i, c in enumerate(convs)]
        results = [self.lookup(p, c, r) for c in convs]
        return p, final, lookups, results, epochs

    # -- checks, outside the timed part --------------------------------
    def check(self, p: CdcPipeline, final, lookups, results, epochs, r: Round) -> None:
        ref = self.ref
        r.check(ref.final_diff(final) == 0, "final read_current != reduction")
        bad = ref.lookup_mismatches(lookups, results)
        if bad:
            r.failed += bad
            r.failures.append(f"{bad} lookups != reduction as of their epoch")
        lineage = (
            read_lineage(self.spark, p.lineage_path)
            .agg(F.sum("events_read"))
            .first()[0]
        )
        r.check(
            lineage == ref.events and r.events == ref.events,
            f"lineage {lineage} / applied {r.events} != input {ref.events}",
        )
        before = p.table.current_snapshot.snapshot_id
        if self.name == "tail":
            k = epochs[0]
            skipped = p.apply_epoch(read_epoch(self.spark, self.events, self.shape, k), k).skipped
        else:
            res = stream.replay_bulk(p, self.events, schema=CHANGE_EVENTS_V2)
            skipped = all(x.skipped for x in res)
        r.check(
            skipped and p.table.current_snapshot.snapshot_id == before,
            "replaying a committed epoch was not a no-op",
        )

    def run_round(self, root: str) -> Round:
        """One round: the workload's timed part, then its checks. A traced
        round (tracer enabled on entry) stops recording when the timed part
        ends and notes the table's end state."""
        tr = self.tracer
        r = Round(traced=tr.enabled)
        cpu0, stat0 = host.tree_cpu(os.getpid()), host.cpu_times()
        cpu0.update(host.jvm_times(self.spark))
        t0 = time.perf_counter()
        p, final, lookups, results, epochs = getattr(self, self.name)(root, r)
        r.timed_s = time.perf_counter() - t0
        cpu1, stat1 = host.tree_cpu(os.getpid()), host.cpu_times()
        cpu1.update(host.jvm_times(self.spark))
        tr.enabled = False
        t0 = time.perf_counter()
        r.cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
        r.host = host.host_fracs(stat0, stat1)
        snap = p.table.current_snapshot
        live = [os.path.join(p.table_root, f) for fs in snap.files.values() for f in fs]
        r.table_files = len(live)
        r.table_bytes = sum(os.path.getsize(f) for f in live)
        if r.traced:
            tr.count_written()
            tr.note("bench.end", files=r.table_files, bytes=r.table_bytes)
        self.check(p, final, lookups, results, epochs, r)
        r.check_s = time.perf_counter() - t0
        self.rounds += 1
        return r


def warmup(bench: Bench, root: str) -> None:
    """Untimed warmup: one unchecked round of the workload on its ``WARM``
    input. The tail's then also compacts, as its rounds do, and looks up 4
    more conversations, so that every code path of a timed round has run."""
    p = getattr(bench, bench.name)(root, Round(traced=False))[0]
    if bench.name == "tail":
        merge.compact(bench.spark, p.table)
        for conv in lookup_plan(4, bench.shape.n_convs, 0):
            merge.point_lookup(bench.spark, p.table, conv).toArrow()
