"""CDC engine benchmark: one command, one named workload, one seed.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 28 --trace 0

Runs from the root of a checkout of the repository and touches only
``.perfbench/`` there. Set-up starts Spark on ``local[<cores>]``, runs one
untimed warmup round of the workload on a fixed input, builds (or reuses)
the input of the seed, and then, several times, creates a table and
pipeline and runs the DuckDB reference reduction. The measured part
repeats rounds of the workload (see ``workloads.py``) for about
``--seconds``; each round is checked against the reduction outside its
timed part.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced and traced rounds, writes the traced rounds' spans to
``.perfbench/trace/`` and prints the per-layer metrics derived from them,
with the tracing overhead. Earlier lines of standard output carry the
details (sample counts, per-round figures, host steal); the last line is
the result as one JSON object. README.md describes every metric.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import select
import shutil
import signal
import socket
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: repetitions of the per-round set-up (a fresh table and pipeline, and
#: the reference reduction); setup_s adds their median to the session start
#: and the warmup round
SETUP_REPS = 3
#: JVM heap of the Spark driver (local mode: the whole engine)
DRIVER_MEM = "2g"
#: options of the Spark JVM: a fixed-size heap, touched up front (no heap
#: growth, and its extra collections, while rounds are timed; a steady
#: RSS), and the C1 JIT compiler only. With the default tiered C1 + C2, a
#: timed ``tail`` round on a 4-vCPU host ran beside 31-42 s of C2 compile
#: CPU, after a 21 s warmup, and its timings moved with how far compilation
#: had got and with any other load on the host (a busy neighbour taking one
#: core's worth slowed events_per_s by 17%, lookup_p50_s by 24%). C1 alone
#: compiles in a few seconds, within the warmup, and the same neighbour
#: slowed the round by 7% and 3%; its code makes the engine 10-20% slower
#: (full reads about 30% slower)
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
#: a run must end within 180 s: no further round starts later than
#: ``LAST_ROUND_START`` s into it (a traced run still makes its two), and
#: one still going at ``DEADLINE_S`` s is ended by the watchdog
DEADLINE_S = 150
LAST_ROUND_START = 85

E2E_UNITS = {
    "events_per_s": "events/s",
    "epoch_p50_s": "s",
    "epoch_p90_s": "s",
    "lookup_p50_s": "s",
    "scan_s": "s",
    "stored_bytes_ratio": "B/B",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
RUN_LAYER_UNITS = {
    "cpu.jvm_s": "s",
    "cpu.python_s": "s",
    "cpu.driver_s": "s",
    "host.steal_frac": "frac",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("tail", "backfill"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env() -> None:
    """Keep Spark, the JVM and temp files inside the checkout, and size the
    session: local[<cores this process may use>], a bounded driver heap."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM


def end_processes(pids: list[int], grace: float) -> None:
    """Wait up to ``grace`` s for ``pids`` to end, SIGKILL the ones left and
    wait until they are gone."""
    import host

    deadline = time.monotonic() + grace
    while True:
        pids = [p for p in pids if host.alive(p)]
        if not pids or time.monotonic() >= deadline:
            break
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if host.alive(p)]
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    one started (the JVM's Python workers included) to end."""
    import host

    kids = host.descendants(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    except Exception as e:
        print(f"perfbench: spark.stop: {e!r}", file=sys.stderr)
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        end_processes(kids, grace=15)


def start_watchdog(run_dir: str) -> None:
    """End the run from a thread of its own on SIGTERM, or once it has
    lasted ``DEADLINE_S`` s: kill every process it started, remove its
    tables and exit without a result. The main thread may then be waiting
    in a JVM call, where a signal handler of its own would never run."""
    import host

    # the interpreter writes the number of each signal it catches to the
    # wakeup socket as the signal arrives, whatever the main thread is doing
    wake, woken = socket.socketpair()
    woken.setblocking(False)
    signal.set_wakeup_fd(woken.fileno())
    signal.signal(signal.SIGTERM, lambda *_: None)

    def watch(keep=woken):  # the write end lives as long as the watch
        got = select.select([wake], [], [], DEADLINE_S)[0]
        why = "terminated" if got else f"still running after {DEADLINE_S} s"
        print(f"perfbench: {why}", file=sys.stderr, flush=True)
        end_processes(host.descendants(os.getpid()), grace=0)
        shutil.rmtree(run_dir, ignore_errors=True)
        os._exit(143 if got else 1)

    threading.Thread(target=watch, daemon=True).start()


def pct(xs: list[float], p: int) -> float:
    """The ``p``-th percentile (10, 20, ... 90) of ``xs``."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[p // 10 - 1]


def end_to_end(rounds, bench, setup_s: float, peak_rss_mb: float) -> dict:
    epochs = [x for r in rounds for x in r.epoch_s]
    lookups = [x for r in rounds for x in r.lookup_s]
    return {
        "events_per_s": statistics.median(r.events / r.replay_s for r in rounds),
        "epoch_p50_s": pct(epochs, 50),
        "epoch_p90_s": pct(epochs, 90),
        "lookup_p50_s": pct(lookups, 50),
        "scan_s": statistics.median(x for r in rounds for x in r.scan_s),
        "stored_bytes_ratio": statistics.median(
            r.table_bytes / bench.input_bytes for r in rounds
        ),
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup_s,
    }


def per_layer(rounds, spans_path: str) -> dict:
    import spans

    traced = [r for r in rounds if r.traced]
    plain = [r for r in rounds if not r.traced]
    out = spans.derive(spans_path)
    for side in ("jvm", "python", "driver"):
        out[f"cpu.{side}_s"] = statistics.median(r.cpu[side] for r in traced)
    out["host.steal_frac"] = statistics.median(r.host["steal"] for r in rounds)
    out["trace.overhead_s"] = statistics.median(
        r.replay_s for r in traced
    ) - statistics.median(r.replay_s for r in plain)
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("etl_documentos_spark") is None:
        print(f"perfbench: no etl_documentos_spark package in {ROOT}", file=sys.stderr)
        return 2
    configure_env()
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    start_watchdog(run_dir)
    t_run = time.monotonic()

    import host
    import spans
    import workloads
    from etl_documentos_spark.session import get_spark
    from reference import Reference

    t0 = time.monotonic()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": JVM_OPTS,
        },
    )
    session_s = time.monotonic() - t0
    shape = workloads.SHAPES[args.workload]
    tracer = spans.Tracer(enabled=False)
    detail: dict = {"workload": args.workload, "seed": args.seed, "session_s": session_s}
    ref = None
    try:
        cache = os.path.join(WORK, "inputs")
        os.makedirs(cache, exist_ok=True)
        # only the first run in a checkout builds the warmup's input
        warm = workloads.WARM[args.workload]
        warm_events, _ = workloads.ensure_input(spark, cache, args.workload, warm, 0)
        jvm0 = host.jvm_times(spark)
        t0 = time.monotonic()
        workloads.warmup(
            workloads.Bench(spark, tracer, args.workload, warm, warm_events, None, 0),
            os.path.join(run_dir, "warm"),
        )
        warmup_s = time.monotonic() - t0
        jvm1 = host.jvm_times(spark)
        detail["warmup_jvm_s"] = {k: jvm1[k] - jvm0[k] for k in jvm0}
        # not part of setup_s: a later run with this seed finds it on disk
        t0 = time.monotonic()
        events, hit = workloads.ensure_input(spark, cache, args.workload, shape, args.seed)
        detail.update(input_cached=hit, input_gen_s=time.monotonic() - t0)
        reps = []
        for i in range(SETUP_REPS):
            t0 = time.monotonic()
            if ref is not None:
                ref.close()
            workloads.new_pipeline(spark, os.path.join(run_dir, f"setup{i}"), shape)
            ref = Reference(events)
            reps.append(time.monotonic() - t0)
        setup_s = session_s + warmup_s + statistics.median(reps)
        detail.update(warmup_s=warmup_s, setup_reps_s=reps)

        bench = workloads.Bench(spark, tracer, args.workload, shape, events, ref, args.seed)
        rounds = []
        t_measure = time.monotonic()
        while True:
            t_round = time.monotonic()
            traced = bool(args.trace) and len(rounds) % 2 == 1
            uninstall = None
            if traced:
                uninstall = spans.install(tracer)
                tracer.round = len(rounds)
                tracer.enabled = True
            try:
                rounds.append(
                    bench.run_round(os.path.join(run_dir, f"round{len(rounds)}"))
                )
            finally:
                tracer.enabled = False
                if uninstall is not None:
                    uninstall()
            # stop where the measured time comes closest to --seconds: a
            # round that would overshoot it by more than half is not started,
            # so the round count does not flip with a few percent of speed
            now = time.monotonic()
            done = now - t_measure + (now - t_round) / 2 >= args.seconds
            if args.trace:
                done = done and len(rounds) >= 2
            late = time.monotonic() - t_run > LAST_ROUND_START
            if done or (late and len(rounds) >= (2 if args.trace else 1)):
                break

        peak_rss_mb = host.tree_peak_rss_mb(os.getpid())
        attempted = sum(r.attempted for r in rounds)
        failed = sum(r.failed for r in rounds)
        lookups = [x for r in rounds for x in r.lookup_s]
        detail.update(
            rounds=len(rounds),
            epoch_samples=sum(len(r.epoch_s) for r in rounds),
            lookup_samples=len(lookups),
            # not metrics: see README.md, "End-to-end metrics"
            lookup_p90_s=pct(lookups, 90),
            failed_frac=failed / attempted,
            failures=[f for r in rounds for f in r.failures],
            input_events=ref.events,
            input_bytes=bench.input_bytes,
            reference_rows=ref.rows,
            per_round=[asdict(r) for r in rounds],
        )
        if args.trace:
            spans_path = os.path.join(
                WORK, "trace", f"{args.workload}-s{args.seed}.jsonl"
            )
            tracer.dump(spans_path)
            detail["spans"] = os.path.relpath(spans_path, ROOT)
            values = per_layer(rounds, spans_path)
            units = {**spans.LAYER_METRICS, **RUN_LAYER_UNITS}
        else:
            values = end_to_end(rounds, bench, setup_s, peak_rss_mb)
            units = E2E_UNITS
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        t0 = time.monotonic()
        try:
            if ref is not None:
                ref.close()
            stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        detail.update(shutdown_s=time.monotonic() - t0, wall_s=time.monotonic() - t_run)

    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": values[k], "unit": u} for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
