"""ELT benchmark: drives the pipeline runner over a seeded raw zone, checks
every output, and prints one JSON result line.

    python3 perfbench/run.py --workload elt_backfill --seed 1 --seconds 1 --trace 0

Workloads (``elt.py``; one client, closed loop, ``local[<nproc>]``):

- ``elt_backfill``: two dated statement folders loaded oldest-first into
  an empty table store;
- ``elt_nightly``: one small new day (estimates, earnings calendar with
  stale cleanup, dividend calendar) loaded into a store seeded with
  history, the dividend day replayed (which must change nothing), three
  dump-dolt calls over the runner's default windows, and a dry-run
  publish.

A pass runs on a fresh store and is repeated until ``--seconds`` have
elapsed (at least once); timings are medians over passes. ``--trace 1``
runs one pass with every layer call in its own span (``layers.py``,
``spans.py``) and reports the per-layer metrics instead, and writes its spans to
``.perfbench_spans.json``. Everything else the run writes lives under
``.perfbench_work/`` in the current directory, removed at the end.
See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import types

WORK = os.path.abspath(".perfbench_work")
#: the traced run's spans, kept after the run (WORK is removed)
SPANS = os.path.abspath(".perfbench_spans.json")
NPROC = len(os.sched_getaffinity(0))
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s", "run_s": "s", "docs_per_s": "1/s", "peak_rss_mb": "MB",
    "ops_ok_frac": "ratio",
}
TRACE_LAYERS = ["raw_zone", "parse", "estimate_pipeline",
                "statement_pipeline", "writer", "runner",
                "calendar_pipeline", "export"]
LAYER_STATS = {"jobs": "count", "stages": "count", "task_s": "s",
               "shuffle_bytes": "bytes", "spill_bytes": "bytes",
               "codegen_fallbacks": "count"}
#: per-layer metric -> (unit, span layer or layer.kind, summed field)
_FROM_SPANS = {
    "raw_zone.scan_s": ("s", "raw_zone", "s"),
    "raw_zone.docs": ("count", "raw_zone", "docs"),
    "raw_zone.bytes": ("bytes", "raw_zone", "bytes"),
    "parse.estimates_s": ("s", "parse.estimates", "s"),
    "parse.statements_s": ("s", "parse.statements", "s"),
    "parse.calendars_s": ("s", "parse.calendars", "s"),
    "parse.rows_out": ("count", "parse", "rows_out"),
    "parse.errors": ("count", "parse", "errors"),
    "estimate_pipeline.gate_s": ("s", "estimate_pipeline.gate", "s"),
    "estimate_pipeline.docs_rejected":
        ("count", "estimate_pipeline", "docs_rejected"),
    "statement_pipeline.type_gate_s":
        ("s", "statement_pipeline.type_gate", "s"),
    "statement_pipeline.rows_rejected":
        ("count", "statement_pipeline", "rows_rejected"),
    "statement_pipeline.sni_s": ("s", "statement_pipeline.sni", "s"),
    "statement_pipeline.sni_suppressed":
        ("count", "statement_pipeline", "sni_suppressed"),
    "writer.upsert_s": ("s", "writer.upsert", "s"),
    "writer.rewrite_s": ("s", "writer.rewrite", "s"),
    "writer.rows_offered": ("count", "writer", "rows_offered"),
    "runner.recount_s": ("s", "runner", "s"),
    "calendar_pipeline.merge_s": ("s", "calendar_pipeline.merge", "s"),
    "calendar_pipeline.cleanup_s": ("s", "calendar_pipeline.cleanup", "s"),
    "calendar_pipeline.rows_deleted":
        ("count", "calendar_pipeline", "rows_deleted"),
    "export.dump_s": ("s", "export", "s"),
    "export.files": ("count", "export", "files"),
    "export.bytes": ("bytes", "export", "bytes"),
    **{f"{layer}.{stat}": (unit, layer, stat)
       for layer in TRACE_LAYERS for stat, unit in LAYER_STATS.items()},
}
PER_LAYER = {
    **{k: unit for k, (unit, _, _) in _FROM_SPANS.items()},
    "writer.rows_inserted": "count", "writer.insert_ratio": "ratio",
    "session.start_s": "s",
    "step.estimates_s": "s", "step.statements_s": "s",
    "step.calendars_s": "s", "step.export_s": "s",
    "trace.overhead_frac": "ratio", "trace.uncovered_s": "s",
}


def _descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended meanwhile
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM and the Python workers it started
    (each forked worker counts the pages it shares with the daemon), plus
    this Python process."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _descendants(spark.sparkContext._gateway.proc.pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                kb += next((int(line.split()[1]) for line in fh
                            if line.startswith("VmHWM:")), 0)
        except OSError:
            pass  # ended meanwhile
    return kb / 1024.0


def _stop(spark) -> None:
    """Stop the session and the Spark JVM, and wait for the JVM to exit
    (it ends when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None  # a later run relaunches


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True,
                    choices=["elt_backfill", "elt_nightly"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    # keep every file the run writes (Spark scratch, the shipped package
    # zip) inside the working directory; the package reads the core count
    # at import time
    os.environ["TMPDIR"] = WORK
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(NPROC)
    # the Spark JVM inherits fd 2: its log (codegen fallback WARNs) goes to
    # a file, and our own messages to the saved real stderr
    saved = os.dup(2)
    real_stderr = os.fdopen(os.dup(saved), "w")
    log_path = os.path.join(WORK, "jvm.log")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    try:
        return _run(args, log_path,
                    lambda msg: print(msg, file=real_stderr, flush=True))
    finally:
        os.dup2(saved, 2)  # an uncaught error is reported on the real stderr
        os.close(saved)
        real_stderr.close()
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args, log_path: str, log) -> int:
    import elt  # fails here, before Spark starts, without the package
    import layers
    from spans import Tracer

    from zacks_estimates_financial_statements_spark.session import get_spark
    from zacks_estimates_financial_statements_spark.util import (
        ensure_package_on_executors,
    )

    setup_fn, seed_fn, pass_fn = elt.WORKLOADS[args.workload]
    # what a workload's functions share within the run
    ctx = types.SimpleNamespace(work=WORK, log=log, ops=elt.Ops(log))

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{NPROC}]",
        extra_conf={"spark.ui.port": "0",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.local.dir": os.path.join(WORK, "spark-local"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={WORK}"})
    session_s = time.perf_counter() - t
    try:
        # a script using the package ships the package to the Python workers once,
        # before any job (README.md: the statement kinds would otherwise
        # race to build the same zip from three threads)
        ensure_package_on_executors(spark)
        ctx.spark = spark
        ctx.tracer = Tracer(spark, log_path, bool(args.trace))
        builds = []
        for k in range(SETUP_REPEATS):
            ctx.raw = os.path.join(WORK, f"raw-{k}")
            t = time.perf_counter()
            state = setup_fn(ctx, args.seed)
            builds.append(time.perf_counter() - t)
        t = time.perf_counter()
        if seed_fn is not None:
            seed_fn(ctx, state)
        seed_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + seed_s
        log(f"setup: session {session_s:.2f} s, inputs "
            f"{statistics.median(builds):.2f} s, seeding {seed_s:.2f} s")

        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            with (layers.traced(ctx.tracer) if args.trace
                  else contextlib.nullcontext()):
                p = pass_fn(ctx, state, len(passes))
            expect = state["zone"].expected_counts()
            with ctx.tracer.aside():
                final = p.check_counts({t: expect[t]
                                        for t in state["tables"]})
            p.inserted = (elt.rows_in_upserted_tables(final)
                          - elt.rows_in_upserted_tables(state["seeded"]))
            p.docs = state["docs"]
            passes.append(p)
            if args.trace:
                break  # one traced pass: spans of one pass only
        peak = _peak_rss_mb(spark)
    finally:
        _stop(spark)

    ops = ctx.ops
    if args.trace:
        metrics = _layer_metrics(ctx.tracer, passes[0], session_s, log)
        ctx.tracer.dump(SPANS)
    else:
        def med(f):
            return statistics.median(f(p) for p in passes)
        metrics = {
            "setup_s": setup_s,
            "run_s": med(lambda p: p.run_s),
            "docs_per_s": med(lambda p: p.docs / p.load_s),
            "peak_rss_mb": peak,
            "ops_ok_frac": (ops.attempted - ops.failed) / ops.attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
        log(f"{args.workload}: {len(passes)} pass(es), "
            f"{ops.attempted} ops, {ops.failed} failed")
    print(json.dumps({"correct": ops.failed == 0,
                      "attempted": ops.attempted, "failed": ops.failed,
                      "metrics": metrics}))
    return 0


def _layer_metrics(tracer, p, session_s: float, log) -> dict:
    sums = tracer.sums(lambda s: s["layer"])
    sums.update(tracer.sums(lambda s: f"{s['layer']}.{s['kind']}"))

    def get(key: str, field: str):
        return sums.get(key, {}).get(field, 0)

    offered = get("writer", "rows_offered")
    m = {name: get(key, field)
         for name, (_, key, field) in _FROM_SPANS.items()}
    m.update({
        "writer.rows_inserted": p.inserted,
        "writer.insert_ratio": p.inserted / offered if offered else 0.0,
        "session.start_s": session_s,
        **{f"step.{k}_s": v for k, v in p.steps.items()},
        "trace.overhead_frac": p.overhead_s / p.run_s,
        "trace.uncovered_s": p.run_s - tracer.covered_s(p.t0, p.t1),
    })
    top = max(TRACE_LAYERS, key=lambda n: get(n, "s"))
    log(f"dominant layer: {top} ({get(top, 's'):.2f} s of {p.run_s:.2f} s "
        "traced pass); per layer: " + ", ".join(
            f"{n}={get(n, 's'):.2f}s" for n in TRACE_LAYERS))
    return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in m.items()}


if __name__ == "__main__":
    sys.exit(main())
