"""Per-job/stage wall-time breakdown for ONE declared query.

Runs the named query with bench.py's methodology (warm pass + noop sink)
and then reads the status REST API to print every job and stage with its
wall time, task count, and shuffle bytes — the empirical leg of guide
§1.1 for deciding WHERE a local[32] query's seconds actually go (at
sf0.1 most tracked queries are fixed-cost bound, so the interesting
number is usually job/stage count, not bytes).

Usage:
    python tools/stage_probe.py <query> [n_passes]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time
import urllib.request


def main() -> int:
    name = sys.argv[1]
    n_passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    spec = importlib.util.spec_from_file_location(
        "entry_stage_probe", os.path.join(repo, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from zacks_estimates_financial_statements_spark.session import get_spark
    from zacks_estimates_financial_statements_spark.util import query_scope
    spark = get_spark(app_name="zacks-spark-stage-probe",
                      master=f"local[{cpus}]",
                      extra_conf={"spark.ui.showConsoleProgress": "false",
                                  "spark.sql.shuffle.partitions": cpus})
    qs = mod.queries()
    if hasattr(mod, "fast_variants"):
        qs.update(mod.fast_variants())
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            mod._t(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001
            pass

    def _run() -> float:
        with query_scope(spark):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            return time.time() - t0

    # warm passes (JIT/codegen), then the measured pass
    for i in range(n_passes):
        print(f"warm pass {i}: {_run():.2f}s", flush=True)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup() or [])
    base = sc.uiWebUrl
    app_id = sc.applicationId
    t0 = time.time()
    measured = _run()
    print(f"measured pass: {measured:.2f}s", flush=True)

    def _get(path):
        with urllib.request.urlopen(f"{base}/api/v1/applications/{app_id}{path}") as r:
            return json.load(r)

    jobs = [j for j in _get("/jobs") if j["jobId"] not in jobs_before]
    jobs = [j for j in jobs
            if j.get("submissionTime") and j["submissionTime"] >= ""]
    # keep only jobs submitted during the measured pass
    from datetime import datetime, timezone

    def _ts(s):
        return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
            tzinfo=timezone.utc).timestamp()

    t0_utc = t0 - 2  # slack
    sel = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        try:
            sub = _ts(j["submissionTime"])
        except Exception:  # noqa: BLE001
            sub = t0_utc
        if sub >= t0_utc - 60:  # local clock vs GMT string: keep all new
            sel.append(j)
    total_job = 0.0
    print(f"\n{len(sel)} jobs in measured pass:")
    for j in sel:
        try:
            dur = (_ts(j["completionTime"]) - _ts(j["submissionTime"]))
        except Exception:  # noqa: BLE001
            dur = float("nan")
        total_job += dur if dur == dur else 0.0
        print(f"  job {j['jobId']:>4} {dur:7.3f}s stages={len(j['stageIds'])} "
              f"tasks={j.get('numTasks','?')} {j.get('name','')[:90]}")
    print(f"sum of job wall times: {total_job:.2f}s (measured {measured:.2f}s; "
          f"gap = driver/planning time between jobs)")

    stages = _get("/stages?status=complete")
    by_id = {}
    for s in stages:
        by_id[(s["stageId"], s["attemptId"])] = s
    sel_stage_ids = set()
    for j in sel:
        sel_stage_ids.update(j["stageIds"])
    rows = []
    for (sid, att), s in sorted(by_id.items()):
        if sid not in sel_stage_ids:
            continue
        try:
            dur = (_ts(s["completionTime"]) - _ts(s["firstTaskLaunchedTime"]))
        except Exception:  # noqa: BLE001
            dur = float("nan")
        rows.append((dur, sid, s))
    rows.sort(reverse=True)
    print(f"\ntop stages by wall time ({len(rows)} total):")
    for dur, sid, s in rows[:15]:
        print(f"  stage {sid:>4} {dur:7.3f}s tasks={s['numCompleteTasks']} "
              f"in={s.get('inputRecords',0)} sh_r={s.get('shuffleReadRecords',0)} "
              f"sh_w={s.get('shuffleWriteRecords',0)} {s.get('name','')[:80]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
