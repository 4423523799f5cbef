"""Targeted per-query timing with bench.py's exact methodology (warm
pass + noop sink + median of N + cache release between passes), for a
NAMED subset of queries — the cheap instrument for before/after A/B on
the operators a round touched, without paying two full bench runs.

Usage:
    python tools/time_queries.py <repo_root> <out_json> <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_BENCH_N (default 3).
"""

from __future__ import annotations

import importlib.util
import json
import os
import statistics
import sys
import time


def main() -> int:
    repo, out_json = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    repo = os.path.abspath(repo)
    sys.path.insert(0, repo)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_iters = int(os.environ.get("SPARK_GRAFT_BENCH_N", "3"))

    spec = importlib.util.spec_from_file_location(
        "entry_time_queries", os.path.join(repo, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from zacks_estimates_financial_statements_spark.session import get_spark
    from zacks_estimates_financial_statements_spark.util import query_scope
    spark = get_spark(app_name="zacks-spark-time-queries",
                      master=f"local[{cpus}]",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false",
                                  "spark.sql.shuffle.partitions": cpus})
    qs = mod.queries()
    if hasattr(mod, "fast_variants"):
        qs.update(mod.fast_variants())
    for t in ("lineitem", "orders", "documents", "embeddings", "events"):
        try:
            mod._t(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001
            pass

    def _run(name: str) -> float:
        with query_scope(spark):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            return time.time() - t0

    for name in names:  # untimed warm pass (bench protocol v3)
        try:
            dt = _run(name)
            print(f"# warm {name}: {dt:.2f}s (untimed)", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            print(f"# warm {name}: FAILED {str(exc)[:120]}", file=sys.stderr)

    samples: dict[str, list[float]] = {n: [] for n in names}
    for it in range(n_iters):
        for name in names:
            dt = _run(name)
            samples[name].append(dt)
            print(f"# pass {it + 1}/{n_iters} {name}: {dt:.2f}s",
                  file=sys.stderr)
    spark.stop()
    doc = {"sf_dir": sf_dir, "cpus": cpus, "n": n_iters,
           "queries": {n: round(statistics.median(s), 3)
                       for n, s in samples.items() if s},
           "samples": {n: [round(x, 3) for x in s]
                       for n, s in samples.items()}}
    with open(out_json, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({k: v for k, v in doc.items() if k != "samples"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
