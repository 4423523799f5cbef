"""Dump ``.explain("formatted")`` for named oracle queries to text files.

Used to produce the per-round plan evidence the optimization judge
checks (``plans/rNN/<query>_{before,after}.txt``): run it once from a
worktree at the previous round's snapshot commit (suffix ``before``)
and once from HEAD (suffix ``after``).

Usage:
    python tools/dump_plans.py <out_dir> <suffix> <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import importlib.util
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    os.makedirs(out_dir, exist_ok=True)

    spec = importlib.util.spec_from_file_location(
        "entry_dump_plans", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from zacks_estimates_financial_statements_spark.session import get_spark
    from zacks_estimates_financial_statements_spark.util import query_scope
    spark = get_spark(master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.ui.showConsoleProgress": "false"})
    qs = mod.queries()
    rc = 0
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            # no later query's plan may read this query's caches
            with query_scope(spark):
                txt = spark._jvm.PythonSQLUtils.explainString(
                    qs[name](spark, sf_dir)._jdf.queryExecution(),
                    "formatted")
        except Exception as exc:  # noqa: BLE001
            txt = f"ERROR building {name}: {exc}\n"
            rc = 1
        with open(path, "w") as f:
            f.write(txt)
        print("wrote", path, len(txt), "bytes")
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
