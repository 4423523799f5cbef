"""Self-test of the benchmark, at a tiny size.

    python3 perfbench/selftest.py

1. ``Zone`` writes estimate pages that the parser reads in every
   style-score layout era (pure Python, no Spark).
2. Each workload, untraced and traced, prints a correct result whose
   metrics are exactly the ``end_to_end`` / ``per_layer`` names of
   ``BENCHMARK.json``, each with its declared unit.
3. A deliberately wrong expected row count is reported as a failed
   operation (``correct`` false, ``ops_ok_frac`` below 1), which shows
   that the output checks can fail.

Exits non-zero on the first failed expectation. Takes a few minutes: each
run starts its own Spark JVM.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import io
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# what run.py sets before it imports the workloads
os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))

import elt  # noqa: E402
import run  # noqa: E402
import zone  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main(["--workload", workload, "--seed", "7",
                         "--seconds", "1", "--trace", str(trace)])
    if code != 0:
        raise SystemExit(f"{workload} trace={trace}: exit code {code}")
    return json.loads(out.getvalue().strip().splitlines()[-1])


def _expect(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


#: one folder date per style-score layout era (parse.estimates._SCORE_ERAS)
ERA_FOLDERS = [dt.date(2018, 6, 4), dt.date(2019, 6, 3), dt.date(2020, 8, 3),
               dt.date(2023, 6, 5), dt.date(2025, 6, 2)]


def _check_eras() -> None:
    from zacks_estimates_financial_statements_spark.parse.estimates import (
        parse_estimate_doc,
    )
    from zacks_estimates_financial_statements_spark.schemas import (
        RANKS,
        SCORES,
    )
    with tempfile.TemporaryDirectory() as raw:
        z = zone.Zone(raw, 7, 8)
        for folder in ERA_FOLDERS:
            z.estimates(folder, z.symbols[:3])
            for path in glob.glob(f"{raw}/estimates/{folder}/*.html"):
                with open(path) as fh:
                    row = parse_estimate_doc("X", folder, fh.read())
                _expect(row["parse_error"] is None
                        and row["rank"] in RANKS
                        and {row[k] for k in ("value", "growth", "momentum",
                                              "vgm")} <= set(SCORES),
                        f"estimate page of {folder} parses in its era")


def main() -> int:
    _check_eras()
    # tiny inputs; the pipeline's fixed costs still dominate each run
    elt.BACKFILL_DOCS = 3
    elt.NIGHTLY_DOCS = 3
    elt.HISTORY_SYMBOLS = 5
    elt.UNIVERSE = 8
    run.SETUP_REPEATS = 1

    spec = _bench_json()
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for trace in (0, 1):
            res = _run(w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            _expect(res["correct"] and res["failed"] == 0
                    and res["attempted"] >= 1, f"{tag}: correct result")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _expect(got == declared[trace],
                    f"{tag}: every declared metric, with its unit")

    real = zone.Zone.expected_counts

    def off_by_one(self):
        counts = real(self)
        counts["balance_sheet_assets"] += 1
        return counts
    zone.Zone.expected_counts = off_by_one
    try:
        res = _run("elt_backfill", 0)
    finally:
        zone.Zone.expected_counts = real
    _expect(res["failed"] >= 1 and not res["correct"]
            and res["metrics"]["ops_ok_frac"]["value"] < 1,
            "a wrong expected count is reported as a failed operation")
    return 0


if __name__ == "__main__":
    sys.exit(main())
