"""The two ELT workloads: one pass each, through the runner's functions,
with every output checked against ``zone.Zone``'s predictions.

Imported by ``run.py`` after it has set the environment the package reads
at import time (``SPARK_GRAFT_CPUS``).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import json
import os
import shutil
import time
import traceback

import zone as Z
from zacks_estimates_financial_statements_spark import export as X
from zacks_estimates_financial_statements_spark import runner
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.schemas import TABLES

D = dt.date

#: backfill: statement folders oldest first, one in the legacy cash-flow
#: layout and one in the current layout
BACKFILL_FOLDERS = [D(2023, 6, 5), D(2025, 6, 2)]
BACKFILL_DOCS = 150
#: statement kinds loaded: the three-table balance sheet (the typing layer
#: with the codegen fallback) and the cash flow (legacy and current layout)
BACKFILL_KINDS = ("balance", "cash_flow")
#: nightly: a Tuesday, its small day, and the seeded history before it
NIGHTLY_DATE = D(2025, 6, 10)
NIGHTLY_DOCS = 100
HISTORY_SYMBOLS = 300
#: dolt dumps after the nightly load (default windows)
NIGHTLY_DUMPS = ["eps_estimate", "eps_history", "earnings_calendar"]
#: seeded history (``Z.HISTORY_TABLES``): the tables whose whole history
#: the nightly reads (the date-partitioned estimate tables are pruned to
#: the new day), and the balance sheet whose reporting dates drive the
#: stale-earnings cleanup
UNIVERSE = 300


class Ops:
    """Counts attempted and failed operations; a failure is an exception or
    an output that differs from the prediction."""

    def __init__(self, log) -> None:
        self.log = log
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, expect=None, got=lambda out: out):
        self.attempted += 1
        try:
            out = fn()
        except Exception:  # noqa: BLE001 — a failed op is a result, not a crash
            self.failed += 1
            self.log(f"FAILED {what}:\n{traceback.format_exc()}")
            return None
        if expect is not None and got(out) != expect:
            self.failed += 1
            self.log(f"MISMATCH {what}: expected {expect}, got {got(out)}")
        return out


class Pass:
    """One pass of a workload against one table store."""

    def __init__(self, ctx, tables: str) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.raw = ctx.raw
        self.tables = tables
        self.tracer = ctx.tracer
        self.ops = ctx.ops
        self.steps = dict.fromkeys(
            ("estimates", "statements", "calendars", "export"), 0.0)

    def begin(self) -> None:
        self.t0 = time.perf_counter()
        self._overhead0 = self.tracer.overhead_s

    def end(self) -> None:
        self.t1 = time.perf_counter()
        self.run_s = self.t1 - self.t0
        self.overhead_s = self.tracer.overhead_s - self._overhead0

    @contextlib.contextmanager
    def step(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.steps[name] += time.perf_counter() - t

    def store(self, name: str) -> TableStore:
        return TableStore(self.spark, self.tables, name)

    # -- runner steps --------------------------------------------------------

    def call(self, step: str, what: str, fn, expect) -> None:
        """One runner call, timed into its step and checked. Traced, it is
        a span of the runner layer: the layer spans it holds take their
        own time, and the rest (the destination recounts) is the
        runner's."""
        t = time.perf_counter()
        with self.step(step), self.tracer.span("runner", "call", what):
            self.ops.run(what, fn, expect)
        self.ctx.log(f"  {what}: {time.perf_counter() - t:.2f} s")

    def estimates(self, date: str, expect: dict) -> None:
        self.call("estimates", f"estimates {date}",
                  lambda: runner.run_estimates(self.spark, self.raw,
                                               self.tables, date), expect)

    def statements(self, date: str, kinds: list[str], expect: dict) -> None:
        # traced, the kinds run one after another so that each job runs
        # inside the span that submitted it
        self.call("statements", f"statements {date}",
                  lambda: runner.run_statements(
                      self.spark, self.raw, self.tables, date, kinds=kinds,
                      parallel=not self.tracer.enabled), expect)

    def earnings(self, date: str, expect: dict) -> None:
        self.call("calendars", f"earnings-calendar {date}",
                  lambda: runner.run_earnings_calendar(
                      self.spark, self.raw, self.tables, date), expect)

    def dividends(self, date: str, expect: dict) -> None:
        self.call("calendars", f"dividend-calendar {date}",
                  lambda: runner.run_dividend_calendar(
                      self.spark, self.raw, self.tables, date), expect)

    # -- export and checks ---------------------------------------------------

    def dump(self, table: str, out: str, start: str, end: str,
             expect_files: int) -> None:
        """One dump-dolt call; checks one CSV per dumped date."""
        with self.step("export"), self.tracer.span(
                "export", "dump", table) as s:
            files = self.ops.run(
                f"dump-dolt {table}",
                lambda: X.dump_dolt(self.store(table).read(), table,
                                    os.path.join(out, table), start, end),
                expect_files, got=len) or []
            s["files"] = len(files)
            s["bytes"] = sum(os.path.getsize(f) for f in files)

    def check_counts(self, expect: dict[str, int]) -> dict[str, int]:
        """Row count of every destination table against the prediction."""
        return {t: self.ops.run(f"count {t}",
                                lambda t=t: self.store(t).read().count(), n)
                for t, n in expect.items()}


def rows_in_upserted_tables(counts: dict) -> int:
    """Rows of the PK-upserted tables (the calendars are rewritten)."""
    return sum(counts.get(t) or 0 for t in Z.ALL_TABLES
               if t not in ("earnings_calendar", "dividend_calendar"))


# -- workloads ---------------------------------------------------------------

def backfill_setup(ctx, seed: int) -> dict:
    z = Z.Zone(ctx.raw, seed, UNIVERSE)
    steps = [z.folder(f, BACKFILL_DOCS, ("statements",), BACKFILL_KINDS)
             for f in BACKFILL_FOLDERS]
    return {"zone": z, "steps": steps, "docs": z.docs, "seeded": {},
            "tables": [t for k in BACKFILL_KINDS
                       for t in Z.STATEMENT_TABLES[k]]}


def backfill_pass(ctx, state: dict, i: int) -> Pass:
    p = Pass(ctx, os.path.join(ctx.work, f"tables-{i}"))
    p.begin()
    for folder, exp in zip(BACKFILL_FOLDERS, state["steps"]):
        p.statements(folder.isoformat(), list(BACKFILL_KINDS),
                     exp["statements"])
    p.end()
    p.load_s = p.run_s
    return p


def nightly_setup(ctx, seed: int) -> dict:
    z = Z.Zone(ctx.raw, seed, UNIVERSE)
    history = z.history(NIGHTLY_DATE, HISTORY_SYMBOLS)
    docs0 = z.docs
    step = z.folder(NIGHTLY_DATE, NIGHTLY_DOCS, ("estimates", "calendars"),
                    ())
    return {"zone": z, "step": step, "history": history,
            "seeded": {t: len(rows) for t, rows in history.items()},
            "docs": z.docs - docs0,
            "tables": sorted(set(Z.ESTIMATE_TABLES) | set(Z.HISTORY_TABLES))}


def nightly_seed(ctx, state: dict) -> None:
    """Write the typed history once; every pass starts from a copy."""
    state["template"] = os.path.join(ctx.work, "seeded")
    for t, rows in state["history"].items():
        TableStore(ctx.spark, state["template"], t).overwrite(
            ctx.spark.createDataFrame(rows, TABLES[t]))


def nightly_pass(ctx, state: dict, i: int) -> Pass:
    z, exp = state["zone"], state["step"]
    tables = os.path.join(ctx.work, f"tables-{i}")
    shutil.copytree(state["template"], tables)
    p = Pass(ctx, tables)
    d = NIGHTLY_DATE.isoformat()
    p.begin()
    p.estimates(d, exp["estimates"])
    p.earnings(d, exp["earnings_calendar"])
    p.dividends(d, exp["dividend_calendar"])
    p.load_s = time.perf_counter() - p.t0
    # the same dividend day again: the rewrite must change no row
    p.dividends(d, exp["dividend_calendar"])
    out = os.path.join(ctx.work, f"export-{i}")
    for t in NIGHTLY_DUMPS:
        start, end = X.default_dump_window(t, None, d)
        p.dump(t, out, start, end, z.expected_files(
            t, dt.date.fromisoformat(start), dt.date.fromisoformat(end)))

    def publish() -> dict:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            runner.main(["publish", "--table", "eps_estimate", "--out",
                         os.path.join(out, "eps_estimate"),
                         "--end-date", d, "--dry-run"])
        return json.loads(buf.getvalue().splitlines()[-1])["result"]
    with p.step("export"), p.tracer.span("export", "publish"):
        p.ops.run("publish --dry-run", publish,
                  z.expected_files("eps_estimate", NIGHTLY_DATE, NIGHTLY_DATE),
                  got=lambda r: r["csv_files"] if r["commands"] else -1)
    p.end()
    return p


#: workload -> (input build, repeated for setup_s; one-off Spark set-up or
#: None; one pass)
WORKLOADS = {
    "elt_backfill": (backfill_setup, None, backfill_pass),
    "elt_nightly": (nightly_setup, nightly_seed, nightly_pass),
}
