"""Seeded raw zone for the ELT benchmark, and the destination-table rows it
implies.

``Zone`` writes dated folders in the reference layout
(``<raw>/<dataset>/<yyyy-MM-dd>/...``) from the ``tests/fixtures.py`` page
helpers, and keeps a small Python model of what each loader must store:

- estimates: one document per symbol; a document with a ``--`` cell fails
  the validity gate and loads nothing (``NA`` cells are legal NULLs);
- statements: one row per (period, report date); a row with an ``NA`` or
  ``--`` cell is rejected, a document whose newest gate date lies within
  15 days of the folder date is skipped whole, and a column that repeats
  the prior period's numbers is suppressed by the sni chain;
- calendars: future-horizon reset, rolling-week replace, last row per
  symbol wins, and stale-estimate cleanup against the balance sheet.

The model replays those rules in load order, so ``expected_counts`` and
``expected_files`` are predictions made from how the zone was built, not
read back from the program.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import os
import random
import sys
from decimal import Decimal

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "tests"))

from fixtures import (  # noqa: E402
    balance_sheet_page,
    cash_flow_page,
    estimate_page,
)

from zacks_estimates_financial_statements_spark.schemas import (  # noqa: E402
    BALANCE_SHEET_ASSETS_COLS,
    BALANCE_SHEET_EQUITY_COLS,
    BALANCE_SHEET_LIABILITIES_COLS,
    CASH_FLOW_STATEMENT_COLS,
    ENUM_DOMAINS,
    ESTIMATE_PERIODS,
    RANKS,
    SCORES,
    TABLES,
)

D = dt.date
DAY = dt.timedelta(days=1)

ESTIMATE_TABLES = ["rank_score", "sales_estimate", "eps_estimate",
                   "eps_revision", "eps_perception", "eps_history"]
STATEMENT_TABLES = {
    "balance": ["balance_sheet_assets", "balance_sheet_liabilities",
                "balance_sheet_equity"],
    "cash_flow": ["cash_flow_statement"],
}
ALL_TABLES = (ESTIMATE_TABLES + [t for ts in STATEMENT_TABLES.values()
                                 for t in ts]
              + ["earnings_calendar", "dividend_calendar"])

_BALANCE_FIELDS = (BALANCE_SHEET_ASSETS_COLS + BALANCE_SHEET_LIABILITIES_COLS
                   + BALANCE_SHEET_EQUITY_COLS)
_FIELDS = {"balance": _BALANCE_FIELDS, "cash_flow": CASH_FLOW_STATEMENT_COLS}
_SNI_GROUPS = {
    "balance": [BALANCE_SHEET_ASSETS_COLS, BALANCE_SHEET_LIABILITIES_COLS,
                BALANCE_SHEET_EQUITY_COLS],
    "cash_flow": [CASH_FLOW_STATEMENT_COLS],
}
_SUFFIX = {"balance": "balance-sheet", "cash_flow": "cash-flow-statement"}
#: the seeded history tables (``Zone.history``)
HISTORY_TABLES = ["eps_history", "earnings_calendar", "balance_sheet_assets"]
#: the legacy cash-flow layout is parsed for folders before this date
CASH_FLOW_LEGACY_BEFORE = D(2024, 2, 1)


class _Opaque:
    """Stored value that equals nothing: history rows seeded as typed data
    never repeat a parsed page's numbers."""

    def __eq__(self, other):
        return False

    __hash__ = object.__hash__


def _month_end(y: int, m: int) -> dt.date:
    return D(y, m, calendar.monthrange(y, m)[1])


def _add_months(d: dt.date, n: int) -> dt.date:
    y, m0 = divmod(d.year * 12 + d.month - 1 + n, 12)
    return D(y, m0 + 1, min(d.day, calendar.monthrange(y, m0 + 1)[1]))


def _prior(d: dt.date, period: str) -> dt.date:
    if period == "Year":
        return _add_months(d, -12)
    return _add_months(d + DAY, -3) - DAY


def _next_quarter_end(d: dt.date) -> dt.date:
    return _add_months(d + DAY, 3) - DAY


def _quarter_ends_before(d: dt.date, n: int, gap_days: int) -> list[dt.date]:
    """The ``n`` most recent quarter ends at least ``gap_days`` before d."""
    out, y, m = [], d.year, d.month
    while len(out) < n:
        if m in (3, 6, 9, 12):
            q = _month_end(y, m)
            if (d - q).days >= gap_days:
                out.append(q)
        m -= 1
        if m == 0:
            y, m = y - 1, 12
    return out


def _estimate_era_page(folder: dt.date, **kw) -> str:
    """The fixture builds the hero and pre-hero ribbons; the three older
    style-score layouts (estimate parser ``_SCORE_ERAS``) drop the pipe
    separators and/or add a third ribbon div."""
    if folder >= D(2024, 11, 10):
        return estimate_page(era="current", **kw)
    html = estimate_page(era="pre-hero", **kw)
    if folder < D(2020, 7, 4):
        html = html.replace("<span> | </span>", "")
    if D(2018, 10, 7) <= folder < D(2020, 9, 20):
        html = html.replace("<div><p>Style Scores:",
                            "<div><p>Industry</p></div><div><p>Style Scores:")
    return html


def _merge(stored: set, batch: dict, folder: dt.date) -> set:
    """A calendar load: rows dated on or after the folder date are reset,
    batch symbols lose their rows of the trailing week, and each batch
    symbol's winning row is added."""
    week = folder - dt.timedelta(days=7)
    kept = {(s, d) for (s, d) in stored
            if d < folder and not (s in batch and d >= week)}
    return kept | set(batch.items())


class Zone:
    """A seeded raw zone plus the model of every destination table."""

    def __init__(self, raw: str, seed: int, universe: int) -> None:
        self.raw = raw
        self.rng = random.Random(seed)
        letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        syms: set[str] = set()
        while len(syms) < universe:
            syms.add("".join(self.rng.choice(letters)
                             for _ in range(self.rng.choice((2, 3, 4)))))
        self.symbols = sorted(syms)
        # model state
        self.est: dict[str, set] = {t: set() for t in ESTIMATE_TABLES}
        self.stm: dict[str, dict] = {k: {} for k in STATEMENT_TABLES}
        self.earn: set[tuple] = set()   # (act_symbol, date)
        self.div: set[tuple] = set()    # (act_symbol, ex_date)
        self.docs = 0          # documents and calendar files written

    # -- file output --------------------------------------------------------

    def _write(self, dataset: str, folder: dt.date, name: str,
               text: str) -> None:
        d = os.path.join(self.raw, dataset, folder.isoformat())
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as fh:
            fh.write(text)
        self.docs += 1

    # -- cell generators ----------------------------------------------------

    def _est_cell(self) -> str:
        r = self.rng
        x = r.random()
        if x < 0.06:
            return "NA"
        v = r.uniform(0.05, 900)
        if x < 0.25:
            return f"{v:.1f}B"
        if x < 0.40:
            return f"{v:.1f}M"
        if x < 0.50:
            return f"({v:.2f})"
        if x < 0.60:
            return f"{r.randint(1000, 99999):,}"
        return f"{v:.2f}"

    def _count(self) -> str:
        return "NA" if self.rng.random() < 0.05 else str(self.rng.randint(0, 30))

    def _stm_cell(self) -> str:
        v = self.rng.randint(-99999, 999999)
        return f"{v:,}" if self.rng.random() < 0.5 else str(v)

    # -- estimates ----------------------------------------------------------

    def estimates(self, folder: dt.date, symbols: list[str]) -> int:
        """Write one page per symbol; returns how many pass the gate."""
        r = self.rng
        n_valid = 0
        cq = _quarter_ends_before(folder + dt.timedelta(days=92), 1, 0)[0]
        hdr = [f"{d.month}/{d.year}" for d in
               (cq, _add_months(cq, 3), D(cq.year, 12, 31),
                D(cq.year + 1, 12, 31))]
        quarters = _quarter_ends_before(folder, 4, 1)
        sdates = tuple(f"{q.month}/{q.year}" for q in quarters)
        # a fixed share of invalid documents, so every seed does the same work
        invalid = set(r.sample(symbols, max(1, len(symbols) // 10)))
        for sym in symbols:
            def four(fn):
                return [fn() for _ in range(4)]
            sales = {k: four(self._est_cell) for k in
                     ("consensus", "high", "low", "year_ago")}
            sales["count"] = four(self._count)
            eps = {k: four(self._est_cell) for k in
                   ("consensus", "recent", "high", "low", "year_ago")}
            eps["count"] = four(self._count)
            rev = {k: four(self._count) for k in
                   ("up_7", "up_30", "up_60", "down_7", "down_30", "down_60")}
            upside = {"most_accurate": four(self._est_cell)}
            surprise = {"reported": four(self._est_cell),
                        "estimate": four(self._est_cell)}
            valid = sym not in invalid
            if not valid:  # one '--' cell rolls back the whole document
                r.choice([sales["high"], eps["low"], upside["most_accurate"],
                          surprise["reported"]])[r.randrange(4)] = "--"
            n = r.randint(1, 5)
            html = _estimate_era_page(
                folder, rank_text=f"{n}-{RANKS[n - 1]}",
                scores=tuple(r.choice(SCORES) for _ in range(4)),
                dates=tuple(hdr), sales=sales, eps=eps, rev=rev,
                upside=upside, surprise_dates=sdates, surprise=surprise)
            self._write("estimates", folder, f"{sym}.detailed-estimates.html",
                        html)
            if valid:
                n_valid += 1
                self.est["rank_score"].add((folder, sym))
                for t in ESTIMATE_TABLES[1:5]:
                    for p in ESTIMATE_PERIODS:
                        self.est[t].add((folder, sym, p))
                for q in quarters:
                    self.est["eps_history"].add((sym, q))
        return n_valid

    # -- statements ---------------------------------------------------------

    def statements(self, folder: dt.date, symbols: list[str],
                   kinds) -> None:
        """Per kind, a tenth of the documents hit the recency gate, a fifth
        of the (document, period) blocks repeat a prior column and an
        eighth carry an uncastable cell: fixed shares, so that every seed
        loads the same amount of work."""
        r = self.rng
        for kind in kinds:
            legacy = kind == "cash_flow" and folder < CASH_FLOW_LEGACY_BEFORE
            blocks = [(s, p) for s in symbols for p in ("Year", "Quarter")]
            gated = set(r.sample(symbols, max(1, len(symbols) // 10)))
            dup = set(r.sample(blocks, max(1, len(blocks) // 5)))
            bad = set(r.sample(blocks, max(1, len(blocks) // 8)))
            for sym in symbols:
                self._statement_doc(kind, legacy, folder, sym, sym in gated,
                                    dup, bad)

    def _statement_doc(self, kind: str, legacy: bool, folder: dt.date,
                       sym: str, gated: bool, dup: set, bad: set) -> None:
        r = self.rng
        fields = _FIELDS[kind]
        if gated:  # newest gate date within 15 days of the folder date
            newest = folder - dt.timedelta(days=r.randint(1, 15))
            qdates = [newest] + _quarter_ends_before(newest, 4, 1)
            adates = [newest] + [D(folder.year - i, 12, 31) for i in range(2, 6)]
        else:
            qdates = _quarter_ends_before(folder, 5, 16)
            adates = [D(folder.year - i, 12, 31) for i in range(1, 6)]
            if (folder - adates[0]).days <= 15:
                adates = [D(folder.year - i, 12, 31) for i in range(2, 7)]

        def block(period: str, dates: list[dt.date]) -> dict[str, list[str]]:
            vals = {f: [self._stm_cell() for _ in dates] for f in fields}
            if (sym, period) in dup:  # copy-bug: a column repeats the prior
                i = r.randrange(len(dates) - 1)
                for f in fields:
                    vals[f][i] = vals[f][i + 1]
            if (sym, period) in bad:  # an uncastable cell rejects that row
                vals[r.choice(fields)][r.randrange(len(dates))] = r.choice(
                    ("NA", "--"))
            return vals

        annual, quarterly = block("Year", adates), block("Quarter", qdates)

        def hdr(ds):
            return [f"{d.month}/{d.day:02d}/{d.year}" for d in ds]
        if kind == "balance":
            html = balance_sheet_page(hdr(adates), hdr(qdates), annual,
                                      quarterly)
        else:
            html = cash_flow_page(hdr(adates), hdr(qdates), annual, quarterly,
                                  legacy=legacy)
        self._write(_SUFFIX[kind], folder, f"{sym}.{_SUFFIX[kind]}.html", html)
        if gated:
            return
        periods = [("Year", adates, annual)]
        if not legacy:
            periods.append(("Quarter", qdates, quarterly))
        for period, dates, vals in periods:
            rows = []
            for i, d in enumerate(dates):
                row = {f: vals[f][i].replace(",", "") for f in fields}
                if any(v in ("NA", "--") for v in row.values()):
                    continue  # validity gate
                rows.append((d, row))
            self._chain(kind, sym, period, sorted(rows, key=lambda x: x[0]))

    def _chain(self, kind: str, sym: str, period: str, rows) -> None:
        """The sni chain: oldest first, against stored and earlier rows."""
        landed = self.stm[kind]
        for d, row in rows:
            if (sym, period, d) in landed:
                continue
            prior = landed.get((sym, period, _prior(d, period)))
            if prior is not None and any(
                    all(prior[c] == row[c] for c in group)
                    for group in _SNI_GROUPS[kind]):
                continue
            landed[(sym, period, d)] = row

    # -- calendars ----------------------------------------------------------

    def _calendar_file(self, dataset: str, folder: dt.date, event: dt.date,
                       rows: list[list[str]]) -> None:
        payload = json.dumps({"data": rows})
        self._write(dataset, folder, f"{event.isoformat()}.json",
                    "window.app_data = " + payload)

    def earnings(self, folder: dt.date, symbols: list[str],
                 days: int = 4) -> None:
        r = self.rng
        batch: dict[str, dt.date] = {}  # last row per symbol wins
        for k in range(days):
            event = folder + dt.timedelta(days=k)
            rows = []
            for sym in r.sample(symbols, max(1, len(symbols) // 3)):
                when = r.choice(("amc", "bmo", "--"))
                cell = f"<b>{sym}</b>" if r.random() < 0.3 else sym
                rows.append([cell, f"Corp {sym} {sym} Quick Quote", "1",
                             when, "x"])
                batch[sym] = event
            self._calendar_file("earnings-calendar", folder, event, rows)
        self.earn = _merge(self.earn, batch, folder)

    def cleanup_stale(self) -> None:
        """Stale-estimate delete: per (symbol, reporting window), only the
        latest calendar date inside the window survives."""
        bsa: dict[str, set] = {}
        for (s, _p, d) in self.stm["balance"]:
            bsa.setdefault(s, set()).add(d)
        condemned = set()
        for s, dates in bsa.items():
            cal = [d for (s2, d) in self.earn if s2 == s]
            for b in dates | {_next_quarter_end(max(dates))}:
                end = _next_quarter_end(b)
                inside = [d for d in cal if b < d <= end]
                if len(inside) > 1:
                    top = max(inside)
                    condemned |= {(s, d) for d in inside if d != top}
        self.earn -= condemned

    def dividends(self, folder: dt.date, symbols: list[str],
                  days: int = 3) -> None:
        r = self.rng
        batch: dict[str, dt.date] = {}  # last valid row per symbol wins
        for k in range(days):
            event = folder + dt.timedelta(days=k)
            rows = []
            syms = r.sample(symbols, max(1, len(symbols) // 4))
            bad_sym = r.choice(syms)
            for sym in syms:
                ex = event + dt.timedelta(days=r.randint(0, 20))
                pay = ex + dt.timedelta(days=r.randint(5, 30))
                bad = sym == bad_sym  # unparseable amount: row dropped
                amount = "$N/A" if bad else f"${r.randint(1, 300) / 100:.2f}"
                rows.append([sym, f"Corp {sym}", "x", amount, "x",
                             ex.isoformat(), "x",
                             "--" if r.random() < 0.2 else pay.isoformat()])
                if not bad:
                    batch[sym] = ex
            self._calendar_file("dividend-calendar", folder, event, rows)
        self.div = _merge(self.div, batch, folder)

    # -- a whole dated folder -----------------------------------------------

    def folder(self, folder: dt.date, n_docs: int, datasets: tuple,
               kinds: tuple) -> dict:
        """One day of ``datasets`` (statement ``kinds`` only), modelled in
        the runner's step order (estimates, statements, earnings + cleanup,
        dividends). Returns what each runner step must report."""
        syms = sorted(self.rng.sample(self.symbols, n_docs))
        step = {}
        if "estimates" in datasets:
            loaded = self.estimates(folder, syms)
            step["estimates"] = {"attempted": n_docs, "loaded": loaded,
                                 "failed": n_docs - loaded}
        if "statements" in datasets:
            self.statements(folder, syms, kinds)
            counts = self.expected_counts()
            step["statements"] = {k: {t: counts[t]
                                      for t in STATEMENT_TABLES[k]}
                                  for k in kinds}
        if "calendars" in datasets:
            self.earnings(folder, syms)
            self.cleanup_stale()
            step["earnings_calendar"] = {"earnings_calendar": len(self.earn)}
            self.dividends(folder, syms)
            step["dividend_calendar"] = {"dividend_calendar": len(self.div)}
        return step

    # -- seeded history (typed rows, written through TableStore) -----------

    def history(self, end: dt.date, n_syms: int) -> dict:
        """Typed rows of the ``HISTORY_TABLES`` for the first ``n_syms``
        symbols before ``end``; returns {table: [row tuples]} and adds the
        rows to the model. Of the balance sheet only the assets table is
        seeded: the stale-earnings cleanup reads only that one."""
        r = self.rng
        syms = self.symbols[:n_syms]
        keys: dict[str, list[dict]] = {t: [] for t in HISTORY_TABLES}
        for s in syms:
            for q in _quarter_ends_before(end, 12, 1):
                keys["eps_history"].append({"act_symbol": s,
                                            "period_end_date": q})
        for s in syms:
            if r.random() < 0.3:
                continue  # a symbol with no statements yet
            annual = [D(end.year - i, 12, 31) for i in range(2, 8)]
            quarterly = _quarter_ends_before(end, 10, 120)
            for period, dates in (("Year", annual), ("Quarter", quarterly)):
                for d in dates:
                    self.stm["balance"][(s, period, d)] = _OPAQUE_ROW
                    keys["balance_sheet_assets"].append(
                        {"act_symbol": s, "date": d, "period": period})
        earn = {}  # a dict: insertion-ordered, so rows are seeded in order
        for s in syms:
            for k in range(r.randint(1, 4)):
                earn[(s, end + dt.timedelta(days=r.randint(-80, 10)))] = None
        self.earn |= set(earn)
        keys["earnings_calendar"] = [{"act_symbol": s, "date": d}
                                     for (s, d) in earn]
        self.est["eps_history"] |= {(k["act_symbol"], k["period_end_date"])
                                    for k in keys["eps_history"]}
        return {t: [self._typed(t, k) for k in keys[t]] for t in HISTORY_TABLES}

    def _typed(self, table: str, key: dict) -> tuple:
        r = self.rng
        domains = ENUM_DOMAINS.get(table, {})
        anchor = next(v for v in key.values() if isinstance(v, dt.date))
        out = []
        for f in TABLES[table].fields:
            name, typ = f.name, f.dataType.typeName()
            if name in key:
                out.append(key[name])
            elif name in domains:
                out.append(r.choice(domains[name]))
            elif typ.startswith("decimal"):
                out.append(Decimal(r.randint(-10**6, 10**8)) / 100)
            elif typ == "short":
                out.append(r.randint(0, 40))
            elif typ == "date":
                out.append(anchor + dt.timedelta(days=r.randint(1, 120)))
            else:
                out.append(None)
        return tuple(out)

    # -- predictions --------------------------------------------------------

    def _rows(self, table: str) -> list[tuple]:
        """Predicted (date-column value, ...) keys of one table."""
        if table in self.est:
            return list(self.est[table])
        for kind, tables in STATEMENT_TABLES.items():
            if table in tables:
                return [(d, s, p) for (s, p, d) in self.stm[kind]]
        src = self.earn if table == "earnings_calendar" else self.div
        return [(d, s) for (s, d) in src]

    def expected_counts(self) -> dict[str, int]:
        return {t: len(self._rows(t)) for t in ALL_TABLES}

    def expected_files(self, table: str, start: dt.date | None,
                       end: dt.date | None) -> int:
        """CSV files a per-date dump of ``table`` over [start, end] writes:
        one per distinct date that holds a row."""
        idx = 1 if table == "eps_history" else 0
        dates = {k[idx] for k in self._rows(table)}
        return len({d for d in dates
                    if (start is None or d >= start)
                    and (end is None or d <= end)})


_OPAQUE_ROW = {f: _Opaque() for f in _BALANCE_FIELDS}
