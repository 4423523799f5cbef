"""The layer entry points a traced pass wraps in spans.

A traced pass calls the same runner functions as an untraced one. Only
two things differ. The statement kinds and the six estimate upserts run
one after another, through the program's own ``parallel=False`` switches,
so that every job runs inside the span that submitted it. And
``traced(tracer)`` replaces each layer's public entry point, in the
namespace its caller looks it up in, with a wrapper. The wrapper opens a
span, calls the real function, and forces a DataFrame result into the
cache through the ``noop`` sink. The next layer then reads that result
from memory, so each span holds its own layer's work:

============================  ======================  ============================
entry point                   looked up in            span
============================  ======================  ============================
``read_documents``            ``runner``              raw_zone.scan
``read_calendar_files``       ``runner``              raw_zone.scan
``parse_estimates``           ``runner``              parse.estimates
``parse_statements``          ``runner``              parse.statements
``earnings_rows``             ``parse.calendars``     parse.calendars
``dividend_rows``             ``parse.calendars``     parse.calendars
``load_estimates``            ``estimate_pipeline``   estimate_pipeline.gate
``typed_candidates``          ``statement_pipeline``  statement_pipeline.type_gate
``apply_sni_chain``           ``statement_pipeline``  statement_pipeline.sni
``merge_calendar``            ``calendar_pipeline``   calendar_pipeline.merge
``stale_earnings_keys``       ``calendar_pipeline``   calendar_pipeline.cleanup
``TableStore.upsert_ignore``  the class               writer.upsert
``TableStore.overwrite``      the class               writer.rewrite
``TableStore.delete_where``   the class               writer.rewrite
============================  ======================  ============================

``load_estimates`` returns counters, not a DataFrame. Its span's own time
is the validity gate it runs (the batch count, the gate filter and the
valid-document count), since its six upserts are child spans.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Observation
from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark import runner
from zacks_estimates_financial_statements_spark.operators.writer import TableStore
from zacks_estimates_financial_statements_spark.parse import calendars as P
from zacks_estimates_financial_statements_spark.pipelines import (
    calendar_pipeline as CP,
)
from zacks_estimates_financial_statements_spark.pipelines import (
    estimate_pipeline as EP,
)
from zacks_estimates_financial_statements_spark.pipelines import (
    statement_pipeline as SP,
)


def sink(df, **aggs) -> list:
    """Force ``df`` to the noop sink; return the observed aggregates."""
    obs = Observation()
    df.observe(obs, *[a.alias(k) for k, a in aggs.items()]) \
        .write.format("noop").mode("overwrite").save()
    got = obs.get
    return [got[k] or 0 for k in aggs]


class _Wrappers:
    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.cached: list = []
        #: id(cached DataFrame) -> rows the next layer may accept
        self.rows: dict[int, int] = {}

    def _force(self, df, **aggs) -> tuple:
        """Cache ``df`` and force it; returns it with its row count and
        ``aggs``."""
        df = df.persist()
        self.cached.append(df)
        n, *rest = sink(df, n=F.count(F.lit(1)), **aggs)
        self.rows[id(df)] = n - (rest[0] if "errors" in aggs else 0)
        return (df, n, *rest)

    def scan(self, orig):
        def wrapped(spark, base, dataset, folder_date):
            with self.tracer.span("raw_zone", "scan",
                                  f"{dataset}/{folder_date}") as s:
                df, s["docs"], s["bytes"] = self._force(
                    orig(spark, base, dataset, folder_date),
                    size=F.sum(F.length("content")))
            return df
        return wrapped

    def parse(self, orig, kind: str):
        def wrapped(docs, *args):
            with self.tracer.span("parse", kind, " ".join(args)) as s:
                df, s["rows_out"], s["errors"] = self._force(
                    orig(docs, *args),
                    errors=F.count_if(F.col("parse_error").isNotNull()))
            return df
        return wrapped

    def parse_calendar(self, orig):
        def wrapped(files):
            with self.tracer.span("parse", "calendars") as s:
                df, s["rows_out"] = self._force(orig(files))
            return df
        return wrapped

    def load_estimates(self, orig):
        def wrapped(parsed, stores, parallel=True):
            with self.tracer.span("estimate_pipeline", "gate") as s:
                out = orig(parsed, stores, parallel=False)
                s["docs_rejected"] = out["failed"]
            return out
        return wrapped

    def typed_candidates(self, orig):
        def wrapped(raw, kind):
            with self.tracer.span("statement_pipeline", "type_gate",
                                  kind) as s:
                df, n = self._force(orig(raw, kind))
                s["rows_rejected"] = self.rows[id(raw)] - n
            return df
        return wrapped

    def apply_sni_chain(self, orig):
        def wrapped(candidates, stored, kind):
            with self.tracer.span("statement_pipeline", "sni", kind) as s:
                df, n = self._force(orig(candidates, stored, kind))
                s["sni_suppressed"] = self.rows[id(candidates)] - n
            return df
        return wrapped

    def merge_calendar(self, orig):
        def wrapped(existing, new_rows, folder_date, date_col):
            with self.tracer.span("calendar_pipeline", "merge", date_col):
                df, _ = self._force(orig(existing, new_rows, folder_date,
                                         date_col))
            return df
        return wrapped

    def stale_earnings_keys(self, orig):
        def wrapped(ec, bsa):
            with self.tracer.span("calendar_pipeline", "cleanup") as s:
                df, s["rows_deleted"] = self._force(orig(ec, bsa))
            return df
        return wrapped

    def upsert(self, orig):
        def wrapped(store, batch, *args, **kw):
            with self.tracer.aside():
                offered = batch.count()
            with self.tracer.span("writer", "upsert", store.name) as s:
                s["rows_offered"] = offered
                orig(store, batch, *args, **kw)
        return wrapped

    def rewrite(self, orig):
        def wrapped(store, *args, **kw):
            with self.tracer.span("writer", "rewrite", store.name):
                orig(store, *args, **kw)
        return wrapped


@contextlib.contextmanager
def traced(tracer):
    """Wrap every layer entry point in spans of ``tracer`` while open; the
    results cached by the wrappers are released on exit."""
    w = _Wrappers(tracer)
    targets = [
        (runner, "read_documents", w.scan),
        (runner, "read_calendar_files", w.scan),
        (runner, "parse_estimates", lambda f: w.parse(f, "estimates")),
        (runner, "parse_statements", lambda f: w.parse(f, "statements")),
        (P, "earnings_rows", w.parse_calendar),
        (P, "dividend_rows", w.parse_calendar),
        (EP, "load_estimates", w.load_estimates),
        (SP, "typed_candidates", w.typed_candidates),
        (SP, "apply_sni_chain", w.apply_sni_chain),
        (CP, "merge_calendar", w.merge_calendar),
        (CP, "stale_earnings_keys", w.stale_earnings_keys),
        (TableStore, "upsert_ignore", w.upsert),
        (TableStore, "overwrite", w.rewrite),
        (TableStore, "delete_where", w.rewrite),
    ]
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for obj, name, wrap in targets:
            setattr(obj, name, wrap(getattr(obj, name)))
        yield
    finally:
        for obj, name, orig in saved:
            setattr(obj, name, orig)
        for df in w.cached:
            df.unpersist()
