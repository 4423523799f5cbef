"""Spans recorded from the benchmark's own code, around calls into a layer.

A span sets a Spark job group named after the layer, and on exit reads the
jobs and stages that completed inside it from the status REST API (the
way ``tools/shuffle_audit.py`` does): executor task time, shuffle write
and disk spill. Whole-stage codegen fallbacks are counted from the JVM
log written while the span was open.

Spans nest: a runner call's span holds the spans of the layer calls it
makes. Every figure of a span is its own share, with its children's taken
out. Its ``s`` is its wall time less each child's whole footprint (the
child's time plus the tracer's bookkeeping for it), and the jobs, stages
and log lines a child claimed are not counted again by its parent. Stages
are found by set difference before and after the span, then claimed.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager

#: Spark's WARN when whole-stage codegen falls back to interpreted
#: evaluation; its cause line reads "Code grows beyond 64 KB"
_FALLBACK = re.compile(rb"Whole-stage codegen disabled for plan")
#: the tracer's own work (extra count jobs): charged to overhead
ASIDE = "trace"


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, log_path: str, enabled: bool) -> None:
        self.spark = spark
        self.log_path = log_path
        self.enabled = enabled
        self.spans: list[dict] = []
        #: (start, end) of each outermost span's footprint
        self.top: list[tuple[float, float]] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._claimed_jobs: set = set()
        self._claimed_stages: set = set()
        sc = spark.sparkContext
        self._api = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str) -> list[dict]:
        with urllib.request.urlopen(f"{self._api}/{what}") as r:
            return json.load(r)

    def _drain(self) -> None:
        # status store is fed by the listener bus; let it catch up
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _state(self) -> tuple[set, set, int]:
        self._drain()
        jobs = {j["jobId"] for j in self._get("jobs")}
        stages = {(s["stageId"], s["attemptId"]) for s in self._get("stages")}
        return jobs, stages, os.path.getsize(self.log_path)

    def _group(self, rec: dict | None) -> None:
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{rec['layer']}.{rec['kind']}",
                           f"{rec['layer']}.{rec['kind']} {rec['name']}")

    def aside(self):
        """Bookkeeping the tracer needs but the pipeline does not do (extra
        count jobs); its time is charged to tracing overhead."""
        return self.span(ASIDE, "aside")

    @contextmanager
    def span(self, layer: str, kind: str, name: str = ""):
        """Open a span on ``layer``; ``kind`` names what the layer does
        (``upsert``, ``rewrite``...). The yielded dict takes counters."""
        rec: dict = {"layer": layer, "kind": kind, "name": name}
        if not self.enabled:
            yield rec
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._group(rec)
        jobs0, stages0, log0 = self._state()
        rec["_child_s"] = 0.0
        rec["_child_fallbacks"] = 0
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            fallbacks = self._close(rec, jobs0, stages0, log0)
            self._group(parent)
            t1 = time.perf_counter()
            wall = rec["end"] - rec["start"]
            rec["s"] = wall - rec.pop("_child_s")
            self.overhead_s += (t1 - t0) - wall
            if layer == ASIDE:
                self.overhead_s += rec["s"]
            if parent is None:
                self.top.append((t0, t1))
            else:
                parent["_child_s"] += t1 - t0
                parent["_child_fallbacks"] += fallbacks
            self.spans.append(rec)

    def _close(self, rec: dict, jobs0: set, stages0: set, log0: int) -> int:
        """Attribute the unclaimed jobs and stages that completed inside the
        span; returns every fallback logged inside it, children's too."""
        self._drain()
        jobs = {j["jobId"] for j in self._get("jobs")} - jobs0 \
            - self._claimed_jobs
        self._claimed_jobs |= jobs
        task_ms = shuffle = spill = stages = 0
        for s in self._get("stages"):
            key = (s["stageId"], s["attemptId"])
            if (key in stages0 or key in self._claimed_stages
                    or s["status"] != "COMPLETE"):
                continue
            self._claimed_stages.add(key)
            stages += 1
            task_ms += s.get("executorRunTime", 0)
            shuffle += s.get("shuffleWriteBytes", 0)
            spill += s.get("diskBytesSpilled", 0)
        rec.update(jobs=len(jobs), stages=stages, task_s=task_ms / 1000.0,
                   shuffle_bytes=shuffle, spill_bytes=spill)
        with open(self.log_path, "rb") as fh:
            fh.seek(log0)
            total = len(_FALLBACK.findall(fh.read()))
        rec["codegen_fallbacks"] = total - rec.pop("_child_fallbacks")
        return total

    # -- summaries ----------------------------------------------------------

    def covered_s(self, start: float, end: float) -> float:
        """Time in [start, end] that an outermost span's footprint covers."""
        return sum(min(b, end) - max(a, start) for a, b in self.top
                   if b > start and a < end)

    def sums(self, key) -> dict[str, dict]:
        """Sum of every span's own numbers, grouped by ``key(span)``."""
        out: dict[str, dict] = {}
        for s in self.spans:
            agg = out.setdefault(key(s), {})
            for k, v in s.items():
                if k not in ("layer", "kind", "name", "start", "end"):
                    agg[k] = agg.get(k, 0) + v
        return out

    def dump(self, path: str) -> None:
        """Write the spans once, at the end of the run."""
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1, default=str)
