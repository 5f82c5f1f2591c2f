"""Spans around public calls, and the Spark event log aggregated per span.

A span is (label, start, end) recorded by the benchmark around one call
into a layer's public function. After the run, every Spark job in the
event log is attributed to each span label whose interval contains the
job's submission time. With one closed-loop client every span label is
entered from one call site at a time, so this is exact for sequential
calls and also catches jobs that the engine submits from its own worker
threads, which a thread-scoped job tag would miss. A job counts once per
label even when two concurrent spans of the same label contain it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from kernel_memory_spark.sources import tables as _tables
from kernel_memory_spark.sources.tables import TableCatalog

# stage-level accumulables summed per span label
_ACCUMS = {
    "internal.metrics.executorRunTime": "executor_ms",
    "time to run Python workers": "python_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_b",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_b",
    "internal.metrics.input.recordsRead": "input_rows",
}


class Spans:
    """In-memory span list; written out once, when the run ends."""

    def __init__(self):
        self.items: list = []

    @contextmanager
    def span(self, label: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append((label, t0, time.time()))


class TracedCatalog(TableCatalog):
    """TableCatalog whose public write methods record a span per call.

    Used only in traced runs. It changes no behaviour: each override calls
    the parent method with the same arguments."""

    def __init__(self, root: str, spans: Spans):
        super().__init__(root)
        self._spans = spans

    def overwrite(self, df, name, *args, **kwargs):
        with self._spans.span("tables.overwrite"):
            return super().overwrite(df, name, *args, **kwargs)

    def merge_bucketed(self, spark, name, df, *args, **kwargs):
        with self._spans.span("tables.merge_bucketed"):
            return super().merge_bucketed(spark, name, df, *args, **kwargs)

    def compact(self, spark, name, *args, **kwargs):
        with self._spans.span("tables.compact"):
            return super().compact(spark, name, *args, **kwargs)


@contextmanager
def traced_commit_union(spans: Spans):
    """Record a span around every `tables.commit_union` call the engine
    makes through the module attribute, for the duration of the block."""
    original = _tables.commit_union

    def wrapped(catalog, name, sources):
        with spans.span("tables.commit_union"):
            return original(catalog, name, sources)

    _tables.commit_union = wrapped
    try:
        yield
    finally:
        _tables.commit_union = original


def read_event_log(log_dir: str) -> list:
    """Jobs from the (uncompressed, non-rolling) event log of the session:
    [{'submit': s, 'end': s, 'executor_ms': .., 'python_ms': .., ...}]."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    jobs, stage_job, stage_vals = {}, {}, {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"submit": ev["Submission Time"] / 1000.0}
                    for sid in ev["Stage IDs"]:
                        # a stage listed by several jobs runs in the first
                        # and is skipped in the others
                        stage_job[sid] = min(stage_job.get(sid, jid), jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = (
                            ev["Completion Time"] / 1000.0
                        )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    vals = defaultdict(float)
                    for acc in info.get("Accumulables", []):
                        key = _ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            try:
                                vals[key] += float(acc.get("Value", 0))
                            except (TypeError, ValueError):
                                pass
                    stage_vals[info["Stage ID"]] = vals
    for job in jobs.values():
        for key in set(_ACCUMS.values()):
            job[key] = 0.0
    for sid, vals in stage_vals.items():
        jid = stage_job.get(sid)
        if jid in jobs:
            for key, v in vals.items():
                jobs[jid][key] += v
    return [j for j in jobs.values() if "end" in j]


def per_label(spans: Spans, jobs: list) -> dict:
    """label -> {'calls', 'wall_s', 'jobs', 'executor_s', 'python_s',
    'shuffle_mb', 'input_rows'} over the jobs submitted inside its spans."""
    out = {}
    by_label = defaultdict(list)
    for lab, t0, t1 in spans.items:
        by_label[lab].append((t0, t1))
    for lab, intervals in by_label.items():
        hit = [j for j in jobs
               if any(t0 <= j["submit"] <= t1 for t0, t1 in intervals)]
        out[lab] = {
            "calls": len(intervals),
            "wall_s": sum(t1 - t0 for t0, t1 in intervals),
            "jobs": len(hit),
            "executor_s": sum(j["executor_ms"] for j in hit) / 1000.0,
            "python_s": sum(j["python_ms"] for j in hit) / 1000.0,
            "shuffle_mb": sum(j["shuffle_write_b"] + j["shuffle_read_b"]
                              for j in hit) / 1e6,
            "input_rows": sum(j["input_rows"] for j in hit),
        }
    return out


def unattributed_jobs(spans: Spans, jobs: list, labels) -> int:
    """Jobs submitted outside every span whose label is in `labels`."""
    ivs = [(t0, t1) for lab, t0, t1 in spans.items if lab in labels]
    return sum(
        1 for j in jobs if not any(t0 <= j["submit"] <= t1 for t0, t1 in ivs)
    )
