"""Per-layer metrics of a traced run, named after the engine's modules.

Every workload reports every metric; a layer the workload does not reach
reports 0, which is the prediction for it. Job counts and executor, Python
and shuffle figures come from the Spark event log, attributed to the
benchmark's spans around public calls (tracing.per_label). "jobs" is per
call for search, entry, ingest and pipeline-step rows, and the run total
for tables rows.
"""

from __future__ import annotations

import statistics

import tracing
import workloads as W

TABLE_METHODS = ("merge_bucketed", "overwrite", "compact", "commit_union")


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(ctx, wl, jobs, timed_calls, pass_walls, get_spark_s,
              extra) -> dict:
    spans = ctx.spans
    lab = tracing.per_label(spans, jobs)
    zero = {"calls": 0, "wall_s": 0.0, "jobs": 0, "executor_s": 0.0,
            "python_s": 0.0, "shuffle_mb": 0.0, "input_rows": 0}

    def row(label):
        return lab.get(label, zero)

    def per_call(label, key):
        r = row(label)
        return r[key] / r["calls"] if r["calls"] else 0.0

    m = {}
    # public calls, as the closed-loop client saw them
    walls = W.walls_by_op(timed_calls)
    ingest = walls.get("ingest_batch", [])
    m["op.ingest_batch.p50_s"] = _med(ingest)
    m["op.ingest_batch.max_s"] = max(ingest, default=0.0)
    m["op.refresh.wall_s"] = _med(walls.get("refresh", []))
    m["op.pipeline_run.wall_s"] = _med(walls.get("pipeline_run", []))
    for op in W.SEARCH_OPS:
        m[f"op.{op}.p50_s"] = _med(walls.get(op, []))
    m["op.entries.wall_s"] = sum(walls.get("entry", [])) / len(pass_walls)

    # streaming.pipeline: the serial-staged build, one span per step
    steps = extra.get("serial_steps", {})
    for step in W.pipeline_steps():
        r = row(f"pipeline.{step}")
        m[f"pipeline.{step}.wall_s"] = r["wall_s"]
        m[f"pipeline.{step}.jobs"] = r["jobs"]
        m[f"pipeline.{step}.executor_s"] = r["executor_s"]
        m[f"pipeline.{step}.python_s"] = r["python_s"]
        m[f"pipeline.{step}.shuffle_mb"] = r["shuffle_mb"]
    serial_sum = sum(steps.values())
    m["pipeline.serial_sum_s"] = serial_sum
    m["pipeline.overlap_gap_s"] = (
        m["op.pipeline_run.wall_s"] - serial_sum if steps else 0.0)

    # streaming.ingest
    batch = row("op.ingest_batch")
    merge = row("tables.merge_bucketed")
    m["ingest.batch.jobs"] = per_call("op.ingest_batch", "jobs")
    m["ingest.merge_share"] = (
        merge["wall_s"] / batch["wall_s"] if batch["wall_s"] else 0.0)
    m["ingest.compact_s"] = row("tables.compact")["wall_s"]
    m["ingest.refresh.jobs"] = row("op.refresh")["jobs"]
    m["ingest.refresh.executor_s"] = row("op.refresh")["executor_s"]

    # sources.tables (the stream catalog only)
    for meth in TABLE_METHODS:
        r = row(f"tables.{meth}")
        m[f"tables.{meth}.calls"] = r["calls"]
        m[f"tables.{meth}.wall_s"] = r["wall_s"]
        m[f"tables.{meth}.jobs"] = r["jobs"]
    stream = getattr(wl, "stream", None)
    m["tables.bytes_written_mb"] = (
        wl.catalog_bytes / 1e6 if stream is not None else 0.0)
    m["tables.max_entries_per_bucket"] = max(
        (stream.max_entries_per_bucket(n) for n in ("records", "corpus"))
        if stream is not None else (), default=0)

    # operators.query / search_service / search_text / ask
    for op in W.SEARCH_OPS:
        label = f"search.{op}"
        outs = [c["n_out"] or 0 for c in timed_calls if c["op"] == op]
        rows_in = per_call(label, "input_rows")
        m[f"{label}.jobs"] = per_call(label, "jobs")
        m[f"{label}.executor_s"] = per_call(label, "executor_s")
        m[f"{label}.input_rows"] = rows_in
        m[f"{label}.rows_per_result"] = (
            rows_in / max(1.0, _med(outs)) if outs else 0.0)

    # __spark_entry__
    for name in W.HEADLINE:
        m[f"entry.{name}.wall_s"] = per_call(f"entry.{name}", "wall_s")
        m[f"entry.{name}.jobs"] = per_call(f"entry.{name}", "jobs")

    # session
    m["session.get_spark_s"] = get_spark_s

    # trace coverage: pass wall not inside a timed public call, and jobs
    # submitted during a pass outside every call span
    call_wall = sum(c["wall_s"] for c in timed_calls)
    m["trace.pass_wall_s"] = _med(pass_walls)
    m["trace.uncovered_share"] = 1.0 - call_wall / sum(pass_walls)
    call_labels = {c["label"] for c in timed_calls}
    in_pass = [j for j in jobs if any(
        t0 <= j["submit"] <= t1 for lb, t0, t1 in spans.items
        if lb == "pass")]
    m["trace.unattributed_jobs"] = tracing.unattributed_jobs(
        spans, in_pass, call_labels)
    return m
