"""The two workloads. Each has one closed-loop client: the next public call
is sent only after the previous one returns.

- kg_write: the write path. Two ingest_batch micro-batches (the second
  re-delivers part of the first and crosses the auto-compaction
  threshold), one refresh_graph_incremental, then one fresh Pipeline.run
  over the same final documents. The batch build is both a timed call and
  the reference the refreshed stream catalog must converge to.
- kg_read: the read-only path. A seeded sequence of search_memories (KNN,
  with and without a tag filter), ask_facts and hybrid_search calls over a
  records table that set-up builds, followed by the ten headline
  __spark_entry__ entries of bench.py over the repository's sf0.01 tables.
  Every call returns its rows to the driver, where they are checked after
  the pass.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
import traceback
from contextlib import nullcontext

from pyspark.sql import functions as F

from kernel_memory_spark.functions.vectors import hash_embed
from kernel_memory_spark.operators import ask as ASK
from kernel_memory_spark.operators.search_service import (
    hybrid_search, search_memories,
)
from kernel_memory_spark.schema import KG_STEPS
from kernel_memory_spark.sources.tables import TableCatalog, table_row_count
from kernel_memory_spark.streaming.ingest import (
    INGEST_SCHEMA, ingest_batch, refresh_graph_incremental,
)
from kernel_memory_spark.streaming.pipeline import Pipeline, PipelineConfig
from kernel_memory_spark.synth import ENTITIES, PREDICATES

from bench import HEADLINE
import checks
import inputs
import tracing as tr

WRITE = "kg_write"
READ = "kg_read"
WORKLOADS = (WRITE, READ)

# The second micro-batch must cross the auto-compaction threshold: after one
# merge every touched bucket holds two manifest entries, which is > 1.
COMPACT_THRESHOLD = 1

# Tables the refreshed stream catalog shares with the batch build.
CONVERGED_TABLES = (
    "entity_map", "nodes", "edges", "alias_edges", "triples", "records",
)
# Tables the overlapped and the serial-staged batch builds must agree on.
PARITY_TABLES = ("triples", "nodes", "edges", "records")

SEARCH_K = 10
SEARCH_OPS = ("knn", "ask", "hybrid")


def pipeline_steps() -> list:
    """Pipeline.run's steps in order; each is a valid stop_after value."""
    return ["ingest"] + list(KG_STEPS)


class Client:
    """Times public calls and keeps what each returned. A call that raises
    is recorded as failed; the run continues."""

    def __init__(self, spans: tr.Spans):
        self.spans = spans
        self.calls: list = []

    def call(self, op: str, fn, label: str | None = None):
        t0 = time.perf_counter()
        try:
            with self.spans.span(label or "op." + op):
                out = fn()
            err = None
        except Exception:
            out, err = None, traceback.format_exc(limit=3)
        self.calls.append({
            "op": op, "label": label or "op." + op,
            "wall_s": time.perf_counter() - t0, "error": err,
            "n_out": len(out) if isinstance(out, list) else None,
        })
        return out

    def fail(self, index: int, problems: list) -> None:
        if problems:
            self.calls[index].setdefault("problems", []).extend(problems)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _pipeline_config(execution_id: str, nproc: int):
    # records buckets = cores, the lower bound PipelineConfig asks for
    return PipelineConfig(
        execution_id=execution_id, per_bucket_metrics=False,
        records_buckets=nproc, compact_threshold=COMPACT_THRESHOLD,
    )


# -- kg_write ------------------------------------------------------------------

class KgWrite:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spans = ctx.spans
        self.client = Client(ctx.spans)

    def generate(self):
        """Driver-side input rows."""
        seed = self.ctx.seed
        self.batches = [inputs.doc_rows(ids, seed)
                        for ids in inputs.stream_batches()]
        final = {}
        for rows in self.batches:
            final.update({r[0]: r for r in rows})
        self.final_rows = [final[k] for k in sorted(final)]
        self.input_bytes = sum(inputs.input_bytes(b) for b in self.batches)

    def setup(self):
        spark = self.ctx.spark
        self.batch_dfs = [spark.createDataFrame(rows, INGEST_SCHEMA)
                          for rows in self.batches]
        self.final_df = spark.createDataFrame(self.final_rows, INGEST_SCHEMA)

    def run_pass(self, n: int) -> None:
        ctx, c = self.ctx, self.client
        spark = ctx.spark
        root = os.path.join(ctx.work, f"pass{n}")
        stream_root = os.path.join(root, "stream")
        self.stream = (
            tr.TracedCatalog(stream_root, self.spans) if ctx.trace
            else TableCatalog(stream_root)
        )
        cfg = _pipeline_config(f"stream-{ctx.seed}", ctx.nproc)
        self.first_call = len(c.calls)
        self.ingest_out = []
        with (tr.traced_commit_union(self.spans) if ctx.trace
              else nullcontext()):
            for i, df in enumerate(self.batch_dfs):
                self.ingest_out.append(c.call(
                    "ingest_batch", lambda df=df, i=i: ingest_batch(
                        spark, self.stream, df, cfg,
                        f"{cfg.execution_id}-b{i}")))
            c.call("refresh", lambda: refresh_graph_incremental(
                spark, self.stream, cfg))
        self.batch = TableCatalog(os.path.join(root, "batch"))
        bcfg = _pipeline_config(f"batch-{ctx.seed}", ctx.nproc)
        c.call("pipeline_run", lambda: Pipeline(spark, self.batch, bcfg).run(
            self.final_df.select("doc_id", "spans"),
            self.final_df.select("doc_id", "tags"),
        ))
        self.catalog_bytes = dir_bytes(stream_root)

    def check_pass(self) -> None:
        spark, c = self.ctx.spark, self.client
        ingest_calls = [self.first_call, self.first_call + 1]
        refresh_call, build_call = self.first_call + 2, self.first_call + 3
        self.build_fp = None
        if any(c.calls[i]["error"] for i in range(self.first_call,
                                                    len(c.calls))):
            return
        want_docs = {r[0] for r in self.final_rows}
        rec = self.stream.read(spark, "records")
        stats = rec.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("ids"),
        ).first()
        docs = {r.doc_id for r in rec.select("doc_id").distinct().collect()}
        problems = []
        if docs != want_docs:
            problems.append(f"stream records cover {len(docs)} docs, "
                            f"want {len(want_docs)}")
        if stats.n != stats.ids:
            problems.append("re-delivered docs left duplicate records")
        for i in ingest_calls:
            c.fail(i, problems)
        # the workload exists to measure one non-compacting batch and one
        # that crosses the auto-compaction threshold
        for k, (i, out, rows) in enumerate(
                zip(ingest_calls, self.ingest_out, self.batches)):
            if out["n_docs"] != len(rows):
                c.fail(i, [f"batch {k}: n_docs {out['n_docs']}, "
                           f"want {len(rows)}"])
            if bool(out["compacted"]) != (k == len(self.batches) - 1):
                c.fail(i, [f"batch {k}: compacted {out['compacted']}"])
        want = checks.catalog_fingerprints(
            spark, self.batch, set(CONVERGED_TABLES) | set(PARITY_TABLES))
        got = checks.catalog_fingerprints(spark, self.stream, CONVERGED_TABLES)
        c.fail(refresh_call, checks.compare_fingerprints(
            got, {n: want[n] for n in CONVERGED_TABLES},
            "stream refresh vs batch build"))
        b = self.batch
        if table_row_count(b, "triples") != (
                table_row_count(b, "triples_base")
                + table_row_count(b, "triples_canonical")):
            c.fail(build_call, ["triples != triples_base + triples_canonical"])
        self.build_fp = {n: want[n] for n in PARITY_TABLES}

    def serial_staged_build(self) -> dict:
        """Traced runs only: the same build driven one step at a time
        through the public serial path, Pipeline.run(resume=True,
        stop_after=step), with a span per step. Its output must equal the
        overlapped build's."""
        ctx, c = self.ctx, self.client
        cat = TableCatalog(os.path.join(ctx.work, "serial"))
        pipe = Pipeline(ctx.spark, cat,
                        _pipeline_config(f"batch-{ctx.seed}", ctx.nproc))
        corpus = self.final_df.select("doc_id", "spans")
        tags = self.final_df.select("doc_id", "tags")
        first = len(c.calls)
        steps = pipeline_steps()
        for step in steps:
            c.call("serial_step", lambda step=step: pipe.run(
                corpus, tags, resume=True, stop_after=step),
                label=f"pipeline.{step}")
        if self.build_fp and not any(x["error"] for x in c.calls[first:]):
            got = checks.catalog_fingerprints(ctx.spark, cat, PARITY_TABLES)
            c.fail(len(c.calls) - 1, [
                f"serial-staged {n} {got[n]} != overlapped {self.build_fp[n]}"
                for n in PARITY_TABLES if got[n] != self.build_fp[n]
            ])
        return {s: w for s, w in zip(steps, [
            x["wall_s"] for x in c.calls[first:]])}

    def details(self) -> dict:
        walls = walls_by_op(self.client.calls)
        ing = walls.get("ingest_batch", [])
        build = walls.get("pipeline_run", [])
        return {
            "ingest_batch_p50_s": _median(ing),
            "ingest_batch_tail_s": max(ing) if ing else None,
            "ingest_batch_samples": len(ing),
            "refresh_s": _median(walls.get("refresh", [])),
            "build_docs_per_s": (
                len(self.final_rows) / _median(build) if build else None),
        }


# -- kg_read -------------------------------------------------------------------

class KgRead:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spans = ctx.spans
        self.client = Client(ctx.spans)

    def generate(self):
        seed = self.ctx.seed
        self.doc_rows = inputs.doc_rows(range(inputs.READ_DOCS), seed)
        self.input_bytes = inputs.input_bytes(self.doc_rows)
        self.sf_dir = inputs.ENTRY_SF_DIR

    def setup(self):
        """Build the records table once through the public serial path,
        and collect it for the brute-force checks."""
        import __spark_entry__ as entrymod

        ctx = self.ctx
        spark = ctx.spark
        docs = spark.createDataFrame(self.doc_rows, INGEST_SCHEMA)
        root = os.path.join(ctx.work, "records_catalog")
        self.catalog = TableCatalog(root)
        Pipeline(spark, self.catalog,
                 _pipeline_config(f"read-{ctx.seed}", ctx.nproc)).run(
            docs.select("doc_id", "spans"), docs.select("doc_id", "tags"),
            stop_after="save_records",
        )
        self.catalog_bytes = dir_bytes(root)
        self.index = checks.RecordIndex(self.catalog.read(spark, "records"))
        self.queries = entrymod.queries()
        self.oracles = entrymod.oracle_sql()
        self.oracle = None

    def requests(self, rng: random.Random) -> list:
        """One pass: eight retrieval requests, then the ten entries in a
        seeded order. Query texts and tag filters are seeded (filters use
        `type` values present in the data); the retrieval ops keep a fixed
        order so each session's first-use cost lands on the same calls on
        every seed, and not on whichever op a shuffle puts first."""
        types = sorted({v for t in self.index.tags for v in t.get("type", [])})

        def text():
            a = rng.choice(rng.choice(ENTITIES)[1])
            b = rng.choice(rng.choice(ENTITIES)[1])
            return f"{a} {rng.choice(PREDICATES)[0]} {b}"

        def tag():
            return [{"type": [rng.choice(types)]}]

        reqs = [("knn", text(), None), ("knn", text(), None),
                ("knn", text(), tag()), ("knn", text(), tag()),
                ("ask", text(), None), ("ask", text(), tag()),
                ("hybrid", text(), None), ("hybrid", text(), tag())]
        entries = list(HEADLINE)
        rng.shuffle(entries)
        return reqs + [("entry", name, None) for name in entries]

    def _entry(self, name: str):
        """One __spark_entry__ entry, its rows returned to the driver (as
        scripts/check_entry.py collects them)."""
        df = self.queries[name](self.ctx.spark, self.sf_dir)
        return df.columns, df.collect()

    def run_pass(self, n: int) -> None:
        ctx, c = self.ctx, self.client
        spark = ctx.spark
        if n == 0:
            self.checks_todo = []
        rng = random.Random(ctx.seed * 1000 + n)
        records = self.catalog.read(spark, "records")
        for op, arg, filters in self.requests(rng):
            if op == "entry":
                out = c.call("entry", lambda name=arg: self._entry(name),
                             label=f"entry.{arg}")
                self.checks_todo.append((len(c.calls) - 1, op, arg, None,
                                         None, out))
                continue
            vec = [float(x) for x in hash_embed(arg, 64)]
            if op == "knn":
                fn = lambda: search_memories(  # noqa: E731
                    records, vec, filters=filters, limit=SEARCH_K).collect()
            elif op == "ask":
                fn = lambda: ASK.ask_facts(  # noqa: E731
                    records, vec, arg, filters=filters).collect()
            else:
                fn = lambda: hybrid_search(  # noqa: E731
                    records, arg, vec, k=SEARCH_K, filters=filters).collect()
            rows = c.call(op, fn, label=f"search.{op}")
            self.checks_todo.append((len(c.calls) - 1, op, arg, vec,
                                     filters, rows))

    def check_pass(self) -> None:
        def tokens(s):  # ask_facts' 4-chars-per-token budget arithmetic
            return math.ceil(len(s) / 4)

        c, ix = self.client, self.index
        if self.oracle is None:
            self.oracle = checks.EntryOracle(self.sf_dir, self.oracles)
        for i, op, arg, vec, filters, rows in self.checks_todo:
            if rows is None:
                continue
            if op == "entry":
                c.fail(i, self.oracle.check(
                    arg, *rows, reevaluate=lambda name=arg: self._entry(name)))
            elif op == "knn":
                c.fail(i, checks.check_knn(ix, rows, vec, SEARCH_K, filters))
            elif op == "ask":
                budget = (8192 - tokens(ASK.DEFAULT_ANSWER_PROMPT)
                          - tokens(arg) - 300)
                c.fail(i, checks.check_ask(ix, rows, vec,
                                           ASK.DEFAULT_MAX_MATCHES, filters,
                                           budget))
            else:
                c.fail(i, checks.check_hybrid(ix, rows, SEARCH_K, filters))
        self.checks_todo = []

    def details(self) -> dict:
        walls = walls_by_op(self.client.calls)
        searches = [w for op in SEARCH_OPS for w in walls.get(op, [])]
        entries = walls.get("entry", [])
        passes = max(1, len(entries) // len(HEADLINE))
        return {
            "knn_p50_s": _median(walls.get("knn", [])),
            "ask_p50_s": _median(walls.get("ask", [])),
            "hybrid_p50_s": _median(walls.get("hybrid", [])),
            "search_tail_s": max(searches) if searches else None,
            "search_samples": len(searches),
            "entries_wall_s": sum(entries) / passes,
        }


def walls_by_op(calls: list) -> dict:
    out: dict = {}
    for x in calls:
        out.setdefault(x["op"], []).append(x["wall_s"])
    return out


def _median(xs):
    return statistics.median(xs) if xs else None


def make(ctx):
    return {WRITE: KgWrite, READ: KgRead}[ctx.workload](ctx)
