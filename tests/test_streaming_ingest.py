"""Structured-Streaming ingestion: exactly-once micro-batch merges +
periodic global refine, converging to the batch pipeline's output.

The streaming shape is the DistributedPipelineOrchestrator analog (queue
message = document batch); these tests assert the three contracts that
matter: file-source exactly-once across restarts, doc-replacement on
re-delivery, and refresh_graph parity with the batch Pipeline over the
same corpus.
"""

import glob
import os
import shutil
import threading
import time

import pytest

from pyspark.sql import functions as F

from kernel_memory_spark.operators import linking as lnk
from kernel_memory_spark.operators import triples as tri
from kernel_memory_spark.sources.tables import (
    COMMIT_THREAD_PREFIX, TableCatalog,
)
from kernel_memory_spark.streaming import ingest as si
from kernel_memory_spark.streaming.pipeline import Pipeline, PipelineConfig
from kernel_memory_spark.synth import synth_full

N_DOCS = 8


def drop_file(df, source_dir, name):
    """Materialize df as one parquet file inside the streaming source dir
    (simulates a new arrival)."""
    tmp = os.path.join(os.path.dirname(source_dir.rstrip("/")), f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(tmp + "/part-*.parquet")[0]
    os.makedirs(source_dir, exist_ok=True)
    shutil.move(part, os.path.join(source_dir, f"{name}.parquet"))
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture()
def batches(spark):
    full = synth_full(spark, N_DOCS).select("doc_id", "spans", "tags")
    first = full.filter(F.col("doc_id") <= "doc-000000003")
    second = full.filter(F.col("doc_id") > "doc-000000003")
    return full, first, second


def run_stream(spark, catalog, source_dir):
    q = si.stream_ingest(spark, catalog, source_dir)
    q.awaitTermination()


class TestStreamingIngest:
    def test_incremental_batches_accumulate(self, spark, tmp_path, batches):
        full, first, second = batches
        src = str(tmp_path / "incoming")
        cat = TableCatalog(str(tmp_path / "cat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, cat, src)
        assert cat.read(spark, "corpus").count() == 4
        n_records_1 = cat.read(spark, "records").count()
        assert n_records_1 > 0

        drop_file(second, src, "arrival2")
        run_stream(spark, cat, src)  # same checkpoint: only the new file
        assert cat.read(spark, "corpus").count() == N_DOCS
        got_docs = {
            r.doc_id for r in
            cat.read(spark, "records").select("doc_id").distinct().collect()
        }
        assert got_docs == {r.doc_id for r in full.select("doc_id").collect()}
        # triples carry both batches' docs
        tb_docs = cat.read(spark, "triples_base").select("doc_id").distinct()
        assert tb_docs.count() == N_DOCS
        # ledger has one stream_batch row per processed micro-batch
        ledger = cat.read(spark, "step_ledger").filter(
            F.col("step") == "stream_batch"
        )
        assert ledger.count() == 2

    def test_redelivery_replaces_not_duplicates(self, spark, tmp_path, batches):
        full, first, _second = batches
        src = str(tmp_path / "incoming")
        cat = TableCatalog(str(tmp_path / "cat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, cat, src)
        before = {
            t: cat.read(spark, t).count()
            for t in ("corpus", "records", "partitions", "triples_base")
        }
        # the SAME docs arrive again as a new file (at-least-once upstream)
        drop_file(first, src, "arrival1-redelivered")
        run_stream(spark, cat, src)
        after = {
            t: cat.read(spark, t).count()
            for t in ("corpus", "records", "partitions", "triples_base")
        }
        assert after == before  # doc-scoped replacement, no duplicates

    def test_poisoned_tags_parity_with_batch(self, spark, tmp_path, batches):
        """Quarantine routing must match the batch pipeline exactly: user
        tags stripped from the poisoned doc's RECORDS, but the tag-lineage
        triples (derived from the stored doc_tags table) unchanged."""
        full, first, _ = batches
        poisoned = first.withColumn(
            "tags",
            F.when(
                F.col("doc_id") == "doc-000000001",
                F.map_concat(
                    F.col("tags"),
                    F.create_map(F.lit("bad:key"), F.array(F.lit("v"))),
                ),
            ).otherwise(F.col("tags")),
        )
        src = str(tmp_path / "incoming")
        scat = TableCatalog(str(tmp_path / "scat"))
        drop_file(poisoned, src, "arrival1")
        run_stream(spark, scat, src)

        bcat = TableCatalog(str(tmp_path / "bcat"))
        Pipeline(spark, bcat, PipelineConfig(execution_id="batch")).run(
            poisoned.select("doc_id", "spans"),
            poisoned.select("doc_id", "tags"),
        )

        def tagless(cat):
            return {
                r.doc_id for r in cat.read(spark, "records")
                .filter(~F.map_contains_key("tags", "user"))
                .select("doc_id").distinct().collect()
            }

        assert tagless(scat) == tagless(bcat) == {"doc-000000001"}

        def base_triples(cat):
            return {
                (r.subj, r.pred, r.obj)
                for r in cat.read(spark, "triples_base")
                .select("subj", "pred", "obj").collect()
            }

        assert base_triples(scat) == base_triples(bcat)
        q = scat.read(spark, "quarantine").first()
        assert q.key == "doc-000000001" and q.reason == "invalid_tag_key"

    def test_refresh_graph_matches_batch_pipeline(self, spark, tmp_path, batches):
        full, first, second = batches
        src = str(tmp_path / "incoming")
        stream_cat = TableCatalog(str(tmp_path / "scat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, stream_cat, src)
        drop_file(second, src, "arrival2")
        run_stream(spark, stream_cat, src)
        si.refresh_graph(spark, stream_cat)

        batch_cat = TableCatalog(str(tmp_path / "bcat"))
        pipe = Pipeline(spark, batch_cat, PipelineConfig(execution_id="batch"))
        pipe.run(full.select("doc_id", "spans"), full.select("doc_id", "tags"))

        def triple_set(cat):
            return {
                (r.subj, r.pred, r.obj, r.doc_id)
                for r in cat.read(spark, "triples")
                .select("subj", "pred", "obj", "doc_id").collect()
            }

        assert triple_set(stream_cat) == triple_set(batch_cat)
        for t in ("nodes", "edges", "entity_map"):
            assert (
                stream_cat.read(spark, t).count()
                == batch_cat.read(spark, t).count()
            ), t


class TestIncrementalRefresh:
    def test_incremental_refresh_matches_batch_pipeline(
        self, spark, tmp_path, batches
    ):
        """refresh_graph_incremental after EVERY arrival must converge to
        the batch pipeline over the full corpus — while its UDF stages only
        ever touched the new surfaces (linking state machine)."""
        full, first, second = batches
        src = str(tmp_path / "incoming")
        scat = TableCatalog(str(tmp_path / "scat"))

        drop_file(first, src, "arrival1")
        run_stream(spark, scat, src)
        si.refresh_graph_incremental(spark, scat)
        surfaces_after_1 = scat.read(spark, "link_surfaces").count()
        scores_after_1 = scat.read(spark, "link_edge_scores").count()

        drop_file(second, src, "arrival2")
        run_stream(spark, scat, src)
        si.refresh_graph_incremental(spark, scat)
        # the state accumulated (no rebuild from scratch)
        assert scat.read(spark, "link_surfaces").count() >= surfaces_after_1
        assert scat.read(spark, "link_edge_scores").count() >= scores_after_1

        batch_cat = TableCatalog(str(tmp_path / "bcat"))
        pipe = Pipeline(spark, batch_cat, PipelineConfig(execution_id="batch"))
        pipe.run(full.select("doc_id", "spans"), full.select("doc_id", "tags"))

        def triple_set(cat):
            return {
                (r.subj, r.pred, r.obj, r.doc_id)
                for r in cat.read(spark, "triples")
                .select("subj", "pred", "obj", "doc_id").collect()
            }

        assert triple_set(scat) == triple_set(batch_cat)

        def edge_set(cat):
            return {
                (r.a, r.b) for r in cat.read(spark, "alias_edges")
                .select("a", "b").collect()
            }

        assert edge_set(scat) == edge_set(batch_cat)
        for t in ("nodes", "edges", "entity_map"):
            assert (
                scat.read(spark, t).count()
                == batch_cat.read(spark, t).count()
            ), t

    def test_second_refresh_with_no_new_docs_is_stable(
        self, spark, tmp_path, batches
    ):
        _full, first, _second = batches
        src = str(tmp_path / "incoming")
        scat = TableCatalog(str(tmp_path / "scat"))
        drop_file(first, src, "arrival1")
        run_stream(spark, scat, src)
        si.refresh_graph_incremental(spark, scat)
        edges_v1 = {
            (r.a, r.b) for r in scat.read(spark, "alias_edges").collect()
        }
        # idempotent: nothing new arrived, state and output unchanged
        si.refresh_graph_incremental(spark, scat)
        edges_v2 = {
            (r.a, r.b) for r in scat.read(spark, "alias_edges").collect()
        }
        assert edges_v1 == edges_v2


    def test_link_state_rebucketing_matches_full_link(
        self, spark, tmp_path, batches
    ):
        """The link state is bucketed by records_buckets. Changing that
        count between refreshes migrates the state (merge_bucketed's
        one-time layout rewrite), and the bucket-pruned band read must use
        the new modulus: the refreshed alias edges still equal a full
        link_entities over every mention."""
        _full, first, second = batches
        cat = TableCatalog(str(tmp_path / "cat"))
        for i, (df, nb) in enumerate(((first, 8), (second, 3))):
            cfg = PipelineConfig(records_buckets=nb)
            si.ingest_batch(spark, cat, df, cfg, f"e-{i}")
            si.refresh_graph_incremental(spark, cat, cfg)
        for t in ("surfaces", "band_members", "band_pairs", "edge_scores"):
            assert cat._manifest(f"link_{t}")["bucketing"]["n"] == 3, t

        def edges(df):
            return {
                (r.a, r.b, r.jaccard, r.cosine)
                for r in df.select("a", "b", "jaccard", "cosine").collect()
            }

        mentions = tri.mentions_from_extractions(
            cat.read(spark, "extractions")
        )
        want = edges(lnk.link_entities(mentions))
        assert want
        assert edges(cat.read(spark, "alias_edges")) == want


class TestConcurrentCommits:
    def test_failed_merge_leaves_nothing_running(
        self, spark, tmp_path, monkeypatch
    ):
        """One merge of a micro-batch fails while the others are in
        flight: ingest_batch raises that error only after every submitted
        merge has finished, so no commit thread survives the call and no
        table moves afterwards; the ledger row is never written."""
        batch = synth_full(spark, 4).select("doc_id", "spans", "tags")
        cat = TableCatalog(str(tmp_path / "cat"))
        merge = cat.merge_bucketed

        def failing_merge(spark_, name, *args, **kwargs):
            if name == "extracted":
                raise RuntimeError("injected merge failure")
            return merge(spark_, name, *args, **kwargs)

        monkeypatch.setattr(cat, "merge_bucketed", failing_merge)
        with pytest.raises(RuntimeError, match="injected merge failure"):
            si.ingest_batch(spark, cat, batch,
                            PipelineConfig(records_buckets=4), "e-fail")

        assert not [
            t.name for t in threading.enumerate()
            if t.name.startswith(COMMIT_THREAD_PREFIX)
        ]

        def latest():
            return {
                p: open(p).read()
                for p in glob.glob(os.path.join(cat.root, "*", "_LATEST"))
            }

        after_call = latest()
        time.sleep(2)
        assert latest() == after_call
        # the merges submitted after the failure still ran to completion
        assert cat.exists("triples_base")
        assert not cat.exists("step_ledger")


class TestStreamingCooccurIndex:
    def test_index_parity_and_redelivery_idempotence(
        self, spark, tmp_path, batches
    ):
        """With cfg.cooccur_index set, every micro-batch folds its docs'
        co-mentions into the incremental PMI index; after two arrivals
        plus a re-delivered first batch, pmi_from_index must equal a
        one-shot pmi_edges over the stored extractions (replace=True
        absorbs the re-delivery exactly like the doc-scoped merges)."""
        from kernel_memory_spark.operators import cooccur as CO
        from kernel_memory_spark.operators import triples as tri

        full, first, second = batches
        src = str(tmp_path / "incoming")
        cat = TableCatalog(str(tmp_path / "cat"))
        cfg = PipelineConfig(cooccur_index="comention")

        for df, name in (
            (first, "arrival1"),
            (second, "arrival2"),
            (first, "arrival1-redelivered"),
        ):
            drop_file(df, src, name)
            si.stream_ingest(spark, cat, src, config=cfg).awaitTermination()

        mentions = tri.mentions_from_extractions(
            cat.read(spark, "extractions")
        ).select("doc_id", "norm")
        ref = {
            (r.src, r.dst): (r.n_pairs, r.pmi)
            for r in CO.pmi_edges(mentions, "doc_id", "norm").collect()
        }
        inc = {
            (r.src, r.dst): (r.n_pairs, r.pmi)
            for r in CO.pmi_from_index(spark, cat, "comention").collect()
        }
        assert set(inc) == set(ref)
        for k in ref:
            assert inc[k][0] == ref[k][0], k
            assert inc[k][1] == pytest.approx(ref[k][1], abs=1e-12), k
        assert len(ref) > 0


class TestAutoCompaction:
    def test_bucket_file_count_bounded_across_batches(
        self, spark, tmp_path
    ):
        """N micro-batches with the default auto-compaction policy: the
        merges-since-compact counter must stay bounded by the threshold
        (each crossing triggers a compaction that resets it), no table
        bucket may exceed max(2, threshold) manifest entries after any
        batch, data stays correct, and the PMI index still matches a
        one-shot rebuild (tombstones from re-deliveries purged along the
        way are semantically invisible)."""
        from kernel_memory_spark.operators import cooccur as CO
        from kernel_memory_spark.operators import triples as tri

        full = synth_full(spark, 10).select("doc_id", "spans", "tags")
        full = full.localCheckpoint()
        cat = TableCatalog(str(tmp_path / "cat"))
        cfg = PipelineConfig(
            records_buckets=4, compact_threshold=3,
            cooccur_index="comention",
        )
        ids = sorted(r.doc_id for r in full.select("doc_id").collect())
        # 14 single-doc batches: every doc once, the first four re-delivered
        deliveries = ids + ids[:4]
        compacted_ever = []
        for i, did in enumerate(deliveries):
            out = si.ingest_batch(
                spark, cat,
                full.filter(F.col("doc_id") == did), cfg, f"e-{i}",
            )
            compacted_ever += out["compacted"]
            watched = list(si._STREAM_TABLES) + [
                "comention" + p for p in ("__pairs", "__marg", "__baskets")
            ]
            for name in watched:
                if not cat.exists(name):
                    continue
                # a write-first merge folds its touched buckets to <=2
                # entries; compaction keeps the rest bounded too
                assert (
                    cat.max_entries_per_bucket(name)
                    <= max(2, cfg.compact_threshold)
                ), (name, i)
                # the debt counter resets on every compaction, so it can
                # never run past threshold+1 (the batch that trips it)
                assert (
                    cat.merges_since_compact(name)
                    <= cfg.compact_threshold + 1
                ), (name, i)
        # 14 merges per table with threshold 3 must have tripped the
        # policy several times
        assert compacted_ever
        # correctness after maintenance: re-delivery replaced, not duped
        assert cat.read(spark, "corpus").count() == 10
        mentions = tri.mentions_from_extractions(
            cat.read(spark, "extractions")
        ).select("doc_id", "norm")
        ref = {
            (r.src, r.dst): r.n_pairs
            for r in CO.pmi_edges(mentions, "doc_id", "norm").collect()
        }
        inc = {
            (r.src, r.dst): r.n_pairs
            for r in CO.pmi_from_index(spark, cat, "comention").collect()
        }
        assert inc == ref and len(ref) > 0

    def test_tombstones_purged_on_compaction(self, spark, tmp_path):
        """Replace-mode re-deliveries leave zero-count rows in the pairs
        table; a compaction triggered past the threshold drops them from
        the rewritten buckets."""
        from kernel_memory_spark.operators import cooccur as CO

        cat = TableCatalog(str(tmp_path / "cat"))
        rows = [("b1", "x"), ("b1", "y"), ("b2", "x"), ("b2", "z")]
        df = spark.createDataFrame(rows, "bk string, it string")
        CO.upsert_cooccur_index(
            spark, cat, "ix", df, "bk", "it", n_buckets=2, replace=True
        )
        # re-deliver basket b1 with DIFFERENT items: (x,y) pair -> 0
        df2 = spark.createDataFrame([("b1", "x"), ("b1", "z")],
                                    "bk string, it string")
        for i in range(4):  # pile up entries past any threshold
            CO.upsert_cooccur_index(
                spark, cat, "ix", df2, "bk", "it", n_buckets=2,
                replace=True,
            )
        pairs_before = cat.read(spark, "ix__pairs")
        assert pairs_before.filter(F.col("n_pairs") == 0).count() > 0
        done = CO.compact_cooccur_index(spark, cat, "ix", threshold=1)
        assert "ix__pairs" in done
        after = cat.read(spark, "ix__pairs")
        assert after.filter(F.col("n_pairs") == 0).count() == 0
        # surviving counts unchanged
        want = {("x", "z"): 2}  # b1 and b2 both hold (x,z) now
        got = {
            (r.src, r.dst): r.n_pairs
            for r in after.filter(F.col("n_pairs") > 0).collect()
        }
        assert got == want
