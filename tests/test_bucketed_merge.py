"""Bucketed MERGE (the 100TB upsert path): only touched doc_id-hash buckets
rewrite; untouched buckets carry into the new snapshot by reference."""

import os
import threading
import time
from types import SimpleNamespace

import pytest

from pyspark.sql import functions as F

from kernel_memory_spark.sources.tables import (
    COMMIT_THREAD_PREFIX, TableCatalog, concurrent_commits,
)


def rows(spark, pairs):
    return spark.createDataFrame(
        [(f"d={d}//p={p}", d, f"text-{d}-{p}") for d, p in pairs],
        "id string, doc_id string, text string",
    )


class TestBucketedMerge:
    def test_upsert_correctness(self, spark, tmp_path):
        cat = TableCatalog(str(tmp_path))
        cat.merge_bucketed(
            spark, "t", rows(spark, [("a", 1), ("a", 2), ("b", 1)]),
            ["id"], "doc_id", n_buckets=8,
        )
        # upsert same key with new content + a new key
        cat.merge_bucketed(
            spark, "t", rows(spark, [("a", 1), ("c", 1)]),
            ["id"], "doc_id", n_buckets=8,
        )
        got = {(r.id, r.text) for r in cat.read(spark, "t").collect()}
        assert got == {
            ("d=a//p=1", "text-a-1"), ("d=a//p=2", "text-a-2"),
            ("d=b//p=1", "text-b-1"), ("d=c//p=1", "text-c-1"),
        }

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        cat = TableCatalog(str(tmp_path))
        big = rows(spark, [(f"doc{i}", p) for i in range(40) for p in (1, 2)])
        cat.merge_bucketed(spark, "t", big, ["id"], "doc_id", n_buckets=8)
        before = {e["bucket"]: e["path"] for e in cat._entries("t")}

        one = rows(spark, [("doc7", 1)])
        cat.merge_bucketed(spark, "t", one, ["id"], "doc_id", n_buckets=8)
        after = {e["bucket"]: e["path"] for e in cat._entries("t")}

        touched_bucket = one.select(
            TableCatalog._bucket_expr("doc_id", 8).alias("b")
        ).first().b
        changed = {b for b in before if before[b] != after.get(b)}
        assert changed == {touched_bucket}
        for b, path in before.items():
            if b != touched_bucket:
                # untouched data dir still on disk and referenced
                assert os.path.isdir(os.path.join(str(tmp_path), "t", path))
        assert cat.read(spark, "t").count() == 80

    def test_doc_replace_semantics(self, spark, tmp_path):
        """anti_cols=['doc_id'] = DeletePreviousRecordsAsync + upsert: a
        re-upload with fewer partitions drops the superseded ones."""
        cat = TableCatalog(str(tmp_path))
        cat.merge_bucketed(
            spark, "t", rows(spark, [("a", 1), ("a", 2), ("a", 3), ("b", 1)]),
            ["id"], "doc_id", n_buckets=4,
        )
        cat.merge_bucketed(
            spark, "t", rows(spark, [("a", 1)]),
            ["id"], "doc_id", n_buckets=4, anti_cols=["doc_id"],
        )
        got = sorted(r.id for r in cat.read(spark, "t").collect())
        assert got == ["d=a//p=1", "d=b//p=1"]

    def test_legacy_table_migrates(self, spark, tmp_path):
        cat = TableCatalog(str(tmp_path))
        cat.overwrite(rows(spark, [("a", 1), ("b", 1)]), "t")  # unbucketed
        cat.merge_bucketed(
            spark, "t", rows(spark, [("c", 1)]), ["id"], "doc_id", n_buckets=4
        )
        assert cat.read(spark, "t").count() == 3
        assert all(e["bucket"] is not None for e in cat._entries("t"))

    def test_rebucket_with_different_n_migrates(self, spark, tmp_path):
        """A merge with a different n_buckets must NOT trust bucket labels
        written under the old modulus: a key that now hashes elsewhere would
        silently survive as a duplicate. The manifest records the layout; on
        mismatch all entries are treated as legacy and fully rereadd."""
        cat = TableCatalog(str(tmp_path))
        big = rows(spark, [(f"doc{i}", p) for i in range(40) for p in (1, 2)])
        cat.merge_bucketed(spark, "t", big, ["id"], "doc_id", n_buckets=8)
        # upsert every doc under a DIFFERENT modulus — no duplicates allowed
        cat.merge_bucketed(spark, "t", big, ["id"], "doc_id", n_buckets=5)
        assert cat.read(spark, "t").count() == 80
        assert cat._manifest("t")["bucketing"] == {"col": "doc_id", "n": 5}
        # and the labels are now valid under the new layout
        cat.merge_bucketed(
            spark, "t", rows(spark, [("doc0", 1)]), ["id"], "doc_id",
            n_buckets=5,
        )
        assert cat.read(spark, "t").count() == 80

    def test_rebucket_with_different_col_migrates(self, spark, tmp_path):
        cat = TableCatalog(str(tmp_path))
        df = rows(spark, [("a", 1), ("a", 2), ("b", 1)])
        cat.merge_bucketed(spark, "t", df, ["id"], "doc_id", n_buckets=8)
        cat.merge_bucketed(spark, "t", df, ["id"], "id", n_buckets=8)
        assert cat.read(spark, "t").count() == 3

    def test_append_preserves_bucketing(self, spark, tmp_path):
        """Appended dirs are legacy entries (always reread), so existing
        bucket labels stay valid and the manifest keeps the layout record."""
        cat = TableCatalog(str(tmp_path))
        cat.merge_bucketed(
            spark, "t", rows(spark, [("a", 1), ("b", 1)]),
            ["id"], "doc_id", n_buckets=4,
        )
        cat.append(rows(spark, [("c", 1)]), "t")
        assert cat._manifest("t")["bucketing"] == {"col": "doc_id", "n": 4}
        cat.merge_bucketed(
            spark, "t", rows(spark, [("c", 1)]), ["id"], "doc_id", n_buckets=4
        )
        assert cat.read(spark, "t").count() == 3

    def test_compact_folds_multi_entry_buckets(self, spark, tmp_path):
        cat = TableCatalog(str(tmp_path))
        big = rows(spark, [(f"doc{i}", p) for i in range(40) for p in (1, 2)])
        cat.merge_bucketed(spark, "t", big, ["id"], "doc_id", n_buckets=8)
        # an incremental merge leaves the touched bucket with 2 entries
        cat.merge_bucketed(
            spark, "t", rows(spark, [("doc7", 1)]), ["id"], "doc_id",
            n_buckets=8,
        )
        from collections import Counter

        before = Counter(e["bucket"] for e in cat._entries("t"))
        assert max(before.values()) == 2
        untouched_paths = {
            e["path"] for e in cat._entries("t")
            if before[e["bucket"]] == 1
        }
        cat.compact(spark, "t")
        after = Counter(e["bucket"] for e in cat._entries("t"))
        assert max(after.values()) == 1
        # single-entry buckets carried by reference, not rewritten
        assert untouched_paths <= {e["path"] for e in cat._entries("t")}
        assert cat.read(spark, "t").count() == 80
        # no-op when already compact (version unchanged)
        v = cat.current_version("t")
        assert cat.compact(spark, "t") == v

    def test_read_buckets_prunes(self, spark, tmp_path):
        cat = TableCatalog(str(tmp_path))
        big = rows(spark, [(f"doc{i}", 1) for i in range(40)])
        cat.merge_bucketed(spark, "t", big, ["id"], "doc_id", n_buckets=8)
        b0 = TableCatalog._bucket_expr("doc_id", 8)
        expected = big.withColumn("b", b0).filter(F.col("b") == 3).count()
        got = cat.read_buckets(spark, "t", [3]).count()
        assert got == expected


class TestNullBucketKey:
    def test_null_key_rows_survive_merge(self, spark, tmp_path):
        # a NULL bucket_col row lands in __HIVE_DEFAULT_PARTITION__; the
        # manifest labels it bucket=None (always reread) instead of
        # crashing the commit on int() (ADVICE r3)
        cat = TableCatalog(str(tmp_path))
        df = spark.createDataFrame(
            [("k1", "a", "t1"), ("k2", None, "t2")],
            "id string, doc_id string, text string",
        )
        cat.merge_bucketed(spark, "t", df, ["id"], "doc_id", n_buckets=4)
        entries = cat._entries("t")
        assert None in {e["bucket"] for e in entries}
        got = {(r.id, r.doc_id) for r in cat.read(spark, "t").collect()}
        assert got == {("k1", "a"), ("k2", None)}
        # a second merge rereads the null-key entry and keeps the row
        cat.merge_bucketed(
            spark, "t",
            spark.createDataFrame([("k3", "b", "t3")], df.schema),
            ["id"], "doc_id", n_buckets=4,
        )
        assert cat.read(spark, "t").count() == 3


class TestConcurrentCommits:
    @staticmethod
    def _stub_spark(cores):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(defaultParallelism=cores)
        )

    def test_waits_for_every_commit_then_raises_first_failure(self):
        finished = []

        def slow(tag):
            time.sleep(0.3)
            finished.append(tag)

        def fail(msg):
            raise ValueError(msg)

        with pytest.raises(ValueError, match="first"):
            with concurrent_commits(self._stub_spark(2), 4) as submit:
                submit(slow, "a")
                submit(fail, "first")
                submit(fail, "second")
                submit(slow, "b")
        assert sorted(finished) == ["a", "b"]

    def test_block_failure_still_joins_submitted_commits(self):
        finished = []

        def slow():
            time.sleep(0.3)
            finished.append(1)

        with pytest.raises(KeyError):
            with concurrent_commits(self._stub_spark(4), 2) as submit:
                submit(slow)
                raise KeyError("caller failed")
        assert finished == [1]
        assert not [
            t for t in threading.enumerate()
            if t.name.startswith(COMMIT_THREAD_PREFIX)
        ]

    def test_pool_bounded_by_commits_and_cores(self):
        live, peak = [0], [0]
        lock = threading.Lock()

        def commit():
            with lock:
                live[0] += 1
                peak[0] = max(peak[0], live[0])
            time.sleep(0.1)
            with lock:
                live[0] -= 1

        for cores, n, want in ((2, 6, 2), (8, 3, 3)):
            peak[0] = 0
            with concurrent_commits(self._stub_spark(cores), n) as submit:
                for _ in range(n):
                    submit(commit)
            assert peak[0] == want
