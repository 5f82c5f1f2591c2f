"""Stage `link`: entity mentions -> similarity edges via MinHash-LSH blocking
+ embedding-cosine scoring.

Scale design (the O(n²) pairwise comparison is the thing to avoid at 10^12
docs):

1. distinct normalized surfaces — a SALTED two-phase aggregation because
   mention frequency is Zipfian (hot entities would funnel into single
   reducers otherwise): pre-aggregate on (norm, salt), then final-aggregate
   on norm. AQE skew-join handling is also on (session.py).
2. MinHash signatures per distinct surface (Arrow-batched pandas UDF using
   functions/minhash.py — identical seeds to the single-node oracle).
3. explode the 32 LSH band keys, self-join on band key -> candidate pairs.
   Pair generation is per-band equi-join, so candidates ≈ true near-pairs,
   not n².
4. exact verification per candidate: char-3-gram Jaccard AND cosine of the
   deterministic hash embeddings; both thresholds must pass.

The output edge set feeds connected components (operators/canonicalize.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kernel_memory_spark.functions.minhash import band_keys, jaccard, minhash_signature
from kernel_memory_spark.functions.vectors import cosine, hash_embed
from kernel_memory_spark.sources.tables import concurrent_commits

JACCARD_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.6
DEFAULT_SALT_BUCKETS = 16
# LSH hot-bucket cap: a band bucket with more members than this is dropped
# before pair generation. True alias pairs share many bands (high Jaccard),
# so they survive; garbage mega-buckets (short/common shingle patterns)
# would otherwise contribute O(bucket^2) candidate pairs. The single-node
# oracle applies the identical cap (oracle.link_surfaces).
BAND_BUCKET_CAP = 64


def salted_surface_counts(
    mentions: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """(norm, n_mentions) with explicit two-phase salted aggregation.

    Phase 1 groups on (norm, salt) so a hot surface spreads over
    `salt_buckets` reducers; phase 2 sums the per-salt partials. Spark's
    map-side partial aggregation already helps, but at 10^12-doc scale the
    final exchange for a Zipf-1 head key still bottlenecks one task —
    salting bounds that task's input to 1/salt_buckets.
    """
    salted = mentions.withColumn(
        "salt", (F.crc32(F.col("partition_id")) % salt_buckets).cast("int")
    )
    partial = salted.groupBy("norm", "salt").agg(F.count("*").alias("c"))
    return partial.groupBy("norm").agg(F.sum("c").alias("n_mentions"))


def surface_signatures(surfaces: DataFrame) -> DataFrame:
    """(norm) -> (norm, band array<string>) via Arrow-batched minhash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            bands = [band_keys(minhash_signature(n)) for n in pdf["norm"]]
            yield pd.DataFrame({"norm": pdf["norm"], "bands": bands})

    return surfaces.select("norm").mapInPandas(
        run, schema="norm string, bands array<string>"
    )


def candidate_pairs(
    signatures: DataFrame, bucket_cap: int = BAND_BUCKET_CAP
) -> DataFrame:
    """LSH band equi-join -> distinct candidate (a, b) pairs, a < b.
    Buckets above `bucket_cap` members are dropped first (hot-bucket guard:
    pair volume is Σ bucket², so one mega-bucket dominates the stage).

    The exploded band table is materialized once (localCheckpoint): it
    feeds the hot-bucket aggregation AND both self-join sides — without it
    the minhash pandas-UDF subtree re-executes for all three consumers.
    Lazy: the hot-bucket aggregation's own job materializes it, instead of
    paying a separate eager-checkpoint job first."""
    exploded = signatures.select(
        "norm", F.explode("bands").alias("band")
    ).localCheckpoint(eager=False)
    hot = (
        exploded.groupBy("band")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > bucket_cap)
        .select("band")
    )
    cool = exploded.join(F.broadcast(hot), "band", "left_anti")
    left = cool.alias("l")
    right = cool.alias("r")
    return (
        left.join(right, (F.col("l.band") == F.col("r.band")))
        .filter(F.col("l.norm") < F.col("r.norm"))
        .select(F.col("l.norm").alias("a"), F.col("r.norm").alias("b"))
        .distinct()
    )


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Exact verification: (a, b, jaccard, cosine). Each surface appears in
    many candidate pairs, so shingle sets and embeddings are memoized per
    Arrow batch instead of recomputed per pair."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from kernel_memory_spark.functions.minhash import shingles

        sh_memo: dict = {}
        emb_memo: dict = {}

        def sh(x):
            v = sh_memo.get(x)
            if v is None:
                v = shingles(x)
                sh_memo[x] = v
            return v

        def em(x):
            v = emb_memo.get(x)
            if v is None:
                v = hash_embed(x)
                emb_memo[x] = v
            return v

        for pdf in batches:
            jac, cos = [], []
            for a, b in zip(pdf["a"], pdf["b"]):
                sa, sb = sh(a), sh(b)
                union = len(sa | sb)
                jac.append(len(sa & sb) / union if union else 1.0)
                cos.append(cosine(em(a), em(b)))
            yield pd.DataFrame(
                {"a": pdf["a"], "b": pdf["b"], "jaccard": jac, "cosine": cos}
            )

    return pairs.mapInPandas(
        run, schema="a string, b string, jaccard double, cosine double"
    )


def link_entities(
    mentions: DataFrame,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    cosine_threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """MENTIONS -> alias edges (a, b, jaccard, cosine), both thresholds met."""
    # distinct() partial-aggregates map-side; the salted two-phase variant
    # (salted_surface_counts) is used where the counts are actually needed
    # (canonicalize.materialize_nodes)
    surfaces = mentions.select("norm").distinct()
    sigs = surface_signatures(surfaces)
    pairs = candidate_pairs(sigs)
    scored = score_pairs(pairs)
    return scored.filter(
        (F.col("jaccard") >= jaccard_threshold)
        & (F.col("cosine") >= cosine_threshold)
    )


# ---------------------------------------------------------------------------
# Incremental linking (the streaming refresh_graph's remaining O(accumulated)
# cost): link_entities re-signs and re-pairs EVERY accumulated surface on
# every refresh. This state machine confines the expensive stages —
# signature UDF, pair generation, verification UDF — to the NEW surfaces,
# while converging to exactly what link_entities computes over the full
# corpus (append-only streams; a re-upload that REMOVES a surface needs a
# full refresh, documented on refresh_links_incremental).
#
# Persisted state (all bucket-scoped merges — no O(state) rewrites):
#   {p}_surfaces      (norm)               surfaces already processed
#   {p}_band_members  (band, norm)         the exploded LSH band table
#   {p}_band_pairs    (band, a, b)         per-band candidate contributions;
#                                          a NULL sentinel row marks a band
#                                          recomputed to an empty set
#   {p}_edge_scores   (a, b, jaccard, cosine)  verification memo
#
# Per refresh: new surfaces sign (UDF O(new)); bands containing a new
# surface are recomputed FROM CURRENT MEMBERSHIP (pruned read of exactly
# those band buckets) — this replays the hot-bucket cap with up-to-date
# counts, so a band crossing the cap retroactively withdraws its pairs,
# exactly as a batch run would never have emitted them; only never-scored
# pairs hit the verification UDF (scores are deterministic in (a, b)).
# ---------------------------------------------------------------------------

def refresh_links_incremental(
    spark,
    catalog,
    mentions: DataFrame,
    n_buckets: int,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    cosine_threshold: float = COSINE_THRESHOLD,
    bucket_cap: int = BAND_BUCKET_CAP,
    prefix: str = "link",
) -> DataFrame:
    """Update the incremental linking state with `mentions` and return the
    CURRENT alias edges (a, b, jaccard, cosine) — bit-identical to
    link_entities(all mentions) for append-only corpora (asserted by
    tests/test_streaming_ingest.py). Surfaces that disappear from the
    corpus (re-upload shrinking a document) are NOT withdrawn from the
    state; run the full refresh for that case.

    The four state tables are hash-bucketed into `n_buckets` (the stream
    tables' bucket count); state written under another count is migrated
    by merge_bucketed's one-time layout rewrite. Merges into different
    state tables run concurrently with each other and with the chain."""
    sfc = f"{prefix}_surfaces"
    mem = f"{prefix}_band_members"
    prs = f"{prefix}_band_pairs"
    scr = f"{prefix}_edge_scores"

    surfaces = mentions.select("norm").distinct()
    if catalog.exists(sfc):
        known = catalog.read(spark, sfc).select("norm")
        new = surfaces.join(known, "norm", "left_anti")
    else:
        new = surfaces
    new = new.localCheckpoint()
    if new.isEmpty():
        return current_links(
            spark, catalog, jaccard_threshold, cosine_threshold, prefix
        )

    with concurrent_commits(spark, 4) as submit:
        # 1) sign ONLY the new surfaces (the Arrow UDF is O(new))
        sigs = surface_signatures(new).localCheckpoint()
        submit(
            catalog.merge_bucketed, spark, sfc, sigs.select("norm"),
            ["norm"], "norm", n_buckets=n_buckets,
        )
        new_members = sigs.select(F.explode("bands").alias("band"), "norm")
        members_commit = submit(
            catalog.merge_bucketed, spark, mem, new_members,
            ["band", "norm"], "band", n_buckets=n_buckets,
        )

        # 2) recompute candidate pairs for exactly the bands a new surface
        # touched, from CURRENT membership: a bucket-pruned read (band
        # hashes to its bucket under the same modulus as the merge) + the
        # same cap as the batch path
        touched = new_members.select("band").distinct().localCheckpoint()
        wanted = [
            r[0] for r in touched.select(
                catalog._bucket_expr("band", n_buckets).alias("b")
            ).distinct().collect()
        ]
        # the pruned read trusts the manifest's bucket labels: wait for the
        # members merge (which also migrates a foreign layout) to commit
        members_commit.result()
        members = catalog.read_buckets(spark, mem, wanted).join(
            touched, "band", "left_semi"
        ).localCheckpoint()  # feeds the cap agg and both self-join sides
        hot = (
            members.groupBy("band").agg(F.count("*").alias("n"))
            .filter(F.col("n") > bucket_cap).select("band")
        )
        cool = members.join(F.broadcast(hot), "band", "left_anti")
        l, r = cool.alias("l"), cool.alias("r")
        pairs = (
            l.join(r, F.col("l.band") == F.col("r.band"))
            .filter(F.col("l.norm") < F.col("r.norm"))
            .select(
                F.col("l.band").alias("band"),
                F.col("l.norm").alias("a"), F.col("r.norm").alias("b"),
            )
        ).localCheckpoint()  # feeds both the band_pairs merge and scoring
        # sentinel row per touched band: merge_bucketed's anti-join drops
        # ALL old rows of every touched band even when its recomputed pair
        # set is empty (hot-crossing withdraws the band's prior
        # contribution)
        sentinels = touched.select(
            "band", F.lit(None).cast("string").alias("a"),
            F.lit(None).cast("string").alias("b"),
        )
        submit(
            catalog.merge_bucketed, spark, prs, pairs.unionByName(sentinels),
            ["band", "a", "b"], "band", n_buckets=n_buckets,
            anti_cols=["band"],
        )

        # 3) verify only never-scored pairs (scores deterministic in (a, b))
        cand = pairs.select("a", "b").distinct()
        if catalog.exists(scr):
            seen = catalog.read(spark, scr).select("a", "b")
            cand = cand.join(seen, ["a", "b"], "left_anti")
        submit(
            catalog.merge_bucketed, spark, scr, score_pairs(cand),
            ["a", "b"], "a", n_buckets=n_buckets,
        )
    return current_links(
        spark, catalog, jaccard_threshold, cosine_threshold, prefix
    )


def current_links(
    spark,
    catalog,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    cosine_threshold: float = COSINE_THRESHOLD,
    prefix: str = "link",
) -> DataFrame:
    """Alias edges implied by the current state: a pair is an edge iff it
    is still justified by some cool band AND its memoized verification
    passes both thresholds. Ids-only JVM join, no Python."""
    prs = f"{prefix}_band_pairs"
    scr = f"{prefix}_edge_scores"
    if not (catalog.exists(prs) and catalog.exists(scr)):
        return spark.createDataFrame(
            [], "a string, b string, jaccard double, cosine double"
        )
    valid = (
        catalog.read(spark, prs)
        .filter(F.col("a").isNotNull())
        .select("a", "b").distinct()
    )
    scores = catalog.read(spark, scr)
    return scores.join(valid, ["a", "b"], "left_semi").filter(
        (F.col("jaccard") >= jaccard_threshold)
        & (F.col("cosine") >= cosine_threshold)
    )
