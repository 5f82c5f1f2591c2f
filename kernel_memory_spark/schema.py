"""Canonical schemas of the engine (SURVEY.md §1 mapping).

The reference's row-oriented C# models (DataPipeline.cs, MemoryRecord.cs,
FileContent.cs/Chunk.cs, TagCollection.cs) become columnar DataFrame schemas;
JSON-in-string fields become native Array/Map types.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# Input corpus: the post-decode state of a document. One row per document,
# spans = ordered sections, each either native text or media-derived text
# (OCR), mirroring FileContent/Chunk (FileContent.cs:8-22, Chunk.cs:10-148).
# kind in {'text','media'}; media_ref = '' for text spans; offset = order.
# ---------------------------------------------------------------------------
SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

CORPUS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN), False),
    ]
)

# Document-level user tags: TagCollection = map<string, array<string>>
# (TagCollection.cs:12-199; keys case-insensitive, ':'/'=' forbidden).
DOC_TAGS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tags", MapType(StringType(), ArrayType(StringType())), False),
    ]
)

# ---------------------------------------------------------------------------
# Stage outputs
# ---------------------------------------------------------------------------

# extract: spans -> one ExtractedText artifact per document
# (TextExtractionHandler.cs:217-233 joining semantics).
EXTRACTED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("file_id", StringType(), False),  # deterministic sha-based id
        StructField("mime_type", StringType(), False),
        StructField("text", StringType(), True),
        StructField("text_sha256", StringType(), False),
        StructField("n_spans", IntegerType(), False),
    ]
)

# partition: chunker output; one row per partition
# (TextPartitioningHandler.cs:71-194; ids per DataPipeline.cs:196-199).
PARTITIONS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("file_id", StringType(), False),
        StructField("partition_id", StringType(), False),
        StructField("partition_number", IntegerType(), False),
        StructField("section_number", IntegerType(), False),
        StructField("text", StringType(), True),
        StructField("text_sha256", StringType(), False),
        StructField("token_count", IntegerType(), False),
        # DataPipeline.ArtifactTypes: text_partition | synthetic_data (F3)
        StructField("artifact_type", StringType(), False),
    ]
)

# gen_embeddings: partition text -> unit-normalized float32 vector
# (GenerateEmbeddingsHandlerBase.cs:110-135).
EMBEDDINGS = StructType(
    [
        StructField("partition_id", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("vector", ArrayType(FloatType()), False),
        StructField("vector_provider", StringType(), False),
        StructField("vector_generator", StringType(), False),
    ]
)

# MemoryRecord (MemoryRecord.cs:8-144): id, vector, tags, payload.
RECORD_PAYLOAD = StructType(
    [
        StructField("text", StringType(), True),
        StructField("file", StringType(), True),
        StructField("url", StringType(), True),
        StructField("last_update", StringType(), True),
        StructField("vector_provider", StringType(), True),
        StructField("vector_generator", StringType(), True),
        StructField("schema", StringType(), True),
    ]
)

RECORDS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("vector", ArrayType(FloatType()), True),
        StructField("tags", MapType(StringType(), ArrayType(StringType())), False),
        StructField("payload", RECORD_PAYLOAD, False),
        StructField("doc_id", StringType(), False),
        StructField("execution_id", StringType(), False),
    ]
)

# Triples (SURVEY.md §2.11): tag/lineage triples + mention/pattern triples.
TRIPLES = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("execution_id", StringType(), False),
    ]
)

# Mentions: one row per detected entity mention in a partition.
MENTIONS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("partition_id", StringType(), False),
        StructField("mention", StringType(), False),
        StructField("norm", StringType(), False),  # normalized surface form
    ]
)

# Entity-linking output: normalized surface -> canonical entity id.
ENTITY_MAP = StructType(
    [
        StructField("norm", StringType(), False),
        StructField("canonical_id", StringType(), False),
    ]
)

NODES = StructType(
    [
        StructField("node_id", StringType(), False),
        StructField("label", StringType(), False),  # canonical surface form
        StructField("kind", StringType(), False),  # 'entity' | 'doc' | 'file' | 'part'
        StructField("n_aliases", IntegerType(), False),
        StructField("n_mentions", LongType(), False),
    ]
)

EDGES = StructType(
    [
        StructField("src", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("dst", StringType(), False),
        StructField("weight", LongType(), False),
    ]
)

# Resume ledger (Q1 semantics, DataPipeline.cs:132-147): one row per
# (stage, doc-partition bucket) commit with lineage + metrics.
STEP_LEDGER = StructType(
    [
        StructField("step", StringType(), False),
        StructField("execution_id", StringType(), False),
        StructField("bucket", IntegerType(), False),
        StructField("rows_in", LongType(), True),
        StructField("rows_out", LongType(), True),
        StructField("wall_ms", LongType(), True),
        StructField("committed_at", TimestampType(), True),
    ]
)


def step_ledger_arrow_schema():
    """Arrow schema of the ledger files the driver writes directly
    (sources/tables.append_rows_local): STEP_LEDGER's columns, every field
    nullable and `committed_at` a zone-less microsecond timestamp, as
    ledger files have always been written."""
    import pyarrow as pa

    return pa.schema(
        [
            ("step", pa.string()), ("execution_id", pa.string()),
            ("bucket", pa.int32()), ("rows_in", pa.int64()),
            ("rows_out", pa.int64()), ("wall_ms", pa.int64()),
            ("committed_at", pa.timestamp("us")),
        ]
    )


# Reserved tag / payload names (Constants.cs:119-137).
TAG_DOCUMENT_ID = "__document_id"
TAG_FILE_ID = "__file_id"
TAG_FILE_PART = "__file_part"
TAG_PART_N = "__part_n"
TAG_SECT_N = "__sect_n"
TAG_FILE_TYPE = "__file_type"
PAYLOAD_SCHEMA_VERSION = "20231218A"  # MemoryRecord.cs:10-13
DEFAULT_STEPS = ["extract", "partition", "gen_embeddings", "save_records"]
KG_STEPS = DEFAULT_STEPS + ["triples", "link", "canonicalize", "materialize"]
