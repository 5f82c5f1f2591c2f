"""Inputs for every workload. The same seed gives the same inputs; nothing
here touches the engine except `synth.gen_doc`, the repository's own
document generator, which is a pure function of (doc index, seed)."""

from __future__ import annotations

import os

# Stream shape for the write workload: two micro-batches; the second
# re-delivers the last REDELIVER docs of the first (identical content, since
# gen_doc is a pure function) plus new docs.
BATCH_DOCS = 240
REDELIVER = 60

# Corpus behind the read workload's records table.
READ_DOCS = 400

# Tables behind the __spark_entry__ entries: a byte-for-byte copy of the
# repository's sf0.01 test data (TESTDATA.md; checksums in SHA256SUMS), the
# scale scripts/check_entry.py checks at. Fixed, not seeded: the seed only
# orders the entries among the retrieval requests.
ENTRY_SF_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def stream_batches() -> list:
    """Doc-index lists of the write workload's micro-batches."""
    first = list(range(BATCH_DOCS))
    second = list(range(BATCH_DOCS - REDELIVER, 2 * BATCH_DOCS - REDELIVER))
    return [first, second]


def doc_rows(indices, seed: int) -> list:
    """(doc_id, spans, tags) tuples in the streaming INGEST_SCHEMA order."""
    from kernel_memory_spark.synth import gen_doc

    rows = []
    for i in indices:
        d = gen_doc(i, seed)
        spans = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                 for s in d["spans"]]
        rows.append((d["doc_id"], spans, d["tags"]))
    return rows


def input_bytes(rows) -> int:
    """UTF-8 bytes of the documents' span text and tags."""
    n = 0
    for doc_id, spans, tags in rows:
        n += len(doc_id.encode())
        n += sum(len(s[1].encode()) + len(s[2].encode()) for s in spans)
        n += sum(len(k) + sum(len(v) for v in vs) for k, vs in tags.items())
    return n
