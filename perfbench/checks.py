"""Output gates. Each returns a list of problems; an empty list passes.

None of these run inside a timed region."""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Columns that differ between two correct builds of the same documents,
# by design: the execution id of the run that wrote the row.
NONDETERMINISTIC = ("execution_id",)


def fingerprint(df, exclude=NONDETERMINISTIC) -> str:
    """Order-independent content fingerprint: row count plus a hash of the
    sorted per-row xxhash64 values. Columns are taken in name order and map
    columns as their sorted entry arrays, so neither column order nor map
    insertion order matters."""
    cols = []
    for field in sorted(df.schema.fields, key=lambda f: f.name):
        if field.name in exclude:
            continue
        col = F.col(f"`{field.name}`")
        if isinstance(field.dataType, MapType):
            col = F.array_sort(F.map_entries(col))
        cols.append(col)
    hashes = sorted(r[0] for r in df.select(F.xxhash64(*cols)).collect())
    h = hashlib.sha256()
    for v in hashes:
        h.update(int(v).to_bytes(8, "little", signed=True))
    return f"{len(hashes)}:{h.hexdigest()[:16]}"


def catalog_fingerprints(spark, catalog, names) -> dict:
    return {n: fingerprint(catalog.read(spark, n)) for n in names}


def compare_fingerprints(got: dict, want: dict, what: str) -> list:
    return [
        f"{what}: {n} {got.get(n)} != {want[n]}"
        for n in want if got.get(n) != want[n]
    ]


# -- retrieval ---------------------------------------------------------------

class RecordIndex:
    """The records table collected once to the driver, for brute-force
    cosine top-k checks with numpy."""

    def __init__(self, records_df):
        rows = records_df.select(
            "id", "vector", "tags", F.col("payload.text").alias("text"),
        ).collect()
        order = sorted(range(len(rows)), key=lambda i: rows[i].id)
        rows = [rows[i] for i in order]
        self.ids = [r.id for r in rows]
        self.tags = [r.tags or {} for r in rows]
        self.texts = [r.text or "" for r in rows]
        self.vectors = np.array([r.vector for r in rows], dtype=np.float64)

    def _mask(self, filters):
        live = [f for f in (filters or []) if f]
        if not live:
            return np.ones(len(self.ids), dtype=bool)
        return np.array([
            any(all(v in (tags.get(k) or []) for k, vs in flt.items()
                    for v in vs)
                for flt in live)
            for tags in self.tags
        ])

    def top_k(self, query_vector, k, filters=None, min_relevance=0.0):
        """[(score, index)] by score desc, id asc — knn_top_k's order.

        Scores are summed left to right in float64 (np.cumsum is
        sequential), the order of knn_top_k's JVM fold, so they are
        bit-equal to the engine's. A BLAS dot product sums in another
        order; its last-bit differences flip scores near 0 across the
        min_relevance >= 0 cut."""
        qnorm = math.sqrt(sum(v * v for v in query_vector)) or 1.0
        q = np.array([v / qnorm for v in query_vector], dtype=np.float64)
        scores = np.cumsum(self.vectors * q, axis=1)[:, -1]
        keep = np.nonzero(self._mask(filters) & (scores >= min_relevance))[0]
        # ids are sorted, so index order is the id tiebreak
        ranked = sorted(keep, key=lambda i: (-scores[i], i))[:k]
        return [(float(scores[i]), int(i)) for i in ranked]

    def ids_matching(self, filters) -> set:
        return {self.ids[i] for i in np.nonzero(self._mask(filters))[0]}


def _dedupe_by_text(scored, texts):
    seen, out = set(), []
    for score, i in scored:
        if texts[i] in seen:
            continue
        seen.add(texts[i])
        out.append((texts[i], score))
    return out


def _same_scored_texts(got, want, tol=1e-6) -> bool:
    if len(got) != len(want):
        return False
    got, want = sorted(got), sorted(want)
    return all(g[0] == w[0] and abs(g[1] - w[1]) <= tol
               for g, w in zip(got, want))


def check_knn(index: RecordIndex, rows, query_vector, limit, filters) -> list:
    """search_memories citations vs numpy top-k with duplicate-text skip.
    Duplicate texts carry identical vectors, so which duplicate survives is
    not part of the contract: compare (text, relevance) multisets."""
    got = [(p.text, p.relevance) for r in rows for p in r.partitions]
    want = _dedupe_by_text(index.top_k(query_vector, limit, filters),
                           index.texts)
    if not _same_scored_texts(got, want):
        return [f"knn: {len(got)} results differ from numpy top-{limit}"]
    return []


def check_ask(index: RecordIndex, rows, query_vector, limit, filters,
              budget) -> list:
    """ask_facts rows: a relevance-ordered prefix of the numpy top-k after
    the empty-text and duplicate-text skips, inside the token budget."""
    scored = [(s, i) for s, i in index.top_k(query_vector, limit, filters)
              if index.texts[i].strip(" ")]
    # Spark's trim() strips spaces only
    want = [(t, round(s, 6)) for t, s in _dedupe_by_text(
        scored, [t.strip(" ") for t in index.texts])]
    want.sort(key=lambda ts: -ts[1])
    got = [(index.texts[index.ids.index(r.id)].strip(" "), r.relevance)
           for r in rows]
    problems = []
    if want and not got:
        problems.append("ask: no facts kept")
    if not _same_scored_texts(got, want[:len(got)]):
        problems.append("ask: kept facts differ from the numpy top-k prefix")
    if sum(r.token_count for r in rows) >= budget:
        problems.append("ask: facts exceed the token budget")
    return problems


def check_hybrid(index: RecordIndex, rows, k, filters) -> list:
    rel = [r.relevance for r in rows]
    problems = []
    if not 0 < len(rows) <= k:
        problems.append(f"hybrid: {len(rows)} results for k={k}")
    if rel != sorted(rel, reverse=True) or any(not 0 < v <= 1 for v in rel):
        problems.append("hybrid: relevance not in (0, 1] descending order")
    if not {r.record_id for r in rows} <= index.ids_matching(filters):
        problems.append("hybrid: result outside the filtered record set")
    return problems


# -- __spark_entry__ entries -------------------------------------------------

def _check_entry_module():
    """scripts/check_entry.py, the repository's DuckDB oracle comparison,
    loaded by path so its value hash is reused rather than copied."""
    path = os.path.join(REPO, "scripts", "check_entry.py")
    spec = importlib.util.spec_from_file_location("_check_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class EntryOracle:
    """`__spark_entry__` gate. An entry with an oracle_sql() query must be
    hash-equal to DuckDB over the same tables; an entry without one must
    return the same non-empty rows when evaluated again."""

    def __init__(self, sf_dir: str, oracles: dict):
        import duckdb

        self.ce = _check_entry_module()
        self.oracles = oracles
        self.con = duckdb.connect()
        for t in self.ce.TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"'{os.path.join(sf_dir, t + '.parquet')}'")
        self._expected = {}

    def check(self, name, cols, rows, reevaluate) -> list:
        rows = [tuple(r) for r in rows]
        if name not in self.oracles:
            cols2, rows2 = reevaluate()
            rows2 = [tuple(r) for r in rows2]
            if not rows or (self.ce.table_hash(rows, cols)
                            != self.ce.table_hash(rows2, cols2)):
                return [f"{name}: rows differ between two evaluations"]
            return []
        if name not in self._expected:
            cur = self.con.sql(self.oracles[name])
            self._expected[name] = ([d[0] for d in cur.description],
                                    cur.fetchall())
        ocols, orows = self._expected[name]
        if len(rows) != len(orows):
            return [f"{name}: rows {len(rows)} vs {len(orows)}"]
        if sorted(cols) != sorted(ocols):
            return [f"{name}: cols {cols} vs {ocols}"]
        if self.ce.table_hash(rows, cols) != self.ce.table_hash(orows, ocols):
            return [f"{name}: value hash differs from DuckDB"]
        return []
