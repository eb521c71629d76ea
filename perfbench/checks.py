"""Output checks against references independent of the Spark program.

Every check runs after the Spark session and its JVM have stopped, so
the DuckDB twins never share memory with the driver heap. Frames are
compared like the repository's oracle gate: same column names, same
row count and the same order-insensitive value hash
(``tools/check_oracle.norm_hash``).
"""

from __future__ import annotations

import functools
from pathlib import Path

import duckdb
import pandas as pd

from tools.check_oracle import norm_hash

ROOT = Path(__file__).resolve().parents[1]
NEURAL_GOLDEN = ROOT / "goldens" / "sf0.1" / "triples_neural.parquet"


@functools.cache
def oracle_sql() -> dict[str, str]:
    import __spark_entry__

    return __spark_entry__.oracle_sql()


def pagerank_sql(sql: dict[str, str]) -> str:
    """The ``kg_pagerank`` twin with its edge CTE ``e`` marked
    MATERIALIZED. DuckDB otherwise recomputes the whole lexical chain
    behind ``e`` for each of its ~12 references (~17 s per 800-doc
    corpus on a 4-core box, against ~1.3 s with the hint). The hint
    changes how the plan runs, not what it returns."""
    q = sql["kg_pagerank"]
    return q.replace(", e AS (", ", e AS MATERIALIZED (", 1) if q.count(", e AS (") == 1 else q


def same(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    return (
        sorted(got.columns) == sorted(want.columns)
        and len(got) == len(want)
        and norm_hash(got) == norm_hash(want)
    )


def oracle(sql: str, documents: str | pd.DataFrame) -> pd.DataFrame:
    """Run one oracle query with ``documents`` bound to a parquet file
    or an in-memory frame."""
    with duckdb.connect() as con:
        if isinstance(documents, str):
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}')")
        else:
            con.register("documents", documents)
        return con.execute(sql).fetchdf()


def clusters_from_pairs(doc_ids: pd.Series, pairs: pd.DataFrame) -> pd.DataFrame:
    """Near-dup families as ``neardup_clusters`` defines them: connected
    components of the verified pairs, canonical = the smallest doc_id
    (string order) of the family, singletons map to themselves."""
    parent = {d: d for d in doc_ids}

    def root(d: str) -> str:
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    for a, b in zip(pairs["doc1"], pairs["doc2"]):
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    canonical = [root(d) for d in doc_ids]
    return pd.DataFrame({
        "doc_id": list(doc_ids),
        "canonical_id": canonical,
        "is_canonical": [c == d for c, d in zip(canonical, doc_ids)],
    })


def spark_rows(rows: list, columns: list[str]) -> pd.DataFrame:
    return pd.DataFrame([tuple(r) for r in rows], columns=columns)


def neural_golden(doc_ids: list[str]) -> pd.DataFrame:
    golden = pd.read_parquet(NEURAL_GOLDEN)
    return golden[golden["doc_id"].isin(set(doc_ids))]


def normalize_neural(got: pd.DataFrame) -> pd.DataFrame:
    """The neural relation's ``raw`` column is all-NULL: Spark's Arrow
    path gives float NaN where the golden stores nullable Int32. Cast
    the dtype; the values are untouched."""
    return got.astype({"raw": "Int32"})
