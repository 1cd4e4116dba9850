"""Differential test: every registry query with an oracle must match
DuckDB exactly at sf0.001 (fast) — the local replica of the driver's
sf0.01 correctness gate."""

from __future__ import annotations

import pytest

from comix_etl_spark.plans.queries import QUERIES
from tests.oracle_diff import compare, duck_connection

WITH_ORACLE = [name for name, q in QUERIES.items() if q.oracle is not None]
ROWS_ONLY = [name for name, q in QUERIES.items() if q.oracle is None]


@pytest.fixture(scope="module")
def duck(sf_small):
    con = duck_connection(sf_small)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_oracle_parity(spark, sf_small, duck, name):
    q = QUERIES[name]
    compare(q.builder(spark, sf_small), duck, q.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_small, name):
    q = QUERIES[name]
    df = q.builder(spark, sf_small)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_ccnet_buckets_no_scored_document_matches_oracle(spark, sf_small,
                                                         tmp_path):
    """When no document has >= 2 tokens the fence frame has no input:
    the query must still produce one NULL fence row so every document
    comes out 'unscored', as the DuckDB oracle does — not drop them
    all through an empty cross join."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_small}/documents.parquet").slice(0, 20)
    texts = [["single", "", None, "  word  "][i % 4]
             for i in range(docs.num_rows)]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(texts, pa.string()))
    pq.write_table(docs, tmp_path / "documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path / 'documents.parquet'}')")
    try:
        q = QUERIES["ccnet_buckets"]
        out = q.builder(spark, str(tmp_path))
        assert {r.bucket for r in out.collect()} == {"unscored"}
        compare(out, con, q.oracle)
    finally:
        con.close()
