"""The digest-arithmetic embedding must be BIT-IDENTICAL between the Python
executor path (embed_text / _stub_feature) and the DuckDB SQL generators
(components_sql / vector_sql) — that exactness is what lets the driver
hash-verify doc_knn_query_documentation and mm_feature_* instead of
rows-only checks. Every step is integer arithmetic or IEEE correctly-rounded
(sqrt, divide, float32 cast), so equality here is exact, not approximate.
"""

from __future__ import annotations

import numpy as np
import pytest

TEXTS = [
    "hello world",
    "",
    "a",
    "Ünïcøde ✓ mixed — text",
    "repeated " * 5000,  # > MAX_EMBED_CHARS: exercises truncation
    "tab\tand\nnewline",
]


@pytest.fixture(scope="module")
def duck_vecs():
    import duckdb

    from doc2vec_spark.embedding import components_sql, vector_sql

    con = duckdb.connect()
    values = ",".join(f"($${t}$$)" for t in TEXTS)
    rows = con.sql(
        f"""
        WITH t(s) AS (SELECT * FROM (VALUES {values})),
        c AS (SELECT s, {components_sql('s')} AS comps FROM t)
        SELECT s, {vector_sql('comps')} AS v FROM c
        """
    ).fetchall()
    con.close()
    return {r[0]: np.array(r[1], dtype=np.float32) for r in rows}


def test_embed_text_bitwise_matches_duckdb(duck_vecs):
    from doc2vec_spark.embedding import embed_text

    for t in TEXTS:
        py = embed_text(t)
        db = duck_vecs[t]
        assert py.dtype == np.float32 and len(py) == len(db)
        assert (py == db).all(), f"vector mismatch for {t[:30]!r}"


def test_embed_is_unit_and_distinct():
    from doc2vec_spark.embedding import embed_text

    vecs = [embed_text(t) for t in TEXTS]
    for v in vecs:
        assert abs(float(np.dot(v.astype(np.float64), v.astype(np.float64))) - 1.0) < 1e-6
    # distinct texts -> distinct vectors
    flat = {tuple(v.tolist()) for v in vecs}
    assert len(flat) == len(TEXTS)


def test_stub_feature_bitwise_matches_duckdb():
    import duckdb

    from doc2vec_spark.embedding import components_sql, vector_sql
    from doc2vec_spark.multimodal import FEATURE_DIM, _stub_feature

    con = duckdb.connect()
    values = ",".join(f"($${t}$$)" for t in TEXTS)
    comps = components_sql("s", dim=FEATURE_DIM, truncate=False)
    rows = con.sql(
        f"""
        WITH t(s) AS (SELECT * FROM (VALUES {values})),
        c AS (SELECT s, {comps} AS comps FROM t)
        SELECT s, {vector_sql('comps')} AS v FROM c
        """
    ).fetchall()
    con.close()
    for s, v in rows:
        py = np.array(_stub_feature(s.encode("utf-8")), dtype=np.float32)
        assert (py == np.array(v, dtype=np.float32)).all()


def test_backtick_column_name_embeds_like_embedding_col(spark, monkeypatch):
    """with_embeddings_native quotes its text column as a SQL identifier
    with embedded backticks doubled: a column named with a backtick embeds
    bit-identically to the Column-built fold over the same values, and
    the SQL for the sync path's `content` column is unchanged."""
    import struct

    from pyspark.sql import functions as F

    from doc2vec_spark import embedding_native
    from doc2vec_spark.embedding_native import embedding_col, with_embeddings_native

    col = "odd`name"
    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, None), (4, "unié中文 `tick`")],
        f"doc_id long, `{col.replace('`', '``')}` string",
    )
    ref = df.withColumn("embedding", embedding_col(F.col(f"`{col.replace('`', '``')}`")))
    got = with_embeddings_native(df, text_col=col)

    def bits(frame):
        return [
            tuple(struct.pack("<f", x) for x in r["embedding"])
            for r in frame.orderBy("doc_id").collect()
        ]

    assert bits(got) == bits(ref)
    # the sync path's SQL: the identifier text the template receives for
    # `content` is exactly what it was before escaping existed
    seen = []
    real = embedding_native._embedding_sql
    monkeypatch.setattr(
        embedding_native, "_embedding_sql", lambda t, d: seen.append(t) or real(t, d)
    )
    with_embeddings_native(df.withColumnRenamed(col, "content"))
    assert seen == ["`content`"]
