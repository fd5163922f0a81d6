"""Operators that splice column names into Spark-SQL strings must accept
names that are not bare identifiers (spaces, dashes, reserved words):
the result under a renamed column equals the result under the bare
name."""

from __future__ import annotations

from flink_wikipedia_spark.functions.compat import sql_ident
from flink_wikipedia_spark.functions.constants import MINHASH_NUM_HASHES
from flink_wikipedia_spark.operators.dedup import minhash_sig_cols, simhash_fingerprints
from flink_wikipedia_spark.operators.similarity import ivf_assign, pq_d2_cols

ODD_TEXT = "doc text"
ODD_ID = "vec id"
ODD_VEC = "emb-vec select"


def test_sql_ident_escapes_backquotes():
    assert sql_ident("text") == "`text`"
    assert sql_ident("vec `id`") == "`vec ``id```"


def test_minhash_sigs_on_non_bare_column(spark):
    docs = spark.createDataFrame(
        [(1, "The quick brown fox"), (2, "jumps over  the lazy dog"), (3, "fox fox")],
        "doc_id long, text string",
    )
    cols = [f"sig_{i}" for i in range(MINHASH_NUM_HASHES)]

    def sigs(frame, name):
        return {
            r.doc_id: tuple(r[c] for c in cols)
            for r in frame.select("doc_id", *minhash_sig_cols(name)).collect()
        }

    bare = sigs(docs, "text")
    assert sigs(docs.withColumnRenamed("text", ODD_TEXT), ODD_TEXT) == bare
    assert len(bare) == 3 and all(v is not None for s in bare.values() for v in s)


def test_simhash_on_non_bare_column(spark):
    docs = spark.createDataFrame(
        [(1, "The quick brown fox"), (2, "jumps over  the lazy dog"), (3, "fox fox")],
        "doc_id long, text string",
    )

    def fingerprints(frame, name):
        return sorted(tuple(r) for r in simhash_fingerprints(frame, text_col=name).collect())

    bare = fingerprints(docs, "text")
    assert fingerprints(docs.withColumnRenamed("text", ODD_TEXT), ODD_TEXT) == bare
    assert len(bare) == 3


def test_pq_distances_on_non_bare_column(spark):
    import numpy as np

    vectors = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), float(i % 7), float(i)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # 2 subspaces x 3 centroids x 2 dims
    codebooks = np.arange(12, dtype=np.float64).reshape(2, 3, 2) / 4

    def tables(frame, name):
        rows = frame.select("vec_id", *pq_d2_cols(name, codebooks)).collect()
        return sorted(tuple(r) for r in rows)

    bare = tables(vectors, "embedding")
    assert tables(vectors.withColumnRenamed("embedding", ODD_VEC), ODD_VEC) == bare
    assert len(bare) == 6 and all(len(r[1]) == 3 for r in bare)


def test_ivf_assign_on_non_bare_columns(spark):
    schema = "vec_id long, embedding array<double>"
    vectors = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), float(i % 7)]) for i in range(20)], schema
    )
    centroids = spark.createDataFrame(
        [(100, [0.0, 0.0, 0.0]), (101, [2.0, 4.0, 6.0]), (102, [1.0, 2.0, 3.0])], schema
    )

    def cells(vecs, cents, id_col, vec_col):
        out = ivf_assign(vecs, cents, n_probe=2, id_col=id_col, vec_col=vec_col)
        assert out.columns == [id_col, vec_col, "centroid_id"]
        return sorted((r[id_col], r["centroid_id"]) for r in out.collect())

    def rename(frame):
        return frame.withColumnRenamed("vec_id", ODD_ID).withColumnRenamed("embedding", ODD_VEC)

    bare = cells(vectors, centroids, "vec_id", "embedding")
    assert cells(rename(vectors), rename(centroids), ODD_ID, ODD_VEC) == bare
    assert len(bare) == 2 * 20
