"""The string→decimal(28,15) exact sum past 2^53 in every DuckDB oracle.

Spark sums each double as decimal(28,15) and casts the exact sum back
to double with one correct rounding. DuckDB's DECIMAL→DOUBLE cast
rounds twice (hugeint→double, then ÷10^15) once the unscaled sum passes
2^53, i.e. once the sum passes ~9.007, and can land an ulp off. The
oracles go through :func:`resin_spark.functions.exact.str_dsum_sql`
(DECIMAL→VARCHAR→DOUBLE) instead.

The fixture: ten unit vectors plus one vector of float32 values near
1.1e-7, whose shortest strings carry 15 decimals. Every per-dimension
sum of a label is then 10.0000001xxxxxxxx, an unscaled 17-digit value
that the direct cast rounds wrongly (the four values were picked so it
does)."""

from __future__ import annotations

import duckdb
import pytest

from resin_spark.functions import exact
from resin_spark.operators import dedup as D
from resin_spark.operators import similarity as S
from resin_spark.operators import traindata as TD

TINY = [1.10990285e-07, 1.11633305e-07, 1.01533885e-07, 1.10598705e-07]


def _direct_cast_sum(expr: str) -> str:
    # the pre-helper oracle form: DECIMAL→DOUBLE straight
    return (f"CAST(SUM(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(28,15)))"
            f" AS DOUBLE)")


@pytest.fixture(scope="module")
def emb_path(spark, tmp_path_factory):
    rows = ([(i, [1.0, 1.0, 1.0, 1.0], 0) for i in range(10)]
            + [(10, TINY, 0)]
            + [(20 + i, [1.0, 0.5, 0.25, 2.0], 1) for i in range(10)]
            + [(30, TINY[::-1], 1)])
    path = str(tmp_path_factory.mktemp("emb") / "embeddings.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(path)
    return path


def _oracle_rows(sql: str, path: str):
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
        return sorted(map(repr, con.execute(sql).fetchall()))
    finally:
        con.close()


def _spark_rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_helper_is_correctly_rounded_past_2_pow_53():
    con = duckdb.connect()
    vals = [1.0] * 10 + [TINY[0]]
    q = ("SELECT {} FROM (SELECT CAST(unnest(?) AS FLOAT) AS x)")
    direct = con.execute(q.format(_direct_cast_sum("x")), [vals]).fetchone()
    helper = con.execute(q.format(exact.str_dsum_sql("x")), [vals]).fetchone()
    assert helper[0] == float("10.000000110990285")
    assert direct[0] != helper[0]


def test_label_centroids_oracle_past_2_pow_53(spark, emb_path, monkeypatch):
    got = _spark_rows(S.label_centroids(spark.read.parquet(emb_path)))
    assert _oracle_rows(S.label_centroids_oracle(), emb_path) == got
    # the fixture is live: the direct cast misses by an ulp here
    monkeypatch.setattr(exact, "str_dsum_sql", _direct_cast_sum)
    assert _oracle_rows(S.label_centroids_oracle(), emb_path) != got


@pytest.mark.parametrize("op, oracle", [
    (TD.centroid_assign, TD.centroid_assign_oracle),
    (TD.kmeans_refine, TD.kmeans_refine_oracle),
    (lambda emb: TD.embedding_drift_demo({"embeddings": emb}),
     TD.embedding_drift_demo_oracle),
    (D.semantic_dedup, D.semantic_dedup_oracle),
], ids=["centroid_assign", "kmeans_refine", "embedding_drift",
        "semantic_dedup"])
def test_centroid_oracles_past_2_pow_53(spark, emb_path, op, oracle):
    """These oracles sum the same centroids, but publish 9-dp rounded
    cosines/distances or assignments, which absorb the one-ulp centroid
    error: the direct cast agrees with Spark on this fixture too, so
    the check here is that the helper path stays equal past 2^53."""
    got = _spark_rows(op(spark.read.parquet(emb_path)))
    assert got
    assert _oracle_rows(oracle(), emb_path) == got
