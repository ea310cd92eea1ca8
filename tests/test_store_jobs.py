"""Job budget of the persisted-store read path: building the plan of an
indexed request may launch only the jobs that read what the plan itself
is made of — the text stats row, the IVF centroids, the PQ codebooks —
plus one parquet schema inference per relation whose columns the caller
chose (IVF entries, PQ codes, the LSH index). Bucket lists, probed-cell
lists, centroid sorts and vector-width probes stay inside the request's
own execution.

The IVF store here has 16 cells, as in the benchmark's search workload:
past 32 partition directories (Spark's parallel partition discovery
threshold) opening the entries relation adds one listing job."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.plan_metrics import construction_jobs
from resin_spark.io import load_tables
from resin_spark.operators import retrieval, similarity, textindex

SF = "/root/testdata/sf0.001"

BUDGET = {"bm25": 2, "phrase": 2, "ivf": 2, "pq": 2, "lsh": 1, "hybrid": 4}


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    t = load_tables(spark, SF)
    root = tmp_path_factory.mktemp("store_jobs")
    paths = {k: str(root / k) for k in ("text", "ivf", "pq", "lsh")}
    emb = t["embeddings"]
    textindex.write_text_index(t["documents"], paths["text"])
    similarity.write_ivf_index(emb, paths["ivf"], n_cells=16)
    similarity.write_pq_index(emb, paths["pq"])
    similarity.write_ann_index(emb, paths["lsh"])
    return emb, paths


def _requests(spark, emb, p):
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))

    def ivf():
        entries, cent = similarity.read_ivf_index(spark, p["ivf"])
        return similarity.ivf_topk_indexed(entries, cent, qs, n_probe=4)

    def pq():
        codes, books = similarity.read_pq_index(spark, p["pq"])
        return similarity.pq_topk_indexed(codes, books, qs, emb,
                                          rerank=1_000_000)

    return {
        "bm25": lambda: textindex.bm25_topk_indexed(spark, p["text"]),
        "phrase": lambda: textindex.phrase_topk_indexed(spark, p["text"]),
        "ivf": ivf,
        "pq": pq,
        "lsh": lambda: similarity.lsh_topk_indexed(
            similarity.read_ann_index(spark, p["lsh"]), qs),
        "hybrid": lambda: retrieval.hybrid_search_indexed(
            spark, p["text"], p["ivf"]),
    }


def test_indexed_requests_stay_within_job_budget(spark, stores):
    emb, paths = stores
    spent = {}
    for name, build in _requests(spark, emb, paths).items():
        df, n_jobs = construction_jobs(spark, f"store_jobs.{name}", build)
        assert df.collect(), name   # the budgeted plan still serves rows
        spent[name] = n_jobs
    over = {k: (v, BUDGET[k]) for k, v in spent.items() if v > BUDGET[k]}
    assert not over, f"construction jobs (spent, budget): {over}"
