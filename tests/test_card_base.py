"""Every operator that reads a card_base gives the same rows whether it
builds the base itself (standalone) or reads a card's materialised one.

The corpus is sf0.001 plus hand-built edge rows: a NULL doc_id, a NULL
lang, a NULL text and an empty text. Rows are compared in full with
exceptAll both ways (duplicates count), not by spot checks.
"""

from __future__ import annotations

import pytest

from resin_spark.functions.text import card_base
from resin_spark.operators import dedup as D
from resin_spark.operators import pipeline as P
from resin_spark.operators import textops as X
from resin_spark.operators import traindata as TD

SF = "/root/testdata/sf0.001"


def _nb_classify(d, b):
    model, cand = TD.nb_model_frames(d)
    return TD.nb_classify_with_model(d, model, cand, base=b)


# (name, fn(docs, base)) — base=None is the standalone path
CASES = [
    ("shingles", lambda d, b: D.shingles(d, 3, base=b)),
    ("shingle_hash_sets", lambda d, b: D.shingle_hash_sets(d, 3, base=b)),
    ("simhash", lambda d, b: D.simhash(d, base=b)),
    ("ngram_jaccard_pairs", lambda d, b: D.ngram_jaccard_pairs(d, base=b)),
    ("dedup_components", lambda d, b: D.dedup_components(d, base=b)),
    ("dup_cluster_histogram",
     lambda d, b: D.dup_cluster_histogram(d, base=b)),
    ("dedup_threshold_curve",
     lambda d, b: D.dedup_threshold_curve(d, base=b)),
    ("dedup_threshold_curve_demo",
     lambda d, b: D.dedup_threshold_curve_demo({"documents": d}, base=b)),
    ("filter_funnel", lambda d, b: P.filter_funnel({"documents": d}, base=b)),
    ("mixture_plan", lambda d, b: P.mixture_plan(d, base=b)),
    ("mixture_plan_demo",
     lambda d, b: P.mixture_plan_demo({"documents": d}, base=b)),
    ("source_divergence", lambda d, b: P.source_divergence(d, base=b)),
    ("apply_mixture", lambda d, b: P.apply_mixture(d, base=b)),
    ("apply_mixture_demo",
     lambda d, b: P.apply_mixture_demo({"documents": d}, base=b)),
    ("chunk_documents", lambda d, b: P.chunk_documents(d, base=b)),
    ("chunk_documents_demo",
     lambda d, b: P.chunk_documents_demo({"documents": d}, base=b)),
    ("dataset_split", lambda d, b: P.dataset_split(d, base=b)),
    ("bm25_scores", lambda d, b: X.bm25_scores({"documents": d}, base=b)),
    ("search_snippets",
     lambda d, b: X.search_snippets({"documents": d}, base=b)),
    ("search_facets", lambda d, b: X.search_facets({"documents": d}, base=b)),
    ("nb_lang_classify",
     lambda d, b: TD.nb_lang_classify({"documents": d}, base=b)),
    ("nb_model_frames.model", lambda d, b: TD.nb_model_frames(d, base=b)[0]),
    ("nb_model_frames.cand", lambda d, b: TD.nb_model_frames(d, base=b)[1]),
    ("nb_classify_with_model", _nb_classify),
    ("corpus_stats", lambda d, b: TD.corpus_stats({"documents": d}, base=b)),
    ("lang_stats", lambda d, b: TD.lang_stats({"documents": d}, base=b)),
    ("lang_confusion",
     lambda d, b: TD.lang_confusion({"documents": d}, base=b)),
    ("cdc_chunks", lambda d, b: TD.cdc_chunks(d, base=b)),
    ("cdc_chunk_stats",
     lambda d, b: TD.cdc_chunk_stats({"documents": d}, base=b)),
]


@pytest.fixture(scope="module")
def corpus(spark):
    from resin_spark.io import load_tables

    docs = load_tables(spark, SF)["documents"]
    edge = spark.createDataFrame(
        [(None, "the null id doc and the words of it", "en", "web", 35),
         (900001, "a doc with no language label at all here", None,
          "wiki", 40),
         (900002, None, "en", "web", None),
         (900003, "", "de", "news", 0)],
        docs.schema)
    docs = docs.unionByName(edge)
    base = card_base(docs, *P.CARD_BASE_COLS).localCheckpoint(eager=True)
    return docs, base


def _assert_same_rows(a, b):
    assert a.columns == b.columns
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("fn", [c[1] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_shared_base_equals_standalone(corpus, fn):
    docs, base = corpus
    standalone = fn(docs, None)
    assert standalone.count() > 0
    _assert_same_rows(standalone, fn(docs, base))


@pytest.mark.parametrize("fn", [D.simhash, D.shingle_hash_sets,
                                D.dedup_components],
                         ids=["simhash", "shingle_hash_sets",
                              "dedup_components"])
def test_id_text_frame(corpus, fn):
    """A (doc_id, text)-only frame runs standalone (the lazy base passes
    through no other column) and gives the full frame's rows."""
    docs, base = corpus
    narrow = docs.select("doc_id", "text")
    _assert_same_rows(fn(narrow), fn(docs, base=base))
    _assert_same_rows(
        fn(narrow),
        fn(narrow, base=card_base(narrow).localCheckpoint(eager=True)))

