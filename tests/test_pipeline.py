"""Behavior tests for the curation-pipeline extras (pipeline.py).

The synthetic corpus contains no PII and little pathological
repetition, so the oracle-parity rows alone would only certify zeros;
these tests pin the actual detection/flagging semantics on crafted
documents.
"""

from __future__ import annotations

import pytest

from resin_spark.operators import pipeline


def _docs(spark, texts):
    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)
    ]
    return {
        "documents": spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    }


def test_pii_redact_finds_and_redacts(spark):
    t = _docs(spark, [
        "contact Alice.B@example.com or +1 555-123-4567 today",
        "server at 10.0.0.1 and 192.168.1.255 responded",
        "nothing sensitive here at all",
    ])
    rows = {r["doc_id"]: r for r in pipeline.pii_redact(t).collect()}
    assert rows[0]["n_emails"] == 1 and rows[0]["n_phones"] == 1
    assert rows[0]["has_pii"] is True
    assert rows[1]["n_ips"] == 2 and rows[1]["n_emails"] == 0
    assert rows[2]["has_pii"] is False
    # redaction shrank doc 0 (long email+phone -> short placeholders)
    assert rows[0]["redacted_len"] < len(t["documents"].collect()[0]["text"])
    assert rows[2]["redacted_len"] == len("nothing sensitive here at all")


def test_quality_repetition_flags_degenerate_docs(spark):
    t = _docs(spark, [
        "spam spam spam spam spam spam spam spam spam spam",   # one token repeated
        "buy now buy now buy now buy now buy now buy now",     # one bigram repeated
        "a genuinely varied sentence with distinct useful words",
    ])
    rows = {r["doc_id"]: r for r in pipeline.quality_repetition(t).collect()}
    assert rows[0]["top_unigram_frac"] == 1.0 and rows[0]["flagged"] is True
    assert rows[1]["top_bigram_frac"] > 0.45 and rows[1]["flagged"] is True
    assert rows[2]["flagged"] is False
    assert rows[2]["distinct_frac"] == 1.0


def test_quality_repetition_single_token_doc(spark):
    t = _docs(spark, ["word"])
    r = pipeline.quality_repetition(t).collect()[0]
    assert r["n_tokens"] == 1
    assert r["top_bigram_frac"] is None       # no bigrams in a 1-token doc
    assert r["top_unigram_frac"] == 1.0 and r["flagged"] is True


def test_domain_mix_shares_sum_to_one(spark):
    t = _docs(spark, [
        "alpha beta gamma delta",
        "one two three",
        "lone",
    ])
    out = pipeline.domain_mix(t).collect()
    assert sum(r["n_tokens"] for r in out) == 8
    assert sum(r["token_share"] for r in out) == pytest.approx(1.0)
    for r in out:
        assert r["temp_weight"] == pytest.approx(r["n_tokens"] ** 0.5)


def test_incremental_dedup_matches_and_misses(spark):
    """Odd (new) docs that copy an even (index) doc report is_dup with
    the right best_match; unmatched new docs still appear with
    is_dup=false; index-side duplicates never pair with each other."""
    from resin_spark.operators import dedup
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta"),   # index
            (1, "alpha beta gamma delta epsilon zeta"),   # new, dup of 0
            (2, "one two three four five six"),           # index
            (4, "one two three four five six"),           # index dup of 2 (no pair: same side)
            (3, "totally different text with no overlap at all"),  # new, clean
            (5, "one two three four five seven"),         # new, near-dup of 2/4
            (7, "xx"),                                    # new, too short to shingle
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.incremental_dedup(docs).collect()}
    assert set(out) == {1, 3, 5, 7}
    assert out[1]["is_dup"] and out[1]["best_match"] == 0 \
        and out[1]["best_jaccard"] == 1.0
    assert not out[3]["is_dup"] and out[3]["best_match"] is None
    # ties on jaccard break to the smallest index doc id
    assert out[5]["is_dup"] and out[5]["best_match"] == 2
    assert not out[7]["is_dup"]


def test_incremental_dedup_indexed_matches_inmemory(spark, tmp_path):
    """Bootstrap the persisted index from the even (index) half, run
    the odd (new) half against it — verdicts must equal the in-memory
    parity-split operator row-for-row, and the new-batch side must be
    the ONLY subtree with Python stages (the index side is pure parquet
    scans)."""
    from pyspark.sql import functions as F
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup
    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"]
    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    dedup.write_dedup_index(evens, str(tmp_path / "didx"))
    ih, ib = dedup.read_dedup_index(spark, str(tmp_path / "didx"))
    via = dedup.incremental_dedup_indexed(odds, ih, ib)
    direct = dedup.incremental_dedup(docs)
    assert [tuple(r) for r in via.collect()] == \
        [tuple(r) for r in direct.collect()]
    # index side reads the stored parquet relations; the new batch's
    # signature pass lives behind the two checkpointed lsh_index frames
    # (hash sets + band postings), so the final plan holds exactly two
    # ExistingRDD scans and the index path's parquet scans — no
    # signature UDF ever touches the index side
    # AQE's executed plan repeats every node under "== Initial Plan ==";
    # assert on the final section only. 3 parquet scans: the new-batch
    # roster + the index's hashes and bands relations; 2 ExistingRDD
    # scans: the new batch's checkpointed signature frames (the only
    # place the shingle/signature UDF ran)
    plan = via._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 3, final[:3000]
    assert final.count("Scan ExistingRDD") == 2, final[:3000]


def test_read_dedup_index_corrupt_stats_raises(spark, tmp_path):
    """A stats directory that EXISTS but cannot be read propagates
    loudly; only a MISSING stats dir (pre-r7 store) is treated as
    no-stats (ADVICE r8: the bare `except Exception` used to pass a
    corrupted store off as healthy)."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup

    docs = load_tables(spark, "/root/testdata/sf0.001")["documents"] \
        .filter(F.col("doc_id") < 40)
    path = str(tmp_path / "didx")
    dedup.write_dedup_index(docs, path)
    # corrupt every stats part file: exists, unreadable
    sdir = os.path.join(path, "stats")
    for fn in os.listdir(sdir):
        if fn.endswith(".parquet"):
            with open(os.path.join(sdir, fn), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        hf, bf = dedup.read_dedup_index(spark, path)
        hf.count()
    # missing stats dir still reads (pre-r7 store contract)
    import shutil
    shutil.rmtree(sdir)
    hf, bf = dedup.read_dedup_index(spark, path)
    assert hf.count() > 0 and bf.count() > 0


def test_filter_funnel_stage_accounting(spark):
    """Crafted corpus exercising every stage: a short doc (length),
    a degenerate doc (repetition), a wrong-language doc (langid), an
    exact pair (dedup), and a clean survivor. Cumulative counts must
    thread: docs_in(k) = docs_out(k-1); an early-dropped copy must not
    block a surviving duplicate from being canonical."""
    from resin_spark.operators.pipeline import filter_funnel
    clean = "the cat and the dog walked to the house of bread and wine"
    docs = spark.createDataFrame(
        [
            (0, clean, "en"),                       # survives everything
            (1, "too short", "en"),                 # stage 1 drop
            (2, "spam " * 40, "en"),                # stage 2 drop (1 distinct)
            (3, "der hund und die katze ist gut und der tag ist lang",
             "en"),                                  # stage 3 drop (de text)
            (4, clean, "en"),                       # stage 4 drop (dup of 0)
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["stage_name"]: r for r in
           filter_funnel({"documents": docs}).collect()}
    assert out["ingest"].docs_out == 5
    assert out["length"].docs_out == 4
    assert out["repetition"].docs_out == 3
    assert out["langid"].docs_out == 2
    assert out["dedup"].docs_out == 1
    # chain: docs_in(k) == docs_out(k-1)
    order = ["ingest", "length", "repetition", "langid", "dedup"]
    for prev, cur in zip(order, order[1:]):
        assert out[cur].docs_in == out[prev].docs_out
    assert out["dedup"].docs_dropped == 1


def test_filter_funnel_dropped_copy_does_not_claim_canonical(spark):
    """If the smaller-id copy of a duplicate pair was dropped by an
    earlier stage, the surviving larger-id copy IS canonical (keep-min
    runs over stage-3 survivors, not the raw corpus)."""
    from resin_spark.operators.pipeline import filter_funnel
    text = "the cat and the dog walked to the house of bread and wine"
    docs = spark.createDataFrame(
        [(0, text, "de"),     # langid drop (en text, de label)
         (1, text, "en")],    # must survive dedup as canonical
        "doc_id long, text string, lang string",
    )
    out = {r["stage_name"]: r for r in
           filter_funnel({"documents": docs}).collect()}
    assert out["langid"].docs_out == 1
    assert out["dedup"].docs_out == 1


def test_bloom_contamination_superset_of_exact(spark):
    """No false negatives: every shingle the exact join counts as a
    benchmark hit must also pass all Bloom probes, so per-doc
    n_bloom_hits >= n_hits everywhere; and on this corpus the FP
    surplus stays under 20% of probed shingles (m=65536 bits vs a
    small benchmark set -> low fill factor)."""
    from resin_spark.io import load_tables
    from resin_spark.operators.pipeline import (
        bloom_contamination, contamination_check)

    t = load_tables(spark, "/root/testdata/sf0.01")
    exact = {r["doc_id"]: r["n_hits"]
             for r in contamination_check(t).collect()}
    bloom_rows = bloom_contamination(t).collect()
    surplus_total, shingle_total = 0, 0
    for r in bloom_rows:
        assert r["n_bloom_hits"] >= exact[r["doc_id"]], r
        surplus_total += r["n_bloom_hits"] - exact[r["doc_id"]]
        shingle_total += r["n_shingles"]
    assert shingle_total > 0
    assert surplus_total / shingle_total < 0.2, (surplus_total, shingle_total)


def test_corpus_delta_statuses(spark):
    """Hand-built snapshots: every status classifies correctly,
    including null-text flips (modified) and stable nulls (unchanged)."""
    from resin_spark.operators import pipeline as pl
    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "gone"), (5, None)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed"), (4, "fresh"), (5, None),
         (6, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r["status"]
           for r in pl.corpus_delta(old, new).collect()}
    assert got == {1: "unchanged", 2: "modified", 3: "removed",
                   4: "added", 5: "unchanged", 6: "added"}
    summary = {r["status"]: r["n_docs"]
               for r in pl.corpus_delta_summary(old, new).collect()}
    assert summary == {"unchanged": 2, "modified": 1, "removed": 1,
                       "added": 2}


def test_corpus_delta_demo_oracle_parity(spark):
    """The deterministic-snapshot driver form matches its DuckDB oracle
    (the r6 promotion contract) and reports every status class on the
    generated corpus."""
    from resin_spark.operators import pipeline as pl
    from tests.oracle_util import compare

    from resin_spark.io import load_tables
    t = load_tables(spark, "/root/testdata/sf0.001")
    df = pl.corpus_delta_demo(t)
    compare(df, pl.corpus_delta_demo_oracle(), "/root/testdata/sf0.001")
    statuses = {r["status"] for r in df.select("status").distinct().collect()}
    assert statuses == {"added", "removed", "modified", "unchanged"}


def test_mixture_plan_flattens_small_sources(spark):
    """alpha=0.5 temperature: the small source's planned share must
    exceed its raw token share; equal sources split the budget evenly."""
    df = spark.createDataFrame(
        [(1, "a b c d e f g h", "en", "big")] * 8
        + [(9, "a b", "en", "small")] * 2,
        "doc_id long, text string, lang string, source string")
    # distinct doc_ids
    from pyspark.sql import functions as F
    df = df.withColumn("doc_id", F.monotonically_increasing_id())
    rows = {r["source"]: r for r in pipeline.mixture_plan(df, 1000).collect()}
    big, small = rows["big"], rows["small"]
    assert big["n_tokens"] == 64 and small["n_tokens"] == 4
    assert small["temp_share"] > small["token_share"]
    assert big["temp_share"] < big["token_share"]
    # shares sum to 1, planned tokens conserve the budget (floor slack < n)
    assert abs(big["temp_share"] + small["temp_share"] - 1.0) < 1e-12
    assert 1000 - 2 <= big["planned_tokens"] + small["planned_tokens"] <= 1000
    # tiny source oversampled: rate > 1 and epochs = ceil(rate)
    assert small["sampling_rate"] > 1
    import math
    assert small["n_epochs"] == math.ceil(small["planned_tokens"]
                                          / small["n_tokens"])


def test_mixture_plan_demo_oracle_parity(spark):
    from tests.oracle_util import compare
    from resin_spark.io import load_tables
    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.mixture_plan_demo(t),
            pipeline.mixture_plan_demo_oracle(), "/root/testdata/sf0.001")


def test_mixture_plan_zero_token_source_survives_ansi(spark):
    """An all-empty-text source must yield a 0-token plan row with NULL
    rate/epochs — not an ANSI DIVIDE_BY_ZERO job abort."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "some words here now", "en", "a"), (2, "", "en", "b"),
         (3, "??? !!!", "en", "b")],
        "doc_id long, text string, lang string, source string")
    rows = {r["source"]: r for r in pipeline.mixture_plan(df, 1000).collect()}
    b = rows["b"]
    assert b["n_tokens"] == 0 and b["planned_tokens"] == 0
    assert b["sampling_rate"] is None and b["n_epochs"] is None
    assert b["temp_share"] == 0.0
    a = rows["a"]
    assert a["temp_share"] == 1.0 and a["planned_tokens"] == 1000


def test_source_divergence_zero_for_identical_distribution(spark):
    """Two sources with the same unigram distribution diverge 0 bits
    from the corpus; a skewed source diverges positively."""
    df = spark.createDataFrame(
        [(1, "a a b", "en", "s1"), (2, "a a b", "en", "s2"),
         (3, "z z z z", "en", "s3")],
        "doc_id long, text string, lang string, source string")
    rows = {r["source"]: r for r in pipeline.source_divergence(df).collect()}
    # s1 == s2 by symmetry, both > 0 (corpus includes s3's mass)
    assert rows["s1"]["kl_bits"] == rows["s2"]["kl_bits"] > 0
    assert rows["s3"]["kl_bits"] > 0
    assert rows["s1"]["n_tokens"] == 3 and rows["s1"]["n_distinct"] == 2
    # uniform corpus: single source diverges 0 from itself
    one = spark.createDataFrame(
        [(1, "a b c", "en", "only")],
        "doc_id long, text string, lang string, source string")
    r = pipeline.source_divergence(one).collect()[0]
    assert r["kl_bits"] == 0.0


def test_source_divergence_matches_oracle(spark):
    from tests.oracle_util import compare
    from resin_spark.io import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.source_divergence(t["documents"]),
            pipeline.source_divergence_oracle(), "/root/testdata/sf0.001")


# --- apply_mixture -------------------------------------------------------------


def _mix_docs(spark, sizes: dict[str, tuple[int, int]]):
    """sizes: source -> (n_docs, words_per_doc)."""
    rows, i = [], 0
    for src, (n, w) in sorted(sizes.items()):
        for _ in range(n):
            rows.append((i, " ".join(f"w{j}" for j in range(w)), "en", src))
            i += 1
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_apply_mixture_copy_counts_bracket_the_rate(spark):
    """Every doc gets floor(rate) or ceil(rate) copies, and realised
    tokens land within one doc of the plan's granularity."""
    docs = _mix_docs(spark, {"big": (40, 50), "small": (10, 5)})
    from pyspark.sql import functions as F

    budget = 1000
    plan = {r["source"]: r for r in
            pipeline.mixture_plan(docs, budget).collect()}
    out = pipeline.apply_mixture(docs, budget).collect()
    assert len(out) == 50
    import math
    for r in out:
        rate = plan[r["source"]]["sampling_rate"]
        assert r["n_copies"] in (math.floor(rate), math.ceil(rate)), r
    # temperature upweights the small source: its rate outruns its
    # token share
    assert plan["small"]["sampling_rate"] > plan["big"]["sampling_rate"]


def test_apply_mixture_is_deterministic_and_salted(spark):
    docs = _mix_docs(spark, {"a": (30, 10)})
    one = sorted(map(tuple, pipeline.apply_mixture(docs, 200).collect()))
    two = sorted(map(tuple, pipeline.apply_mixture(docs, 200).collect()))
    assert one == two
    other_salt = sorted(map(tuple,
                            pipeline.apply_mixture(docs, 200,
                                                   salt=":x").collect()))
    # same distribution, different coins: totals stay put, assignment moves
    assert sum(r[2] for r in one) != 0
    assert one != other_salt or sum(r[2] for r in one) == sum(
        r[2] for r in other_salt)


def test_apply_mixture_zero_token_source_gets_zero_copies(spark):
    from pyspark.sql import functions as F

    docs = _mix_docs(spark, {"a": (5, 10)}).union(
        _mix_docs(spark, {"empty": (3, 1)})
        .withColumn("text", F.lit("")))
    out = {r["doc_id"]: r for r in
           pipeline.apply_mixture(docs, 100).collect()}
    empties = [r for r in out.values() if r["source"] == "empty"]
    assert len(empties) == 3 and all(r["n_copies"] == 0 for r in empties)


def test_apply_mixture_demo_matches_oracle(spark):
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.apply_mixture_demo(t),
            pipeline.apply_mixture_demo_oracle(), "/root/testdata/sf0.001")


def test_apply_mixture_plan_join_is_broadcast(spark):
    from resin_spark.io import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001")
    docs = t["documents"].filter("doc_id IS NOT NULL")
    plan = pipeline.apply_mixture(docs) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


# --- chunk_documents -----------------------------------------------------------


def test_chunk_documents_layout(spark):
    def mk(n):
        return " ".join(f"w{j}" for j in range(n))

    docs = spark.createDataFrame(
        [(1, mk(10), "en", "s"), (2, mk(8), "en", "s"),
         (3, mk(9), "en", "s"), (4, mk(20), "en", "s"),
         (5, "", "en", "s")],
        "doc_id long, text string, lang string, source string")
    out = {}
    for r in pipeline.chunk_documents(docs, chunk_tokens=8,
                                      overlap=4).collect():
        out.setdefault(r["doc_id"], []).append(r)
    # n=8 == chunk: exactly one chunk
    assert [(c["start_pos"], c["n_tokens"]) for c in out[2]] == [(1, 8)]
    # n=9: two chunks, second starts at 5 (step=4), short tail
    assert [(c["start_pos"], c["n_tokens"]) for c in out[3]] == [(1, 8), (5, 5)]
    # n=10: chunks at 1 and 5
    assert [(c["start_pos"], c["n_tokens"]) for c in out[1]] == [(1, 8), (5, 6)]
    # n=20: 1 + ceil(12/4) = 4 chunks; overlap contract: each chunk
    # repeats the previous one's last `overlap` tokens
    assert [(c["start_pos"], c["n_tokens"]) for c in out[4]] == \
        [(1, 8), (5, 8), (9, 8), (13, 8)]
    toks4 = [c["chunk_text"].split() for c in out[4]]
    for a, b in zip(toks4, toks4[1:]):
        assert a[-4:] == b[:4]
    # empty doc yields no chunks
    assert 5 not in out
    # every token of every doc is covered
    covered = {t for c in out[4] for t in c["chunk_text"].split()}
    assert covered == {f"w{j}" for j in range(20)}


def test_chunk_documents_rejects_non_advancing_window(spark):
    docs = spark.createDataFrame(
        [(1, "a b c", "en", "s")],
        "doc_id long, text string, lang string, source string")
    with pytest.raises(ValueError, match="must advance"):
        pipeline.chunk_documents(docs, chunk_tokens=4, overlap=4)


def test_chunk_documents_demo_matches_oracle(spark):
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.chunk_documents_demo(t),
            pipeline.chunk_documents_oracle(), "/root/testdata/sf0.001")


# --- dataset_split / split_leakage ---------------------------------------------


def _expected_split(doc_id: int) -> str:
    """First-principles recomputation of the split coin (hashlib, no
    Spark) — the cross-engine contract the oracle also relies on."""
    import hashlib
    h = hashlib.md5(f"{pipeline.SPLIT_SALT}{doc_id}".encode()).hexdigest()[:4]
    lo, hi = pipeline._split_bounds()
    return "test" if h < lo else ("val" if h < hi else "train")


def test_dataset_split_matches_hand_md5(spark):
    from collections import Counter

    texts = [f"doc number {i} body text" for i in range(64)]
    t = _docs(spark, texts)
    rows = pipeline.dataset_split(t["documents"]).collect()
    exp, chars = Counter(), Counter()
    for i, txt in enumerate(texts):
        key = (f"src{i % 2}", _expected_split(i))
        exp[key] += 1
        chars[key] += len(txt)
    got = {(r["source"], r["split"]): r for r in rows}
    assert set(got) == set(exp)
    for k, r in got.items():
        assert r["n_docs"] == exp[k]
        assert r["n_chars"] == chars[k]
        per_src = sum(v for (s, _), v in exp.items() if s == k[0])
        assert r["doc_share"] == exp[k] / per_src
        assert r["target_frac"] == {
            "test": pipeline.SPLIT_TEST_FRAC,
            "val": pipeline.SPLIT_VAL_FRAC,
        }.get(k[1], pipeline.SPLIT_TRAIN_FRAC)


def test_split_leakage_labels_cross_pairs(spark):
    # hunt ids landing in each split so the crafted near-dup pair is a
    # KNOWN train/test crossing
    ids, i = {}, 0
    while len(ids) < 3:
        ids.setdefault(_expected_split(i), i)
        i += 1
    dup = "alpha beta gamma delta epsilon"
    other = "zeta eta theta iota kappa"
    rows = [
        (ids["train"], dup, "en", "s", len(dup)),
        (ids["test"], dup, "en", "s", len(dup)),
        (ids["val"], other, "en", "s", len(other)),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")
    out = pipeline.split_leakage(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["split_lo"], r["split_hi"]) == ("test", "train")
    assert r["n_pairs"] == 1 and r["pair_share"] == 1.0


def test_dataset_split_and_leakage_demos_match_oracle(spark):
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.dataset_split_demo(t),
            pipeline.dataset_split_demo_oracle(), "/root/testdata/sf0.001")
    compare(pipeline.split_leakage_demo(t),
            pipeline.split_leakage_demo_oracle(), "/root/testdata/sf0.001")


def test_cluster_split_is_leakage_free_and_counts_moves(spark):
    # the split_leakage crafted corpus: a KNOWN train/test near-dup pair
    # plus an unrelated val singleton
    ids, i = {}, 0
    while len(ids) < 3:
        ids.setdefault(_expected_split(i), i)
        i += 1
    dup = "alpha beta gamma delta epsilon"
    other = "zeta eta theta iota kappa"
    rows = [
        (ids["train"], dup, "en", "s", len(dup)),
        (ids["test"], dup, "en", "s", len(dup)),
        (ids["val"], other, "en", "s", len(other)),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long")

    comp = {r["doc_id"]: r["component"]
            for r in pipeline.cluster_components(docs).collect()}
    canon = min(ids["train"], ids["test"])
    assert comp[ids["train"]] == comp[ids["test"]] == canon
    assert comp[ids["val"]] == ids["val"]

    card = pipeline.cluster_split(docs).collect()
    # both dup docs land in the CANONICAL id's split: the crafted
    # cross-split pair is rerouted, so exactly one doc moved and the
    # near-dup pair is intra-split — leakage zero by construction
    canon_split = _expected_split(canon)
    by_split = {r["split"]: r for r in card}
    assert by_split[canon_split]["n_docs"] == 2
    assert by_split[canon_split]["n_moved"] == 1
    assert sum(r["n_moved"] for r in card) == 1
    split_of_doc = {d: _expected_split(c) for d, c in comp.items()}
    assert split_of_doc[ids["train"]] == split_of_doc[ids["test"]]


def test_cluster_split_demo_matches_oracle(spark):
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.cluster_split_demo(t),
            pipeline.cluster_split_demo_oracle(), "/root/testdata/sf0.001")


def test_semantic_split_leakage_labels_crafted_pair(spark):
    # same split-hunting trick as the D15 pin, but the leak is a
    # PARAPHRASE: identical embeddings across a train/test id pair,
    # orthogonal val vector stays out
    ids, i = {}, 0
    while len(ids) < 3:
        ids.setdefault(_expected_split(i), i)
        i += 1
    rows = [
        (ids["train"], [1.0, 0.0, 0.0], 0),
        (ids["test"], [1.0, 0.0, 0.0], 0),
        (ids["val"], [0.0, 1.0, 0.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    out = pipeline.semantic_split_leakage(emb).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["split_lo"], r["split_hi"]) == ("test", "train")
    assert r["n_pairs"] == 1 and r["pair_share"] == 1.0


def test_semantic_split_leakage_demo_matches_oracle(spark):
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.semantic_split_leakage_demo(t),
            pipeline.semantic_split_leakage_oracle(),
            "/root/testdata/sf0.001")


@pytest.mark.full_suite
def test_dataset_card_sections_equal_their_source_ops(spark):
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup, traindata

    t = load_tables(spark, "/root/testdata/sf0.001")
    card = {(r["section"], r["metric"]): r["value"]
            for r in pipeline.dataset_card(t).collect()}

    cs = traindata.corpus_stats(t).collect()[0]
    assert card[("corpus", "n_docs")] == str(cs["n_docs"])
    assert card[("corpus", "type_token_ratio")] == str(cs["type_token_ratio"])

    ls = traindata.lang_stats(t).collect()[0]
    assert card[("languages", f"lang={ls['lang']}/n_tokens")] \
        == str(ls["n_tokens"])

    fn = pipeline.filter_funnel(t).collect()[0]
    key = f"stage={fn['stage']}/stage_name={fn['stage_name']}/docs_out"
    assert card[("funnel", key)] == str(fn["docs_out"])

    dh = dedup.dup_cluster_histogram(t["documents"]).collect()[0]
    assert card[("duplication",
                 f"cluster_size={dh['cluster_size']}/n_docs")] \
        == str(dh["n_docs"])

    sp = pipeline.dataset_split(t["documents"]).collect()[0]
    assert card[("splits",
                 f"source={sp['source']}/split={sp['split']}/n_docs")] \
        == str(sp["n_docs"])

    # flat strings only — the driver-safe shape
    out = pipeline.dataset_card(t)
    assert [f.dataType.simpleString() for f in out.schema.fields] \
        == ["string", "string", "string"]


@pytest.mark.full_suite
def test_dataset_card_typed_matches_display_card(spark):
    """The typed (driver) face and the display face melt the SAME five
    cards: identical (section, metric) multisets, numeric cells equal
    the display strings' values, and the whole relation is
    oracle-exact (parity also in the staged edge battery)."""
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    disp = pipeline.dataset_card(t).collect()
    typed = pipeline.dataset_card_typed(t).collect()
    assert sorted((r["section"], r["metric"]) for r in disp) \
        == sorted((r["section"], r["metric"]) for r in typed)
    # scalar driver-safe schema: string, string, double, string
    tdf = pipeline.dataset_card_typed(t)
    assert [f.dataType.simpleString() for f in tdf.schema.fields] \
        == ["string", "string", "double", "string"]
    # every typed row carries exactly one face of the cell
    for r in typed:
        assert (r["value_num"] is None) or (r["value_str"] is None)
    compare(pipeline.dataset_card_typed(t),
            pipeline.dataset_card_typed_oracle(),
            "/root/testdata/sf0.001")


@pytest.mark.full_suite
def test_split_governance_card_sections_pin_members(spark):
    """Every section of the governance melt IS the member card's
    relation (the C63 section-equality license — one driver slot
    transitively pins C59/D15/C60/D16/C61)."""
    from resin_spark.io import load_tables
    from resin_spark.operators import traindata

    t = load_tables(spark, "/root/testdata/sf0.001")
    typed = pipeline.split_governance_card(t).collect()
    cells = {(r["section"], r["metric"]): r for r in typed}

    sp = pipeline.dataset_split_demo(t).collect()[0]
    r = cells[("splits", f"source={sp['source']}/split={sp['split']}/n_docs")]
    assert r["value_num"] == float(sp["n_docs"])

    for lk in pipeline.split_leakage_demo(t).collect():
        r = cells[("leakage", f"split_lo={lk['split_lo']}/"
                   f"split_hi={lk['split_hi']}/n_pairs")]
        assert r["value_num"] == float(lk["n_pairs"])

    cs = pipeline.cluster_split_demo(t).collect()[0]
    r = cells[("cluster_splits",
               f"source={cs['source']}/split={cs['split']}/n_moved")]
    assert r["value_num"] == float(cs["n_moved"])

    for sl in pipeline.semantic_split_leakage_demo(t).collect():
        r = cells[("semantic_leakage", f"split_lo={sl['split_lo']}/"
                   f"split_hi={sl['split_hi']}/pair_share")]
        assert r["value_num"] == sl["pair_share"]

    for pc in traindata.perplexity_threshold_curve(t).collect():
        key = ("perplexity_curve",
               f"threshold={pc['threshold']}/n_docs_kept")
        assert cells[key]["value_num"] == float(pc["n_docs_kept"])

    df = pipeline.split_governance_card(t)
    assert [f.dataType.simpleString() for f in df.schema.fields] \
        == ["string", "string", "double", "string"]
    for row in typed:
        assert (row["value_num"] is None) or (row["value_str"] is None)


@pytest.mark.full_suite
def test_split_governance_card_matches_oracle(spark):
    from resin_spark.io import load_tables
    from tests.oracle_util import compare

    t = load_tables(spark, "/root/testdata/sf0.001")
    compare(pipeline.split_governance_card(t),
            pipeline.split_governance_card_oracle(),
            "/root/testdata/sf0.001")


@pytest.mark.full_suite
def test_curation_tuning_card_sections_pin_members(spark):
    """Every section of the tuning melt IS the member's relation (the
    C63 section-equality license — one r10 slot empties the staged
    queue: C45/C53/C50/C46/C47/D13/C56/C62/C58)."""
    from resin_spark.io import load_tables
    from resin_spark.operators import dedup, textops, traindata

    t = load_tables(spark, "/root/testdata/sf0.001")
    typed = pipeline.curation_tuning_card(t).collect()
    cells = {(r["section"], r["metric"]): r for r in typed}

    mp = pipeline.mixture_plan_demo(t).collect()[0]
    assert cells[("mixture", f"source={mp['source']}/planned_tokens")
                 ]["value_num"] == float(mp["planned_tokens"])
    am = pipeline.apply_mixture_demo(t).collect()[0]
    assert cells[("mixture_applied",
                  f"source={am['source']}/realization_ratio")
                 ]["value_num"] == am["realization_ratio"]
    dv = pipeline.source_divergence(t["documents"]).collect()[0]
    assert cells[("divergence", f"source={dv['source']}/kl_bits")
                 ]["value_num"] == dv["kl_bits"]
    lc = traindata.lang_confusion(t).collect()[0]
    assert cells[("lang_confusion",
                  f"true_lang={lc['true_lang']}/pred_lang={lc['pred_lang']}"
                  "/n_docs")]["value_num"] == float(lc["n_docs"])
    cd = traindata.cdc_chunk_stats(t).collect()[0]
    assert cells[("cdc_chunks", f"doc_id={cd['doc_id']}/dup_chunk_share")
                 ]["value_num"] == cd["dup_chunk_share"]
    for dc in dedup.dedup_threshold_curve_demo(t).collect():
        assert cells[("dedup_curve", f"threshold={dc['threshold']}/n_pairs")
                     ]["value_num"] == float(dc["n_pairs"])
    sn = textops.search_snippets(t).collect()[0]
    r = cells[("snippets", f"rank={sn['rank']}/doc_id={sn['doc_id']}/snippet")]
    assert r["value_str"] == sn["snippet"] and r["value_num"] is None
    for fc in textops.search_facets(t).collect():
        assert cells[("facets", f"facet={fc['facet']}/value={fc['value']}"
                      "/n_hits")]["value_num"] == float(fc["n_hits"])
    ch = pipeline.chunk_documents_demo(t).collect()[0]
    assert cells[("chunks", f"doc_id={ch['doc_id']}/chunk_id={ch['chunk_id']}"
                  "/chunk_text")]["value_str"] == ch["chunk_text"]

    df = pipeline.curation_tuning_card(t)
    assert [f.dataType.simpleString() for f in df.schema.fields] \
        == ["string", "string", "double", "string"]
    for row in typed:
        assert (row["value_num"] is None) or (row["value_str"] is None)


def test_melt_doc_ids_never_ride_value_num(spark):
    """Regression pin for the r9 verdict's doc_id-as-DOUBLE finding:
    value_num is DOUBLE, and xxhash64-scale doc_ids (WARC ingest)
    exceed 2^53 — melting one into value_num rounds it identically in
    both engines (hash-green, silently-wrong published id). (a) No
    melt spec may list an id column in its numeric list; (b) the key
    fold carries a >2^53 bigint exactly."""
    from resin_spark.operators.card import melt_typed, melt_typed_sql
    from resin_spark.operators.health import HEALTH_SECTIONS
    from resin_spark.operators.pipeline import GOV_SECTIONS, TUNE_SECTIONS

    for specs in (TUNE_SECTIONS, GOV_SECTIONS, HEALTH_SECTIONS):
        for section, _keys, nums, _strs in specs:
            assert not any(c == "doc_id" or c.endswith("_id") for c in nums), \
                f"{section}: id column in the numeric melt list"

    big = 2 ** 53 + 1   # not representable as double (rounds to 2^53)
    df = spark.createDataFrame([(1, big, 7, "snip")],
                               "rank bigint, doc_id bigint, pos bigint, "
                               "snippet string")
    rows = melt_typed(df, "snippets", ["rank", "doc_id"]).collect()
    assert {r["metric"] for r in rows} == {
        f"rank=1/doc_id={big}/pos", f"rank=1/doc_id={big}/snippet"}

    import duckdb
    con = duckdb.connect()
    con.execute(f"CREATE VIEW card_snippets AS SELECT 1 AS rank, "
                f"{big} AS doc_id, 7 AS pos, 'snip' AS snippet")
    sql = melt_typed_sql("snippets", ["rank", "doc_id"], ["pos"],
                         ["snippet"])
    got = {r[1] for r in con.execute(sql).fetchall()}
    assert got == {f"rank=1/doc_id={big}/pos",
                   f"rank=1/doc_id={big}/snippet"}


# --- melt machinery property: melt_typed == melt_typed_sql on random frames ----

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _weird = st.one_of(
        st.none(),
        st.text(alphabet="ab =/|'\"é漢\n", min_size=0, max_size=6))
    _cell_rows = st.lists(
        st.tuples(
            _weird,                                     # k1 string key
            st.integers(min_value=-3, max_value=3),     # k2 bigint key
            st.one_of(st.none(),
                      st.integers(min_value=-10, max_value=10)),  # n1
            st.one_of(st.none(),
                      st.sampled_from([0.0, -1.5, 2.25, 1e-3])),  # d1
            _weird,                                     # s1 string value
        ),
        min_size=0, max_size=8)

    @pytest.mark.full_suite
    @given(rows=_cell_rows)
    @settings(max_examples=12, deadline=None)
    def test_melt_typed_matches_sql_melt(spark, tmp_path_factory, rows):
        """The melt machinery itself (card.melt_typed vs
        card.melt_typed_sql) is equivalent on RANDOM frames — NULL
        and weird-char key values, NULL numeric/string cells, duplicate
        keys. This is the shared surface under the three composite
        driver entries; the cards' own parity only exercises it on
        their fixed section specs."""
        import duckdb

        from resin_spark.operators.card import melt_typed, melt_typed_sql

        d = tmp_path_factory.mktemp("melt")
        df = spark.createDataFrame(
            rows, "k1 string, k2 long, n1 long, d1 double, s1 string")
        path = f"{d}/t.parquet"
        df.coalesce(1).write.mode("overwrite").parquet(path)

        spark_out = melt_typed(
            spark.read.parquet(path), "sec", ["k1", "k2"])
        melt = melt_typed_sql("sec", ["k1", "k2"], ["n1", "d1"], ["s1"])
        sql = (f"WITH card_sec AS (SELECT * FROM "
               f"read_parquet('{path}/*.parquet'))\n"
               f"SELECT * FROM (\n{melt}\n)")
        con = duckdb.connect()
        try:
            cur = con.execute(sql)
            ocols = [c[0] for c in cur.description]
            orows = cur.fetchall()
        finally:
            con.close()
        srows = spark_out.collect()
        assert sorted(spark_out.columns) == sorted(ocols)
        assert len(srows) == len(orows)

        def norm(v):
            return repr(v)

        o_idx = [ocols.index(c) for c in sorted(ocols)]
        s_idx = [spark_out.columns.index(c)
                 for c in sorted(spark_out.columns)]
        oset = sorted(tuple(norm(r[i]) for i in o_idx) for r in orows)
        sset = sorted(tuple(norm(r[i]) for i in s_idx) for r in srows)
        assert sset == oset, \
            [p for p in zip(sset, oset) if p[0] != p[1]][:3]
except ImportError:  # pragma: no cover - hypothesis is baked in
    pass
