"""Seeded corpus generator for the benchmark.

``generate(seed, out_dir, settings)`` writes the sf-directory layout the
library's loaders and DuckDB oracles read (``documents.parquet``,
``embeddings.parquet``) plus the KV column (``kv.parquet``), and returns
the settings with the measured share of every planted property.
``ingest_batch`` makes the fresh batches the ``ingest`` workload appends.

Everything is drawn from one ``numpy.random.Generator`` per call, so the
same seed and settings give row-identical parquet.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Marker words of the library's language profiles
# (resin_spark.functions.text.LANG_PROFILES). They are copied here so
# generation needs no Spark import; test_gen.py pins the two equal.
LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("de", "shi", "le", "he", "zai"),
}
LANGS = ("en", "de", "fr", "es", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)

DEFAULTS = {
    "n_docs": 400,
    "vocab_size": 30000,
    "zipf_s": 1.05,
    "len_log_mean": 4.0,        # lognormal token count: median e^4 ≈ 55
    "len_log_sigma": 0.6,
    "min_tokens": 8,
    "max_tokens": 300,
    "stopword_rate": 0.12,      # marker words of the doc's language
    "en_stopword_rate": 0.02,   # English markers in every language
    "n_sources": 20,
    "exact_dup_share": 0.04,
    "near_dup_share": 0.06,
    "near_dup_edit_rate": 0.02,  # share of tokens replaced in a near-dup
    "near_dup_min_tokens": 50,
    "pii_share": 0.08,
    "n_vecs": 160,
    "dims": 64,
    "n_labels": 16,
    "label_noise": 0.2,          # per-dim sd around the unit label centre
    "vec_near_dup_share": 0.05,
    "vec_near_dup_noise": 0.01,
    "kv_rows": 10000,
    "kv_keys": 1000,
    "kv_zipf_s": 1.2,
}

_CONS = "bcdfghjklmnprstvz"
_VOWS = "aeiou"
_SYL = [c + v for c in _CONS for v in _VOWS]
TOKEN_RE = re.compile(r"[^a-z0-9]+")
PII_RES = (
    re.compile(r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
    re.compile(r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    re.compile(r"\+?[0-9][0-9 ().-]{7,}[0-9]"),
)


def word(i: int) -> str:
    """The i-th vocabulary word: two or more consonant-vowel syllables.
    No library marker word has this shape, and no word contains 'q' or
    'x', which keeps ingest's batch-unique terms out of the vocabulary."""
    out = []
    while True:
        i, r = divmod(i, len(_SYL))
        out.append(_SYL[r])
        if i == 0 and len(out) >= 2:
            return "".join(out)


def tokens(text: str) -> list[str]:
    """The library's tokenisation contract: lowercase, split on runs of
    non-[a-z0-9], drop empties."""
    return [t for t in TOKEN_RE.split(text.lower()) if t]


def shingle_set(text: str, n: int = 3) -> set[str]:
    tk = tokens(text)
    return {" ".join(tk[i:i + n]) for i in range(len(tk) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


class Vocab:
    """The Zipf-ranked vocabulary: word(rank) drawn with p ∝ rank^-s."""

    def __init__(self, size: int, s: float):
        self.words = [word(i) for i in range(size)]
        p = 1.0 / np.arange(1, size + 1) ** s
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return np.minimum(idx, len(self.words) - 1)


def _pii_span(rng: np.random.Generator, vocab: Vocab) -> str:
    kind = int(rng.integers(3))
    if kind == 0:
        a, b, c = (vocab.words[int(i)] for i in rng.integers(0, 500, 3))
        return f"{a}.{b}@{c}.org"
    if kind == 1:
        return ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
    return "+1 555 %03d %04d" % (int(rng.integers(1000)),
                                 int(rng.integers(10000)))


def _doc_tokens(rng, vocab, st, lang) -> list[str]:
    n = int(np.clip(rng.lognormal(st["len_log_mean"], st["len_log_sigma"]),
                    st["min_tokens"], st["max_tokens"]))
    toks = [vocab.words[int(i)] for i in vocab.draw(rng, n)]
    u = rng.random(n)
    own, en = LANG_PROFILES[lang], LANG_PROFILES["en"]
    for j in range(n):
        if u[j] < st["stopword_rate"]:
            toks[j] = own[int(rng.integers(len(own)))]
        elif u[j] < st["stopword_rate"] + st["en_stopword_rate"]:
            toks[j] = en[int(rng.integers(len(en)))]
    return toks


def _render(rng, toks: list[str], pii: bool, vocab) -> str:
    """Sentences of 8-15 tokens ending in '. '; a PII doc carries one or
    two spans, each in its own sentence so no two spans touch."""
    parts, j = [], 0
    while j < len(toks):
        k = int(rng.integers(8, 16))
        parts.append(" ".join(toks[j:j + k]) + ".")
        j += k
    if pii:
        for _ in range(int(rng.integers(1, 3))):
            parts.insert(int(rng.integers(len(parts) + 1)),
                         f"contact {_pii_span(rng, vocab)} now.")
    return " ".join(parts)


def _near_dup(rng, text: str, vocab, rate: float) -> str:
    """An edited copy: replace ``rate`` of the word tokens (at least one)
    with misspelt vocabulary words (a trailing 'x', which no vocabulary
    word has, so every edit changes its token), keeping punctuation."""
    parts = text.split(" ")
    slots = [i for i, p in enumerate(parts) if p.rstrip(".").isalpha()]
    n_edit = max(1, int(round(rate * len(slots))))
    for i in rng.choice(slots, size=n_edit, replace=False):
        tail = "." if parts[i].endswith(".") else ""
        parts[i] = vocab.words[int(vocab.draw(rng, 1)[0])] + "x" + tail
    return " ".join(parts)


def _docs(rng, st, vocab, n_docs: int, first_id: int,
          originals: list[list[str]] | None = None):
    """``n_docs`` rows: base docs, exact copies and near-duplicates.
    Near-duplicates copy ``originals`` (text, lang, source rows of the
    standing corpus) when given, else the base docs of this call.
    Returns (rows, [(original id, copy id, jaccard)])."""
    n_exact = int(round(st["exact_dup_share"] * n_docs))
    n_near = int(round(st["near_dup_share"] * n_docs))
    n_base = n_docs - n_exact - n_near
    rows = []
    for _ in range(n_base):
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
        toks = _doc_tokens(rng, vocab, st, lang)
        pii = bool(rng.random() < st["pii_share"])
        src = f"src{int(rng.integers(st['n_sources']))}"
        rows.append([_render(rng, toks, pii, vocab), lang, src])
    for _ in range(n_exact):
        rows.append(list(rows[int(rng.integers(n_base))]))
    pool = originals if originals is not None else rows[:n_base]
    long_enough = [i for i, r in enumerate(pool)
                   if len(tokens(r[0])) >= st["near_dup_min_tokens"]]
    near = []
    for i in rng.choice(long_enough, size=n_near, replace=False):
        i = int(i)
        text = _near_dup(rng, pool[i][0], vocab, st["near_dup_edit_rate"])
        near.append((i, text))
        rows.append([text, *pool[i][1:]])
    order = rng.permutation(len(rows))
    rows = [rows[i] for i in order]
    pos = {int(o): k for k, o in enumerate(order)}
    pairs = []
    for j, (i, text) in enumerate(near):
        new_id = first_id + pos[n_base + n_exact + j]
        old_id = first_id + pos[i] if originals is None else i
        pairs.append((old_id, new_id, jaccard(pool[i][0], text)))
    return rows, pairs


def _doc_table(rows, first_id: int) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(range(first_id, first_id + len(rows)), pa.int64()),
        "text": pa.array([r[0] for r in rows], pa.string()),
        "lang": pa.array([r[1] for r in rows], pa.string()),
        "source": pa.array([r[2] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[0]) for r in rows], pa.int64()),
    })


def _vectors(rng, st, centres, n: int, first_id: int,
             originals: np.ndarray | None = None):
    """Clustered vectors around the label centres; a share are
    near-copies of ``originals`` (default: of this call's own vectors)."""
    n_near = int(round(st["vec_near_dup_share"] * n))
    labels = rng.integers(st["n_labels"], size=n).astype(np.int32)
    m = centres[labels] + rng.normal(0, st["label_noise"], (n, st["dims"]))
    pool = originals if originals is not None else m[: n - n_near]
    src = rng.integers(len(pool), size=n_near)
    m[n - n_near:] = pool[src] + rng.normal(
        0, st["vec_near_dup_noise"], (n_near, st["dims"]))
    m = m.astype(np.float32)
    emb = pa.array(list(m), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    }), m, n_near


def _centres(st) -> np.ndarray:
    """Label centres depend on the settings only, so ingest batches of
    any seed cluster around the standing corpus's labels."""
    c = np.random.default_rng(7).normal(size=(st["n_labels"], st["dims"]))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 20)


def generate(seed: int, out_dir: str, settings: dict | None = None) -> dict:
    """Write the corpus for ``seed`` into ``out_dir``; return the
    settings and the measured properties."""
    st = {**DEFAULTS, **(settings or {})}
    rng = np.random.default_rng([seed, 1])
    vocab = Vocab(st["vocab_size"], st["zipf_s"])
    rows, pairs = _docs(rng, st, vocab, st["n_docs"], 0)
    docs = _doc_table(rows, 0)
    emb, _m, n_vec_near = _vectors(rng, st, _centres(st), st["n_vecs"], 0)
    kv_keys = np.minimum(
        np.searchsorted(zipf_cdf(st["kv_keys"], st["kv_zipf_s"]),
                        rng.random(st["kv_rows"]), side="right"),
        st["kv_keys"] - 1).astype(np.int64)
    kv = pa.table({
        "key": pa.array(kv_keys, pa.int64()),
        "seq": pa.array(np.arange(st["kv_rows"], dtype=np.int64)),
        "value": pa.array(rng.integers(0, 1_000_000, st["kv_rows"]),
                          pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    write_table(docs, f"{out_dir}/documents.parquet")
    write_table(emb, f"{out_dir}/embeddings.parquet")
    write_table(kv, f"{out_dir}/kv.parquet")

    texts = [r[0] for r in rows]
    n = len(texts)
    all_toks = [tokens(t) for t in texts]
    key_counts = np.bincount(kv_keys, minlength=st["kv_keys"])
    return {
        "settings": st,
        "seed": seed,
        "n_docs": n,
        "n_vecs": st["n_vecs"],
        "kv_rows": st["kv_rows"],
        "measured": {
            "exact_dup_share": round(
                (n - len({hashlib.md5(t.encode()).digest() for t in texts}))
                / n, 6),
            "near_dup_share": round(
                sum(1 for _a, _b, j in pairs if j > 0.5) / n, 6),
            "near_dup_min_jaccard": round(min(j for *_x, j in pairs), 6),
            "pii_share": round(
                sum(1 for t in texts if any(r.search(t.lower())
                                            for r in PII_RES)) / n, 6),
            "vocab_size": len({w for tk in all_toks for w in tk}),
            "mean_tokens": round(sum(map(len, all_toks)) / n, 3),
            "vec_near_dup_share": round(n_vec_near / st["n_vecs"], 6),
            "kv_keys_used": int((key_counts > 0).sum()),
            "kv_max_key_rows": int(key_counts.max()),
        },
        "near_dup_pairs": [(a, b) for a, b, j in pairs],
    }


def zipf_cdf(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(p / p.sum())


def read_docs(corpus_dir: str) -> list[list[str]]:
    """(text, lang, source) rows of a generated corpus, in doc_id order."""
    t = pq.read_table(f"{corpus_dir}/documents.parquet",
                      columns=["text", "lang", "source"])
    return [list(r) for r in zip(*(t.column(c).to_pylist()
                                   for c in t.column_names))]


def read_vectors(corpus_dir: str) -> np.ndarray:
    col = pq.read_table(f"{corpus_dir}/embeddings.parquet",
                        columns=["embedding"]).column("embedding")
    return np.array(col.to_pylist(), dtype=np.float32)


def ingest_batch(seed: int, step: int, settings: dict, first_doc_id: int,
                 first_vec_id: int, standing_docs: list[list[str]],
                 standing_vecs: np.ndarray, n_docs: int, n_vecs: int,
                 n_tagged: int = 3) -> dict:
    """One fresh batch for the ``ingest`` workload: new docs and vectors
    with fresh ids, the settings' near-duplicate shares copied from the
    standing corpus. ``n_tagged`` docs carry a term no other doc has,
    for the read-your-writes probe."""
    st = {**DEFAULTS, **settings}
    rng = np.random.default_rng([seed, 2, step])
    vocab = Vocab(st["vocab_size"], st["zipf_s"])
    rows, pairs = _docs(rng, st, vocab, n_docs, first_doc_id,
                        originals=standing_docs)
    term = f"qx{seed}s{step}"
    tagged = sorted(int(i) for i in rng.choice(len(rows), n_tagged,
                                               replace=False))
    for i in tagged:
        rows[i][0] = f"{rows[i][0]} {term}."
    emb, m, _n = _vectors(rng, st, _centres(st), n_vecs, first_vec_id,
                          originals=standing_vecs)
    # probe with a vector that is not a near-copy of anything
    probe = int(rng.integers(n_vecs - int(round(st["vec_near_dup_share"]
                                                * n_vecs))))
    return {
        "docs": _doc_table(rows, first_doc_id),
        "emb": emb,
        "vecs": m,
        "term": term,
        "tagged_ids": [first_doc_id + i for i in tagged],
        "probe_vec_id": first_vec_id + probe,
        "probe_vec": m[probe],
        "near_dup_pairs": [(a, b, j) for a, b, j in pairs],
    }
