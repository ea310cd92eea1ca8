"""The benchmark's three workloads. Each is a closed loop: one client
thread sends its next operation when the previous one has returned.

- ``curate``: one operation is a pass of the batch curation pipeline,
  eight stages, each materialised in full.
- ``search``: one operation is a request against persisted stores, in
  a fixed cycle of seven kinds; a run ends on a cycle boundary.
- ``ingest``: one operation is a cycle of dedup verdicts, three store
  appends and a read-your-writes probe on a fresh batch.

Every workload calls only ``resin_spark``'s public functions, through
``Tracer.call``, and checks its outputs after the timed region.
"""

from __future__ import annotations

import functools
import json
import os
import pickle
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import functions as F

from resin_spark.io import load_tables
from resin_spark.operators import (
    dedup, kv, pipeline, retrieval, similarity, textindex, textops,
)

import check
import gen

K = 10
# IVF cells: about the square root of the corpus's vector count. Probes
# are at the complete operating point (every cell), where the result is
# exact.
IVF_CELLS = 16
ANN_QUERIES = 32    # query vectors per IVF, PQ or LSH request
WARMUP_BASE = 7000  # request indices of the warm-up: a multiple of the cycle


class Failures:
    """Operations attempted and the ones that raised or failed a check."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed.append(what)

    def expect(self, what: str, problem: str | None) -> None:
        if problem is None:
            self.ok()
        else:
            self.fail(f"{what}: {problem}")


def _collect(df):
    return df.collect()


def _read_both(t):
    t["documents"].count()
    t["embeddings"].count()
    return t


class Workload:
    """Shared run state. Subclasses define ``op`` and ``check`` and
    override the hooks they need."""

    name = ""
    cycle = 1           # a run ends only after a multiple of this many ops
    min_ops = 1         # and only after at least this many
    max_ops = None      # or once it has done this many
    ann_configs = ()    # ann_recall_report operating points of the run
    reports_banding = False  # the traced run reports minhash banding

    def __init__(self, seed: int, corpus_dir: str, manifest: dict,
                 tracer):
        self.seed = seed
        self.corpus = corpus_dir
        self.manifest = manifest
        self.tracer = tracer
        self.results: list = []
        self.failures = Failures()
        self._recall = 1.0

    def prepare(self, work_dir: str) -> None:
        """Make further inputs before Spark starts."""

    def load(self, spark):
        """io layer: open the inputs and read them once."""
        self.spark = spark
        self.t = self.tracer.call(
            "io", "load_tables",
            lambda: load_tables(spark, self.corpus,
                                ("documents", "embeddings")),
            _read_both)

    def setup_stores(self, store_dir: str) -> None:
        """Build the workload's stores under ``store_dir``."""

    def warmup_calls(self) -> list:
        """Independent calls that warm the code the timed operations run."""
        return []

    def warmed(self, outputs: list) -> None:
        """Receive the warm-up calls' outputs, in order."""

    def start_side_check(self, work_dir: str) -> None:
        """Start check work that needs no Spark in a process of its own,
        to run beside the warm-up."""

    def finish_side_check(self) -> None:
        """Wait for the side check work started above."""

    def run_op(self, i: int) -> None:
        try:
            self.results.append(self.op(i))
        except Exception:
            self.results.append(None)
            self.failures.fail(f"op {i} raised: "
                               + traceback.format_exc(limit=3))

    def approx_recall(self) -> float:
        return self._recall

    def docs_per_op(self) -> int:
        """Documents one operation covers, the base of
        functions.python_rows_per_doc."""
        return self.manifest["n_docs"]

    def summary(self, lat: list[float], elapsed: float) -> dict:
        """The workload's own metrics, printed beside the end-to-end ones."""
        return {}


# -- curate --------------------------------------------------------------

CURATE_STAGES = (
    ("operators.dedup", "exact_dedup",
     lambda t: dedup.exact_dedup(t["documents"]), dedup.exact_dedup_oracle),
    ("operators.dedup", "minhash_lsh_pairs",
     lambda t: dedup.minhash_lsh_pairs(t["documents"]),
     dedup.ngram_jaccard_oracle),
    ("operators.dedup", "dedup_components",
     lambda t: dedup.dedup_components(t["documents"]),
     dedup.dedup_components_oracle),
    ("operators.dedup", "semantic_dedup",
     lambda t: dedup.semantic_dedup(t["embeddings"]),
     dedup.semantic_dedup_oracle),
    ("operators.textops", "pipeline_curate", textops.pipeline_curate,
     textops.pipeline_curate_oracle),
    ("operators.pipeline", "pii_redact", pipeline.pii_redact,
     pipeline.pii_redact_oracle),
    ("operators.pipeline", "quality_repetition", pipeline.quality_repetition,
     pipeline.quality_repetition_oracle),
    ("operators.pipeline", "dataset_card_typed", pipeline.dataset_card_typed,
     pipeline.dataset_card_typed_oracle),
)


class Curate(Workload):
    """Batch curation. Each stage is materialised in full into Arrow on
    the driver, which is also what the output check compares, so the
    timed pass itself is checked; no store is touched. One untimed pass
    warms the JIT first, while DuckDB computes the oracles."""

    name = "curate"
    reports_banding = True

    def stage(self, k: int):
        layer, fn, build, _oracle = CURATE_STAGES[k]
        return self.tracer.call(layer, fn, lambda: build(self.t),
                                lambda df: df.toArrow())

    def op(self, i: int) -> list:
        return [self.stage(k) for k in range(len(CURATE_STAGES))]

    def warmup_calls(self) -> list:
        """One pass, its stages side by side."""
        def guarded(k):
            try:
                return self.stage(k)
            except Exception:
                self.failures.fail(f"warm-up {CURATE_STAGES[k][1]} raised: "
                                   + traceback.format_exc(limit=3))
        return [functools.partial(guarded, k)
                for k in range(len(CURATE_STAGES))]

    def warmed(self, outputs: list) -> None:
        self.results.append(outputs)

    def start_side_check(self, work_dir: str):
        """The stages' DuckDB oracles, in their own process."""
        sql_json = f"{work_dir}/oracle_sql.json"
        self._oracle_out = f"{work_dir}/oracle_rows.pickle"
        with open(sql_json, "w") as f:
            json.dump([sql() for *_x, sql in CURATE_STAGES], f)
        self._oracle = subprocess.Popen(
            [sys.executable, check.__file__, self.corpus, sql_json,
             self._oracle_out])

    def finish_side_check(self) -> None:
        if self._oracle.wait() != 0:
            raise RuntimeError("DuckDB oracle process failed")
        with open(self._oracle_out, "rb") as f:
            self.oracle_rows = pickle.load(f)

    def check(self) -> None:
        found = exact = 0
        for i, (_layer, fn, _build, _sql) in enumerate(CURATE_STAGES):
            want = self.oracle_rows[i]
            for out in self.results:
                if out is None or out[i] is None:
                    continue
                got = check.arrow_rows(out[i])
                self.failures.expect(f"{fn} vs oracle",
                                     check.mismatch(got, want))
                if fn == "minhash_lsh_pairs":
                    pairs = {tuple(r[:2]) for r in got[1]}
                    truth = {tuple(r[:2]) for r in want[1]}
                    found += len(pairs & truth)
                    exact += len(truth)
        self._recall = found / exact if exact else 1.0

    def summary(self, lat, elapsed):
        return {"curate_s": (statistics.median(lat), "s")}


# -- search --------------------------------------------------------------

SEARCH_KINDS = ("bm25", "phrase", "ivf", "pq", "lsh", "hybrid", "kv")


def query_vecs(emb, vec_ids: list[int]):
    """Stored vectors as a query set, keyed by their own ids."""
    return emb.filter(F.col("vec_id").isin(vec_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec"))


class Search(Workload):
    """Read path over persisted stores: seven request kinds in a fixed
    cycle, each request's parameters drawn from (seed, request index)."""

    name = "search"
    cycle = len(SEARCH_KINDS)
    # two requests of each kind, so the median is not one request's time
    min_ops = 2 * len(SEARCH_KINDS)
    ann_configs = (
        {"method": "lsh", "n_planes": 8, "n_tables": 4, "probe_radius": 2},
        {"method": "ivf", "n_cells": IVF_CELLS, "n_probe": IVF_CELLS},
        {"method": "pq", "m_sub": 8, "n_codes": 16, "rerank": 1_000_000},
    )

    def setup_stores(self, store_dir: str) -> None:
        docs, emb = self.t["documents"], self.t["embeddings"]
        call = self.tracer.call
        self.paths = {k: f"{store_dir}/{k}" for k in ("text", "ivf", "lsh",
                                                      "pq")}
        call("operators.textindex", "write_text_index",
             lambda: textindex.write_text_index(docs, self.paths["text"]))
        call("operators.similarity", "write_ivf_index",
             lambda: similarity.write_ivf_index(emb, self.paths["ivf"],
                                                n_cells=IVF_CELLS))
        call("operators.similarity", "write_ann_index",
             lambda: similarity.write_ann_index(emb, self.paths["lsh"]))
        call("operators.similarity", "write_pq_index",
             lambda: similarity.write_pq_index(emb, self.paths["pq"]))
        self.vocab = gen.Vocab(self.manifest["settings"]["vocab_size"],
                               self.manifest["settings"]["zipf_s"])
        self.texts = [r[0] for r in gen.read_docs(self.corpus)]

    def warmup_calls(self) -> list:
        """One request of each kind, with parameters the timed requests
        do not use."""
        return [functools.partial(self.run_op, WARMUP_BASE + j)
                for j in range(len(SEARCH_KINDS))]

    def request(self, i: int) -> dict:
        """Kind and parameters of request ``i`` for this seed."""
        rng = np.random.default_rng([self.seed, 3, i])
        kind = SEARCH_KINDS[i % len(SEARCH_KINDS)]
        st = self.manifest["settings"]
        req = {"kind": kind}
        if kind in ("bm25", "hybrid"):
            terms: list[str] = []
            while len(terms) < (3 if kind == "bm25" else 2):
                w = self.vocab.words[int(self.vocab.draw(rng, 1)[0])]
                if w not in terms:
                    terms.append(w)
            req["terms"] = tuple(terms)
        if kind == "phrase":
            while True:
                toks = gen.tokens(self.texts[int(rng.integers(len(self.texts)))])
                if len(toks) >= 2:
                    break
            j = int(rng.integers(len(toks) - 1))
            req["terms"] = tuple(toks[j:j + 2])
        if kind in ("ivf", "pq", "lsh"):
            req["vec_ids"] = sorted(int(v) for v in rng.choice(
                st["n_vecs"], ANN_QUERIES, replace=False))
        if kind == "hybrid":
            req["vec_id"] = int(rng.integers(st["n_vecs"]))
        if kind == "kv":
            cdf = gen.zipf_cdf(st["kv_keys"], st["kv_zipf_s"])
            req["keys"] = sorted({int(min(np.searchsorted(cdf, u, "right"),
                                          st["kv_keys"] - 1))
                                  for u in rng.random(8)})
        return req

    def op(self, i: int):
        req = self.request(i)
        spark, call, p = self.spark, self.tracer.call, self.paths
        emb = self.t["embeddings"]
        collect = _collect
        kind = req["kind"]
        if kind == "bm25":
            rows = call("operators.textindex", "bm25_topk_indexed",
                        lambda: textindex.bm25_topk_indexed(
                            spark, p["text"], req["terms"]), collect)
        elif kind == "phrase":
            rows = call("operators.textindex", "phrase_topk_indexed",
                        lambda: textindex.phrase_topk_indexed(
                            spark, p["text"], req["terms"]), collect)
        elif kind == "ivf":
            def build():
                entries, cent = similarity.read_ivf_index(spark, p["ivf"])
                return similarity.ivf_topk_indexed(
                    entries, cent, query_vecs(emb, req["vec_ids"]), k=K,
                    n_probe=len(cent))
            rows = call("operators.similarity", "ivf_topk_indexed", build,
                        collect)
        elif kind == "pq":
            def build():
                codes, books = similarity.read_pq_index(spark, p["pq"])
                return similarity.pq_topk_indexed(
                    codes, books, query_vecs(emb, req["vec_ids"]), emb, k=K,
                    rerank=1_000_000)
            rows = call("operators.similarity", "pq_topk_indexed", build,
                        collect)
        elif kind == "lsh":
            rows = call("operators.similarity", "lsh_topk_indexed",
                        lambda: similarity.lsh_topk_indexed(
                            similarity.read_ann_index(spark, p["lsh"]),
                            query_vecs(emb, req["vec_ids"]), k=K), collect)
        elif kind == "hybrid":
            rows = call("operators.retrieval", "hybrid_search_indexed",
                        lambda: retrieval.hybrid_search_indexed(
                            spark, p["text"], p["ivf"], req["terms"],
                            req["vec_id"]), collect)
        else:
            def build():
                col = spark.read.parquet(f"{self.corpus}/kv.parquet")
                keys = spark.createDataFrame([(k,) for k in req["keys"]],
                                             "key long")
                return kv.get_many(kv.key_join(col, keys))
            rows = call("operators.kv", "key_join+get_many", build, collect)
        return req, rows

    def check(self) -> None:
        """Each request against the non-indexed operator (bm25, phrase,
        hybrid, KV) or brute force (IVF, PQ, LSH recall) on the same
        inputs. The references are independent, so they run on four
        driver threads."""
        done = [r for r in self.results if r is not None]
        t, emb, spark = self.t, self.t["embeddings"], self.spark
        vec_ids = sorted({v for req, _ in done
                          for v in req.get("vec_ids", ())})

        def reference(req):
            kind = req["kind"]
            if kind == "bm25":
                return textops.bm25_search(t, req["terms"]).collect()
            if kind == "phrase":
                return textops.phrase_search(t, req["terms"]).collect()
            if kind == "hybrid":
                return retrieval.hybrid_search_rrf(
                    t, req["terms"], req["vec_id"]).collect()
            return None

        def brute():
            if not vec_ids:
                return []
            return similarity.brute_topk(emb, query_vecs(emb, vec_ids),
                                         k=K).collect()

        def kv_all():
            col = spark.read.parquet(f"{self.corpus}/kv.parquet")
            return {r["key"]: r for r in kv.get_many(col).collect()}

        with ThreadPoolExecutor(max_workers=4) as pool:
            refs = [pool.submit(reference, req) for req, _ in done]
            brute_f, kv_f = pool.submit(brute), pool.submit(kv_all)
            refs = [f.result() for f in refs]
            by_query: dict[int, list] = {}
            for r in brute_f.result():
                by_query.setdefault(r["query_id"], []).append(r)
            kv_ref = kv_f.result()

        recalls = []
        for (req, rows), ref in zip(done, refs):
            kind = req["kind"]
            if kind == "kv":
                ref = [kv_ref[k] for k in req["keys"] if k in kv_ref]
            elif ref is None:
                ref = [r for v in req["vec_ids"] for r in by_query.get(v, [])]
            if kind == "lsh":
                for v in req["vec_ids"]:
                    truth = {r["neighbor_id"] for r in ref
                             if r["query_id"] == v}
                    hits = {r["neighbor_id"] for r in rows
                            if r["query_id"] == v}
                    recalls.append(len(truth & hits) / len(truth)
                                   if truth else 1.0)
                self.failures.ok()
                continue
            self.failures.expect(f"{kind} {req}", check.mismatch(
                check.spark_rows(rows), check.spark_rows(ref)))
        self._recall = statistics.fmean(recalls) if recalls else 1.0

    def ann_query_ids(self) -> list[int]:
        """The query vectors of the run's first ANN request."""
        return next(req["vec_ids"] for req, _ in filter(None, self.results)
                    if "vec_ids" in req)

    def summary(self, lat, elapsed):
        out = {"search_p50_s": (statistics.median(lat), "s"),
               "search_p90_s": (statistics.quantiles(lat, n=10)[-1]
                                if len(lat) > 1 else lat[0], "s"),
               "search_qps": (len(lat) / elapsed, "req/s"),
               "ann_recall_at_10": (self._recall, "fraction")}
        for k, kind in enumerate(SEARCH_KINDS):
            out[f"search_{kind}_p50_s"] = (
                statistics.median(lat[k::len(SEARCH_KINDS)]), "s")
        return out


# -- ingest --------------------------------------------------------------

BATCH_DOCS = 50
BATCH_VECS = 20
MAX_CYCLES = 6


class Ingest(Workload):
    """Write path beside reads: each cycle dedups a fresh batch against
    the persisted dedup index, appends it to the dedup, text and IVF
    stores, then reads it back."""

    name = "ingest"
    max_ops = MAX_CYCLES
    reports_banding = True
    ann_configs = ({"method": "ivf", "n_cells": IVF_CELLS,
                    "n_probe": IVF_CELLS},)

    def setup_stores(self, store_dir: str) -> None:
        self.store_dir = store_dir
        docs, emb = self.t["documents"], self.t["embeddings"]
        call = self.tracer.call
        self.paths = {k: f"{store_dir}/{k}" for k in ("dedup", "text", "ivf")}
        call("operators.dedup", "write_dedup_index",
             lambda: dedup.write_dedup_index(docs, self.paths["dedup"]))
        call("operators.textindex", "write_text_index",
             lambda: textindex.write_text_index(docs, self.paths["text"]))
        call("operators.similarity", "write_ivf_index",
             lambda: similarity.write_ivf_index(emb, self.paths["ivf"],
                                                n_cells=IVF_CELLS))

    def prepare(self, work_dir: str) -> None:
        """Generate the run's batches as parquet before the timed region;
        the program reads them like any input."""
        st = self.manifest["settings"]
        standing = gen.read_docs(self.corpus)
        vecs = gen.read_vectors(self.corpus)
        self.batches = []
        for i in range(MAX_CYCLES):
            b = gen.ingest_batch(
                self.seed, i, st,
                first_doc_id=st["n_docs"] + i * BATCH_DOCS,
                first_vec_id=st["n_vecs"] + i * BATCH_VECS,
                standing_docs=standing, standing_vecs=vecs,
                n_docs=BATCH_DOCS, n_vecs=BATCH_VECS)
            d = f"{work_dir}/batches/{i}"
            os.makedirs(d, exist_ok=True)
            gen.write_table(b.pop("docs"), f"{d}/documents.parquet")
            gen.write_table(b.pop("emb"), f"{d}/embeddings.parquet")
            b["dir"] = d
            self.batches.append(b)

    def op(self, i: int) -> dict:
        b = self.batches[i]
        spark, call, p = self.spark, self.tracer.call, self.paths
        new_docs = lambda: spark.read.parquet(f"{b['dir']}/documents.parquet")  # noqa: E731
        new_emb = lambda: spark.read.parquet(f"{b['dir']}/embeddings.parquet")  # noqa: E731
        collect = _collect
        t0 = time.perf_counter()
        verdicts = call("operators.dedup", "incremental_dedup_indexed",
                        lambda: dedup.incremental_dedup_indexed(
                            new_docs(),
                            *dedup.read_dedup_index(spark, p["dedup"])),
                        collect)
        call("operators.dedup", "append_dedup_index",
             lambda: dedup.append_dedup_index(new_docs(), p["dedup"]))
        call("operators.textindex", "append_text_index",
             lambda: textindex.append_text_index(new_docs(), p["text"]))
        call("operators.similarity", "append_ivf_index",
             lambda: similarity.append_ivf_index(new_emb(), p["ivf"]))
        t1 = time.perf_counter()
        bm25 = call("operators.textindex", "bm25_topk_indexed",
                    lambda: textindex.bm25_topk_indexed(
                        spark, p["text"], (b["term"],)), collect)

        def ivf_probe():
            entries, cent = similarity.read_ivf_index(spark, p["ivf"])
            q = new_emb().filter(F.col("vec_id") == b["probe_vec_id"]) \
                .select(F.lit(-1).cast("long").alias("query_id"),
                        F.col("embedding").alias("q_vec"))
            return similarity.ivf_topk_indexed(entries, cent, q, k=K,
                                               n_probe=len(cent))
        ivf = call("operators.similarity", "ivf_topk_indexed", ivf_probe,
                   collect)
        return {"verdicts": verdicts, "bm25": bm25, "ivf": ivf,
                "step_s": t1 - t0, "probe_s": time.perf_counter() - t1}

    def check(self) -> None:
        flagged = planted = 0
        done = []
        for i, out in enumerate(self.results):
            if out is None:
                continue
            b = self.batches[i]
            done.append(b)
            v = {r["doc_id"]: r["is_dup"] for r in out["verdicts"]}
            self.failures.expect(
                f"cycle {i} verdict rows",
                None if len(v) == BATCH_DOCS
                else f"{len(v)} verdicts for {BATCH_DOCS} docs")
            for _orig, new, j in b["near_dup_pairs"]:
                if j > 0.5:
                    planted += 1
                    flagged += bool(v.get(new))
            sure = [new for _o, new, j in b["near_dup_pairs"] if j >= 0.8]
            missed = [d for d in sure if not v.get(d)]
            self.failures.expect(
                f"cycle {i} near-duplicates with jaccard >= 0.8 flagged",
                f"missed {missed}" if missed else None)
            got = sorted(r["doc_id"] for r in out["bm25"])
            self.failures.expect(
                f"cycle {i} bm25 read-your-writes",
                None if got == b["tagged_ids"]
                else f"{got} != {b['tagged_ids']}")
            top = [r["neighbor_id"] for r in out["ivf"]]
            self.failures.expect(
                f"cycle {i} ivf read-your-writes",
                None if top[:1] == [b["probe_vec_id"]]
                else f"top {top[:3]} lacks {b['probe_vec_id']}")
        self._recall = flagged / planted if planted else 1.0
        if done:
            self._check_rebuild(done)

    def docs_per_op(self) -> int:
        return BATCH_DOCS

    def ann_query_ids(self) -> list[int]:
        rng = np.random.default_rng([self.seed, 5])
        return sorted(int(i) for i in rng.choice(
            self.manifest["n_vecs"], ANN_QUERIES, replace=False))

    def summary(self, lat, elapsed):
        done = [r for r in self.results if r is not None]
        return {
            "ingest_step_p50_s": (statistics.median(
                [r["step_s"] for r in done]) if done else 0.0, "s"),
            "ingest_probe_p50_s": (statistics.median(
                [r["probe_s"] for r in done]) if done else 0.0, "s"),
            "ingest_docs_per_s": (BATCH_DOCS * len(done) / elapsed, "docs/s"),
        }

    def _check_rebuild(self, done: list) -> None:
        """bm25 on the appended text index equals bm25 on an index
        rebuilt from the standing corpus plus every appended batch."""
        spark = self.spark
        docs = self.t["documents"]
        for b in done:
            docs = docs.unionByName(
                spark.read.parquet(f"{b['dir']}/documents.parquet"))
        rebuilt = f"{self.store_dir}/text_rebuilt"
        textindex.write_text_index(docs, rebuilt)
        rng = np.random.default_rng([self.seed, 4])
        vocab = gen.Vocab(self.manifest["settings"]["vocab_size"],
                          self.manifest["settings"]["zipf_s"])
        query = (done[-1]["term"],
                 *(vocab.words[int(i)] for i in vocab.draw(rng, 2)))
        a = textindex.bm25_topk_indexed(spark, self.paths["text"],
                                        query).collect()
        r = textindex.bm25_topk_indexed(spark, rebuilt, query).collect()
        self.failures.expect("bm25 appended vs rebuilt index",
                             check.mismatch(check.spark_rows(a),
                                            check.spark_rows(r)))


WORKLOADS = {w.name: w for w in (Curate, Search, Ingest)}
