"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The workload tests run each workload end to end on a tiny corpus, with
tracing off and on (a few minutes in all: every run starts Spark).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import tracing  # noqa: E402

TINY = {"n_docs": 200, "n_vecs": 80, "kv_rows": 1000, "kv_keys": 100}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generator_is_deterministic(tmp_path):
    a = gen.generate(7, str(tmp_path / "a"), TINY)
    b = gen.generate(7, str(tmp_path / "b"), TINY)
    c = gen.generate(8, str(tmp_path / "c"), TINY)
    assert a == b
    for t in ("documents", "embeddings", "kv"):
        ta = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert ta.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not ta.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))


def test_generator_plants_its_properties(tmp_path):
    m = gen.generate(3, str(tmp_path), {**TINY, "n_docs": 1000})
    got = m["measured"]
    assert got["exact_dup_share"] == pytest.approx(0.04, abs=0.005)
    assert got["near_dup_share"] == pytest.approx(0.06, abs=0.005)
    assert got["near_dup_min_jaccard"] > 0.5
    assert 0.04 < got["pii_share"] < 0.15
    assert got["vocab_size"] > 5000


def test_generator_uses_the_library_language_profiles():
    from resin_spark.functions.text import LANG_PROFILES
    assert gen.LANG_PROFILES == LANG_PROFILES


def test_ingest_batch_terms_are_unique(tmp_path):
    gen.generate(5, str(tmp_path), TINY)
    docs, vecs = gen.read_docs(str(tmp_path)), gen.read_vectors(str(tmp_path))
    b = gen.ingest_batch(5, 0, TINY, 200, 80, docs, vecs, 50, 20)
    assert not any(b["term"] in gen.tokens(d[0]) for d in docs)
    texts = b["docs"].column("text").to_pylist()
    hits = [200 + i for i, t in enumerate(texts) if b["term"] in gen.tokens(t)]
    assert hits == b["tagged_ids"]


def test_parse_metric():
    assert tracing.parse_metric("1,234") == 1234
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n2.5 s (0 ms, 1 ms, "
        "2.4 s (stage 3.0: task 7))") == 2.5
    assert tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n1.5 KiB (...)") == 1536
    assert tracing.parse_metric(None) == 0.0


def test_self_time_subtracts_covered_child_time():
    t = tracing.Tracer("w", enabled=True)
    t.spans = [
        {"id": 0, "name": "op", "start": 0.0, "end": 10.0, "parent": None},
        {"id": 1, "name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"id": 2, "name": "b", "start": 3.0, "end": 6.0, "parent": 0},
    ]
    assert t.self_times() == {"op": 5.0, "a": 3.0, "b": 3.0}


def test_exits_nonzero_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = _spec()
    p = subprocess.run(
        [*spec["command"], "--workload", spec["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _run(workload: str, trace: int, capsys, monkeypatch) -> dict:
    import run
    monkeypatch.setattr(gen, "DEFAULTS", {**gen.DEFAULTS, **TINY})
    assert run.main(["--workload", workload, "--seed", "1",
                     "--seconds", "1", "--trace", str(trace)]) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["curate", "search", "ingest"])
def test_workload_emits_every_metric(workload, capsys, monkeypatch):
    spec = _spec()
    plain = _run(workload, 0, capsys, monkeypatch)
    assert plain["correct"] and plain["failed"] == 0
    assert sorted(plain["metrics"]) == sorted(m["name"]
                                              for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        got = plain["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0

    traced = _run(workload, 1, capsys, monkeypatch)
    assert traced["correct"]
    metrics = traced["metrics"]
    assert sorted(metrics) == sorted(m["name"] for m in spec["per_layer"])
    # every job of the timed region is attributed to a layer
    jobs = sum(v["value"] for k, v in metrics.items()
               if k.startswith("operators.") and k.endswith(".jobs"))
    assert metrics["trace.unattributed_jobs"]["value"] == 0
    assert jobs * metrics["trace.ops"]["value"] == pytest.approx(
        metrics["trace.jobs"]["value"])
    assert metrics["trace.jobs"]["value"] > 0
