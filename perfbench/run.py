"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload curate|search|ingest \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its corpus from the
seed under ``.perfbench/``, starts Spark on ``local[<cores>]``, sets up
(session, inputs, stores) as many times as ``SETUPS`` says and reports
the median, warms up, runs the workload's closed loop for at least
``--seconds``, then checks every output.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer ones). A full record, with the run's stamp, generator
settings, measured corpus properties and spans, goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Set-ups per run; their median is setup_s. Each one starts a fresh
# SparkSession, reads the inputs and builds the workload's stores.
SETUPS = {"curate": 3, "search": 1, "ingest": 1}
DRIVER_MEMORY = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("curate", "search", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the run's work directory."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData",
    }
    if trace:   # keep every job, stage and execution of the run readable
        for k in ("spark.ui.retainedJobs", "spark.ui.retainedStages",
                  "spark.sql.ui.retainedExecutions"):
            confs[k] = "1000000"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "RESIN_SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf '{k}={v}'" for k, v in confs.items()) + " pyspark-shell",
    })


def files_hash() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, names in sorted(os.walk(HERE)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for n in sorted(names):
            if n.endswith(".pyc"):
                continue
            path = os.path.join(dirpath, n)
            h.update(os.path.relpath(path, HERE).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def git_revision() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def store_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a store directory; checksum and marker
    files are not counted."""
    n = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and every process below it,
    and wait for them to end."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    from tracing import descendants
    left = descendants(os.getpid())
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        left = [p for p in left if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        if not left:
            return
        time.sleep(0.2)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import resin_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: resin_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    results_dir = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(results_dir, exist_ok=True)
    spark_env(work, trace)

    import gen
    import workloads
    from tracing import RssSampler, Tracer

    phases = {"start": time.perf_counter() - T_START}
    manifest = gen.generate(args.seed, f"{work}/corpus")
    phases["generate"] = time.perf_counter() - T_START
    tracer = Tracer(args.workload, trace)
    wl = workloads.WORKLOADS[args.workload](
        args.seed, f"{work}/corpus", manifest, tracer)
    wl.prepare(work)

    from resin_spark.session import get_spark
    spark = None
    setups, lat = [], []
    try:
        with RssSampler() as rss:
            for i in range(SETUPS[args.workload]):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = get_spark("perfbench", master=f"local[{cores()}]")
                spark.sparkContext.setLogLevel("ERROR")
                tracer.bind(spark)
                wl.load(spark)
                wl.setup_stores(f"{work}/stores{i}")
                setups.append(time.perf_counter() - t0)

            # Untimed calls that warm the JIT and the operators' code
            # paths, on four driver threads to keep the run short; their
            # outputs are checked like the timed ones. Check work that
            # needs no Spark runs beside them in its own process. Neither
            # is traced nor counts towards the memory peak, and both end
            # before the timed region starts.
            phases["setup"] = time.perf_counter() - T_START
            with rss.paused(), tracer.paused():
                side = wl.start_side_check(work)
                with ThreadPoolExecutor(max_workers=cores()) as pool:
                    wl.warmed(list(pool.map(lambda f: f(),
                                            wl.warmup_calls())))
                wl.finish_side_check()

            phases["warmup"] = time.perf_counter() - T_START
            with tracer.timed():
                start = time.perf_counter()
                i = 0
                while True:
                    t = time.perf_counter()
                    with tracer.op(i):
                        wl.run_op(i)
                    lat.append(time.perf_counter() - t)
                    i += 1
                    if i == wl.max_ops:
                        break
                    if (time.perf_counter() - start >= args.seconds
                            and i % wl.cycle == 0 and i >= wl.min_ops):
                        break
                elapsed = time.perf_counter() - start

        phases["timed"] = time.perf_counter() - T_START
        wl.check()
        phases["check"] = time.perf_counter() - T_START

        e2e = {
            "setup_s": (statistics.median(setups), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "ops_per_s": (len(lat) / elapsed, "1/s"),
            "approx_recall": (wl.approx_recall(), "fraction"),
        }
        # Printed and recorded, not gated: the JVM's share moves by about
        # 10% between identical runs as its heap sizing varies.
        memory = {"peak_rss_mb": (rss.peak / 2**20, "MB")}
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "stamp": {
                "nproc": os.cpu_count(), "cores_used": cores(),
                "master": f"local[{cores()}]",
                "git_revision": git_revision(),
                "benchmark_files_sha256": files_hash(),
                "pyspark": __import__("pyspark").__version__,
                "java": spark.sparkContext._jvm.System.getProperty(
                    "java.version"),
                "python": sys.version.split()[0],
            },
            "corpus": {k: v for k, v in manifest.items()
                       if k != "near_dup_pairs"},
            "setups_s": setups, "op_latencies_s": lat, "timed_s": elapsed,
            "phase_end_s": phases,
            "peak_memory_mb": {k: v / 2**20 for k, v in rss.peak_parts.items()},
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "workload_metrics": {**wl.summary(lat, elapsed), **memory},
            "failures": wl.failures.failed,
        }
        if trace:
            layer = per_layer(wl, tracer, lat, e2e)
            layer["memory.peak_mb"] = memory["peak_rss_mb"]
            for part, size in rss.peak_parts.items():
                layer[f"memory.{part}_mb"] = (size / 2**20, "MB")
            record["per_layer"] = {k: v for k, (v, _u) in layer.items()}
            record["self_time_s"] = tracer.self_times()
            record["spans"] = tracer.spans
            metrics = layer
        else:
            metrics = e2e
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    phases["stop"] = time.perf_counter() - T_START

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)

    f = wl.failures
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(lat)} timed_s={elapsed:.3f}")
    for k, (v, unit) in {**e2e, **memory, **wl.summary(lat, elapsed)}.items():
        print(f"  {k:28s} {v:.6g} {unit}")
    print(f"  {'failed_ops_ratio':28s} {len(f.failed) / max(1, f.attempted):.6g}"
          f" fraction ({len(f.failed)}/{f.attempted})")
    for what in f.failed[:10]:
        print(f"  FAILED {what}")
    print("stamp " + json.dumps(record["stamp"], sort_keys=True))
    print("corpus " + json.dumps(record["corpus"]["measured"], sort_keys=True))
    print(json.dumps({
        "correct": not f.failed,
        "attempted": max(1, f.attempted),
        "failed": len(f.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def per_layer(wl, tracer, lat: list[float], e2e: dict) -> dict:
    """The traced run's per-layer metrics, per operation of the timed
    region; its own end-to-end figures (traced minus an untraced run's is
    the tracing overhead); the job count of the timed region and the
    jobs no traced call claimed; and the useful-to-attempted ratios,
    measured once after the timed region."""
    from resin_spark.operators import dedup, similarity
    from tracing import LAYER_FIELDS, OPERATOR_LAYERS
    from workloads import query_vecs

    ops = max(1, len(lat))
    out = {}
    for layer in OPERATOR_LAYERS:
        st = tracer.layers[layer]
        for f in LAYER_FIELDS:
            unit = ("s" if f.endswith("_s") else
                    "B" if f.endswith("_bytes") else "count")
            out[f"{layer}.{f}"] = (st[f] / ops, unit)
    py = tracer.python
    out["functions.python_s"] = (py["python_s"] / ops, "s")
    out["functions.python_rows"] = (py["python_rows"] / ops, "count")
    out["functions.python_bytes"] = (py["python_bytes"] / ops, "B")
    out["functions.python_rows_per_doc"] = (
        py["python_rows"] / (ops * wl.docs_per_op()), "count")
    out["io.input_bytes"] = (tracer.io["input_bytes"] / ops, "B")
    out["io.output_bytes"] = (tracer.io["output_bytes"] / ops, "B")
    out["io.files_written"] = (tracer.io["files_written"] / ops, "count")
    stores = getattr(wl, "paths", {})
    out["io.store_files"] = (
        sum(store_stats(p)[0] for p in stores.values()), "count")

    t = wl.t
    scan = 0.0
    configs = wl.ann_configs
    if configs:
        emb = t["embeddings"]
        rep = similarity.ann_recall_report(
            emb, query_vecs(emb, wl.ann_query_ids()), configs=configs)
        scan = statistics.fmean(r["scan_fraction"] for r in rep.collect())
    out["operators.similarity.scan_fraction"] = (scan, "fraction")
    precision = 0.0
    if wl.reports_banding:
        row = dedup.minhash_banding_report(t["documents"],
                                           bands_grid=(32,)).first()
        precision = row["candidate_precision"] or 0.0
    out["operators.dedup.candidate_precision"] = (precision, "fraction")
    read = 0.0
    if "text" in stores:
        _n, size = store_stats(stores["text"])
        calls = tracer.layers["operators.textindex"]["calls"]
        if size and calls:
            read = tracer.layers["operators.textindex"]["input_bytes"] / (
                size * calls)
    out["operators.textindex.read_fraction"] = (read, "fraction")

    jobs = tracer.timed_job_count()
    attributed = sum(tracer.layers[layer]["jobs"] for layer in OPERATOR_LAYERS)
    out["trace.ops"] = (ops, "count")
    out["trace.jobs"] = (jobs, "count")
    out["trace.unattributed_jobs"] = (jobs - attributed, "count")
    out["trace.setup_s"] = (e2e["setup_s"][0], "s")
    out["trace.op_p50_s"] = (e2e["op_p50_s"][0], "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
