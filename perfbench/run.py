"""Benchmark of the near-duplicate engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``). The line before it is ``{"info": ...}``: cores,
heap, Spark version, host-supply probe and run counts. A full record with
every span is written under ``.perfbench/out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the engine package and bench.py


def parse_args(argv=None):
    from workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sizes", choices=sorted(SIZES), default="full")
    return ap.parse_args(argv)


def host_env(work: str) -> dict:
    """Fit the Spark session to this host and keep every file it writes
    inside ``work``. Must run before pyspark starts the JVM."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(2048, total_mb // 8))
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            "TMPDIR": tmp,
            # every JVM, the spark-submit launcher too
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # the Python workers import the engine package from the checkout
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        }
    )
    return {
        "cores": cores,
        "heap_mb": heap_mb,
        "conf": {"spark.ui.showConsoleProgress": "false"},
    }


def kernel_probe(sizes) -> float:
    """Seconds for ``compute_signatures_batch`` on a fixed batch (the same
    rows for every seed). Recorded as a host-supply diagnostic; no metric is
    rescaled by it."""
    import numpy as np

    from near_duplicate_detection_spark.config import NDDConfig
    from near_duplicate_detection_spark.functions.hashing import perm_params
    from near_duplicate_detection_spark.functions.signatures import compute_signatures_batch
    from near_duplicate_detection_spark.sources.pages import generate_rows

    cfg = NDDConfig()
    rows = generate_rows(np.arange(sizes.kernel_docs))
    a, b = perm_params(cfg.num_perms)
    t0 = time.perf_counter()
    compute_signatures_batch(rows.url, rows.text, cfg, a, b)
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from layers import process_tree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    # fails (no result printed) where the engine package or bench.py is absent
    args = parse_args(argv)
    from near_duplicate_detection_spark.config import NDDConfig
    from near_duplicate_detection_spark.session import get_spark

    import workloads
    from layers import Recorder, RssSampler

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    env = host_env(work)

    sizes = workloads.SIZES[args.sizes]
    cores = env["cores"]
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = get_spark(
                app_name="ndd-perfbench", master=f"local[{cores}]", extra_conf=env["conf"]
            )
            session_s = time.perf_counter() - t0
            try:
                probe_start = kernel_probe(sizes)
                rec = Recorder(spark, bool(args.trace))
                # engine defaults, with url-hash buckets sized to this host by
                # the engine's own rule (at least 2x the local core count);
                # the default 64 suits a 32-core host
                cfg = NDDConfig(num_buckets=2 * cores)
                run = workloads.Run(spark, cfg, work, sizes, args.seed, rec)
                try:
                    e2e = workloads.WORKLOADS[args.workload](run, args.seconds)
                except Exception as e:
                    traceback.print_exc()
                    run.check("workload_completed", False, repr(e))
                    e2e = {}
                probe_end = kernel_probe(sizes)
                spark_version = spark.version
            finally:
                stop_spark(spark)
        setup_s = session_s + run.info.get("setup.base_build_s", 0.0)
        e2e.update(
            {
                "setup_s": (setup_s, "s"),
                "ok_op_frac": (1 - run.failed / max(run.attempted, 1), "frac"),
            }
        )
        for name, unit in (("docs_per_s", "docs/s"), ("dup_pair_recall", "frac")):
            e2e.setdefault(name, (0.0, unit))
        layer = layer_metrics(run, cores, session_s, probe_start, probe_end, rss.peak_mb)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "sizes": sizes.__dict__,
            "cores": cores,
            "heap_mb": env["heap_mb"],
            "num_buckets": run.cfg.num_buckets,
            "spark_version": spark_version,
            "host_probe_s": {"start": probe_start, "end": probe_end},
            "peak_rss_procs": rss.peak_procs,
            "setup.session_s": session_s,
            **run.info,
            "failures": run.failures,
        }
        write_record(args, info, e2e, layer, run.rec.dump(cores))
        metrics = layer if args.trace else e2e
        print(json.dumps({"info": info}))
        print(
            json.dumps(
                {
                    "correct": run.failed == 0,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                }
            )
        )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_metrics(
    run, cores: int, session_s: float, probe_start: float, probe_end: float, peak_rss_mb: float
) -> dict:
    from layers import CALL_FIELDS, WRITE_FIELDS
    from workloads import CONTRACT_QUERIES, LAYER_CALLS, READ_CALL, WRITE_CALLS

    rec, since = run.rec, run.setup_spans
    out = {}
    for call in LAYER_CALLS:
        fields = CALL_FIELDS + (WRITE_FIELDS if call in WRITE_CALLS else ())
        out.update(rec.layer_metrics(call, fields, cores, since))
    del out["stage1_signatures.shuffle_bytes"]  # stage 1 maps each bucket in place
    for name in [f"contract.{q}" for q in CONTRACT_QUERIES] + ["query_top_k_indexed"]:
        out.update(rec.layer_metrics(name, CALL_FIELDS[:2], cores, since))  # wall_s, jobs
    out.update(rec.layer_metrics(READ_CALL, CALL_FIELDS[:1], cores, since))
    docs = run.sizes.kernel_docs
    out["signatures.kernel_docs_per_s"] = (docs / statistics.median([probe_start, probe_end]), "docs/s")
    out["setup.session_s"] = (session_s, "s")
    out["setup.base_build_s"] = (run.info.get("setup.base_build_s", 0.0), "s")
    # ungated: G1 heap sizing alone moves it by up to ~600 MB between runs
    out["peak_rss_mb"] = (peak_rss_mb, "MB")
    return out


def write_record(args, info, e2e, layer, spans) -> None:
    out = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"info": info, "end_to_end": e2e, "per_layer": layer, "spans": spans}, f)


if __name__ == "__main__":
    sys.exit(main())
