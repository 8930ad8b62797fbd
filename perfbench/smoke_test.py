"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py          # everything (~6 min on 4 cores)
    python3 perfbench/smoke_test.py --quick  # the checks that need no Spark

1. The cluster check passes on the planted truth and fails when one truth
   pair is split apart (no Spark needed).
2. Each workload at tiny sizes, untraced and traced, prints a result whose
   metrics are exactly the end-to-end (untraced) or per-layer (traced)
   metrics of BENCHMARK.json, each with its unit, and passes its checks.
3. In a directory holding only BENCHMARK.json and perfbench/, the benchmark
   exits non-zero without printing a result.

Run from the repository root. Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)


def check_catches_split_pair() -> None:
    import pandas as pd

    import workloads
    from near_duplicate_detection_spark.sources.pages import truth_pairs

    n = 200
    ids = set(range(n))
    truth = workloads.truth_partition(ids, n)
    good = pd.DataFrame({"url": list(truth), "cluster_id": list(truth.values())})

    run = workloads.Run(None, None, "", workloads.SIZES["tiny"], 0, None)
    workloads.check_clusters(run, good, ids, n, exact=True)
    assert run.failed == 0, run.failures

    # split one planted pair: give its second url a cluster of its own
    victim = truth_pairs(n).url_b.iloc[0]
    bad = good.copy()
    bad.loc[bad.url == victim, "cluster_id"] = "split-off"
    run = workloads.Run(None, None, "", workloads.SIZES["tiny"], 0, None)
    recall = workloads.check_clusters(run, bad, ids, n, exact=False)
    assert recall < 1.0 and run.failed >= 1, (recall, run.failures)
    print("ok: a split truth pair fails the cluster check", run.failures)


def run_bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=900,
    )


def check_metrics_print() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            p = run_bench(ROOT, "--workload", w["name"], "--seed", "7", "--seconds", "1",
                          "--trace", trace, "--sizes", "tiny")
            assert p.returncode == 0, p.stderr[-3000:]
            result = json.loads(p.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
            assert result["correct"] and result["failed"] == 0, p.stdout.splitlines()[-2]
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, set(got) ^ set(want)
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            print(f"ok: {w['name']} trace={trace} prints {len(got)} {kind} metrics")


def check_fails_without_engine() -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run_bench(bare, "--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0")
        assert p.returncode != 0 and '"correct"' not in p.stdout, (p.returncode, p.stdout)
        print("ok: without the engine the benchmark exits", p.returncode, "and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    check_catches_split_pair()
    check_fails_without_engine()
    if "--quick" not in sys.argv:
        check_metrics_print()
