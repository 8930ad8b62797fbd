"""Per-call layer accounting, measured from outside the engine.

Every engine call the benchmark makes goes through ``Recorder.call``. With
tracing off it only times the call. With tracing on it also

* attributes Spark jobs to the call by job-id interval: the jobs with ids in
  ``[nextJobId before, nextJobId after)``. Job groups are thread-local and
  miss the jobs the engine submits from its own thread pools;
* reads each job and its stages from Spark's status store (stages marked
  ``SKIPPED`` reused an earlier shuffle and did no work);
* diffs the catalog directory, for calls that write the catalog.

A span is the call (parent) with its jobs (children). The call's self time
is its wall time minus the part of it that the jobs cover.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field

# per-call fields reported as per-layer metrics
CALL_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("shuffle_bytes", "bytes"),
    ("busy_frac", "frac"),
    ("driver_self_s", "s"),
)
WRITE_FIELDS = (("catalog_bytes_written", "bytes"), ("catalog_files_written", "count"))


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    jobs: list[dict] = field(default_factory=list)
    catalog: dict | None = None
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def layer_metrics(self, cores: int) -> dict[str, float]:
        run_s = sum(j["executor_run_s"] for j in self.jobs)
        out = {
            "wall_s": self.wall_s,
            "jobs": len(self.jobs),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(j["executor_cpu_s"] for j in self.jobs),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in self.jobs),
            "busy_frac": run_s / (self.wall_s * cores) if self.wall_s > 0 else 0.0,
            "driver_self_s": self.wall_s - _covered(self.jobs, self.start, self.end),
        }
        if self.catalog is not None:
            out.update(self.catalog)
        return out


def _covered(jobs: list[dict], lo: float, hi: float) -> float:
    """Length of the union of the jobs' [start, end] intervals inside [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(j["start"], lo), min(j["end"], hi)) for j in jobs):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:  # removed while walking
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def catalog_diff(before: dict, after: dict) -> dict[str, int]:
    """Files that are new or rewritten in ``after``, and their bytes."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return {
        "catalog_files_written": len(changed),
        "catalog_bytes_written": sum(after[p][0] for p in changed),
    }


class Recorder:
    """Times (and, when ``trace`` is set, attributes) the benchmark's calls."""

    def __init__(self, spark, trace: bool):
        self.trace = trace
        self.spans: list[Span] = []
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def call(self, name: str, fn, catalog_dir: str | None = None):
        """Run ``fn()`` as the span ``name``; re-raises what ``fn`` raises."""
        before = _snapshot(catalog_dir) if self.trace and catalog_dir else None
        j0 = self._next_job() if self.trace else 0
        span = Span(name, time.time(), 0.0)
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception as e:
            span.error = f"{type(e).__name__}: {e}"[:300]
            raise
        finally:
            span.end = span.start + (time.perf_counter() - t0)
            if self.trace:
                span.jobs = self._jobs(j0, self._next_job())
                if before is not None:
                    span.catalog = catalog_diff(before, _snapshot(catalog_dir))
            self.spans.append(span)

    def _jobs(self, j0: int, j1: int) -> list[dict]:
        # the status store is fed by the listener bus: drain it first so the
        # call's last job has its end event and stage metrics applied
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        jobs = []
        for jid in range(j0, j1):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else 0.0,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else 0.0,
                "stages": 0,
                "executor_run_s": 0.0,
                "executor_cpu_s": 0.0,
                "shuffle_bytes": 0,
            }
            for sid in conv.asJava(jd.stageIds()):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["executor_run_s"] += sd.executorRunTime() / 1e3
                job["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                job["shuffle_bytes"] += sd.shuffleWriteBytes()
            jobs.append(job)
        return jobs

    def walls(self, name: str, since: int = 0) -> list[float]:
        return [s.wall_s for s in self.spans[since:] if s.name == name]

    def layer_metrics(self, name: str, fields, cores: int, since: int = 0) -> dict:
        """``name.field`` -> (median over the call's spans after ``since``,
        unit); 0 for a call this run did not make."""
        per = [s.layer_metrics(cores) for s in self.spans[since:] if s.name == name and s.error is None]
        out = {}
        for key, unit in fields:
            vals = [m[key] for m in per if key in m]
            out[f"{name}.{key}"] = (statistics.median(vals) if vals else 0, unit)
        return out

    def dump(self, cores: int) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "error": s.error,
                "self": s.layer_metrics(cores) if self.trace else {"wall_s": s.wall_s},
                "children": s.jobs,
            }
            for s in self.spans
        ]


class RssSampler:
    """Peak resident memory of this process and every descendant (the Spark
    driver JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.peak_procs = 0  # processes alive at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        rss = [_rss_kb(p) for p in process_tree(os.getpid())]
        if sum(rss) > self.peak_kb:
            self.peak_kb, self.peak_procs = sum(rss), sum(r > 0 for r in rss)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def process_tree(root: int) -> list[int]:
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    stack.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return pids


def _rss_kb(pid: int) -> int:
    """VmRSS of a java or python process, else 0: a child the JVM forks to
    exec a helper (``chmod``) briefly shares, and would double, its RSS."""
    try:
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return 0
    fields = dict(line.split(":", 1) for line in status.splitlines() if ":" in line)
    if not fields.get("Name", "").strip().startswith(("java", "python")):
        return 0
    return int(fields.get("VmRSS", "0 kB").split()[0])
