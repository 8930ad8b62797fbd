"""The two workloads and their correctness checks.

``build``  from-scratch builds (stage0_ingest -> stage3_clusters) of one
           generated corpus: the north-star dedup path.
``delta``  append/update/delete cycles on one evolving catalog: the commit
           protocol, delta, merge-on-read and lineage layers.

Both are a closed loop with one client. Traced runs add diagnostic calls
after the measured part (serving and contract queries on ``build``,
``run_incremental`` and a from-scratch rebuild on ``delta``), so every call
named in the layer account is traced without lengthening untraced runs.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from bench import CONTRACT_QUERIES
from layers import Recorder

STAGES = (
    "stage0_ingest",
    "stage1_signatures",
    "stage2_pairs",
    "stage2b_substring",
    "stage3_clusters",
)
DELTA_OPS = ("append_pages", "update_pages", "delete_pages")
WRITE_CALLS = STAGES + DELTA_OPS + ("run_incremental", "build_serving_index")
LAYER_CALLS = WRITE_CALLS + ("query_top_k", "query_top_k_batch")
# a call traced for its wall time only (with merge-on-read applied on delta)
READ_CALL = "read_clusters"
CONTRACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
CONTRACT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


@dataclass(frozen=True)
class Sizes:
    build_docs: int  # corpus of each from-scratch build
    base_docs: int  # delta: base catalog built during setup
    batch_docs: int  # delta: docs appended, updated and deleted per cycle
    kernel_docs: int  # rows in the fixed signature-kernel batch


SIZES = {
    "full": Sizes(build_docs=2000, base_docs=1000, batch_docs=50, kernel_docs=1000),
    "tiny": Sizes(build_docs=200, base_docs=200, batch_docs=20, kernel_docs=100),
}


class Run:
    """Shared state of one benchmark run: session, recorder, op counters."""

    def __init__(self, spark, cfg, work: str, sizes: Sizes, seed: int, rec: Recorder | None):
        self.spark, self.cfg, self.work, self.sizes = spark, cfg, work, sizes
        self.seed = seed
        self.rec = rec
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}
        self.setup_spans = 0  # spans recorded before the measured part
        self._dirs = 0

    @property
    def trace(self) -> bool:
        return self.rec.trace

    def new_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}-{self._dirs}")

    def op(self, name: str, fn, catalog_dir: str | None = None):
        """One engine call; a raise counts as a failed op and is re-raised."""
        self.attempted += 1
        try:
            return self.rec.call(name, fn, catalog_dir)
        except Exception as e:
            self.failed += 1
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed {detail}"[:300])
        return ok


# ---------------------------------------------------------------- checks


def truth_partition(ids, n_docs: int) -> dict[str, str]:
    """url -> component label of the planted truth pairs restricted to ``ids``.

    The generator plants exact, near and substring duplicates and nothing
    else above the thresholds, so a correct build's clusters are exactly
    these components (singletons included)."""
    from near_duplicate_detection_spark.sources.pages import truth_pairs, url_of

    urls = [url_of(i) for i in sorted(ids)]
    parent = {u: u for u in urls}

    def find(u):
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    tp = truth_pairs(n_docs)
    for a, b in zip(tp.url_a, tp.url_b):
        if a in parent and b in parent:
            parent[find(a)] = find(b)
    return {u: find(u) for u in urls}


def partition(labels: dict) -> set[frozenset]:
    groups: dict = {}
    for url, label in labels.items():
        groups.setdefault(label, set()).add(url)
    return {frozenset(g) for g in groups.values()}


def pair_recall(labels: dict[str, object], ids, n_docs: int) -> float:
    """Share of planted pairs among ``ids`` that share a cluster."""
    from near_duplicate_detection_spark.sources.pages import truth_pairs, url_of

    live = {url_of(i) for i in ids}
    tp = truth_pairs(n_docs)
    pairs = [(a, b) for a, b in zip(tp.url_a, tp.url_b) if a in live and b in live]
    hit = sum(a in labels and b in labels and labels[a] == labels[b] for a, b in pairs)
    return hit / len(pairs) if pairs else 1.0


def check_clusters(run: Run, clusters: pd.DataFrame, ids, n_docs: int, exact: bool) -> float:
    """Every live doc once, no decoy with its base, recall >= 0.99; with
    ``exact`` the partition must equal the planted truth's components."""
    from near_duplicate_detection_spark.sources.pages import url_of

    labels = dict(zip(clusters.url, clusters.cluster_id))
    want = {url_of(i) for i in ids}
    run.check(
        "clusters_cover_live_docs",
        len(clusters) == len(want) and set(labels) == want,
        f"rows={len(clusters)} distinct={len(labels)} live={len(want)}",
    )
    decoys = [(url_of(i), url_of(i - 7)) for i in ids if i % 20 == 9 and i - 7 in ids]
    merged = sum(labels.get(a, 0) == labels.get(b, 1) for a, b in decoys)
    run.check("decoys_not_merged", merged == 0, f"{merged}/{len(decoys)} decoys merged")
    recall = pair_recall(labels, ids, n_docs)
    run.check("dup_pair_recall", recall >= 0.99, f"recall={recall:.4f}")
    if exact:
        got, exp = partition(labels), partition(truth_partition(ids, n_docs))
        run.check("partition_equals_truth", got == exp, f"{len(got ^ exp)} groups differ")
    return recall


def read_clusters(run: Run, pipe, warm: int = 2, reads: int = 5) -> pd.DataFrame:
    """Read the clusters view (merge-on-read patch applied): ``warm`` untimed
    reads, then ``reads`` timed read ops."""
    for _ in range(warm):
        pipe.clusters_view().toPandas()
    out = None
    for _ in range(reads):
        out = run.op(READ_CALL, lambda: pipe.clusters_view().toPandas())
    return out


# ---------------------------------------------------------------- workloads


def build_catalog(run: Run, pages, root: str):
    """From-scratch build, one span per stage; returns the pipeline."""
    from near_duplicate_detection_spark.pipeline import NDDPipeline

    pipe = NDDPipeline(run.spark, run.cfg, root)
    run.op("stage0_ingest", lambda: pipe.stage0_ingest(pages, resume=False), root)
    for name in STAGES[1:]:
        run.op(name, lambda: getattr(pipe, name)(resume=False), root)
    return pipe


def build_workload(run: Run, seconds: float) -> dict:
    """From-scratch builds of one corpus, the first in a fresh application:
    a batch dedup job pays JVM and plan warm-up on every run, so nothing is
    built before the measured part."""
    from near_duplicate_detection_spark.sources.pages import generate_pages

    n = run.sizes.build_docs
    pages = generate_pages(run.spark, n, seed=run.seed)
    builds, pipe, root = [], None, None
    t_run = time.perf_counter()
    while not builds or time.perf_counter() - t_run < seconds:
        if root:
            shutil.rmtree(root, ignore_errors=True)
        root = run.new_dir("build")
        t0 = time.perf_counter()
        pipe = build_catalog(run, pages, root)
        builds.append(time.perf_counter() - t0)
    clusters = read_clusters(run, pipe)
    recall = check_clusters(run, clusters, set(range(n)), n, exact=False)
    metrics = {
        "docs_per_s": (n * len(builds) / sum(builds), "docs/s"),
        "dup_pair_recall": (recall, "frac"),
    }
    run.info["builds"] = len(builds)
    if run.trace:
        serve_diagnostics(run, pipe, clusters)
        contract_diagnostics(run)
    return metrics


def delta_workload(run: Run, seconds: float) -> dict:
    from near_duplicate_detection_spark.sources.pages import (
        PAGES_SCHEMA,
        generate_pages,
        generate_rows,
        url_of,
    )

    spark, sz = run.spark, run.sizes
    rng = np.random.RandomState(run.seed)
    root = run.new_dir("delta")
    t0 = time.perf_counter()
    pipe = build_catalog(run, generate_pages(spark, sz.base_docs, seed=run.seed), root)
    run.info["setup.base_build_s"] = time.perf_counter() - t0

    live, edits, next_id = set(range(sz.base_docs)), {}, sz.base_docs

    def pick(parity: int) -> list[int]:
        """``batch_docs`` live ids: one for each of a fixed set of residues
        ``id % 100`` of the given parity, drawn from the seeded generator.
        Planted roles repeat every 100 ids (period 20, and 50 for substring
        pairs), so every seed gets the same mix of roles; seeds vary the
        content, not the kind of work. Updates take even and deletes odd
        residues, so they never share an id."""
        by_res: dict[int, list[int]] = {}
        for i in sorted(live):
            by_res.setdefault(i % 100, []).append(i)
        res = range(parity, 100, 2)
        b = sz.batch_docs
        return [int(rng.choice(by_res[res[j * len(res) // b]])) for j in range(b)]

    def rows(ids):
        """Current pages rows of ``ids``: generated text plus its last edit."""
        ids = sorted(ids)
        pdf = generate_rows(np.array(ids), run.seed)
        pdf["text"] = pdf["text"] + [edits.get(i, "") for i in ids]
        return pdf

    since = run.setup_spans = len(run.rec.spans)
    cycles, docs = 0, 0
    t_run = time.perf_counter()
    while not cycles or time.perf_counter() - t_run < seconds:
        cycles += 1
        b = sz.batch_docs
        batch = generate_pages(spark, next_id + b, seed=run.seed, start=next_id)
        run.op("append_pages", lambda: pipe.append_pages(batch), root)
        live |= set(range(next_id, next_id + b))
        next_id += b

        upd = pick(0)
        for i in upd:
            edits[i] = f" zzedit{cycles}"
        changed = spark.createDataFrame(rows(upd), schema=PAGES_SCHEMA)
        run.op("update_pages", lambda: pipe.update_pages(changed), root)

        gone = pick(1)
        run.op("delete_pages", lambda: pipe.delete_pages([url_of(i) for i in gone]), root)
        live -= set(gone)
        docs += 3 * b
    write_s = sum(sum(run.rec.walls(op, since)) for op in DELTA_OPS)
    clusters = read_clusters(run, pipe)
    recall = check_clusters(run, clusters, live, next_id, exact=True)
    metrics = {
        "docs_per_s": (docs / write_s, "docs/s"),
        "dup_pair_recall": (recall, "frac"),
    }
    run.info["cycles"] = cycles
    if run.trace:
        # inferred path on a mixed snapshot: B more appends, B edits, B deletes
        b = sz.batch_docs
        upd = pick(0)
        for i in upd:
            edits[i] = " zzedit-inferred"
        live -= set(pick(1))
        live |= set(range(next_id, next_id + b))
        next_id += b
        snap = spark.createDataFrame(rows(live), schema=PAGES_SCHEMA)
        run.op("run_incremental", lambda: pipe.run_incremental(snap), root)
        inc = read_clusters(run, pipe, warm=0, reads=1)
        check_clusters(run, inc, live, next_id, exact=True)
        fresh = build_catalog(run, snap, run.new_dir("rebuild"))
        full = fresh.clusters_view().toPandas()
        run.check(
            "delta_equals_rebuild",
            partition(dict(zip(inc.url, inc.cluster_id)))
            == partition(dict(zip(full.url, full.cluster_id))),
        )
    return metrics


# ---------------------------------------------------------------- diagnostics


def serve_diagnostics(run: Run, pipe, clusters: pd.DataFrame) -> None:
    """query_top_k on the fallback path, then build_serving_index and the
    indexed path, then one query_top_k_batch; top-1 of each query must be
    its source doc or a doc of the source's cluster."""
    from pyspark.sql import functions as F

    from near_duplicate_detection_spark.pipeline import query_top_k, query_top_k_batch
    from near_duplicate_detection_spark.sources.pages import doc_tokens, generate_pages, url_of

    spark, cfg, cat = run.spark, run.cfg, pipe.catalog
    label = dict(zip(clusters.url, clusters.cluster_id))
    n = run.sizes.build_docs
    src = (7919 + run.seed) % n
    text = " ".join(doc_tokens(src, run.seed)[0]) + " zzq"

    def top1_ok(src_url, top_url) -> bool:
        return top_url is not None and label.get(top_url) == label.get(src_url)

    def query(span: str) -> None:
        hits = run.op(span, lambda: query_top_k(spark, cat, cfg, text, k=10).collect())
        run.check(f"{span}_top1", top1_ok(url_of(src), hits[0]["url"] if hits else None))

    query("query_top_k")
    run.op("build_serving_index", pipe.build_serving_index, cat.base_dir)
    query("query_top_k_indexed")
    queries = (  # ~1/40 of the corpus
        generate_pages(spark, n, seed=run.seed)
        .where(F.pmod(F.xxhash64("url"), F.lit(40)) == 0)
        .select(F.col("url").alias("query_id"), F.concat("text", F.lit(" zzq")).alias("text"))
        .localCheckpoint()
    )
    n_q = queries.count()
    res = run.op(
        "query_top_k_batch",
        lambda: query_top_k_batch(spark, cat, cfg, queries, k=10).toPandas(),
    )
    top = res[res["rank"] == 1]
    bad = sum(not top1_ok(q, u) for q, u in zip(top.query_id, top.url))
    run.check("query_top_k_batch_top1", len(top) == n_q and bad == 0, f"{bad} bad of {n_q}")
    run.info["query_batch_queries"] = n_q


def contract_diagnostics(run: Run) -> None:
    """The nine bench contract queries over the bundled sf0.001 tables: one
    untraced warm pass, then one traced pass checked against DuckDB."""
    import duckdb

    from near_duplicate_detection_spark.plans.contract import ORACLES, QUERIES

    spark = run.spark
    for name in CONTRACT_QUERIES:
        QUERIES[name](spark, CONTRACT_DIR).write.format("noop").mode("overwrite").save()
    con = duckdb.connect()
    try:
        for t in CONTRACT_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{CONTRACT_DIR}/{t}.parquet')"
            )
        for name in CONTRACT_QUERIES:
            got = run.op(f"contract.{name}", lambda: QUERIES[name](spark, CONTRACT_DIR).toPandas())
            want = con.execute(ORACLES[name]).fetchdf()
            run.check(f"contract.{name}", frames_match(got, want))
    finally:
        con.close()


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """The order-insensitive normalisation of tests/test_entry_contract.py."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif "float" in str(pdf[c].dtype):
            pdf[c] = pdf[c].map(
                lambda x: round(x, 9) if isinstance(x, float) and math.isfinite(x) else x
            )
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
        return False
    a, b = normalize(got), normalize(want)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-8)
    except AssertionError:
        return False
    return True


WORKLOADS = {"build": build_workload, "delta": delta_workload}
