"""Merge-on-read deletes/updates for the BUCKET tables (pages/signatures):
an explicit retraction commits ONE driver-written ``page_tombstones``
sidecar append instead of rewriting every affected bucket — the Iceberg v2
position-delete analog, extending the stage-table MOR (operators/mor.py) to
the two corpus-sized bucket tables. Pinned here:

- a delete leaves every committed pages/signatures parquet file
  byte-untouched on disk (the commit is the sidecar + lineage only);
- an update appends new era-stamped files and tombstones the old rows —
  old files byte-untouched, views show only the new text;
- era semantics: a url deleted then re-appended (same url string) is
  visible again (the tombstone governs only rows that predate it);
- ``page_tombstone_ceiling`` is the MOR/CoW switch: 0 restores the
  copy-on-write bucket rewrite exactly, and crossing the ceiling folds the
  stored sidecar physically before the batch applies;
- the query path reads through the views (a deleted url never surfaces).

Reference semantics: ``update_index`` drops a vanished video's entries by
videoid without rebuilding index storage (ndd/server_ndd.py:246-261)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.pipeline import NDDPipeline, query_top_k
from near_duplicate_detection_spark.sources.pages import generate_pages, url_of

CFG = NDDConfig(num_buckets=4)
N = 160
DEL_URLS = [url_of(i) for i in (20, 43, 11)]


def _file_states(cat, table) -> dict[str, tuple[int, float]]:
    out = {}
    root = cat.path(table)
    for r, _d, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _partition(pdf):
    return {frozenset(g.url) for _, g in pdf.groupby("cluster_id")}


@pytest.fixture(scope="module")
def base_catalog(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ndd_pmor_base"))
    NDDPipeline(spark, CFG, base).run(generate_pages(spark, N))
    return base


def _copy(base, tmp_path_factory, name):
    dst = str(tmp_path_factory.mktemp(name) / "cat")
    shutil.copytree(base, dst)
    return dst


def test_delete_leaves_bucket_files_byte_untouched(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_del")
    )
    before = {t: _file_states(pipe.catalog, t) for t in ("pages", "signatures")}
    pipe.delete_pages(DEL_URLS)
    for t in ("pages", "signatures"):
        assert _file_states(pipe.catalog, t) == before[t], t
    assert pipe.catalog.count_rows("page_tombstones") == len(DEL_URLS)
    assert pipe.pages_table().count() == N - len(DEL_URLS)
    assert pipe.signatures_table().count() == N - len(DEL_URLS)
    # the query path reads the views: the deleted doc never surfaces
    deleted_text = (
        generate_pages(spark, N)
        .where(F.col("url") == DEL_URLS[0])
        .select("text")
        .first()["text"]
    )
    hits = query_top_k(
        spark, pipe.catalog, CFG, deleted_text, k=5
    ).toPandas()
    assert DEL_URLS[0] not in set(hits.url)


def test_update_appends_files_and_tombstones_old_rows(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_upd")
    )
    before = {t: _file_states(pipe.catalog, t) for t in ("pages", "signatures")}
    urls = [url_of(i) for i in (30, 77)]
    batch = spark.createDataFrame(
        [(u, f"rewritten body for {u} entirely fresh") for u in urls],
        "url string, text string",
    )
    pipe.update_pages(batch)
    for t in ("pages", "signatures"):
        after = _file_states(pipe.catalog, t)
        # every pre-existing file byte-untouched; only NEW files appeared
        assert set(before[t]) <= set(after), t
        assert all(after[f] == st for f, st in before[t].items()), t
        assert len(after) > len(before[t]), t
    # the views resolve to exactly one live row per url, with the new text
    live = (
        pipe.pages_table()
        .where(F.col("url").isin(urls))
        .select("url", "text")
        .toPandas()
    )
    assert len(live) == len(urls)
    assert all(t.startswith("rewritten body") for t in live.text)
    assert pipe.pages_table().count() == N
    assert pipe.signatures_table().count() == N


def test_delete_then_reappend_same_url_is_visible(
    spark, tmp_path_factory, base_catalog
):
    """Era semantics: the tombstone kills only rows that predate it — a
    re-appended row (same url string) carries a newer era and survives."""
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_re")
    )
    url = url_of(11)
    pipe.delete_pages([url])
    assert pipe.pages_table().where(F.col("url") == url).count() == 0
    pipe.append_pages(
        spark.createDataFrame(
            [(url, "a brand new body after the delete")],
            "url string, text string",
        )
    )
    row = (
        pipe.pages_table().where(F.col("url") == url).select("text").first()
    )
    assert row["text"] == "a brand new body after the delete"
    # exactly one live row (the dead one is still on disk, governed)
    assert pipe.pages_table().where(F.col("url") == url).count() == 1
    assert (
        pipe.catalog.read("pages").where(F.col("url") == url).count() == 2
    )


def test_delete_of_already_deleted_url_refuses(
    spark, tmp_path_factory, base_catalog
):
    """The existence check reads the VIEW: a url whose physical row is
    merge-on-read dead must not pass validation (a raw-table check would
    match the dead row and double-subtract the lineage checksum)."""
    from near_duplicate_detection_spark.pipeline import AppendRefusedError

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_dd")
    )
    pipe.delete_pages([DEL_URLS[0]])
    stats_before = pipe.catalog.latest_partition_stats(
        "pages", CFG.stage1_hash()
    )
    with pytest.raises(AppendRefusedError, match="not in the corpus"):
        pipe.delete_pages([DEL_URLS[0]])
    # refusal mutated nothing: lineage stats and sidecar unchanged
    assert (
        pipe.catalog.latest_partition_stats("pages", CFG.stage1_hash())
        == stats_before
    )
    assert pipe.catalog.count_rows("page_tombstones") == 1


def test_ceiling_zero_restores_copy_on_write(
    spark, tmp_path_factory, base_catalog
):
    cow = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, page_tombstone_ceiling=0),
        _copy(base_catalog, tmp_path_factory, "ndd_pmor_cow"),
    )
    cow.delete_pages(DEL_URLS)
    assert not cow.catalog.exists("page_tombstones")
    assert cow.catalog.count_rows("pages") == N - len(DEL_URLS)
    assert cow.catalog.count_rows("signatures") == N - len(DEL_URLS)
    m = cow.catalog.read("metrics").toPandas()
    assert (
        m[(m.stage == "pages") & (m.key == "buckets_rewritten")].value > 0
    ).any()
    # the copy-on-write delete's own rows: no bucket emptied, no sidecar
    for key in ("buckets_dropped", "page_tombstone_rows"):
        rows = m[(m.stage == "pages") & (m.key == key)]
        assert rows.value.tolist() == [0.0], key


def test_ceiling_crossing_folds_stored_tombstones(
    spark, tmp_path_factory, base_catalog
):
    """stored + batch > ceiling: the stored sidecar folds physically
    (governed buckets rewritten, sidecar dropped) and the batch applies
    copy-on-write — after which views and a from-scratch rebuild agree."""
    pipe = NDDPipeline(
        spark,
        NDDConfig(num_buckets=4, page_tombstone_ceiling=4),
        _copy(base_catalog, tmp_path_factory, "ndd_pmor_fold"),
    )
    pipe.delete_pages(DEL_URLS)  # 3 <= 4: merge-on-read
    assert pipe.catalog.exists("page_tombstones")
    extra = [url_of(i) for i in (57, 88)]
    clusters = pipe.delete_pages(extra).toPandas()  # 3 + 2 > 4: fold
    assert not pipe.catalog.exists("page_tombstones")
    assert pipe.catalog.count_rows("pages") == N - 5
    assert pipe.catalog.count_rows("signatures") == N - 5
    survivors = generate_pages(spark, N).where(
        ~F.col("url").isin(DEL_URLS + extra)
    )
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_pmor_fold_full"))
        )
        .run(survivors)
        .toPandas()
    )
    assert _partition(clusters) == _partition(full)


def test_crash_after_tombstone_write_heals_to_full_rebuild(
    spark, tmp_path_factory, monkeypatch, base_catalog
):
    """A kill right after the page_tombstones sidecar append (before
    lineage advances or the stage-2 retraction runs) leaves delta.inflight
    up: every delta entry refuses, and run_incremental on the intended
    post-delete snapshot heals — the affected buckets are rewritten from
    the snapshot at the current era (>= the tombstone era, so the sidecar
    governs nothing that survives) and clusters match a from-scratch
    rebuild on the survivors."""
    from near_duplicate_detection_spark.lineage import StageCatalog
    from near_duplicate_detection_spark.operators import mor
    from near_duplicate_detection_spark.pipeline import AppendRefusedError

    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_crash")
    )
    orig = StageCatalog._append_small

    def append_then_crash(self, table, pdf, schema):
        orig(self, table, pdf, schema)
        if table == mor.PAGE_TOMBSTONES:
            raise RuntimeError("simulated crash after tombstone append")

    monkeypatch.setattr(StageCatalog, "_append_small", append_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipe.delete_pages(DEL_URLS)
    monkeypatch.setattr(StageCatalog, "_append_small", orig)
    assert pipe._delta_suspect()
    with pytest.raises(AppendRefusedError, match="crash marker"):
        pipe.delete_pages(DEL_URLS)
    survivors = generate_pages(spark, N).where(~F.col("url").isin(DEL_URLS))
    healed = pipe.run_incremental(survivors).toPandas()
    assert set(healed.url) == {
        r["url"] for r in survivors.select("url").collect()
    }
    full = (
        NDDPipeline(
            spark, CFG, str(tmp_path_factory.mktemp("ndd_pmor_crash_full"))
        )
        .run(survivors)
        .toPandas()
    )
    assert _partition(healed) == _partition(full)
    assert not pipe._delta_suspect()


def test_compact_folds_page_tombstones(
    spark, tmp_path_factory, base_catalog
):
    pipe = NDDPipeline(
        spark, CFG, _copy(base_catalog, tmp_path_factory, "ndd_pmor_cmp")
    )
    pipe.delete_pages(DEL_URLS)
    view_before = pipe.pages_table().select("url").toPandas()
    out = pipe.compact()
    assert out.get("page_tombstones") == (1, 0)
    assert not pipe.catalog.exists("page_tombstones")
    assert pipe.catalog.count_rows("pages") == N - len(DEL_URLS)
    # pure physical reorganization: the view is row-identical
    view_after = pipe.pages_table().select("url").toPandas()
    assert set(view_before.url) == set(view_after.url)
    # and further deltas land cleanly on the folded catalog
    assert (
        pipe.append_pages(generate_pages(spark, N + 10, start=N)).count()
        == N - len(DEL_URLS) + 10
    )
