"""Checkpoint/resume + incremental semantics (SURVEY.md §4.3.5, FIXTURES.md §6).

- kill between segments → resume → final index bit-identical to an
  uninterrupted build
- ExistState classification (NotExist/ExistOlder/ExistSame/ExistNewer) as a
  batch left join (ESIndexDocType.cs:73-118 semantics) — the oracle the
  update kernel's per-shard probe is tested against
"""

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from importpipeline_spark.index.pagesgen import gen_pages_df
from importpipeline_spark.index.segments import (
    build_index_resumable,
    classify_snapshot,
    read_lineage,
)
from importpipeline_spark.index.wand import bm25_topk_wand

N = 300


def _postings_frame(root):
    parts = sorted(glob.glob(os.path.join(root, "postings", "shard=*", "*.parquet")))
    dfs = []
    for p in parts:
        df = pd.read_parquet(p)
        df["shard"] = int(p.split("shard=")[1].split("/")[0])
        dfs.append(df)
    out = pd.concat(dfs, ignore_index=True)
    return out.sort_values(["shard", "term", "block_id"]).reset_index(drop=True)


def test_kill_and_resume_bit_identical(spark, tmp_path):
    pages = gen_pages_df(spark, N, seed=42, partitions=4)

    clean_root = str(tmp_path / "clean")
    build_index_resumable(spark, pages, clean_root, n_shards=8)

    # the injected failure fires after 3 of the 8 segments committed
    # lineage, leaving already-encoded files for the rest that the resume
    # must redo and commit
    crash_root = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_resumable(
            spark, pages, crash_root, n_shards=8, fail_after_segment=2
        )
    # only some segments finished
    lin = read_lineage(spark, crash_root)
    assert 0 < lin.count() < 8
    # resume re-extracts and commits only the unfinished segments
    pidx = build_index_resumable(spark, pages, crash_root, n_shards=8)
    assert read_lineage(spark, crash_root).count() == 8

    a = _postings_frame(clean_root)
    b = _postings_frame(crash_root)
    assert len(a) == len(b)
    for col in ["shard", "term", "block_id", "n", "min_doc", "max_doc", "max_tf", "min_dl"]:
        assert a[col].tolist() == b[col].tolist(), col
    assert [bytes(x) for x in a.docs_enc] == [bytes(x) for x in b.docs_enc]
    assert [bytes(x) for x in a.tfs_enc] == [bytes(x) for x in b.tfs_enc]

    # doclen rows
    def _doclen(root):
        return {d: pd.read_parquet(os.path.join(root, "doclen", d))
                .to_dict("list")
                for d in sorted(os.listdir(os.path.join(root, "doclen")))
                if d.startswith("shard=")}

    assert _doclen(clean_root) == _doclen(crash_root)

    # resumed index serves queries
    got = bm25_topk_wand(spark, pidx, "the", k=5).collect()
    assert len(got) == 5

    # the resumable build's dictionary must be content-identical to
    # write_index's — same rows, same df, same shard lists (both derive
    # from the committed postings: df per term = Σ block n)
    from importpipeline_spark.index.store import write_index

    full_root = str(tmp_path / "full")
    write_index(spark, pages, full_root, n_shards=8, write_docs=False)

    def _terms_frame(root):
        parts = sorted(glob.glob(os.path.join(root, "terms", "*.parquet")))
        df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        df["shards"] = df["shards"].map(lambda a: tuple(int(x) for x in a))
        return df.sort_values("term").reset_index(drop=True)

    ta, tb = _terms_frame(clean_root), _terms_frame(full_root)
    assert ta["term"].tolist() == tb["term"].tolist()
    assert ta["df"].tolist() == tb["df"].tolist()
    assert ta["shards"].tolist() == tb["shards"].tolist()

    # no build flavor writes a second copy of the base df, and a
    # re-derivation from the postings is content-identical to the written
    # dictionary
    from importpipeline_spark.index.store import _derive_dictionary

    for root in (clean_root, crash_root, full_root):
        assert not os.path.exists(os.path.join(root, "termdf")), root
    chk_path = str(tmp_path / "terms_rederived")
    _derive_dictionary(spark, clean_root, chk_path)
    parts = sorted(glob.glob(os.path.join(chk_path, "*.parquet")))
    tc = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    tc["shards"] = tc["shards"].map(lambda a: tuple(int(x) for x in a))
    tc = tc.sort_values("term").reset_index(drop=True)
    assert tc["term"].tolist() == ta["term"].tolist()
    assert tc["df"].tolist() == ta["df"].tolist()
    assert tc["shards"].tolist() == ta["shards"].tolist()

    # lineage carries per-segment counters + metrics (SURVEY §7.1, mirroring
    # DatasourceReport — ImportReport.cs:92-209), not just status
    rows = read_lineage(spark, crash_root).collect()
    assert all(r.status == "ok" for r in rows)
    assert sum(r.n_docs for r in rows) == N
    assert all(r.n_postings > 0 for r in rows)
    for r in rows:
        assert r.metrics["blocks"] > 0
        assert r.metrics["distinct_terms"] > 0
        assert r.started_ts is not None and r.finished_ts is not None


def test_resume_rejects_different_input(spark, tmp_path):
    """Lineage/stats record input_snapshot; resuming the same root over a
    DIFFERENT input must fail loudly instead of mixing stale and fresh
    segments."""
    pages = gen_pages_df(spark, 50, seed=42, partitions=2)
    root = str(tmp_path / "idx")
    build_index_resumable(spark, pages, root, n_shards=4, input_snapshot="snapA")
    with pytest.raises(ValueError, match="input_snapshot"):
        build_index_resumable(spark, pages, root, n_shards=4, input_snapshot="snapB")


def test_killed_resume_rejects_different_doc_id_mode(spark, tmp_path):
    """Before stats.json lands (it is written last), the committed
    segments' lineage rows record the doc_id_mode their ids derive from: a
    killed build resumed under another mode raises instead of mixing hash
    and host_locality ids in one index, with or without docs/."""
    pages = gen_pages_df(spark, 80, seed=42, partitions=2)
    for write_docs in (True, False):
        root = str(tmp_path / f"idx{int(write_docs)}")
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index_resumable(spark, pages, root, n_shards=4,
                                  fail_after_segment=0,
                                  write_docs=write_docs)
        assert not os.path.exists(os.path.join(root, "stats.json"))
        with pytest.raises(ValueError, match="doc_id_mode"):
            build_index_resumable(spark, pages, root, n_shards=4,
                                  doc_id_mode="host_locality",
                                  write_docs=write_docs)
        with pytest.raises(ValueError, match="input_snapshot"):
            build_index_resumable(spark, pages, root, n_shards=4,
                                  input_snapshot="other",
                                  write_docs=write_docs)


def test_resumed_quarantine_equals_uninterrupted(spark, tmp_path):
    """A resumed build's errors/ holds the same rows as an uninterrupted
    build's (ts aside): each shard's quarantined pages land under a
    per-shard name, so re-extracting an unfinished shard replaces its
    records instead of adding a second copy — also when the kill came
    after every kernel task had written them."""
    deep = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
            + "</body></html>").encode()
    bad = spark.createDataFrame(
        [(f"http://bad{i}.example/p", deep) for i in range(6)],
        "url string, html binary",
    ).select("url", F.current_timestamp().alias("warc_ts"), "html",
             F.lit("en").alias("lang"))
    pages = gen_pages_df(spark, 80, seed=42, partitions=2).select(
        "url", "warc_ts", "html", "lang").unionByName(bad)

    def errors(root):
        t = pd.read_parquet(os.path.join(root, "errors"))
        return sorted(zip(t["url"], t["stage"], t["error"]))

    clean = str(tmp_path / "clean")
    want = build_index_resumable(spark, pages, clean, n_shards=4)
    assert want.stats["n_errors"] == 6 and len(errors(clean)) == 6
    for kill in (0, 2):
        root = str(tmp_path / f"killed{kill}")
        with pytest.raises(RuntimeError, match="injected failure"):
            build_index_resumable(spark, pages, root, n_shards=4,
                                  fail_after_segment=kill)
        got = build_index_resumable(spark, pages, root, n_shards=4)
        assert errors(root) == errors(clean), kill
        assert got.stats["n_errors"] == 6
        assert {k: v for k, v in got.stats.items() if k != "run_id"} == {
            k: v for k, v in want.stats.items() if k != "run_id"}


def test_exist_state_classification(spark):
    old = spark.createDataFrame(
        [("u1", "2024-01-01 00:00:00"), ("u2", "2024-01-02 00:00:00"),
         ("u3", "2024-01-03 00:00:00")],
        "url string, warc_ts string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    new = spark.createDataFrame(
        [("u1", "2024-01-05 00:00:00"),  # re-crawl newer → ExistOlder
         ("u2", "2024-01-02 00:00:00"),  # same → ExistSame
         ("u3", "2024-01-01 00:00:00"),  # older than indexed → ExistNewer
         ("u4", "2024-01-06 00:00:00")],  # new → NotExist
        "url string, warc_ts string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    got = {
        r.url: r.exist_state for r in classify_snapshot(new, old).collect()
    }
    assert got == {
        "u1": "ExistOlder", "u2": "ExistSame", "u3": "ExistNewer", "u4": "NotExist"
    }


def test_all_quarantined_build_completes_empty(spark, tmp_path):
    """Every page failing extraction must still produce a COMPLETE (empty)
    index: all segments lineage-committed, an empty-but-schema'd dictionary
    (no parquet footers exist anywhere under postings/), and queries that
    return no results instead of raising."""
    from pyspark.sql import functions as F

    deep = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
            + "</body></html>")
    pages = spark.createDataFrame(
        [(f"u{i}", deep.encode()) for i in range(4)], "url string, html binary"
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "lang", F.lit("en")
    )
    root = str(tmp_path / "emptyidx")
    pidx = build_index_resumable(spark, pages, root, n_shards=4)
    assert pidx.stats["n_docs"] == 0
    assert pidx.stats["n_errors"] == 4
    assert read_lineage(spark, root).count() == 4
    assert bm25_topk_wand(spark, pidx, "the", k=5).collect() == []


def test_build_jobs_carry_phase_descriptions(spark, tmp_path):
    """Every Spark job of a write_index is described by its build phase —
    ``build: encode`` (the one staged query: extract, exchange and shard
    kernel) or ``build: dictionary`` — so the event log attributes each job
    to a layer. The build is that one query: at most 2 encode jobs (its
    map and kernel stages) plus the dictionary's 4, with and without the
    docs table."""
    from importpipeline_spark.index.store import write_index

    sc = spark.sparkContext
    pages = gen_pages_df(spark, 120, seed=5, partitions=4)
    for write_docs in (True, False):
        group = f"write_index_phases_{int(write_docs)}"
        sc.setJobGroup(group, "undescribed")
        try:
            write_index(spark, pages, str(tmp_path / group), n_shards=4,
                        write_docs=write_docs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        status = sc._jsc.sc().statusStore()
        descs = {}
        for job_id in sc.statusTracker().getJobIdsForGroup(group):
            d = status.job(job_id).description()
            d = d.get() if d.isDefined() else None
            descs[d] = descs.get(d, 0) + 1
        assert set(descs) == {"build: encode", "build: dictionary"}, descs
        assert descs["build: encode"] <= 2, descs
        assert descs["build: dictionary"] == 4, descs
