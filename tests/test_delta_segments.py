"""LSM-style delta segments (r7): update/delete cost O(update bytes).

segments.update_index and delete_from_index write each change as an
immutable per-shard delta generation — same codec as the base — plus
signed term-df adjustments; query kernels mask shadowed base entries via
the owner-generation rule (deltas.py) and compaction folds
deltas back into the base (the reference's delegated ES/Lucene segment
model incl. optimize-to-N — ESIndexDefinitions.cs:452-458).

Pinned here: the base segment is never touched by a delta update (inode
identity across ALL shards), rank/score/dictionary identity with a full
rebuild across multiple generations and deletes, every crash window of the
commit protocol, the compaction threshold, and delete-then-re-add.
(The rank-identity and COW/docs tests in test_incremental_update.py
exercise this path too.)
"""

import json
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from importpipeline_spark.index import deltas as dmod
from importpipeline_spark.index import segments as seg
from importpipeline_spark.index.pagesgen import gen_pages_df
from importpipeline_spark.index.segments import (
    compact_deltas,
    delete_from_index,
    recover_update,
    update_index,
)
from importpipeline_spark.index.serve import LocalSearcher
from importpipeline_spark.index.store import (
    DOCS_SCHEMA,
    open_index,
    read_dictionary,
    read_stats,
    write_index,
)
from importpipeline_spark.index.wand import bm25_topk_wand

QUERIES = ["the", "of and", "ebakaba8", "the ebakaba8 equababa1"]


def _topk(spark, pidx, k=10):
    return [
        (r.doc_id, r.score)
        for q in QUERIES
        for r in bm25_topk_wand(spark, pidx, q, k=k).collect()
    ]


def _terms(spark, root):
    """The effective dictionary of the index at ``root`` (base ``terms/``
    plus the live delta_termdf overlay) as sorted (term, df, shards) rows;
    LocalSearcher's df map must be exactly its df column."""
    rows = read_dictionary(spark, open_index(root)).collect()
    out = sorted((r.term, r.df, tuple(r.shards)) for r in rows)
    assert LocalSearcher(root)._df == {t: df for t, df, _ in out}
    return out


def _base_tables(root):
    """The base tables of the index at ``root`` row by row: each shard's
    postings rows (encoded bytes included) and doclen rows in file order
    (a shard without rows is left out: a fresh build writes no doclen dir
    for it, a fold an empty part), and the terms/ rows sorted by term."""
    out = {}
    for table in ("postings", "doclen"):
        for d in sorted(d for d in os.listdir(os.path.join(root, table))
                        if d.startswith("shard=")):
            rows = (pq.read_table(os.path.join(root, table, d)).to_pylist()
                    if any(f.endswith(".parquet") for f in os.listdir(
                        os.path.join(root, table, d))) else [])
            if rows:
                out[table, d] = rows
    out["terms"] = sorted(pq.read_table(os.path.join(root, "terms"))
                          .to_pylist(), key=lambda r: r["term"])
    return out


def _file_inodes(root, table):
    d = os.path.join(root, table)
    return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}


def _recrawl(pages, frac_mod: int, hours: int):
    return pages.where(F.xxhash64("url") % frac_mod == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {hours} HOURS")
    )


def _inodes(root, table):
    out = {}
    base = os.path.join(root, table)
    for d in os.listdir(base):
        if d.startswith("shard="):
            p = os.path.join(base, d)
            out[d] = {
                f: os.stat(os.path.join(p, f)).st_ino
                for f in os.listdir(p)
                if f.endswith(".parquet")
            }
    return out


def test_delta_update_leaves_base_segment_untouched(spark, tmp_path):
    """The whole point of the LSM path: an update rewrites NO base postings
    or doclen file in ANY shard (inode identity everywhere), yet
    stays rank-identical to a full rebuild — so update compute is bounded by
    the update, not the affected shards."""
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 300, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    before = {t: _inodes(root, t) for t in ("postings", "doclen")}
    terms_before = _file_inodes(root, "terms")

    upd = _recrawl(pages, 5, 2)
    n_upd = upd.count()
    assert n_upd > 10
    pidx = update_index(spark, root, upd, run_id="d1", input_snapshot="s1")

    after = {t: _inodes(root, t) for t in ("postings", "doclen")}
    assert after == before, "delta update must not rewrite any base file"
    # terms/ is the base dictionary: the delta commit leaves it alone
    assert _file_inodes(root, "terms") == terms_before
    assert pidx.stats["delta_gens"] == [1]
    assert os.path.isdir(os.path.join(root, "delta_postings", "gen=1"))
    assert os.path.isdir(os.path.join(root, "delta_doclen", "gen=1"))
    assert os.path.isdir(os.path.join(root, "delta_termdf", "gen=1"))

    full_root = str(tmp_path / "full")
    merged = pages.join(upd.select("url"), "url", "left_anti").unionByName(upd)
    pidx_full = write_index(spark, merged, full_root, n_shards=4)
    assert pidx.stats["n_docs"] == pidx_full.stats["n_docs"] == 300
    assert pidx.stats["avgdl"] == pidx_full.stats["avgdl"]
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    assert _terms(spark, root) == _terms(spark, full_root)

    # an update confined to one shard rewrites only that shard's docs part:
    # every other docs shard stays a hard link of the same files
    docs_before = _inodes(root, "docs")
    one = [r.url for r in spark.read.schema(DOCS_SCHEMA)
           .parquet(os.path.join(root, "docs"))
           .where(F.col("shard") == 2).limit(3).collect()]
    pidx = update_index(
        spark, root, pages.where(F.col("url").isin(one)).withColumn(
            "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 5 HOURS")),
        run_id="d2", input_snapshot="s2")
    assert pidx.stats["delta_gens"] == [1, 2]
    docs_after = _inodes(root, "docs")
    assert set(docs_after) == set(docs_before)
    for shard, files in docs_after.items():
        assert (files == docs_before[shard]) == (shard != "shard=2"), shard
    assert {t: _inodes(root, t) for t in ("postings", "doclen")} == before


def _lineage(root):
    """Lineage rows of the index at ``root`` without their timestamps."""
    rows = []
    for f in os.listdir(os.path.join(root, "segments")):
        if f.endswith(".json"):
            with open(os.path.join(root, "segments", f)) as fh:
                row = json.load(fh)
            rows.append(json.dumps(
                {k: v for k, v in row.items()
                 if k not in ("started_ts", "finished_ts")}, sort_keys=True))
    return sorted(rows)


def _dir_tree(root):
    return sorted(os.path.relpath(d, root) for d, _, _ in os.walk(root))


def test_write_index_over_mutated_root_starts_clean(spark, tmp_path):
    """write_index is a full build: over a root that took a delta update, a
    delete and a partial compaction, it leaves exactly what a write_index
    into an empty root leaves — no delta generations, no delta bookkeeping
    in stats, the same lineage rows and the same top-k."""
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    update_index(spark, root, _recrawl(pages, 5, 2), run_id="m1",
                 input_snapshot="m1", compact_after=None)
    del_urls = spark.createDataFrame(
        [(r.url,) for r in
         pages.where(F.xxhash64("url") % 7 == 1).select("url").collect()],
        "url string",
    )
    delete_from_index(spark, root, del_urls, run_id="m2",
                      input_snapshot="m2", compact_after=None)
    compact_deltas(spark, root, shards=[min(dmod.shard_gen_map(root))])
    # the preconditions the rebuild must wipe: surviving delta generations
    # and compaction's incremental lineage rows
    assert read_stats(root)["delta_gens"]
    assert any('"incremental": 1' in r for r in _lineage(root))

    new_pages = gen_pages_df(spark, 180, seed=13, partitions=4)
    pidx = write_index(spark, new_pages, root, n_shards=4)
    fresh = str(tmp_path / "fresh")
    pidx_fresh = write_index(spark, new_pages, fresh, n_shards=4)

    assert _dir_tree(root) == _dir_tree(fresh)
    assert not any(d.startswith("delta") for d in os.listdir(root))
    stats = read_stats(root)
    assert "delta_gens" not in stats and "last_gen" not in stats
    assert stats == read_stats(fresh)
    assert _lineage(root) == _lineage(fresh)
    assert _terms(spark, root) == _terms(spark, fresh)
    assert _topk(spark, pidx) == _topk(spark, pidx_fresh)


def test_multi_generation_delete_and_readd(spark, tmp_path):
    """Three generations (update, delete, re-add) stay rank/dictionary-
    identical to a full rebuild at every step; a deleted doc is masked out
    of every older segment and comes back searchable when re-added."""
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 250, seed=11, partitions=4)
    write_index(spark, pages, root, n_shards=4)

    # gen 1: recrawl a slice with donor content
    donor = gen_pages_df(spark, 250, seed=77, partitions=4).select(
        "url", F.col("html").alias("d_html"), F.col("text").alias("d_text")
    )
    upd = (
        pages.join(donor, "url")
        .where(F.xxhash64("url") % 4 == 0)
        .select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            F.col("d_html").alias("html"),
            F.col("d_text").alias("text"),
            "lang",
        )
    )
    pidx = update_index(spark, root, upd, run_id="g1", input_snapshot="g1")
    corpus = pages.join(upd.select("url"), "url", "left_anti").unionByName(upd)

    # gen 2: delete 30 docs, deliberately including updated ones
    del_urls_list = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(root, "docs"))
        .orderBy("doc_id").limit(30).select("url").collect()
    )
    del_urls = spark.createDataFrame([(u,) for u in del_urls_list], "url string")
    pidx = delete_from_index(spark, root, del_urls, run_id="g2")
    corpus = corpus.join(del_urls, "url", "left_anti")
    assert pidx.stats["delta_gens"] == [1, 2]
    full_root = str(tmp_path / "full2")
    pidx_full = write_index(spark, corpus, full_root, n_shards=4)
    assert pidx.stats["n_docs"] == pidx_full.stats["n_docs"]
    assert pidx.stats["avgdl"] == pidx_full.stats["avgdl"]
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    assert _terms(spark, root) == _terms(spark, full_root)

    # gen 3: re-add 10 of the deleted urls (NotExist again) with new content
    readd = (
        pages.join(
            spark.createDataFrame(
                [(u,) for u in del_urls_list[:10]], "url string"
            ),
            "url",
        )
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 3 DAY"))
    )
    pidx = update_index(spark, root, readd, run_id="g3", input_snapshot="g3")
    corpus = corpus.unionByName(readd)
    assert pidx.stats["delta_gens"] == [1, 2, 3]
    full_root = str(tmp_path / "full3")
    pidx_full = write_index(spark, corpus, full_root, n_shards=4)
    assert pidx.stats["n_docs"] == pidx_full.stats["n_docs"]
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    assert _terms(spark, root) == _terms(spark, full_root)

    # the driver-local searcher reads the same delta state bit-identically
    ls = LocalSearcher(root)
    for q in QUERIES:
        assert ls.search(q, k=10) == [
            (r.doc_id, r.score)
            for r in bm25_topk_wand(spark, pidx_full, q, k=10).collect()
        ]


def test_delta_crash_windows_roll_forward_or_back(spark, tmp_path):
    """Every kill window of the delta commit protocol recovers to a
    consistent state: pre-marker → clean rollback (staging swept); between
    marker and docs swap → rolled forward; post-swap pre-commit → rolled
    forward. Forward recoveries match a full rebuild exactly and write the
    same stats.json as the uninterrupted commit."""
    snap1 = gen_pages_df(spark, 200, seed=42, partitions=4)
    snap2 = gen_pages_df(spark, 230, seed=42, partitions=4)
    full_root = str(tmp_path / "full")
    want = _topk(spark, write_index(spark, snap2, full_root, n_shards=4))
    ref_root = str(tmp_path / "ref")
    write_index(spark, snap1, ref_root, n_shards=4)
    want_stats = update_index(spark, ref_root, snap2).stats
    assert want_stats == read_stats(ref_root)

    # window: post-swap, pre-delta-commit
    root = str(tmp_path / "c")
    write_index(spark, snap1, root, n_shards=4)
    real_commit = seg._commit_delta_gen

    def boom(*a, **kw):
        raise RuntimeError("injected")

    seg._commit_delta_gen = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            update_index(spark, root, snap2)
    finally:
        seg._commit_delta_gen = real_commit
    assert os.path.exists(os.path.join(root, "update.json"))
    assert recover_update(spark, root)
    pidx = open_index(root)
    assert pidx.stats["n_docs"] == 230 and pidx.stats["delta_gens"] == [1]
    assert pidx.stats == want_stats
    assert _topk(spark, pidx) == want

    # window: marker written, docs swap not yet performed
    root = str(tmp_path / "b")
    write_index(spark, snap1, root, n_shards=4)
    real_swap = seg._swap_docs_under_marker

    def swap_crash(r, payload):
        marker = seg._update_marker(r)
        with open(marker + ".tmp", "w") as f:
            json.dump(payload, f)
        os.replace(marker + ".tmp", marker)
        raise RuntimeError("injected-preswap")

    seg._swap_docs_under_marker = swap_crash
    try:
        with pytest.raises(RuntimeError, match="injected-preswap"):
            update_index(spark, root, snap2)
    finally:
        seg._swap_docs_under_marker = real_swap
    assert recover_update(spark, root)
    pidx = open_index(root)
    assert pidx.stats["n_docs"] == 230
    assert pidx.stats == want_stats
    assert _topk(spark, pidx) == want

    # window: staging done but no marker → rollback; re-apply completes
    root = str(tmp_path / "a")
    write_index(spark, snap1, root, n_shards=4)
    real_stage = seg._deltas.stage_update_delta

    def stage_crash(*a, **kw):
        real_stage(*a, **kw)
        raise RuntimeError("injected-premarker")

    seg._deltas.stage_update_delta = stage_crash
    try:
        with pytest.raises(RuntimeError, match="injected-premarker"):
            update_index(spark, root, snap2)
    finally:
        seg._deltas.stage_update_delta = real_stage
    assert not os.path.exists(os.path.join(root, "update.json"))
    recover_update(spark, root)
    assert not os.path.isdir(os.path.join(root, "delta_staging"))
    assert open_index(root).stats["n_docs"] == 200  # clean pre-update state
    pidx = update_index(spark, root, snap2)
    assert pidx.stats["n_docs"] == 230 and _topk(spark, pidx) == want
    assert read_stats(root) == want_stats


def test_delete_crash_window_rolls_forward(spark, tmp_path):
    """A delete commits through the same marker protocol as an update: a
    kill after the docs swap, before the generation is renamed into place,
    leaves the marker behind, and recover_update rolls the tombstone
    generation forward to exactly a full rebuild over the survivors."""
    pages = gen_pages_df(spark, 200, seed=42, partitions=4)
    root = str(tmp_path / "idx")
    write_index(spark, pages, root, n_shards=4)
    urls = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(root, "docs"))
        .orderBy("doc_id").limit(25).select("url").collect()
    )
    del_urls = spark.createDataFrame([(u,) for u in urls], "url string")
    full_root = str(tmp_path / "full")
    pidx_full = write_index(spark, pages.join(del_urls, "url", "left_anti"),
                            full_root, n_shards=4)
    ref_root = str(tmp_path / "ref")
    write_index(spark, pages, ref_root, n_shards=4)
    want_stats = delete_from_index(spark, ref_root, del_urls).stats

    real_commit = seg._commit_delta_gen

    def boom(*a, **kw):
        raise RuntimeError("injected")

    seg._commit_delta_gen = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            delete_from_index(spark, root, del_urls)
    finally:
        seg._commit_delta_gen = real_commit
    assert os.path.exists(os.path.join(root, "update.json"))
    assert recover_update(spark, root)
    pidx = open_index(root)
    assert pidx.stats["n_docs"] == pidx_full.stats["n_docs"] == 175
    assert pidx.stats["delta_gens"] == [1]
    assert pidx.stats == want_stats == read_stats(ref_root)
    assert _topk(spark, pidx) == _topk(spark, pidx_full)


def test_update_rejects_rebuild_strategy(spark, tmp_path):
    """Updates have one path: strategy="rebuild" is refused before any work
    — no marker, no staged docs, no staged generation — with a message
    naming compact_deltas."""
    pages = gen_pages_df(spark, 60, seed=3, partitions=2)
    root = str(tmp_path / "idx")
    write_index(spark, pages, root, n_shards=2)
    with open(os.path.join(root, "stats.json")) as f:
        before = json.load(f)
    upd = _recrawl(pages, 3, 2)
    with pytest.raises(ValueError, match="compact_deltas"):
        update_index(spark, root, upd, strategy="rebuild")
    assert not os.path.exists(os.path.join(root, "update.json"))
    assert not os.path.exists(os.path.join(root, "docs.tmp"))
    assert not os.path.exists(os.path.join(root, "delta_staging"))
    with open(os.path.join(root, "stats.json")) as f:
        assert json.load(f) == before


def test_compaction_folds_and_auto_triggers(spark, tmp_path):
    """compact_deltas folds every generation into the base (delta_gens
    empties, delta dirs gone for those shards) with unchanged results; the
    per-shard generation count triggers auto-compaction at compact_after;
    a kill mid-compaction is repaired by recover_update."""
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 250, seed=5, partitions=4)
    write_index(spark, pages, root, n_shards=4)

    corpus = pages
    for i in range(2):
        upd = _recrawl(pages, 6 + i, i + 1)
        update_index(spark, root, upd, run_id=f"u{i}", input_snapshot=f"s{i}",
                     compact_after=None)
        corpus = corpus.join(upd.select("url"), "url", "left_anti").unionByName(upd)
    pidx = open_index(root)
    assert pidx.stats["delta_gens"] == [1, 2]

    # kill mid-compaction → marker-driven recovery completes the fold
    real_rb = seg._rebuild_shards

    def rb_crash(*a, **kw):
        raise RuntimeError("injected-compact")

    seg._rebuild_shards = rb_crash
    try:
        with pytest.raises(RuntimeError, match="injected-compact"):
            compact_deltas(spark, root)
    finally:
        seg._rebuild_shards = real_rb
    assert recover_update(spark, root)
    pidx = open_index(root)
    assert pidx.stats["delta_gens"] == []
    assert not dmod.shard_gen_map(root)

    full_root = str(tmp_path / "full")
    pidx_full = write_index(spark, corpus, full_root, n_shards=4)
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    assert _terms(spark, root) == _terms(spark, full_root)
    # the folded base is the fresh build's, row by row and byte for byte
    assert _base_tables(root) == _base_tables(full_root)

    # auto-compaction: third update with compact_after=3 folds its shards
    upd = _recrawl(pages, 3, 9)
    for i in range(3):
        u = upd.withColumn("warc_ts",
                           F.col("warc_ts") + F.expr(f"INTERVAL {i} MINUTE"))
        pidx = update_index(spark, root, u, run_id=f"a{i}",
                            input_snapshot=f"as{i}", compact_after=3)
        corpus = corpus.join(u.select("url"), "url", "left_anti").unionByName(u)
    sgm = dmod.shard_gen_map(root)
    assert all(len(g) < 3 for g in sgm.values()), sgm
    full_root2 = str(tmp_path / "full2")
    assert _topk(spark, pidx) == _topk(
        spark, write_index(spark, corpus, full_root2, n_shards=4)
    )


def test_compaction_kill_refuses_readers_until_recovered(spark, tmp_path):
    """A kill inside compaction's fold leaves an inconsistent dictionary:
    after the base shards are swapped but before their deltas are purged
    (the base blocks and the live delta_termdf both count the folded
    generation), or after the purge but before terms/ is replaced (terms/
    plus the remaining deltas miss it). Both readers refuse the index
    while the compaction marker is present; recover_update finishes the
    fold, after which dictionary and ranking match a fresh build."""
    pages = gen_pages_df(spark, 200, seed=11, partitions=4)
    upd = _recrawl(pages, 4, 3)
    corpus = pages.join(upd.select("url"), "url", "left_anti").unionByName(upd)
    full_root = str(tmp_path / "full")
    want_top = _topk(spark, write_index(spark, corpus, full_root, n_shards=4))
    want_terms = _terms(spark, full_root)

    def crash(*a, **kw):
        raise RuntimeError("injected-fold")

    windows = [
        # (module, function the kill replaces, deltas still on disk)
        (dmod, "purge_shards", True),
        (seg, "_derive_dictionary", False),
    ]
    for mod, name, deltas_left in windows:
        root = str(tmp_path / name)
        write_index(spark, pages, root, n_shards=4)
        update_index(spark, root, upd, compact_after=None)
        real = getattr(mod, name)
        setattr(mod, name, crash)
        try:
            with pytest.raises(RuntimeError, match="injected-fold"):
                compact_deltas(spark, root)
        finally:
            setattr(mod, name, real)
        assert bool(dmod.shard_gen_map(root)) == deltas_left, name
        for read in (open_index, LocalSearcher):
            with pytest.raises(RuntimeError, match="interrupted compaction"):
                read(root)
        assert recover_update(spark, root)
        assert open_index(root).stats["delta_gens"] == []
        assert _terms(spark, root) == want_terms, name
        assert _topk(spark, open_index(root)) == want_top, name
        assert _base_tables(root) == _base_tables(full_root), name


def test_compaction_checks_fold_output_before_swap(spark, tmp_path,
                                                  monkeypatch):
    """Each fold task writes its shard's postings and doclen parts, then
    its counters (n_docs, total_tokens, blocks, postings, terms), which
    stand in for a rescan of the folded docs. When the driver cannot find a shard's counters
    or doclen part — what an index root the driver and executors do not
    share looks like — or its counters differ from stats.json's
    shard_stats, compact_deltas raises before any base file is swapped:
    the marker stays, readers refuse the index, and recover_update's
    re-fold leaves exactly the base a fresh build writes."""
    from importpipeline_spark.index import store as smod

    pages = gen_pages_df(spark, 160, seed=13, partitions=4)
    upd = _recrawl(pages, 3, 2)
    corpus = pages.join(upd.select("url"), "url", "left_anti").unionByName(upd)
    full_root = str(tmp_path / "full")
    write_index(spark, corpus, full_root, n_shards=4)
    want = _base_tables(full_root)

    def off_by_one(fold, shard):
        p = os.path.join(fold.root, "counters", f"shard_{shard}.json")
        with open(p) as f:
            rec = json.load(f)
        rec["total_tokens"] += 1
        with open(p, "w") as f:
            json.dump(rec, f)

    tampers = {
        "has no counters": lambda fold, shard: os.remove(
            os.path.join(fold.root, "counters", f"shard_{shard}.json")),
        "has no doclen part": lambda fold, shard: os.remove(os.path.join(
            fold.root, "doclen", f"shard={shard}", "part-0.parquet")),
        "shard_stats": off_by_one,
    }
    real = smod._encode_shard
    for i, (msg, tamper) in enumerate(tampers.items()):
        root = str(tmp_path / f"idx{i}")
        write_index(spark, pages, root, n_shards=4)
        update_index(spark, root, upd, compact_after=None)
        victim = min(dmod.shard_gen_map(root))
        base = {t: _inodes(root, t) for t in ("postings", "doclen")}

        def tampered(rows, fold, _tamper=tamper, _victim=victim):
            out = real(rows, fold)
            if int(rows["shard"].iloc[0]) == _victim:
                _tamper(fold, _victim)
            return out

        monkeypatch.setattr(smod, "_encode_shard", tampered)
        with pytest.raises(RuntimeError, match=f"segment {victim} .*{msg}"):
            compact_deltas(spark, root)
        monkeypatch.undo()
        assert {t: _inodes(root, t) for t in ("postings", "doclen")} == base
        assert dmod.shard_gen_map(root), msg
        with pytest.raises(RuntimeError, match="interrupted compaction"):
            open_index(root)
        assert recover_update(spark, root)
        assert open_index(root).stats["delta_gens"] == []
        assert _base_tables(root) == want, msg


def test_compaction_reads_only_its_own_shards(spark, tmp_path):
    """Each fold task reads only its own shard's docs: a docs file
    corrupted in a shard that holds a delta generation but is not among
    compact_deltas' ``shards`` breaks nothing and stays byte-identical
    (same inode). The folded shards' lineage rows carry the fold's
    counters, as build rows do, marked ``incremental``."""
    from importpipeline_spark.index.build import doc_id_expr, shard_of

    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=6, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    shard = {r.url: r.s for r in pages.select(
        "url", shard_of(doc_id_expr("hash"), 4).alias("s")).collect()}
    recrawl = sorted(u for u, s in shard.items() if s != 3)[::4]
    update_index(spark, root, pages.where(F.col("url").isin(recrawl))
                 .withColumn("warc_ts",
                             F.col("warc_ts") + F.expr("INTERVAL 2 HOURS")),
                 run_id="o1", input_snapshot="o1", compact_after=None)
    assert set(dmod.shard_gen_map(root)) == {0, 1, 2}
    victim = os.path.join(root, "docs", "shard=2")
    files = sorted(f for f in os.listdir(victim) if f.endswith(".parquet"))
    assert files
    for f in files:
        with open(os.path.join(victim, f), "wb") as fh:
            fh.write(b"not a parquet file" * 8)
    snap = {f: (os.stat(os.path.join(victim, f)).st_ino,
                open(os.path.join(victim, f), "rb").read()) for f in files}

    pidx = compact_deltas(spark, root, shards=[0, 1], run_id="c1")
    assert set(dmod.shard_gen_map(root)) == {2}
    assert pidx.stats["delta_gens"] == [1]
    assert sorted(f for f in os.listdir(victim)
                  if f.endswith(".parquet")) == files
    for f, (ino, data) in snap.items():
        p = os.path.join(victim, f)
        assert os.stat(p).st_ino == ino, f
        with open(p, "rb") as fh:
            assert fh.read() == data, f
    for s in (0, 1):
        with open(os.path.join(root, "segments", f"seg_{s}.json")) as fh:
            row = json.load(fh)
        post = pq.read_table(os.path.join(root, "postings", f"shard={s}"))
        assert row["run_id"] == "c1"
        assert row["n_docs"] == pidx.stats["shard_stats"][str(s)][0]
        assert row["n_postings"] == sum(post["n"].to_pylist()) > 0
        assert row["metrics"] == {
            "blocks": post.num_rows,
            "distinct_terms": len(set(post["term"].to_pylist())),
            "incremental": 1,
        }


def test_delete_only_generation_masks_without_postings(spark, tmp_path):
    """A delete writes no delta postings — only doclen tombstones + termdf
    decrements — and the readers (distributed + local) handle a generation
    with a missing delta_postings table."""
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=13, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    urls = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(root, "docs"))
        .orderBy("doc_id").limit(25).select("url").collect()
    )
    del_urls = spark.createDataFrame([(u,) for u in urls], "url string")
    terms_before = _file_inodes(root, "terms")
    pidx = delete_from_index(spark, root, del_urls)
    assert pidx.stats["delta_gens"] == [1]
    assert _file_inodes(root, "terms") == terms_before
    assert not os.path.isdir(os.path.join(root, "delta_postings", "gen=1"))
    assert os.path.isdir(os.path.join(root, "delta_doclen", "gen=1"))

    survivors = pages.join(del_urls, "url", "left_anti")
    full_root = str(tmp_path / "full")
    pidx_full = write_index(spark, survivors, full_root, n_shards=4)
    assert pidx.stats["n_docs"] == pidx_full.stats["n_docs"]
    assert pidx.stats["avgdl"] == pidx_full.stats["avgdl"]
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    assert _terms(spark, root) == _terms(spark, full_root)
    ls = LocalSearcher(root)
    for q in QUERIES:
        assert ls.search(q, k=10) == [
            (r.doc_id, r.score)
            for r in bm25_topk_wand(spark, pidx_full, q, k=10).collect()
        ]


def test_forced_sweep_masks_shadowed_docs(spark, tmp_path, monkeypatch):
    """The interval-sweep branch (normally reserved for >500k-posting
    candidate sets) must apply owner-generation masking identically to the
    exhaustive branch: force it on a delta index (update + delete
    generations) and require bit-identity with a full rebuild, through
    both the distributed kernel and the local searcher. Overlapping
    base/delta blocks of the same term also exercise the sweep's interval
    arithmetic under range overlap."""
    import importpipeline_spark.index.wand as wand_mod

    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 250, seed=21, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    upd = _recrawl(pages, 4, 5)
    update_index(spark, root, upd, run_id="fs1", input_snapshot="fs1")
    corpus = pages.join(upd.select("url"), "url", "left_anti").unionByName(upd)
    del_urls_list = sorted(
        r.url
        for r in spark.read.parquet(os.path.join(root, "docs"))
        .orderBy("doc_id").limit(20).select("url").collect()
    )
    del_urls = spark.createDataFrame([(u,) for u in del_urls_list], "url string")
    pidx = delete_from_index(spark, root, del_urls, run_id="fs2")
    corpus = corpus.join(del_urls, "url", "left_anti")
    assert pidx.stats["delta_gens"] == [1, 2]

    full_root = str(tmp_path / "full")
    pidx_full = write_index(spark, corpus, full_root, n_shards=4)

    monkeypatch.setattr(wand_mod, "_EXHAUSTIVE_CUTOFF", 0)
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    ls = LocalSearcher(root)
    for q in QUERIES:
        got = ls.search(q, k=10)
        want = [
            (r.doc_id, r.score)
            for r in bm25_topk_wand(spark, pidx_full, q, k=10).collect()
        ]
        assert got == want, q
        # the sweep must actually have run (blocks candidate accounting on)
        assert ls.last_stats["blocks_total"] > 0


def test_compact_published_snapshot_isolated(spark, tmp_path):
    """Compaction on the published lifecycle happens in a NEW generation:
    a reader holding the pre-compaction CURRENT keeps serving its delta-
    bearing snapshot unchanged, the new generation is fully folded, and
    results are identical on both."""
    from importpipeline_spark.index.segments import (
        compact_index_published,
        init_published_index,
        open_current_index,
        update_index_published,
    )

    store = str(tmp_path / "store")
    pages = gen_pages_df(spark, 200, seed=31, partitions=4)
    init_published_index(spark, pages, store, n_shards=4)
    upd = _recrawl(pages, 5, 1)
    update_index_published(spark, store, upd)

    reader_old = open_current_index(store)
    assert reader_old.stats["delta_gens"] == [1]
    before = _topk(spark, reader_old)

    pidx_c = compact_index_published(spark, store)
    assert pidx_c.stats["delta_gens"] == []
    reader_new = open_current_index(store)
    assert reader_new.root != reader_old.root
    assert reader_new.stats["delta_gens"] == []
    assert not dmod.shard_gen_map(reader_new.root)

    # the old snapshot still serves, delta dirs intact; results identical
    assert reader_old.stats["delta_gens"] == [1]
    assert os.path.isdir(os.path.join(reader_old.root, "delta_postings"))
    assert _topk(spark, reader_old) == before
    assert _topk(spark, reader_new) == before

    # no deltas → no-op (same generation stays CURRENT)
    again = compact_index_published(spark, store)
    assert again.root == reader_new.root


def test_random_op_sequence_with_midstream_compaction(spark, tmp_path):
    """Seeded pseudo-random sequence of updates/deletes/re-adds with
    compact_after=2, so auto-compaction fires MID-sequence and later delta
    generations stack on the freshly folded base — every step must stay
    rank/stats-identical to a full rebuild of the evolving corpus. Step 3
    starts with an explicit compact_deltas, interleaving the re-encode path
    (which must purge its shards' delta data) with live generations."""
    import random

    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 160, seed=17, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    all_urls = sorted(r.url for r in pages.select("url").collect())
    live = dict.fromkeys(all_urls, 0)  # url -> bump hours (0 = original)
    rng = random.Random(99)

    def corpus():
        gone = [u for u, b in live.items() if b is None]
        out = pages
        if gone:
            out = out.join(
                spark.createDataFrame([(u,) for u in gone], "url string"),
                "url", "left_anti",
            )
        return out

    bump = 0
    for step in range(5):
        if step == 3:
            compact_deltas(spark, root)
        op = rng.choice(["update", "delete", "readd"])
        if op == "update":
            alive = [u for u, b in live.items() if b is not None]
            sel = sorted(rng.sample(alive, 25))
            bump += 1
            upd = pages.join(
                spark.createDataFrame([(u,) for u in sel], "url string"), "url"
            ).withColumn(
                "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {bump} HOURS")
            )
            update_index(spark, root, upd, run_id=f"r{step}",
                         input_snapshot=f"s{step}", compact_after=2)
            for u in sel:
                live[u] = bump
        elif op == "delete":
            alive = [u for u, b in live.items() if b is not None]
            sel = sorted(rng.sample(alive, 15))
            delete_from_index(
                spark, root,
                spark.createDataFrame([(u,) for u in sel], "url string"),
                run_id=f"r{step}", compact_after=2,
            )
            for u in sel:
                live[u] = None
        else:
            gone = [u for u, b in live.items() if b is None]
            if not gone:
                continue
            sel = sorted(rng.sample(gone, min(8, len(gone))))
            bump += 1
            upd = pages.join(
                spark.createDataFrame([(u,) for u in sel], "url string"), "url"
            ).withColumn(
                "warc_ts", F.col("warc_ts") + F.expr(f"INTERVAL {bump} HOURS")
            )
            update_index(spark, root, upd, run_id=f"r{step}",
                         input_snapshot=f"s{step}", compact_after=2)
            for u in sel:
                live[u] = bump
        # after every step the effective dictionary (base terms/ + live
        # delta_termdf) is the one a fresh build of the corpus writes
        step_root = str(tmp_path / f"step{step}")
        write_index(spark, corpus(), step_root, n_shards=4)
        assert _terms(spark, root) == _terms(spark, step_root), step
        # and the incrementally maintained subtotals are the fresh build's
        got, want = read_stats(root), read_stats(step_root)
        for key in ("n_docs", "total_tokens", "avgdl", "shard_stats"):
            assert got[key] == want[key], (step, key)

    # compact_after=2 must have fired at least once mid-sequence
    sgm = dmod.shard_gen_map(root)
    assert all(len(g) < 3 for g in sgm.values()), sgm

    # NOTE: bumped warc_ts never changes content here (same html), so the
    # final corpus text equals the original rows minus deletions
    pidx = open_index(root)
    full_root = str(tmp_path / "full")
    pidx_full = write_index(spark, corpus(), full_root, n_shards=4)
    assert pidx.stats["n_docs"] == pidx_full.stats["n_docs"]
    assert pidx.stats["avgdl"] == pidx_full.stats["avgdl"]
    assert _topk(spark, pidx) == _topk(spark, pidx_full)
    assert _terms(spark, root) == _terms(spark, full_root)


def _group_jobs(spark, group):
    """Ids of the finished-or-running Spark jobs of ``group``, once the
    listener bus has delivered every event (the status store it feeds is
    asynchronous)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _clear_job_group(spark):
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setJobDescription(None)


# Spark jobs of the small update and delete below (200-doc base, 4 shards;
# a fifth of it recrawled, 5 urls deleted), every job of every phase
# included: they all run under the caller's job group. Each is the staging
# job's map stage plus its kernel, quarantine included.
_UPDATE_JOBS_MAX = 2
_DELETE_JOBS_MAX = 2


# Spark jobs by description of a compaction and of a killed build's resume
# at the test shape: the fold is one job (one task per shard, no exchange),
# and the base dictionary (_derive_dictionary) runs _DICTIONARY_JOBS
_COMPACT_STAGE_JOBS_MAX = 2
_DICTIONARY_JOBS = 4


def _jobs_by_description(spark, group):
    status = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for j in _group_jobs(spark, group):
        d = status.job(j).description().getOrElse(None)
        out[d] = out.get(d, 0) + 1
    return out


def test_compaction_and_resume_job_budgets(spark, tmp_path):
    """compact_deltas runs its fold (``compact_deltas: stage``) and the
    base dictionary (``compact_deltas: publish``) and nothing else: no
    docs scan or doclen write. A build killed after 3 of its 8 segments
    resumes in the build's own staged query, over the missing segments'
    pages only (at most 2 ``build: encode`` jobs: its map and kernel
    stages), plus the dictionary."""
    sc = spark.sparkContext
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    update_index(spark, root, _recrawl(pages, 5, 2), run_id="c1",
                 input_snapshot="c1", compact_after=None)
    sc.setJobGroup("compact_all", "whole compaction")
    try:
        compact_deltas(spark, root)
    finally:
        _clear_job_group(spark)
    got = _jobs_by_description(spark, "compact_all")
    assert set(got) == {"compact_deltas: stage", "compact_deltas: publish"}
    assert got["compact_deltas: stage"] <= _COMPACT_STAGE_JOBS_MAX, got
    assert got["compact_deltas: publish"] == _DICTIONARY_JOBS, got

    rroot = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        seg.build_index_resumable(spark, pages, rroot, n_shards=8,
                                  fail_after_segment=2)
    sc.setJobGroup("resume_all", "resume")
    try:
        seg.build_index_resumable(spark, pages, rroot, n_shards=8)
    finally:
        _clear_job_group(spark)
    got = _jobs_by_description(spark, "resume_all")
    assert set(got) == {"build: encode", "build: dictionary"}, got
    assert got["build: encode"] <= 2, got
    assert got["build: dictionary"] == _DICTIONARY_JOBS, got


def test_delta_publish_runs_no_spark_job(spark, tmp_path):
    """O(update) publish: once the staging job (which also writes the
    changed docs shards) has run, a delta commit — docs hard links, marker,
    docs swap, generation rename, stats.json — runs ZERO Spark jobs, and
    so does
    recover_update's roll-forward of a delta marker. The cached input is
    already released when the publish starts. terms/ is the base
    dictionary and is never rewritten by a delta commit. The whole update
    and the whole delete stay within their recorded job budgets."""
    sc = spark.sparkContext
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=4)

    sc.setJobGroup("upd_all", "whole update")
    try:
        update_index(spark, root, _recrawl(pages, 5, 2), run_id="j1",
                     input_snapshot="j1", compact_after=None)
    finally:
        _clear_job_group(spark)
    n_jobs = len(_group_jobs(spark, "upd_all"))
    assert 0 < n_jobs <= _UPDATE_JOBS_MAX, n_jobs

    real_swap = seg._swap_docs_under_marker
    del_urls = spark.createDataFrame(
        [(r.url,) for r in pages.orderBy("url").limit(5).collect()],
        "url string")
    calls = {
        "update": lambda: update_index(
            spark, root, _recrawl(pages, 5, 3), run_id="j2",
            input_snapshot="j2", compact_after=None),
        "delete": lambda: delete_from_index(
            spark, root, del_urls, run_id="j3", compact_after=None),
    }
    jsc = sc._jsc
    for name, call in calls.items():
        persisted = []

        def swap_in_group(*a, _group=f"publish_{name}", **kw):
            # the publish starts with the marker write inside the swap
            sc.setJobGroup(_group, "delta publish")
            persisted.append(len(jsc.getPersistentRDDs()))
            return real_swap(*a, **kw)

        before = len(jsc.getPersistentRDDs())
        seg._swap_docs_under_marker = swap_in_group
        sc.setJobGroup(f"{name}_all", "whole call up to its publish")
        try:
            call()
        finally:
            seg._swap_docs_under_marker = real_swap
            _clear_job_group(spark)
        assert _group_jobs(spark, f"publish_{name}") == [], name
        n_jobs = len(_group_jobs(spark, f"{name}_all"))
        budget = {"update": _UPDATE_JOBS_MAX, "delete": _DELETE_JOBS_MAX}
        assert 0 < n_jobs <= budget[name], (name, n_jobs)
        # the cached update/delete input is released before the marker
        assert persisted == [before], (name, persisted, before)
    assert read_stats(root)["delta_gens"] == [1, 2, 3]

    # a kill after the docs swap leaves the delta marker: its roll-forward
    # is the same Spark-free publish
    real_commit = seg._commit_delta_gen

    def boom(*a, **kw):
        raise RuntimeError("injected")

    seg._commit_delta_gen = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            update_index(spark, root, _recrawl(pages, 3, 4), run_id="j4",
                         input_snapshot="j4", compact_after=None)
    finally:
        seg._commit_delta_gen = real_commit
    assert os.path.exists(os.path.join(root, "update.json"))
    sc.setJobGroup("recover", "delta roll-forward")
    try:
        assert recover_update(spark, root)
    finally:
        _clear_job_group(spark)
    assert _group_jobs(spark, "recover") == []
    assert read_stats(root)["delta_gens"] == [1, 2, 3, 4]


def test_quarantined_update_runs_no_extra_job(spark, tmp_path):
    """A quarantined page costs an update no Spark job: the staging kernel
    records it as an errors/ part (the columns and types a Spark write
    gives errors/, so a Spark read sees one table) and the driver
    recounts the quarantine's distinct urls with pyarrow. The update stays
    within its job budget, and n_errors is the recount."""
    sc = spark.sparkContext
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    deep = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
            + "</body></html>")
    poison = spark.createDataFrame(
        [("u_poison", deep.encode())], "url string, html binary"
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "text", F.lit(None).cast("string")).withColumn("lang", F.lit("en"))
    upd = _recrawl(pages, 5, 2).unionByName(poison.select(*pages.columns))
    sc.setJobGroup("upd_bad", "update with a quarantined page")
    try:
        pidx = update_index(spark, root, upd, run_id="q1",
                            input_snapshot="q1", compact_after=None)
    finally:
        _clear_job_group(spark)
    n_jobs = len(_group_jobs(spark, "upd_bad"))
    assert 0 < n_jobs <= _UPDATE_JOBS_MAX, n_jobs
    assert pidx.stats["n_errors"] == 1 and pidx.stats["delta_gens"] == [1]
    err = spark.read.parquet(os.path.join(root, "errors"))
    assert err.schema.simpleString() == (
        "struct<url:string,stage:string,error:string,ts:timestamp>")
    rows = err.collect()
    assert [(r.url, r.stage) for r in rows] == [("u_poison", "extract")]
    assert "RecursionError" in rows[0].error and rows[0].ts is not None


def test_missing_kernel_output_fails_before_marker(spark, tmp_path,
                                                   monkeypatch):
    """The commit takes each affected shard's new subtotals from the
    counters the staging kernel writes beside its delta_doclen file, its
    merged docs part and (its counters reporting posting blocks) its
    delta_postings part. When any of the four is missing for a shard —
    what an index root the driver and executors do not share looks like —
    the update raises before the marker instead of counting the shard as
    unchanged or publishing a docs table without it: stats.json is
    untouched, and the only leftovers are staging garbage that
    recover_update sweeps."""
    from importpipeline_spark.index import store as smod

    pages = gen_pages_df(spark, 120, seed=5, partitions=4)
    real = smod._encode_shard
    for dropped in ("counters", "delta_doclen", "docs", "delta_postings"):
        root = str(tmp_path / dropped)
        write_index(spark, pages, root, n_shards=4)
        with open(os.path.join(root, "stats.json")) as f:
            stats_before = f.read()
        tree_before = _dir_tree(root)

        def drop_shard0_output(rows, staging, _dropped=dropped):
            out = real(rows, staging)
            p = {
                "counters": os.path.join(staging.root, "counters",
                                         "shard_0.json"),
                "delta_doclen": os.path.join(staging.root, "delta_doclen",
                                             "shard=0", "part-0.parquet"),
                "delta_postings": os.path.join(
                    staging.root, "delta_postings", "shard=0",
                    "part-0.parquet"),
                "docs": os.path.join(staging.docs, "shard=0",
                                     "part-0.parquet"),
            }[_dropped]
            if os.path.exists(p):
                os.remove(p)
            return out

        monkeypatch.setattr(smod, "_encode_shard", drop_shard0_output)
        with pytest.raises(RuntimeError, match="shard 0 is missing"):
            update_index(spark, root, _recrawl(pages, 2, 1), run_id="m1",
                         input_snapshot="m1")
        monkeypatch.undo()
        with open(os.path.join(root, "stats.json")) as f:
            assert f.read() == stats_before, dropped
        assert not os.path.exists(os.path.join(root, "update.json"))
        left = set(_dir_tree(root)) - set(tree_before)
        assert left and all(
            d.split(os.sep)[0] in ("delta_staging", "docs.tmp") for d in left
        ), (dropped, left)
        assert not recover_update(spark, root)
        assert _dir_tree(root) == tree_before, dropped


def test_failed_staging_releases_cached_inputs(spark, tmp_path):
    """A staging failure leaves the session and the index as they were:
    neither an update nor a delete leaves a persisted relation behind (the
    session's persisted RDD count is back to its value before the call),
    no marker is left, and recover_update finds nothing to do."""
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 120, seed=5, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    jsc = spark.sparkContext._jsc

    def boom(*a, **kw):
        raise RuntimeError("injected-stage")

    del_urls = spark.createDataFrame(
        [(r.url,) for r in pages.orderBy("url").limit(7).collect()],
        "url string")
    calls = [
        ("stage_update_delta", lambda: update_index(
            spark, root, _recrawl(pages, 4, 1), run_id="l1",
            input_snapshot="l1")),
        ("stage_delete_delta", lambda: delete_from_index(
            spark, root, del_urls, run_id="l2")),
    ]
    for name, call in calls:
        before = len(jsc.getPersistentRDDs())
        real = getattr(dmod, name)
        setattr(dmod, name, boom)
        try:
            with pytest.raises(RuntimeError, match="injected-stage"):
                call()
        finally:
            setattr(dmod, name, real)
        assert len(jsc.getPersistentRDDs()) == before, name
        assert not os.path.exists(os.path.join(root, "update.json"))
    assert not recover_update(spark, root)
    assert open_index(root).stats["n_docs"] == 120


def test_multi_shard_mutation_runs_parallel_kernel_tasks(spark, tmp_path):
    """The staging kernel's one side is repartitioned by shard into
    min(shards, parallelism) partitions, at least 2; AQE does not coalesce
    that shuffle, so an update or a delete touching two or more shards
    runs its kernel stage — the last stage of its last ``stage`` job — in
    more than one task instead of encoding the shards one after another in
    a single task."""
    sc = spark.sparkContext
    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 200, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    del_urls = spark.createDataFrame(
        [(r.url,) for r in pages.orderBy("url").limit(6).collect()],
        "url string")
    calls = {
        "update_index": lambda: update_index(
            spark, root, _recrawl(pages, 5, 2), run_id="p1",
            input_snapshot="p1", compact_after=None),
        "delete_from_index": lambda: delete_from_index(
            spark, root, del_urls, run_id="p2", compact_after=None),
    }
    status = sc._jsc.sc().statusStore()
    for op, call in calls.items():
        sc.setJobGroup(f"kernel_{op}", "undescribed")
        try:
            pidx = call()
        finally:
            _clear_job_group(spark)
        gen = pidx.stats["delta_gens"][-1]
        assert len(os.listdir(os.path.join(
            root, "delta_doclen", f"gen={gen}"))) >= 2, op
        stage_jobs = [
            j for j in _group_jobs(spark, f"kernel_{op}")
            if status.job(j).description().getOrElse(None) == f"{op}: stage"
        ]
        kernel_stage = max(
            sc.statusTracker().getJobInfo(max(stage_jobs)).stageIds)
        info = sc.statusTracker().getStageInfo(kernel_stage)
        assert info.numCompletedTasks > 1, (op, info)
