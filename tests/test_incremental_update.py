"""Incremental index update: re-index only what changed; results must be
rank- and score-identical to a full rebuild over the merged corpus."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from importpipeline_spark.index.pagesgen import gen_pages_df
from importpipeline_spark.index.segments import update_index
from importpipeline_spark.index.store import DOCS_SCHEMA, write_index
from importpipeline_spark.index.wand import bm25_topk_wand


def read_docs(spark, root):
    """The docs table of the index at ``root`` without its shard column,
    read with the pinned DOCS_SCHEMA."""
    return spark.read.schema(DOCS_SCHEMA).parquet(
        f"{root}/docs").drop("shard")

N1 = 400
N_RECRAWL = 40
N_NEW = 60

QUERIES = ["the", "of and", "ebakaba8", "the ebakaba8 equababa1", "der die und"]


def _snapshot2(spark):
    """Re-crawls of urls 0..40 with NEW content (+1 day), unchanged 40..400,
    plus new urls 400..460."""
    base = gen_pages_df(spark, N1 + N_NEW, seed=42, partitions=8)
    donor = (
        gen_pages_df(spark, N_RECRAWL, seed=99, partitions=4)
        .select(F.col("url").alias("d_url"), F.col("html").alias("d_html"),
                F.col("text").alias("d_text"))
        .withColumn("rn", F.row_number().over(Window.orderBy("d_url")))
    )
    orig = base.withColumn("rn", F.row_number().over(Window.orderBy("url")))
    recrawled = (
        orig.where(F.col("rn") <= N_RECRAWL)
        .join(donor, "rn")
        .select(
            "url",
            (F.col("warc_ts") + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
            F.col("d_html").alias("html"),
            F.col("d_text").alias("text"),
            "lang",
        )
    )
    rest = orig.where(F.col("rn") > N_RECRAWL).drop("rn")
    return recrawled.unionByName(rest)


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    root_inc = str(tmp_path_factory.mktemp("inc"))
    root_full = str(tmp_path_factory.mktemp("full"))
    snap1 = gen_pages_df(spark, N1, seed=42, partitions=8)
    write_index(spark, snap1, root_inc, n_shards=8)
    snap2 = _snapshot2(spark)
    pidx_inc = update_index(spark, root_inc, snap2)
    # full rebuild over exactly the merged corpus (snap2 covers everything)
    pidx_full = write_index(spark, snap2, root_full, n_shards=8)
    return pidx_inc, pidx_full


def test_stats_match_full_rebuild(indexes):
    pidx_inc, pidx_full = indexes
    assert pidx_inc.stats["n_docs"] == pidx_full.stats["n_docs"] == N1 + N_NEW
    assert pidx_inc.stats["avgdl"] == pidx_full.stats["avgdl"]
    assert pidx_inc.stats["total_tokens"] == pidx_full.stats["total_tokens"]


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identical_to_full_rebuild(indexes, spark, query):
    pidx_inc, pidx_full = indexes
    a = bm25_topk_wand(spark, pidx_inc, query, k=10).collect()
    b = bm25_topk_wand(spark, pidx_full, query, k=10).collect()
    assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]


def _dictionary(spark, pidx):
    """{term: (df, shards)} of the effective dictionary (base terms/ plus
    the live delta_termdf overlay)."""
    from importpipeline_spark.index.store import read_dictionary

    return {r.term: (r.df, tuple(r.shards))
            for r in read_dictionary(spark, pidx).collect()}


def test_dictionary_matches_full_rebuild(indexes, spark):
    from importpipeline_spark.index.serve import LocalSearcher

    pidx_inc, pidx_full = indexes
    assert pidx_inc.delta_gens()
    ta = _dictionary(spark, pidx_inc)
    assert ta == _dictionary(spark, pidx_full)
    assert LocalSearcher(pidx_inc.root)._df == {t: v[0] for t, v in ta.items()}


def test_crash_recovery_mid_update(spark, tmp_path, monkeypatch):
    """Kill at the worst windows of a mutation → recover_update restores a
    consistent index that matches a full rebuild. A compaction marker no
    writer leaves (no shard_stats to check the re-fold against) is refused
    loudly instead of being re-folded unchecked."""
    import json
    import os

    from importpipeline_spark.index import segments as seg
    from importpipeline_spark.index.segments import compact_deltas, recover_update
    from importpipeline_spark.index.store import open_index, read_stats

    root = str(tmp_path / "crashidx")
    snap1 = gen_pages_df(spark, 200, seed=42, partitions=4)
    write_index(spark, snap1, root, n_shards=4)
    snap2 = gen_pages_df(spark, 230, seed=42, partitions=4)
    update_index(spark, root, snap2, run_id="u1", input_snapshot="snap2",
                 compact_after=None)
    assert open_index(root).stats["delta_gens"] == [1]

    # window A: compaction killed between two shards' segment commits —
    # one base shard is folded, the others and every delta still stale
    real_commit = seg._commit_segment
    commits = []

    def commit_once(*a, **kw):
        if commits:
            raise RuntimeError("injected-commit")
        commits.append(a[1])
        return real_commit(*a, **kw)

    monkeypatch.setattr(seg, "_commit_segment", commit_once)
    with pytest.raises(RuntimeError, match="injected-commit"):
        compact_deltas(spark, root)
    monkeypatch.undo()
    assert len(commits) == 1
    # --- "crash" here: marker present, base half folded ---
    assert recover_update(spark, root)
    assert not os.path.exists(os.path.join(root, "update.json"))

    # recovered index must equal a full rebuild over snap2
    full_root = str(tmp_path / "fullidx")
    pidx_full = write_index(spark, snap2, full_root, n_shards=4)
    pidx_rec = open_index(root)
    assert pidx_rec.stats["delta_gens"] == []
    assert pidx_rec.stats["n_docs"] == pidx_full.stats["n_docs"] == 230
    for q in ("the", "of and", "ebakaba8"):
        a = bm25_topk_wand(spark, pidx_rec, q, k=10).collect()
        b = bm25_topk_wand(spark, pidx_full, q, k=10).collect()
        assert [(r.doc_id, r.score) for r in a] == [(r.doc_id, r.score) for r in b]

    # window B: docs dir missing mid-rename → rolled forward from tmp
    docs = os.path.join(root, "docs")
    os.rename(docs, docs + ".tmp")
    assert recover_update(spark, root)
    assert os.path.exists(docs)

    # a mode-less marker without shard_stats: refused, nothing touched
    stats = read_stats(root)
    marker = os.path.join(root, "update.json")
    with open(marker, "w") as f:
        json.dump({"affected": [0], "n_shards": 4, "run_id": "crash",
                   "input_snapshot": "snap2"}, f)
    with pytest.raises(RuntimeError, match="no shard_stats"):
        recover_update(spark, root)
    assert os.path.exists(marker)
    assert read_stats(root) == stats


def test_noop_update(indexes, spark):
    pidx_inc, _ = indexes
    # re-applying the same snapshot changes nothing (all ExistSame)
    before = pidx_inc.stats["n_docs"]
    snap2 = _snapshot2(spark)
    out = update_index(spark, pidx_inc.root, snap2, run_id="run3")
    assert out.stats["n_docs"] == before


def _topk(spark, pidx, k=10):
    return [
        (r.doc_id, r.score)
        for q in QUERIES
        for r in bm25_topk_wand(spark, pidx, q, k=k).collect()
    ]


def test_published_update_snapshot_isolation(spark, tmp_path):
    """Readers see the OLD index or the NEW index, never a mix: a reader that
    resolved CURRENT before an update keeps complete pre-update results; a
    crash mid-update leaves CURRENT (and its generation) untouched."""
    import os

    from importpipeline_spark.index import segments as seg
    from importpipeline_spark.index.segments import (
        init_published_index,
        open_current_index,
        update_index_published,
    )

    store = str(tmp_path / "store")
    snap1 = gen_pages_df(spark, N1, seed=42, partitions=8)
    init_published_index(spark, snap1, store, n_shards=8)

    reader_old = open_current_index(store)  # resolves CURRENT now
    before = _topk(spark, reader_old)

    # crash mid-update (after the docs swap inside the new generation,
    # before the delta-generation commit): CURRENT must not move and the
    # old generation must stay fully intact
    real_commit = seg._commit_delta_gen
    def boom(*a, **kw):
        raise RuntimeError("injected mid-update crash")
    seg._commit_delta_gen = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            update_index_published(spark, store, _snapshot2(spark))
    finally:
        seg._commit_delta_gen = real_commit
    assert open_current_index(store).root == reader_old.root
    assert _topk(spark, open_current_index(store)) == before

    # successful update: the pre-flip reader still serves complete OLD
    # results from its immutable generation; a fresh reader sees the NEW one
    pidx_new = update_index_published(spark, store, _snapshot2(spark))
    assert _topk(spark, reader_old) == before
    reader_new = open_current_index(store)
    assert reader_new.root == pidx_new.root != reader_old.root
    assert reader_new.stats["n_docs"] == N1 + N_NEW

    # the new generation is rank-identical to an in-place update (same
    # engine path), and the old generation was GC-able only after publish
    gens = [d for d in os.listdir(store) if d.startswith("gen=")]
    assert len(gens) == 2  # keep_generations=2: old + new retained


def test_published_gc_protects_live_generation(spark, tmp_path):
    """An orphaned generation dir (hard-killed update) must not count toward
    keep_generations and evict the predecessor readers still hold."""
    import os

    from importpipeline_spark.index.segments import (
        init_published_index,
        open_current_index,
        update_index_published,
    )

    store = str(tmp_path / "store")
    snap1 = gen_pages_df(spark, 50, seed=42, partitions=2)
    gen_a = init_published_index(spark, snap1, store, n_shards=4).root
    # fake a crash orphan that sorts NEWEST (worst case for naive keep-last-k)
    orphan = os.path.join(store, "gen=99999999_999999_999999")
    os.makedirs(orphan)
    snap2 = gen_pages_df(spark, 60, seed=42, partitions=2)
    gen_b = update_index_published(spark, store, snap2, keep_generations=2).root
    assert os.path.isdir(gen_a), "live predecessor evicted by orphan"
    assert os.path.isdir(gen_b)
    assert not os.path.isdir(orphan), "crash orphan not cleaned"
    assert open_current_index(store).root == gen_b


def test_delete_from_index_rank_identical(spark, tmp_path):
    """Deleting docs re-encodes only their shards; results equal a full
    rebuild over the surviving corpus — including df/idf shifts (deleted
    docs must stop matching AND stop influencing scores)."""
    from pyspark.sql import functions as SF

    from importpipeline_spark.index.segments import delete_from_index

    root = str(tmp_path / "delidx")
    pages = gen_pages_df(spark, 300, seed=42, partitions=4)
    write_index(spark, pages, root, n_shards=4)

    # delete 40 docs, deliberately including current top hits for 'the'
    top = bm25_topk_wand(
        spark, __import__("importpipeline_spark.index.store",
                          fromlist=["open_index"]).open_index(root),
        "the", k=5,
    ).collect()
    doomed_ids = {r.doc_id for r in top[:3]}
    docs = spark.read.parquet(f"{root}/docs")
    doomed_urls = docs.where(SF.col("doc_id").isin(list(doomed_ids))).select("url")
    more = docs.orderBy("doc_id").limit(37).select("url")
    # materialize: the lazy plan references the pre-delete docs files, which
    # the delete replaces — re-evaluating it afterwards would read gone files
    urls = sorted({r.url for r in doomed_urls.unionByName(more).collect()})
    del_urls = spark.createDataFrame([(u,) for u in urls], "url string")
    n_del = len(urls)

    pidx = delete_from_index(spark, root, del_urls)
    assert pidx.stats["n_docs"] == 300 - n_del

    survivors = pages.join(del_urls, "url", "left_anti")
    full_root = str(tmp_path / "delfull")
    pidx_full = write_index(spark, survivors, full_root, n_shards=4)
    assert pidx.stats["avgdl"] == pidx_full.stats["avgdl"]
    for q in QUERIES:
        a = bm25_topk_wand(spark, pidx, q, k=10).collect()
        b = bm25_topk_wand(spark, pidx_full, q, k=10).collect()
        assert [(r.doc_id, r.score) for r in a] == [
            (r.doc_id, r.score) for r in b
        ], q
    got_ids = {
        r.doc_id for r in bm25_topk_wand(spark, pidx, "the", k=10).collect()
    }
    assert not (got_ids & doomed_ids)

    # deleting urls that don't exist is a no-op
    ghost = spark.createDataFrame([("u_ghost",)], "url string")
    pidx2 = delete_from_index(spark, root, ghost, run_id="del2")
    assert pidx2.stats["n_docs"] == 300 - n_del


def test_update_docs_merge_is_cow_per_shard(spark, tmp_path):
    """r5 partitioned docs layout: an update's docs merge stages ONLY the
    affected shards' rows and HARD-LINKS every other shard directory —
    pinned by inode identity, so a regression to a full-corpus rewrite
    (new inodes everywhere) fails loudly. A host re-crawl on a
    host_locality index must also touch only that host's shard(s)."""
    import os

    from importpipeline_spark.index.pagesgen import gen_pages_df

    root = str(tmp_path / "cowidx")
    pages = gen_pages_df(spark, 2000, seed=9, partitions=8, profile="web")
    write_index(spark, pages, root, n_shards=16, write_docs=True,
                doc_id_mode="host_locality")
    docs_dir = os.path.join(root, "docs")

    def inodes():
        out = {}
        for d in os.listdir(docs_dir):
            if d.startswith("shard="):
                p = os.path.join(docs_dir, d)
                out[d] = {f: os.stat(os.path.join(p, f)).st_ino
                          for f in os.listdir(p) if f.endswith(".parquet")}
        return out

    before = inodes()
    assert len(before) >= 2, "web corpus must span multiple shard dirs"

    host = F.parse_url(F.col("url"), F.lit("HOST"))
    top = (pages.groupBy(host.alias("h")).count()
           .orderBy(F.col("count").desc(), F.col("h").asc()).first())
    upd = pages.where(host == top["h"]).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOURS"))
    pidx = update_index(spark, root, upd, run_id="cow1", input_snapshot="c1")
    after = inodes()

    rewritten = [d for d in before if after.get(d) != before[d]]
    hard_linked = [d for d in before if after.get(d) == before[d]]
    # one host -> one contiguous id range -> at most 2 boundary shards
    assert 1 <= len(rewritten) <= 2, (rewritten, hard_linked)
    assert hard_linked, "unaffected shards must be linked, not rewritten"
    assert pidx.stats["n_docs"] == 2000

    # the merged table still reads back complete and url-unique
    docs = read_docs(spark, root)
    assert docs.count() == 2000
    assert docs.select("url").distinct().count() == 2000
    assert "shard" not in docs.columns


def test_termdf_sidecar_dictionary_is_postings_free(indexes, spark, tmp_path):
    """The base term df has one source: the base posting blocks' ``n``.
    The base derivation (build and compaction) equals Σ base block n per
    term with the sorted set of shards holding a block, reproduces terms/
    as written, and never reads ``delta_postings``: an update's blocks
    there would change the sums, yet removing them changes nothing. The
    readers' overlay (base blocks + live delta_termdf) equals the full
    rebuild's dictionary."""
    import glob
    import os

    import pandas as pd

    from importpipeline_spark.index.store import _derive_dictionary, open_index

    pidx_inc, pidx_full = indexes
    root = pidx_inc.root
    assert _dictionary(spark, open_index(root)) == _dictionary(spark, pidx_full)

    def blocks(table):
        parts = []
        for p in glob.glob(os.path.join(root, table, "**", "*.parquet"),
                           recursive=True):
            df = pd.read_parquet(p, columns=["term", "n"])
            df["shard"] = int(p.split("shard=")[1].split("/")[0])
            parts.append(df)
        return pd.concat(parts, ignore_index=True)

    def ref(post):
        return sorted(
            (t, int(g["n"].sum()), tuple(sorted(set(g["shard"].tolist()))))
            for t, g in post.groupby("term")
        )

    def frame(path):
        df = spark.read.parquet(path)
        return sorted((r.term, r.df, tuple(r.shards)) for r in df.collect())

    base = blocks("postings")
    want = ref(base)
    assert want != ref(pd.concat([base, blocks("delta_postings")]))
    out = str(tmp_path / "terms_chk")
    _derive_dictionary(spark, root, out)
    assert frame(out) == want == frame(pidx_inc.terms_path)

    moved = os.path.join(root, "delta_postings_moved")
    os.rename(os.path.join(root, "delta_postings"), moved)
    try:
        _derive_dictionary(spark, root, out)
    finally:
        os.rename(moved, os.path.join(root, "delta_postings"))
    assert frame(out) == want


def test_termdf_update_touches_only_affected_shards(spark, tmp_path):
    """The base term df lives in the posting blocks: a narrow (host-bursty)
    update touches NO base postings file, and compacting it afterwards
    rewrites only the compacted shards' postings: every other shard's file
    stays untouched on disk (same inodes) — the base df refresh is
    O(affected shards), like the docs COW merge."""
    import os

    from importpipeline_spark.index.deltas import shard_gen_map
    from importpipeline_spark.index.pagesgen import gen_pages_df
    from importpipeline_spark.index.segments import compact_deltas

    root = str(tmp_path / "tdidx")
    pages = gen_pages_df(spark, 2000, seed=9, partitions=8, profile="web")
    write_index(spark, pages, root, n_shards=16, write_docs=True,
                doc_id_mode="host_locality")
    td_dir = os.path.join(root, "postings")

    def inodes():
        out = {}
        for d in os.listdir(td_dir):
            if d.startswith("shard="):
                p = os.path.join(td_dir, d)
                out[d] = {f: os.stat(os.path.join(p, f)).st_ino
                          for f in os.listdir(p) if f.endswith(".parquet")}
        return out

    before = inodes()
    assert len(before) >= 2
    host = F.parse_url(F.col("url"), F.lit("HOST"))
    top = (pages.groupBy(host.alias("h")).count()
           .orderBy(F.col("count").desc(), F.col("h").asc()).first())
    upd = pages.where(host == top["h"]).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOURS"))
    update_index(spark, root, upd, run_id="td1", input_snapshot="t1")
    assert inodes() == before
    compacted = sorted(f"shard={s}" for s in shard_gen_map(root))
    compact_deltas(spark, root, run_id="td1c", input_snapshot="t1")
    after = inodes()
    rewritten = sorted(d for d in before if after.get(d) != before[d])
    untouched = [d for d in before if after.get(d) == before[d]]
    assert rewritten == compacted
    assert 1 <= len(rewritten) <= 2, (rewritten, untouched)
    assert untouched


def test_legacy_format_is_refused(spark, tmp_path):
    """An index whose stats.json lacks ``format_version`` (the pre-versioned
    layout) or carries an older one is refused — never migrated in place —
    by every reader and writer, with a ValueError naming the root and both
    versions; so is a version-1 index with live generations and a stale
    version-1 delta marker, which recovery leaves untouched."""
    import json
    import os

    from importpipeline_spark.index.pagesgen import gen_pages_df
    from importpipeline_spark.index.segments import (
        build_index_resumable,
        compact_deltas,
        delete_from_index,
        recover_update,
    )
    from importpipeline_spark.index.serve import LocalSearcher
    from importpipeline_spark.index.store import FORMAT_VERSION, open_index

    root = str(tmp_path / "legacy")
    pages = gen_pages_df(spark, 100, seed=3, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    stats_path = os.path.join(root, "stats.json")
    with open(stats_path) as f:
        stats = json.load(f)
    upd = pages.where(F.xxhash64("url") % 5 == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOURS"))

    for version in (None, FORMAT_VERSION - 1):
        legacy = {k: v for k, v in stats.items() if k != "format_version"}
        if version is not None:
            legacy["format_version"] = version
        with open(stats_path, "w") as f:
            json.dump(legacy, f)
        calls = [
            lambda: open_index(root),
            lambda: LocalSearcher(root),
            lambda: update_index(spark, root, upd, run_id="l1",
                                 input_snapshot="l1"),
            lambda: delete_from_index(spark, root, upd.select("url")),
            lambda: compact_deltas(spark, root),
            # a resume over a finished root reads stats.json first
            lambda: build_index_resumable(spark, pages, root, n_shards=4),
        ]
        for call in calls:
            with pytest.raises(ValueError) as ei:
                call()
            msg = str(ei.value)
            assert root in msg, msg
            assert f"format_version {version!r}" in msg, msg
            assert f"format_version {FORMAT_VERSION}" in msg, msg
        # refused, not migrated: stats.json is untouched
        with open(stats_path) as f:
            assert json.load(f) == legacy

    # a version-1 index with live generations (its terms/ already counted
    # them) and a version-1 delta marker (no stats in it): refused before
    # recovery touches anything
    live = str(tmp_path / "legacy_live")
    write_index(spark, pages, live, n_shards=4)
    update_index(spark, live, upd, run_id="l2", input_snapshot="l2",
                 compact_after=None)
    live_stats = os.path.join(live, "stats.json")
    with open(live_stats) as f:
        legacy = json.load(f)
    assert legacy["delta_gens"] == [1]
    legacy["format_version"] = 1
    with open(live_stats, "w") as f:
        json.dump(legacy, f)
    marker = os.path.join(live, "update.json")
    old_marker = {"affected": [0], "n_shards": 4, "run_id": "old",
                  "input_snapshot": "old", "mode": "delta", "gen": 2}
    with open(marker, "w") as f:
        json.dump(old_marker, f)
    calls = [
        lambda: open_index(live),
        lambda: LocalSearcher(live),
        lambda: recover_update(spark, live),
        lambda: update_index(spark, live, upd, run_id="l3",
                             input_snapshot="l3"),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="format_version 1"):
            call()
    with open(live_stats) as f:
        assert json.load(f) == legacy
    with open(marker) as f:
        assert json.load(f) == old_marker


def test_corrupt_termdf_sidecar_raises(spark, tmp_path):
    """A corrupt base postings file — the base term df's one source — must
    fail every dictionary derivation loudly; only a postings table with no
    parquet files at all reads as empty. (Swallowing the read error would
    serve or commit an empty or partial dictionary.) A delta commit derives
    no dictionary — terms/ is the base dictionary — so the derivation to
    pin is the readers' overlay (read_dictionary, hence the distributed
    query's idf lookup) and the base derivation of a compaction."""
    import glob
    import os

    from importpipeline_spark.index.pagesgen import gen_pages_df
    from importpipeline_spark.index.store import (
        _derive_dictionary,
        open_index,
        read_dictionary,
    )

    root = str(tmp_path / "corrupt")
    pages = gen_pages_df(spark, 200, seed=3, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    # new content, so the generation carries term-df adjustments
    upd = gen_pages_df(spark, 230, seed=4, partitions=4).where(
        F.xxhash64("url") % 5 == 0).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOURS"))
    pidx = update_index(spark, root, upd, run_id="c1", input_snapshot="c1")
    assert pidx.delta_gens()
    assert glob.glob(os.path.join(root, "delta_termdf", "gen=1", "*", "*"))
    files = glob.glob(os.path.join(root, "postings", "shard=*", "*.parquet"))
    assert files
    for p in files:
        with open(p, "wb") as f:
            f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception):
        read_dictionary(spark, open_index(root)).collect()
    with pytest.raises(Exception):
        bm25_topk_wand(spark, open_index(root), "the", k=5).collect()
    with pytest.raises(Exception):
        _derive_dictionary(spark, root, str(tmp_path / "terms_chk"))


def test_update_kernel_probe_matches_classify_snapshot(spark, tmp_path):
    """The staging kernel runs the existence probe per shard on its own
    shard's live docs. It must keep exactly the pages classify_snapshot
    (the DataFrame oracle) calls NotExist or ExistOlder and drop the
    ExistSame and ExistNewer ones, whose content is changed here so a
    wrongly kept page would show in docs/. Quarantined pages pass the same
    probe: a quarantined NotExist page is recorded in errors/, a
    quarantined ExistSame page is not."""
    import os
    from datetime import timedelta

    import pyarrow.parquet as pq

    from importpipeline_spark.index.pagesgen import PAGES_SCHEMA
    from importpipeline_spark.index.segments import classify_snapshot
    root = str(tmp_path / "probeidx")
    pages = gen_pages_df(spark, 240, seed=4, partitions=4)
    write_index(spark, pages, root, n_shards=8)
    old = {r.url: r for r in read_docs(spark, root).collect()}
    picked = pages.orderBy("url").limit(14).collect()
    deep = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
            + "</body></html>").encode()

    def page(r, hours, html, text):
        return (r.url, r.warc_ts + timedelta(hours=hours), html, text, r.lang)

    def changed(r, tag):
        text = f"zzprobe {tag} {r.url}"
        return text.encode(), text

    rows = []
    for i, r in enumerate(picked[:12]):
        hours, tag = [(2, "older"), (0, "same"), (-2, "newer")][i % 3]
        rows.append(page(r, hours, *changed(r, tag)))
    rows.append(page(picked[12], 0, deep, None))  # quarantined ExistSame
    fresh = picked[13]
    rows += [
        (f"{fresh.url}/new{i}", fresh.warc_ts, *changed(fresh, f"new{i}"),
         "en") for i in range(2)
    ]
    rows.append((f"{fresh.url}/bad", fresh.warc_ts, deep, None, "en"))
    upd = spark.createDataFrame(rows, PAGES_SCHEMA)

    states = {r.url: r.exist_state for r in classify_snapshot(
        upd, read_docs(spark, root)).collect()}
    assert sorted(set(states.values())) == [
        "ExistNewer", "ExistOlder", "ExistSame", "NotExist"]
    bad = {picked[12].url, f"{fresh.url}/bad"}
    kept = {u for u, st in states.items()
            if st in ("NotExist", "ExistOlder") and u not in bad}

    pidx = update_index(spark, root, upd, run_id="pr1", input_snapshot="p1")
    assert pidx.stats["n_docs"] == 240 + 2
    assert pidx.stats["n_errors"] == 1
    docs = {r.url: r for r in read_docs(spark, root).collect()}
    incoming = {u: (ts, text) for u, ts, _, text, _ in rows}
    for u, st in states.items():
        if u in kept:
            assert docs[u].text == incoming[u][1], (u, st)
            assert docs[u].warc_ts == incoming[u][0], (u, st)
        elif u in old:
            assert docs[u] == old[u], (u, st)
        else:
            assert u not in docs, (u, st)
    # the generation's doclen rows are exactly the kept pages
    got_ids = set(pq.read_table(os.path.join(
        root, "delta_doclen", "gen=1"))["doc_id"].to_pylist())
    assert got_ids == {docs[u].doc_id for u in kept}
    err = spark.read.parquet(os.path.join(root, "errors"))
    assert [r.url for r in err.collect()] == [f"{fresh.url}/bad"]


def test_update_kernel_extracts_only_probe_kept_pages(tmp_path,
                                                      monkeypatch):
    """The staging kernel probes before it extracts: of one shard's raw
    incoming pages, only the NotExist and ExistOlder ones reach the one
    extract kernel (build.extract_batch), never the ExistSame or
    ExistNewer ones. A page whose extraction raises is recorded in
    errors/ only when the probe keeps it. Driven in-process on one
    shard's live docs part, with no Spark job."""
    import os

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from importpipeline_spark.index import build, store

    hour = 3_600_000_000
    live = {"u/older": 1, "u/same": 2, "u/newer": 3, "u/same-bad": 4}
    d = tmp_path / "docs" / "shard=0"
    d.mkdir(parents=True)
    pq.write_table(pa.table({
        "url": list(live),
        "warc_ts": pa.array([10 * hour] * 4, pa.int64()).cast(
            pa.timestamp("us", tz="UTC")),
        "lang": ["en"] * 4,
        "text": [f"stored {u}" for u in live],
        "doc_len": pa.array([2] * 4, pa.int32()),
        "doc_id": pa.array(list(live.values()), pa.int64()),
    }), str(d / "part-0.parquet"))
    deep = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
            + "</body></html>").encode()
    incoming = [  # url, warc_ts in hours, html
        ("u/new", 10, b"fresh page"),          # NotExist
        ("u/older", 11, b"recrawled page"),    # ExistOlder
        ("u/same", 10, b"same page"),          # ExistSame
        ("u/newer", 9, b"stale page"),         # ExistNewer
        ("u/new-bad", 10, deep),               # NotExist, quarantined
        ("u/same-bad", 10, deep),              # ExistSame, never extracted
    ]
    rows = pd.DataFrame({
        "shard": np.zeros(len(incoming), np.int32),
        "doc_id": np.array([live.get(u, 10 + i) for i, (u, _, _)
                               in enumerate(incoming)], np.int64),
        "kind": np.full(len(incoming), store.NEW),
        "url": [u for u, _, _ in incoming],
        "warc_us": np.array([h * hour for _, h, _ in incoming], np.int64),
        "lang": ["en"] * len(incoming),
        "html": [h for _, _, h in incoming],
    })
    seen = []
    real = build.extract_batch

    def spy(html):
        seen.extend(html)
        return real(html)

    monkeypatch.setattr(build, "extract_batch", spy)
    staging = store.Staging(str(tmp_path / "staging"),
                            str(tmp_path / "docs.tmp"),
                            str(tmp_path / "docs"),
                            str(tmp_path / "errors" / "part-x"))
    report = store._encode_shard(rows, staging)
    assert report.to_dict("records") == [
        {"shard": 0, "changed": True, "n_bad": 1}]
    assert sorted(seen) == sorted([b"fresh page", b"recrawled page", deep])
    err = pq.read_table(str(tmp_path / "errors"))
    assert err["url"].to_pylist() == ["u/new-bad"]
    docs = pq.read_table(str(tmp_path / "docs.tmp" / "shard=0")).to_pandas()
    assert dict(zip(docs["url"], docs["text"])) == {
        "u/new": "fresh page", "u/older": "recrawled page",
        "u/same": "stored u/same", "u/newer": "stored u/newer",
        "u/same-bad": "stored u/same-bad"}
    assert os.path.exists(tmp_path / "staging" / "delta_postings"
                          / "shard=0" / "part-0.parquet")


def test_mutation_reads_only_its_own_shards(spark, tmp_path):
    """Each staging task reads only its own shard's docs: a docs file
    corrupted in a shard no incoming url maps to breaks neither an update
    nor a delete, and stays byte-identical — hard-linked (same inode)
    into the new docs/ table."""
    import os

    from importpipeline_spark.index.build import doc_id_expr, shard_of
    from importpipeline_spark.index.segments import delete_from_index

    root = str(tmp_path / "ownidx")
    pages = gen_pages_df(spark, 200, seed=6, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    shard = {r.url: r.s for r in pages.select(
        "url", shard_of(doc_id_expr("hash"), 4).alias("s")).collect()}
    victim = os.path.join(root, "docs", "shard=3")
    files = sorted(f for f in os.listdir(victim) if f.endswith(".parquet"))
    assert files
    for f in files:
        with open(os.path.join(victim, f), "wb") as fh:
            fh.write(b"not a parquet file" * 8)
    snap = {f: (os.stat(os.path.join(victim, f)).st_ino,
                open(os.path.join(victim, f), "rb").read()) for f in files}

    others = sorted(u for u, s in shard.items() if s != 3)
    upd = pages.where(F.col("url").isin(others[:30])).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOURS"))
    del_urls = spark.createDataFrame([(u,) for u in others[30:36]],
                                     "url string")
    update_index(spark, root, upd, run_id="own1", input_snapshot="o1")
    pidx = delete_from_index(spark, root, del_urls, run_id="own2")
    assert pidx.stats["delta_gens"] == [1, 2]
    assert pidx.stats["n_docs"] == 200 - 6
    assert sorted(f for f in os.listdir(victim)
                  if f.endswith(".parquet")) == files
    for f, (ino, data) in snap.items():
        p = os.path.join(victim, f)
        assert os.stat(p).st_ino == ino, f
        with open(p, "rb") as fh:
            assert fh.read() == data, f
