"""Golden invariant 2 — rank-identical top-k: compressed/WAND path vs the
independent numpy oracle AND the Spark exhaustive path (FIXTURES.md §3)."""

import pytest

from importpipeline_spark.index.build import build_logical_index
from importpipeline_spark.index.pagesgen import gen_pages_df
from importpipeline_spark.index.search import analyze_query
from importpipeline_spark.index.store import open_index, write_index
from importpipeline_spark.index.wand import bm25_topk_wand

from bm25_oracle import OracleIndex

N_DOCS = 800

QUERIES = [
    "the",
    "of and",
    "ebakaba8",
    "the ebakaba8 equababa1",
    "Chélütmân0",
    "zzzznotaword",
    "der die und",
    "elütsopo7 egicoco6",
    "the of and to in",  # all-head disjunction stresses pruning
]


@pytest.fixture(scope="module")
def physical(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("index"))
    pages = gen_pages_df(spark, N_DOCS, seed=42, partitions=8)
    pidx = write_index(spark, pages, root, n_shards=8)
    # independent oracle over the same corpus
    idx = build_logical_index(pages, cache=False)
    docs_local = [
        (r.doc_id, r.tokens or [])
        for r in idx.docs.select("doc_id", "tokens").collect()
    ]
    return pidx, OracleIndex(docs_local)


def test_stats_persisted(physical):
    pidx, oracle = physical
    assert pidx.stats["n_docs"] == oracle.n
    assert pidx.stats["avgdl"] == pytest.approx(oracle.avgdl, rel=1e-12)
    assert pidx.stats["k1"] == 1.2 and pidx.stats["b"] == 0.75
    # reopen from disk
    reopened = open_index(pidx.root)
    assert reopened.stats["n_docs"] == oracle.n


@pytest.mark.parametrize("query", QUERIES)
def test_wand_rank_identical(physical, spark, query):
    pidx, oracle = physical
    expected = oracle.topk(analyze_query(query), k=10)
    got = bm25_topk_wand(spark, pidx, query, k=10).collect()
    assert [r.doc_id for r in got] == [d for d, _ in expected], f"query={query!r}"
    for r, (_, s) in zip(got, expected):
        assert r.score == s, f"score mismatch for {query!r}: {r.score} != {s}"


def test_wand_batch_matches_single(physical, spark):
    from importpipeline_spark.index.wand import bm25_topk_wand_batch

    pidx, oracle = physical
    qset = [(i + 1, q) for i, q in enumerate(QUERIES)]
    res = bm25_topk_wand_batch(spark, pidx, qset, k=10).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, query in qset:
        expected = oracle.topk(analyze_query(query), k=10)
        rows = sorted(by_q.get(qid, []), key=lambda r: r.rank)
        assert [r.doc_id for r in rows] == [d for d, _ in expected], f"qid={qid}"
        for r, (_, s) in zip(rows, expected):
            assert r.score == s


def test_wand_k_variants(physical, spark):
    pidx, oracle = physical
    for k in (1, 3, 25, 100):
        expected = oracle.topk(analyze_query("the of"), k=k)
        got = bm25_topk_wand(spark, pidx, "the of", k=k).collect()
        assert [r.doc_id for r in got] == [d for d, _ in expected], f"k={k}"


def test_wand_multiblock_rank_identical(spark, tmp_path_factory, monkeypatch):
    """Multi-block posting lists (the 100-TB shape): 3000 docs over 2 shards
    puts head terms at ~12 blocks per shard, so block-max bounds, interval
    construction, and cross-block accumulation are all live. Both the
    distributed WAND path and the forced interval-sweep branch must stay
    rank- and score-identical to the independent numpy oracle."""
    from importpipeline_spark.index import wand as wand_mod
    from importpipeline_spark.index.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("mblock"))
    pages = gen_pages_df(spark, 3000, seed=7, partitions=8)
    pidx = write_index(spark, pages, root, n_shards=2)
    idx = build_logical_index(pages, cache=False)
    docs_local = [
        (r.doc_id, r.tokens or [])
        for r in idx.docs.select("doc_id", "tokens").collect()
    ]
    oracle = OracleIndex(docs_local)

    # prove the corpus actually produces multi-block lists
    post = spark.read.parquet(pidx.postings_path)
    from pyspark.sql import functions as F

    max_blocks = post.groupBy("term", "shard").count().agg(F.max("count")).first()[0]
    assert max_blocks >= 8, f"fixture too small: max {max_blocks} blocks"

    for q in ("the", "of and", "the of and to in", "der die und"):
        for k in (10, 100):
            got = [
                (r.doc_id, r.score)
                for r in bm25_topk_wand(spark, pidx, q, k=k).collect()
            ]
            assert got == oracle.topk(analyze_query(q), k=k), (q, k)

    # force the interval-sweep pruning branch at the same size
    monkeypatch.setattr(wand_mod, "_EXHAUSTIVE_CUTOFF", 0)
    searcher = LocalSearcher(root)
    for q in ("the", "of and", "the of and to in"):
        assert searcher.search(q, k=10) == oracle.topk(analyze_query(q), k=10), q


def test_relation_cache_reused_across_queries(physical, spark):
    """The index handle memoizes resolved parquet relations per session:
    repeated queries must NOT re-pay driver-side file listing + schema
    resolution (store.PhysicalIndex._rel). Identity, not equality — the
    contract is that the SAME resolved LogicalRelation (and its
    InMemoryFileIndex) is reused."""
    pidx, _ = physical
    assert pidx.terms_df(spark) is pidx.terms_df(spark)
    assert pidx.postings_df(spark) is pidx.postings_df(spark)
    assert pidx.doclen_df(spark) is pidx.doclen_df(spark)
    # open_index returns a FRESH handle (writers hand out new handles after
    # mutation, so stale file sets can't leak through the cache)
    from importpipeline_spark.index.store import open_index

    fresh = open_index(pidx.root)
    assert fresh.postings_df(spark) is not pidx.postings_df(spark)


def test_repeat_wand_query_identical_through_dict_memo(spark, physical):
    """r8: the per-term dictionary memo on the PhysicalIndex handle must
    leave repeated (and overlapping) queries rank- and score-identical."""
    pidx, oracle = physical
    for q in ("the", "the ebakaba8 equababa1", "the"):
        got = [(r.doc_id, r.score)
               for r in bm25_topk_wand(spark, pidx, q, k=10).collect()]
        assert got == oracle.topk(analyze_query(q), k=10), q


def _tie_pages(spark):
    """Pages whose texts repeat exactly, so whole groups of docs score the
    same to the last bit: 260 × "alpha beta gamma", 150 × "alpha gamma
    delta", 90 × "beta zeta", plus 100 distinct filler pages. Doc ids come
    from url hashes, so each tie group is scattered over shards and blocks."""
    from datetime import datetime

    from importpipeline_spark.index.pagesgen import PAGES_SCHEMA

    texts = (["alpha beta gamma"] * 260 + ["alpha gamma delta"] * 150
             + ["beta zeta"] * 90
             + [f"filler{i} gamma word{i % 7} more{i % 3}" for i in range(100)])
    ts = datetime(2020, 1, 1)
    rows = [(f"http://tie{i % 5}.example/p{i}", ts, t.encode(), t, "en")
            for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def test_topk_ties_at_k_boundary(spark, tmp_path_factory, monkeypatch):
    """Top-k selection partitions at the k-th score and orders only the
    entries at or above it: every k that cuts through a group of docs tied
    at exactly the k-th score must still return the oracle's (score DESC,
    doc_id ASC) prefix — LocalSearcher on both branches and bm25_topk_wand."""
    from importpipeline_spark.index import wand as wand_mod
    from importpipeline_spark.index.serve import LocalSearcher

    root = str(tmp_path_factory.mktemp("ties"))
    pages = _tie_pages(spark)
    pidx = write_index(spark, pages, root, n_shards=4)
    idx = build_logical_index(pages, cache=False)
    oracle = OracleIndex([
        (r.doc_id, r.tokens or [])
        for r in idx.docs.select("doc_id", "tokens").collect()
    ])

    cases = []
    for q in ("alpha beta", "gamma", "beta zeta delta"):
        ranked = oracle.topk(analyze_query(q), k=oracle.n)
        scores = [s for _, s in ranked]
        # cut each tie group of ≥ 2 docs after its first member and
        # in its middle
        ks = []
        for i in range(len(scores)):
            start = i == 0 or scores[i - 1] != scores[i]
            size = sum(1 for s in scores[i:] if s == scores[i]) if start else 0
            if size >= 2:
                ks += [i + 1, i + size // 2]
        assert len(ks) >= 4, (q, ks)
        for k in ks:
            assert scores[k - 1] == scores[k], (q, k)  # the cut splits a tie
            cases.append((q, k, ranked[:k]))

    searcher = LocalSearcher(root)
    for q, k, want in cases:
        assert searcher.search(q, k) == want, (q, k)
    for q, k, want in cases[::3]:
        got = [(r.doc_id, r.score)
               for r in bm25_topk_wand(spark, pidx, q, k=k).collect()]
        assert got == want, (q, k)

    monkeypatch.setattr(wand_mod, "_EXHAUSTIVE_CUTOFF", 0)
    sweeper = LocalSearcher(root)
    for q, k, want in cases:
        assert sweeper.search(q, k) == want, (q, k)


def test_query_dictionary_jobs_are_described(physical, spark):
    """The distributed query's dictionary lookup describes its Spark jobs
    ``query: dictionary``; the kernel job runs at the caller's action under
    the caller's own description."""
    pidx, _ = physical
    sc = spark.sparkContext
    fresh = open_index(pidx.root)  # no memoized relations or entries
    sc.setJobGroup("wand_phases", "caller")
    try:
        assert bm25_topk_wand(spark, fresh, "the ebakaba8", k=5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    status = sc._jsc.sc().statusStore()
    descs = set()
    for job_id in sc.statusTracker().getJobIdsForGroup("wand_phases"):
        d = status.job(job_id).description()
        descs.add(d.get() if d.isDefined() else None)
    assert descs == {"query: dictionary", "caller"}, descs
