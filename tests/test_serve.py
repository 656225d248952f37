"""LocalSearcher: driver-local serving must be bit-identical to the oracle,
plus the randomized WAND-vs-oracle fuzz sweep."""

import glob
import os
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq
import pytest

from importpipeline_spark.index.build import build_logical_index
from importpipeline_spark.index.pagesgen import gen_pages_df
from importpipeline_spark.index.search import analyze_query
from importpipeline_spark.index.serve import LocalSearcher
from importpipeline_spark.index.store import write_index

from bm25_oracle import OracleIndex

QUERIES = [
    "the", "of and", "ebakaba8", "the ebakaba8 equababa1",
    "Chélütmân0", "zzzznotaword", "der die und", "the of and to in",
]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("serveidx"))
    pages = gen_pages_df(spark, 600, seed=42, partitions=8)
    write_index(spark, pages, root, n_shards=8)
    idx = build_logical_index(pages, cache=False)
    docs_local = [
        (r.doc_id, r.tokens or [])
        for r in idx.docs.select("doc_id", "tokens").collect()
    ]
    return LocalSearcher(root), OracleIndex(docs_local)


@pytest.mark.parametrize("query", QUERIES)
def test_local_serving_bit_identical(served, query):
    searcher, oracle = served
    expected = oracle.topk(analyze_query(query), k=10)
    got = searcher.search(query, k=10)
    assert got == expected, f"query={query!r}"



def test_repeat_query_identical_through_caches(served):
    """A searcher reused across queries answers a repeated query
    byte-identically (results AND pruning-stats accounting): every query
    reads slices of the posting store decoded at open, so no per-query
    state — the shared score buffer included — may leak into the next."""
    searcher, oracle = served
    for query in ("the", "the ebakaba8 equababa1", "of and"):
        first = searcher.search(query, k=10)
        stats1 = dict(searcher.last_stats)
        again = searcher.search(query, k=10)
        stats2 = dict(searcher.last_stats)
        assert first == again == oracle.topk(analyze_query(query), k=10)
        assert stats1 == stats2


def _array_bytes(searcher) -> int:
    """nbytes of every array a searcher holds, in its decoded store and in
    any dict, list or tuple of either."""
    def walk(v):
        if isinstance(v, np.ndarray):
            return v.nbytes
        if isinstance(v, dict):
            v = v.values()
        return sum(map(walk, v)) if isinstance(v, (list, tuple, type(
            {}.values()))) else 0

    return walk(vars(searcher)) + walk(vars(searcher._store))


def test_no_decode_at_query_time_and_no_memory_growth(served, monkeypatch):
    """Every vocabulary term streamed through one searcher: no varint decode
    runs after open, the searcher's arrays keep their size (no cache grows),
    and the answers equal a fresh searcher's."""
    from importpipeline_spark.index import codec, wand

    searcher, _ = served
    root = searcher.pidx.root
    s = LocalSearcher(root)
    vocab = sorted(s._df)
    before = _array_bytes(s)
    keys = set(vars(s)) | {f"_store.{k}" for k in vars(s._store)}
    calls = []
    for mod, name in ((wand, "varint_decode"), (codec, "_varint_values")):
        orig = getattr(mod, name)
        monkeypatch.setattr(mod, name, lambda *a, _f=orig, _n=name, **kw: (
            calls.append(_n), _f(*a, **kw))[1])
    got = [s.search(t, k=10) for t in vocab]
    assert calls == []
    assert _array_bytes(s) == before
    assert set(vars(s)) | {f"_store.{k}" for k in vars(s._store)} == keys
    monkeypatch.undo()
    fresh = LocalSearcher(root)
    want = [fresh.search(t, k=10) for t in reversed(vocab)][::-1]
    assert got == want
    assert sum(map(len, got)) > len(vocab)


def test_all_deleted_index_answers_empty(spark, tmp_path):
    """Every doc deleted: the searcher opens through its one path (all
    postings masked), answers [] with zeroed stats, and the distributed
    WAND path agrees."""
    from importpipeline_spark.index.segments import delete_from_index
    from importpipeline_spark.index.store import open_index
    from importpipeline_spark.index.wand import bm25_topk_wand

    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 40, seed=9, partitions=2)
    write_index(spark, pages, root, n_shards=2)
    live = LocalSearcher(root)
    queries = ["the", "the of and", sorted(live._df)[-1]]
    assert all(live.search(q, k=5) for q in queries)
    delete_from_index(spark, root, pages.select("url"), run_id="dall",
                      input_snapshot="dall", compact_after=None)
    s = LocalSearcher(root)
    pidx = open_index(root)
    assert pidx.stats["n_docs"] == 0 and pidx.stats["delta_gens"]
    assert len(s._store.ords) == 0
    for q in queries:
        assert s.search(q, k=5) == []
        assert s.last_stats == {"blocks_total": 0, "blocks_decoded": 0,
                                "postings_total": 0, "postings_decoded": 0}
        assert bm25_topk_wand(spark, pidx, q, k=5).collect() == []


@pytest.fixture(scope="module")
def delta_served(spark, tmp_path_factory):
    """A 4-shard index with two update generations and a delete generation.
    Gen 1 adds two pages: "zzgone"'s only posting and "zzkept"'s. Gen 2
    recrawls a quarter of the pages with their text cut in half, so the
    older postings of those docs are masked. Gen 3 deletes 20 pages and the
    "zzgone" page, so "zzgone" keeps its postings but has no live df."""
    from pyspark.sql import functions as F

    from importpipeline_spark.index.pagesgen import PAGES_SCHEMA
    from importpipeline_spark.index.segments import (
        delete_from_index,
        update_index,
    )

    root = str(tmp_path_factory.mktemp("deltaserve"))
    pages = gen_pages_df(spark, 250, seed=13, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    ts = pages.first().warc_ts
    new = spark.createDataFrame([
        (f"http://zz.example/{w}", ts, f"{w} the of".encode(), f"{w} the of",
         "en") for w in ("zzgone", "zzkept")
    ], PAGES_SCHEMA)
    update_index(spark, root, new, run_id="g1", input_snapshot="g1",
                 compact_after=None)
    recrawl = (
        pages.where(F.xxhash64("url") % 4 == 0)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 5 HOURS"))
        .withColumn("text", F.expr("substring(text, 1, int(length(text) / 2))"))
        .withColumn("html", F.encode("text", "utf-8"))
    )
    update_index(spark, root, recrawl, run_id="g2", input_snapshot="g2",
                 compact_after=None)
    doomed = pages.orderBy("url").limit(20).select("url").unionByName(
        spark.createDataFrame([("http://zz.example/zzgone",)], "url string"))
    pidx = delete_from_index(spark, root, doomed, run_id="g3",
                             input_snapshot="g3", compact_after=None)
    assert pidx.stats["delta_gens"] == [1, 2, 3]
    return root


def _posting_counts(root):
    """Straight from the parquet files → (blocks per term, Σ n per term,
    live df per term): postings of the base and of every live generation,
    df of the base terms/ plus every live delta_termdf row, kept where > 0."""
    from importpipeline_spark.index.store import open_index

    pidx = open_index(root)

    def files(table, base):
        return sorted(glob.glob(os.path.join(base, "**", "*.parquet"),
                                recursive=True)) + [
            f for g in pidx.stats["delta_gens"]
            for f in sorted(glob.glob(os.path.join(
                root, table, f"gen={g}", "**", "*.parquet"), recursive=True))]

    blocks, posts, df = Counter(), Counter(), Counter()
    for f in files("delta_postings", pidx.postings_path):
        t = pq.read_table(f, columns=["term", "n"]).to_pydict()
        for term, n in zip(t["term"], t["n"]):
            blocks[term] += 1
            posts[term] += n
    for f in files("delta_termdf", pidx.terms_path):
        t = pq.read_table(f, columns=["term", "df"]).to_pydict()
        for term, d in zip(t["term"], t["df"]):
            df[term] += d
    return blocks, posts, {t: d for t, d in df.items() if d > 0}


def test_last_stats_count_live_terms_postings(delta_served, monkeypatch):
    """On a delta index, last_stats equals a count made from the postings
    files: the blocks and Σ n of the query's live-df terms, base plus live
    generations. Both branches run; k exceeds the corpus, so the forced
    sweep prunes nothing and scores every block as the exhaustive branch
    does, with the same answers. A term whose every posting is masked
    counts nothing and answers []."""
    from importpipeline_spark.index import wand as wand_mod

    blocks, posts, live = _posting_counts(delta_served)
    assert blocks["zzgone"] > 0 and "zzgone" not in live
    queries = sorted(blocks) + ["the zzgone", "zzkept of and", "zzoovterm",
                                "the zzoovterm"]
    k = 1000
    s = LocalSearcher(delta_served)

    def want_stats(q):
        ts = {t for t in analyze_query(q) if t in live}
        b, p = sum(blocks[t] for t in ts), sum(posts[t] for t in ts)
        return {"blocks_total": b, "blocks_decoded": b,
                "postings_total": p, "postings_decoded": p}

    answers = {}
    for q in queries:
        answers[q] = s.search(q, k)
        assert s.last_stats == want_stats(q), q
        assert bool(answers[q]) == (want_stats(q)["blocks_total"] > 0), q
    assert answers["zzgone"] == []
    monkeypatch.setattr(wand_mod, "_EXHAUSTIVE_CUTOFF", 0)
    for q in queries:
        assert s.search(q, k) == answers[q], q
        assert s.last_stats == want_stats(q), q


def test_batch_kernel_matches_searcher_on_delta_index(spark, delta_served):
    """bm25_topk_wand_batch over update and delete generations equals
    LocalSearcher for every query: single terms, a term in one shard only
    next to one in every shard (an empty code run inside most shards), a
    fully masked term and an OOV term."""
    from importpipeline_spark.index.store import open_index
    from importpipeline_spark.index.wand import bm25_topk_wand_batch

    blocks, _, live = _posting_counts(delta_served)
    assert blocks["zzkept"] == 1  # one block: one shard holds it
    by_df = sorted(live, key=lambda t: (live[t], t))
    rare, mid = by_df[:3], by_df[len(by_df) // 2]
    queries = ["the", "zzkept", "zzkept the", f"zzkept {mid}",
               f"the of {rare[0]}", "zzgone", "zzgone of", "zzoovterm",
               f"zzoovterm {mid}", *rare, mid, " ".join(rare)]
    rows = bm25_topk_wand_batch(spark, open_index(delta_served),
                                list(enumerate(queries)), k=10).collect()
    got = {}
    for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
        got.setdefault(r.query_id, []).append((r.doc_id, r.score))
    s = LocalSearcher(delta_served)
    for qid, q in enumerate(queries):
        assert got.get(qid, []) == s.search(q, k=10), q
    assert got.get(queries.index("zzkept"))


def test_local_serving_latency(served):
    searcher, _ = served
    searcher.search("the of", k=10)  # warm
    t0 = time.perf_counter()
    n = 50
    for i in range(n):
        searcher.search(QUERIES[i % len(QUERIES)], k=10)
    per_q = (time.perf_counter() - t0) / n
    # pure-numpy serving must be interactive (well under 100ms at this scale)
    assert per_q < 0.1, f"{per_q*1000:.1f} ms/query"


def test_fuzz_wand_vs_oracle(spark, tmp_path_factory):
    """Randomized sweep: random corpora slices + random queries; LocalSearcher
    (same kernels as the distributed WAND) must equal the scalar oracle."""
    import random

    for seed in (7, 21):
        root = str(tmp_path_factory.mktemp(f"fuzz{seed}"))
        pages = gen_pages_df(spark, 250, seed=seed, partitions=4)
        write_index(spark, pages, root, n_shards=4)
        idx = build_logical_index(pages, cache=False)
        docs_local = [
            (r.doc_id, r.tokens or [])
            for r in idx.docs.select("doc_id", "tokens").collect()
        ]
        oracle = OracleIndex(docs_local)
        searcher = LocalSearcher(root)
        vocab = sorted(oracle.df)
        rng = random.Random(seed)
        for _ in range(25):
            n_terms = rng.randint(1, 5)
            terms = [rng.choice(vocab) for _ in range(n_terms)]
            if rng.random() < 0.2:
                terms.append("zzoov")
            q = " ".join(terms)
            k = rng.choice([1, 3, 10, 40])
            assert searcher.search(q, k) == oracle.topk(analyze_query(q), k), (
                f"seed={seed} q={q!r} k={k}"
            )


def test_fuzz_sweep_branch_vs_oracle(spark, tmp_path_factory, monkeypatch):
    """Force the interval-sweep pruning branch (normally shadowed by the
    exhaustive cutoff at test corpus sizes) and fuzz it against the scalar
    oracle — including non-default theta0 (the cross-shard bound): raising
    theta0 to the true k-th score must change nothing; raising it above the
    top score must prune everything."""
    import random

    from importpipeline_spark.index import wand as wand_mod

    monkeypatch.setattr(wand_mod, "_EXHAUSTIVE_CUTOFF", 0)

    root = str(tmp_path_factory.mktemp("sweepfuzz"))
    pages = gen_pages_df(spark, 250, seed=5, partitions=4)
    write_index(spark, pages, root, n_shards=4)
    idx = build_logical_index(pages, cache=False)
    docs_local = [
        (r.doc_id, r.tokens or [])
        for r in idx.docs.select("doc_id", "tokens").collect()
    ]
    oracle = OracleIndex(docs_local)
    searcher = LocalSearcher(root)
    vocab = sorted(oracle.df)
    rng = random.Random(5)
    for _ in range(40):
        n_terms = rng.randint(1, 5)
        terms = [rng.choice(vocab) for _ in range(n_terms)]
        q = " ".join(terms)
        k = rng.choice([1, 3, 10, 40])
        got = searcher.search(q, k)
        assert got == oracle.topk(analyze_query(q), k), f"q={q!r} k={k}"

    # theta0 exactness: skipping intervals bounded below an external k-th
    # score bound must not change the result set it can still contribute to
    from importpipeline_spark.index.wand import _sweep

    for q in ["the of", "the ebakaba8 equababa1", "der die und"]:
        codes = searcher._make_shard_index(analyze_query(q))
        assert codes is not None
        si = searcher._store
        base_d, base_s = _sweep(si, codes, 10)
        assert len(base_s) == 10
        # theta0 = exact k-th score → identical output
        d2, s2 = _sweep(si, codes, 10, theta0=float(base_s[-1]))
        assert d2.tolist() == base_d.tolist()
        assert s2.tolist() == base_s.tolist()
        # theta0 between ranks: every doc scoring ≥ theta0 must survive, in
        # identical order with identical scores (docs below theta0 may or may
        # not appear — their intervals are prunable, that's the point)
        theta_mid = float(base_s[4])
        d4, s4 = _sweep(si, codes, 10, theta0=theta_mid)
        keep = int((base_s >= theta_mid).sum())
        assert d4[:keep].tolist() == base_d[:keep].tolist()
        assert s4[:keep].tolist() == base_s[:keep].tolist()
