"""On-disk invariants every writer of the base index must leave behind:

- stats.json carries the current ``format_version``, and its per-shard
  ``shard_stats`` sum to ``n_docs`` / ``total_tokens``;
- no base term-df copy exists beside ``postings/`` (the blocks' ``n`` is
  the one source of the base df);
- ``terms/`` equals the (term, df, shards) reference built from
  ``postings/``;
- every ``postings/shard=N`` file is sorted by (term, block_id), and per
  (shard, term) the blocks cover disjoint doc ranges of at most
  BLOCK_SIZE postings each;
- every ``doclen/shard=N`` file is sorted by doc_id, and with ``docs/``
  each shard's doclen doc ids are exactly its docs' ids;
- no ``encode_tmp/`` is left behind.
"""

import glob
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from importpipeline_spark.index.codec import BLOCK_SIZE
from importpipeline_spark.index.pagesgen import gen_pages_df
from importpipeline_spark.index.segments import (
    build_index_resumable,
    compact_deltas,
    delete_from_index,
    update_index,
)
from importpipeline_spark.index.store import (
    DOCS_SCHEMA,
    FORMAT_VERSION,
    read_stats,
    write_index,
)

N = 240
SHARDS = 8


def _read_shard_table(root, table):
    parts = []
    for p in sorted(glob.glob(os.path.join(root, table, "shard=*", "*.parquet"))):
        df = pd.read_parquet(p)
        df["shard"] = int(p.split("shard=")[1].split("/")[0])
        parts.append(df)
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        {"shard": [], "term": [], "n": []}
    )


def _check_invariants(root):
    stats = read_stats(root)
    assert stats["format_version"] == FORMAT_VERSION
    assert stats.get("delta_gens", []) == []  # base-only index
    ss = stats["shard_stats"]
    assert sum(v[0] for v in ss.values()) == stats["n_docs"]
    assert sum(v[1] for v in ss.values()) == stats["total_tokens"]
    assert not os.path.exists(os.path.join(root, "termdf"))

    post = _read_shard_table(root, "postings")
    ref_terms = sorted(
        (t, int(g["n"].sum()), tuple(sorted({int(s) for s in g["shard"]})))
        for t, g in post.groupby("term")
    )
    parts = sorted(glob.glob(os.path.join(root, "terms", "*.parquet")))
    terms = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    got_terms = sorted(
        (t, int(d), tuple(int(x) for x in s))
        for t, d, s in zip(terms["term"], terms["df"], terms["shards"])
    )
    assert got_terms == ref_terms

    for p in glob.glob(os.path.join(root, "postings", "shard=*",
                                    "*.parquet")):
        t = pq.read_table(p).to_pandas()
        key = list(zip(t["term"], t["block_id"]))
        assert key == sorted(key) and len(set(key)) == len(key), p
        assert ((t["n"] >= 1) & (t["n"] <= BLOCK_SIZE)).all(), p
        # min_doc/max_doc hold the unsigned doc keys' bits
        lo = t["min_doc"].to_numpy(np.int64).view(np.uint64)
        hi = t["max_doc"].to_numpy(np.int64).view(np.uint64)
        assert (lo <= hi).all(), p
        for term, rows in t.groupby("term").indices.items():
            # blocks of one term follow each other in doc order
            assert (lo[rows][1:] > hi[rows][:-1]).all(), (p, term)

    doclen = glob.glob(os.path.join(root, "doclen", "shard=*", "*.parquet"))
    assert doclen
    for p in doclen:
        ids = pq.read_table(p, columns=["doc_id"])["doc_id"].to_numpy()
        assert (ids[1:] >= ids[:-1]).all(), p
    if os.path.isdir(os.path.join(root, "docs")):
        for s in range(int(stats["n_shards"])):
            ids = {}
            for table in ("doclen", "docs"):
                parts = glob.glob(os.path.join(root, table, f"shard={s}",
                                               "*.parquet"))
                ids[table] = sorted(
                    i for p in parts for i in
                    pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist())
            assert ids["doclen"] == ids["docs"], s
    assert not os.path.exists(os.path.join(root, "encode_tmp"))
    return stats


def _recrawl(spark):
    """A fifth of the indexed urls re-crawled, plus a few new ones."""
    return gen_pages_df(spark, N + 40, seed=7, partitions=4).where(
        F.xxhash64("url") % 5 == 0
    ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 2 HOURS"))


def _write_index(spark, pages, root):
    write_index(spark, pages, root, n_shards=SHARDS)


def _write_index_no_docs(spark, pages, root):
    write_index(spark, pages, root, n_shards=SHARDS, write_docs=False)


def _resumable_clean(spark, pages, root):
    build_index_resumable(spark, pages, root, n_shards=SHARDS)


def _resumable_killed_resumed(spark, pages, root):
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_resumable(spark, pages, root, n_shards=SHARDS,
                              fail_after_segment=4)
    build_index_resumable(spark, pages, root, n_shards=SHARDS)


def _killed_after_first_segment(spark, pages, root):
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_resumable(spark, pages, root, n_shards=SHARDS,
                              fail_after_segment=0)
    assert not os.path.exists(os.path.join(root, "stats.json"))
    build_index_resumable(spark, pages, root, n_shards=SHARDS)


def _resumable_noop_resume(spark, pages, root):
    build_index_resumable(spark, pages, root, n_shards=SHARDS)
    shutil.rmtree(os.path.join(root, "terms"))
    build_index_resumable(spark, pages, root, n_shards=SHARDS)


def _delete_then_compact(spark, pages, root):
    """Tombstone fold: index 40 extra pages, delete them, compact. The
    survivors are exactly ``pages``."""
    extra = gen_pages_df(spark, N + 40, seed=7, partitions=4).join(
        pages.select("url"), "url", "left_anti")
    write_index(spark, pages.unionByName(extra), root, n_shards=SHARDS)
    doomed = spark.createDataFrame(
        [(r.url,) for r in extra.select("url").collect()], "url string")
    delete_from_index(spark, root, doomed, run_id="dc1",
                      input_snapshot="dc1")
    assert read_stats(root)["delta_gens"]
    compact_deltas(spark, root)


def _compaction(spark, pages, root):
    write_index(spark, pages, root, n_shards=SHARDS)
    update_index(spark, root, _recrawl(spark), run_id="d1",
                 input_snapshot="d1")
    assert read_stats(root)["delta_gens"]
    compact_deltas(spark, root)


@pytest.mark.parametrize("writer", [
    _write_index, _write_index_no_docs, _resumable_clean,
    _resumable_killed_resumed, _killed_after_first_segment,
    _resumable_noop_resume, _delete_then_compact, _compaction,
], ids=lambda f: f.__name__.lstrip("_"))
def test_base_writer_invariants(spark, tmp_path, writer):
    pages = gen_pages_df(spark, N, seed=7, partitions=4)
    root = str(tmp_path / "idx")
    writer(spark, pages, root)
    stats = _check_invariants(root)
    if writer is _write_index_no_docs:
        assert not os.path.exists(os.path.join(root, "docs"))
        assert stats["n_docs"] == N
    else:
        docs = spark.read.parquet(os.path.join(root, "docs"))
        assert stats["n_docs"] == docs.count() >= N


def test_docs_schema_is_pinned(spark, tmp_path):
    """store.DOCS_SCHEMA — the schema update_index and delete_from_index
    read ``docs/`` with, so that no schema-inference job runs — is exactly
    the schema Spark infers for a freshly built ``docs/``, and stays so
    after an update and a delete, whose staging kernel writes the changed
    shards' parts with pyarrow: those read back like Spark-written ones,
    with ``warc_ts`` exact to the microsecond and stored as UTC."""
    import pyarrow as pa

    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, 60, seed=3, partitions=2)
    write_index(spark, pages, root, n_shards=4)
    docs = os.path.join(root, "docs")

    def pinned_equals_inferred():
        pinned = spark.read.schema(DOCS_SCHEMA).parquet(docs)
        inferred = spark.read.parquet(docs)
        assert pinned.schema == inferred.schema
        assert sorted(pinned.collect()) == sorted(inferred.collect())
        return pinned

    pinned_equals_inferred()
    # bumped by an hour and an odd number of microseconds
    upd = pages.where(F.xxhash64("url") % 3 == 0).withColumn(
        "warc_ts",
        F.timestamp_micros(F.unix_micros("warc_ts") + 3_600_123_457))
    want = {r.url: r.us for r in
            upd.select("url", F.unix_micros("warc_ts").alias("us")).collect()}
    update_index(spark, root, upd, run_id="u1", input_snapshot="u1")
    got = {r.url: r.us for r in pinned_equals_inferred().select(
        "url", F.unix_micros("warc_ts").alias("us")).collect()}
    assert len(got) == 60 and all(got[u] == us for u, us in want.items())
    kernel_parts = glob.glob(os.path.join(docs, "shard=*", "part-0.parquet"))
    assert kernel_parts
    for p in kernel_parts:
        assert (pq.read_schema(p).field("warc_ts").type
                == pa.timestamp("us", tz="UTC"))
        # a kernel-written shard alone infers the pinned schema too
        assert (spark.read.parquet(os.path.dirname(p)).schema
                == spark.read.schema(DOCS_SCHEMA).parquet(
                    os.path.dirname(p)).drop("shard").schema)

    doomed = sorted(want)[:4]
    delete_from_index(spark, root, spark.createDataFrame(
        [(u,) for u in doomed], "url string"), run_id="d1")
    left = {r.url for r in pinned_equals_inferred().collect()}
    assert len(left) == 56 and not left & set(doomed)

def test_delta_postings_types_match_the_base(spark, tmp_path):
    """The staging kernel writes each changed shard's delta postings part
    with pyarrow; read back by Spark (postings_live_df) and by the local
    searcher's pyarrow read (serve._read_delta_table), they carry
    POSTINGS_SCHEMA's types, exactly as the Spark-written base does, and
    no file holds a ``shard`` column (its directory names it)."""
    from pyspark.sql.types import StructType

    from importpipeline_spark.index.serve import _read_delta_table
    from importpipeline_spark.index.store import POSTINGS_SCHEMA, open_index

    root = str(tmp_path / "idx")
    pages = gen_pages_df(spark, N, seed=7, partitions=4)
    write_index(spark, pages, root, n_shards=SHARDS)
    update_index(spark, root, _recrawl(spark), run_id="t1",
                 input_snapshot="t1")
    pidx = open_index(root)
    want = StructType.fromDDL(POSTINGS_SCHEMA)
    live = pidx.postings_live_df(spark)
    assert live.where("seg_gen > 0").count() > 0
    got = {f.name: f.dataType for f in live.schema}
    assert got == {**{f.name: f.dataType for f in want},
                   "seg_gen": got["seg_gen"]}
    base = {f.name: f.dataType for f in pidx.postings_df(spark).schema}
    assert base == {f.name: f.dataType for f in want}

    files = glob.glob(os.path.join(root, "delta_postings", "gen=*",
                                   "shard=*", "*.parquet"))
    assert files
    base_types = pq.read_schema(glob.glob(os.path.join(
        root, "postings", "shard=*", "*.parquet"))[0]).remove_metadata()
    for p in files:
        assert pq.read_schema(p).remove_metadata() == base_types, p
        assert "shard" not in pq.read_schema(p).names, p
    local = _read_delta_table(root, "delta_postings",
                              pidx.delta_gens()).to_pandas()
    base_local = pq.read_table(glob.glob(os.path.join(
        root, "postings", "shard=*", "*.parquet"))[0]).to_pandas()
    assert len(local)
    assert (local.drop(columns="seg_gen").dtypes.to_dict()
            == base_local.dtypes.to_dict())
