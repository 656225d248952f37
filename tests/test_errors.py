"""Per-record error quarantine (mirrors ESEndpoint.SaveError semantics)."""

import pandas as pd
from pyspark.sql import functions as F

from importpipeline_spark.index.build import build_docs_safe
from importpipeline_spark.index.pagesgen import gen_pages_df


def test_build_docs_safe_clean_corpus(spark):
    pages = gen_pages_df(spark, 100, seed=42, partitions=4)
    docs, errors = build_docs_safe(pages)
    assert errors.count() == 0
    assert docs.count() == 100
    # same output as the strict path
    golden = {r.url: r.text for r in pages.select("url", "text").collect()}
    for r in docs.select("url", "text").collect():
        assert r.text == golden[r.url]


def test_build_docs_safe_quarantines_bad_rows(spark, monkeypatch):
    # inject a poison row by monkeypatching at the UDF boundary is not
    # possible post-pickle; instead feed html that explodes the decoder:
    # invalid UTF-8 is replaced (no error), so force an error via a row whose
    # extraction recurses beyond the limit
    deep = ("<html><head><title>t</title></head><body>"
            + "<div>" * 30000 + "x" + "</div>" * 30000 + "</body></html>")
    pages = spark.createDataFrame(
        [("u_ok", b"<p>fine text here</p>"), ("u_bad", deep.encode())],
        "url string, html binary",
    ).withColumn("warc_ts", F.current_timestamp()).withColumn("lang", F.lit("en"))
    docs, errors = build_docs_safe(pages)
    err_rows = errors.collect()
    ok_rows = docs.collect()
    assert {r.url for r in ok_rows} == {"u_ok"}
    assert {r.url for r in err_rows} == {"u_bad"}
    assert "RecursionError" in err_rows[0].error
    assert err_rows[0].stage == "extract"


def _poisoned_corpus(spark):
    """40 generated pages plus ``u_bad``, a 30,000-deep <div> page whose
    extraction raises RecursionError → (good, bad, good ∪ bad)."""
    deep = ("<html><head><title>t</title></head><body>"
            + "<div>" * 30000 + "x" + "</div>" * 30000 + "</body></html>")
    good = gen_pages_df(spark, 40, seed=42, partitions=2)
    bad = spark.createDataFrame(
        [("u_bad", deep.encode())], "url string, html binary"
    ).withColumn("warc_ts", F.current_timestamp()).withColumn(
        "text", F.lit(None).cast("string")
    ).withColumn("lang", F.lit("en"))
    return good, bad, good.unionByName(bad.select(*good.columns))


def test_write_index_quarantines_bad_pages(spark, tmp_path):
    """write_index is the quarantining build: one page that raises during
    extraction is recorded in errors/ instead of failing the job, and the
    index over the rest is exactly the index of the good pages alone."""
    from importpipeline_spark.index.store import write_index

    good, _, pages = _poisoned_corpus(spark)
    root = str(tmp_path / "idx")
    pidx = write_index(spark, pages, root, n_shards=2)
    assert pidx.stats["n_docs"] == 40
    assert pidx.stats["n_errors"] == 1
    err = spark.read.parquet(f"{root}/errors").collect()
    assert [r.url for r in err] == ["u_bad"]
    assert "RecursionError" in err[0].error

    ref_root = str(tmp_path / "ref")
    write_index(spark, good, ref_root, n_shards=2)

    def _postings(r):
        return sorted(tuple(x) for x in spark.read.parquet(f"{r}/postings")
                      .select("shard", "term", "block_id", "n", "min_doc",
                              "max_doc", "docs_enc", "tfs_enc", "max_tf",
                              "min_dl").collect())

    got = _postings(root)
    assert got and got == _postings(ref_root)


def test_error_counter_in_index_stats(spark, tmp_path):
    """Run-level quarantine counter (ImportReport 'errors'): the resumable
    build and the incremental update both record n_errors in stats.json."""
    from importpipeline_spark.index.segments import (
        build_index_resumable,
        update_index,
    )

    good, bad, pages = _poisoned_corpus(spark)

    root = str(tmp_path / "erridx")
    pidx = build_index_resumable(spark, pages, root, n_shards=2)
    assert pidx.stats["n_errors"] == 1
    assert pidx.stats["n_docs"] == 40

    # update with one more poison page: counter accumulates (errors append)
    bad2 = bad.withColumn("url", F.lit("u_bad2"))
    upd = good.limit(0).unionByName(bad2.select(*good.columns))
    pidx2 = update_index(spark, root, upd, run_id="r2", input_snapshot="s2")
    assert pidx2.stats["n_errors"] == 2
    assert pidx2.stats["n_docs"] == 40
    # provenance: even the no-doc path stamps the run that grew the counter
    assert pidx2.stats["run_id"] == "r2"
    assert pidx2.stats["input_snapshot"] == "s2"

    # RETRYING the same failing update must not inflate the counter — the
    # quarantine log grows (each run's failures are recorded) but the counter
    # is distinct failed urls
    pidx3 = update_index(spark, root, upd, run_id="r3", input_snapshot="s3")
    assert pidx3.stats["n_errors"] == 2
    log_rows = spark.read.parquet(f"{root}/errors")
    assert log_rows.count() >= 3  # append-only log kept the retry record
    assert log_rows.select("url").distinct().count() == 2
