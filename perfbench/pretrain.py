"""``operators`` layers: ``jobs.pretrain_corpus_job.run_pipeline`` on a
seeded slice of the workload's pages, timed by the pipeline's own stage laps.

The slice is built the way ``bench.py`` builds its ``pretrain_corpus``
probe: a quarter of the pages (by url hash), a shared site footer planted
on about 1/8 of them (boilerplate), near-dup mirrors (same text plus one
token), repeated-phrase spam that fails the repetition gate, and poison rows
that land in the extraction quarantine. A small evaluation slice of page
texts makes the decontamination join run; stratified sampling and a token
budget below the sampled token mass make the last two stages do real work.

The pipeline runs twice, the second time over a differently partitioned
input. Its stage counts must be identical (they are fixed by the seed); the
laps of the second, warm run are the layer times.
"""

from __future__ import annotations

import os
import time

STAGES = ("extract", "quality", "boilerplate", "exact_dedup",
          "neardup_pairs", "neardup_components", "decontamination",
          "budget_cut", "scrub_sample_write")
SLICE_MOD = 4  # one page in SLICE_MOD by url hash
TOKEN_BUDGET = 1000
_FOOTER = (" subscribe to our newsletter all rights reserved"
           " terms of service privacy policy contact us")
_SPAM = ("buy cheap pills now " * 60).strip()
# 30000-deep nesting makes the HTML parser raise RecursionError
_DEEP = ("<html><body>" + "<div>" * 30000 + "x" + "</div>" * 30000
         + "</body></html>")


def _inputs(spark, pages, work: str):
    """→ (pipeline input DataFrame, path of the evaluation slice)."""
    from pyspark.sql import functions as F

    sl = pages.where(F.xxhash64("url") % SLICE_MOD == 0)
    is_bp = F.xxhash64("url", F.lit("bp")) % 8 == 0
    sl = sl.withColumn(
        "text", F.when(is_bp, F.concat("text", F.lit(_FOOTER)))
        .otherwise(F.col("text")),
    ).withColumn(
        # plain text passes extraction unchanged (no markup)
        "html", F.when(is_bp, F.encode(F.col("text"), "utf-8"))
        .otherwise(F.col("html")),
    )
    mirrors = sl.where(F.xxhash64("url") % 10 == 0).select(
        F.concat("url", F.lit("_mirror")).alias("url"), "warc_ts",
        F.encode(F.concat("text", F.lit(" zzmirrortoken")), "utf-8")
        .alias("html"),
        "text", "lang",
    )
    spam = sl.where(F.xxhash64("url", F.lit("spam")) % 32 == 0).select(
        F.concat("url", F.lit("_spam")).alias("url"), "warc_ts",
        F.encode(F.lit(_SPAM), "utf-8").alias("html"),
        F.lit(_SPAM).alias("text"), "lang",
    )
    poison = spark.range(2).select(
        F.concat(F.lit("https://poison.example/p/"), "id").alias("url"),
        F.lit("2020-01-01").cast("timestamp").alias("warc_ts"),
        F.encode(F.lit(_DEEP), "utf-8").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    evalset = os.path.join(work, "pretrain-evalset")
    # from the pages before the footer: the evaluation set must not carry
    # the planted boilerplate
    pages.where(F.xxhash64("url") % 50 == 0).select("text").write.parquet(
        evalset)
    return sl.unionByName(mirrors).unionByName(spam).unionByName(poison), \
        evalset


def _run_once(spark, inp, out: str, evalset: str) -> tuple[dict, float]:
    """One pipeline run → (stats with full-precision laps, wall seconds)."""
    import jobs.pretrain_corpus_job as job

    # run_pipeline rounds its stage laps to 0.1 s when it stores them; a
    # module-level ``round`` that keeps the value gives the same laps with
    # all their digits (the module calls round() nowhere else)
    job.round = lambda x, ndigits=None: x
    try:
        t0 = time.perf_counter()
        stats = job.run_pipeline(
            spark, inp, out, benchmark_path=evalset,
            sample={"en": 0.5, "de": 0.25, "fr": 0.125},
            # below the planted footer's 1/8 df, so the mined set is not empty
            boilerplate_df_frac=0.08,
            token_budget=TOKEN_BUDGET,
        )
        return stats, time.perf_counter() - t0
    finally:
        del job.round


def run(ctx, pages) -> None:
    """Time the pipeline, check its stage counts repeat, emit the
    ``operators.pretrain.<stage>_s`` layers."""
    spark = ctx.spark
    inp, evalset = _inputs(spark, pages, ctx.work)
    first, _ = _run_once(spark, inp, os.path.join(ctx.work, "corpus-1"),
                         evalset)
    second, wall = _run_once(spark, inp.repartition(3),
                             os.path.join(ctx.work, "corpus-2"), evalset)
    counts = {k: v for k, v in first.items() if not k.startswith("sec_")}
    again = {k: v for k, v in second.items() if not k.startswith("sec_")}
    ctx.check(counts == again,
              f"pretrain stage counts differ between runs: {counts} "
              f"!= {again}")
    for stage in STAGES:
        ctx.check(f"sec_{stage}" in second, f"pretrain stage {stage} skipped")
        ctx.layer(f"operators.pretrain.{stage}_s",
                  second.get(f"sec_{stage}", 0.0))
    n_in = counts["extracted"] + counts["quarantined"]
    ctx.report("pretrain_docs_per_s", n_in / wall, "1/s", "higher")
    ctx.note(f"pretrain stage counts {counts}")
    ctx.phase("pretrain pipeline timed")
