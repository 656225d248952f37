"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from SURVEY.md §2 (or a
training-data op the engine adds) through the importpipeline_spark package;
``oracle_sql()`` holds the DuckDB-equivalent ANSI SQL. Column names/aliases
match exactly on both sides; float outputs are rounded identically.

Every queries() entry has a DuckDB oracle. The LSH-family entries (minhash,
simhash, ANN) are oracled as invariants: minhash at rows-per-band=1 must
reproduce the exact n-gram Jaccard pair set; simhash and ANN emit the
SQL-recomputable truth set (planted near-dups / brute-force top-k) annotated
with a found flag the oracle requires to be 1 — a recall regression turns a
row red rather than hiding behind a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from importpipeline_spark.functions.conditions import condition
from importpipeline_spark.functions.categorizer import (
    Category,
    apply_categories,
    sel_range,
    sel_regex,
)
from importpipeline_spark.operators.postprocessors import (
    SortKey,
    UndupAction,
    map_reduce,
    repeat_processor,
    top_processor,
    unique_processor,
)
from importpipeline_spark.operators.dedup import (
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from importpipeline_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
)
from importpipeline_spark.text.analysis import (
    fingerprint,
    lang_id_scores,
    quality_features,
    token_count,
)

BM25_QUERY_TERMS = ["spark", "data", "query"]
BM25_K = 10


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _rank_bounded(df: DataFrame, *order, col: str = "rank") -> DataFrame:
    """Rank a deliberately-bounded DataFrame (≤k rows, post-limit) without a
    global window: the input is already ≤k rows by construction
    (TakeOrderedAndProject upstream), so it is sorted inside one intentional
    single partition and numbered with monotonically_increasing_id (which is
    0..n-1 within a single partition). No WindowExec, no unbounded
    single-partition exchange anywhere in the plan."""
    return (
        df.coalesce(1)
        .sortWithinPartitions(*order)
        .withColumn(col, (F.monotonically_increasing_id() + 1).cast("long"))
    )


# ---------------------------------------------------------------- queries --

def q_mapreduce_undup_agg(spark, sf_dir):
    """MapReduceProcessor + undup actions add/max/min/mean/count
    (PostProcessors/MapReduceProcessor.cs:43-330, UndupActions.cs:155-270)."""
    li = _t(spark, sf_dir, "lineitem")
    out = map_reduce(
        li,
        undup_keys=[SortKey("l_returnflag"), SortKey("l_linestatus")],
        actions=[
            UndupAction("add", "l_quantity", "sum_qty"),
            UndupAction("min", "l_quantity", "min_qty"),
            UndupAction("max", "l_quantity", "max_qty"),
            UndupAction("mean", "l_quantity", "mean_qty_int", int_mode=True),
            UndupAction("count", dest="cnt"),
        ],
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        "min_qty",
        "max_qty",
        "mean_qty_int",
        "cnt",
    )


def q_perl_regex(spark, sf_dir):
    """PerlRegex converter surface (PerlRegex.cs:29-82): s/…/…/ global
    replace and m/…/ match as column expressions."""
    from importpipeline_spark.functions.converters import (
        perl_regex_match,
        perl_regex_replace,
    )

    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        perl_regex_replace(F.col("p_name"), "s/ /_/").alias("name_joined"),
        perl_regex_match(F.col("p_name"), "m/green/").cast("long").alias("has_green"),
    )


def q_undup_script(spark, sf_dir):
    """UndupScriptAction (UndupActions.cs:100-153) — the reference blackbox
    body 'skip groups of size 1' (UnitTests/data/blackbox/import.xml:84-88)
    plus count/add aggregates, via the grouped-map escape hatch."""
    from importpipeline_spark.operators.postprocessors import skip_singleton_groups

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    out = map_reduce(
        li,
        undup_keys=[SortKey("l_orderkey", "long")],
        actions=[
            UndupAction("count", dest="cnt"),
            UndupAction("add", "l_quantity", "sum_qty"),
            UndupAction("script", fn=skip_singleton_groups),
        ],
        order_by=[SortKey("l_linenumber", "int")],
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.col("cnt").cast("long").alias("cnt"),
    )


def q_topk_orders(spark, sf_dir):
    """TopProcessor global top-N (PostProcessors/TopProcessor.cs:38-115)."""
    orders = _t(spark, sf_dir, "orders")
    top = top_processor(
        orders,
        keys=[SortKey("o_totalprice", "double", descending=True), SortKey("o_orderkey", "long")],
        n=10,
    )
    return _rank_bounded(
        top, F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    ).select("rank", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))


def q_topk_per_group(spark, sf_dir):
    """Per-group top-N via window (SURVEY.md §2.8/§2.10)."""
    li = _t(spark, sf_dir, "lineitem")
    top = top_processor(
        li,
        keys=[
            SortKey("l_extendedprice", "double", descending=True),
            SortKey("l_orderkey", "long"),
            SortKey("l_linenumber", "int"),
        ],
        n=3,
        per_group=["l_returnflag"],
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "l_returnflag",
        "rank",
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
    )


def q_unique_first_event(spark, sf_dir):
    """UniqueProcessor first-wins (PostProcessors/UniqueProcessor.cs:35-99)."""
    ev = _t(spark, sf_dir, "events")
    return unique_processor(
        ev,
        keys=[SortKey("user_id", "long")],
        order_by=[SortKey("ts", "date"), SortKey("event_id", "long")],
    ).select("user_id", "event_id", "event_type", "ts")


def q_conditions_filter(spark, sf_dir):
    """Condition mini-language (Conditions/Condition.cs:103-328)."""
    ev = _t(spark, sf_dir, "events")
    pred = (
        condition("event_type", "regex", "^(click|view)$")
        & condition("value", "gte", 10, typed="double")
        & condition("value", "lt", 90, typed="double")
        & condition("props", "substring", '"k"')
        & ~condition("user_id", "null")
    )
    return ev.where(pred).select("event_id", "user_id", "event_type",
                                 F.round("value", 4).alias("value"))


def q_categorizer_parts(spark, sf_dir):
    """Category rule tree → CASE WHEN (Categorizer/Catergory.cs:32-141)."""
    part = _t(spark, sf_dir, "part")
    cats = [
        Category(sel_range("p_size", hi=10), "small"),
        Category(sel_range("p_size", lo=11, hi=30), "medium"),
        Category(sel_range("p_size", lo=31), "large"),
    ]
    out = apply_categories(part, cats, dest="size_cat", mode="overwrite")
    out = out.withColumn(
        "brass", F.when(sel_regex("p_type", "BRASS"), F.lit("brass")).otherwise(F.lit("other"))
    )
    return (
        out.groupBy("size_cat", "brass")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.avg("p_retailprice"), 2).alias("avg_price"))
    )


def q_converter_dates(spark, sf_dir):
    """date converters / datepart (Converters.cs:193-434)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("o_month", F.month("o_orderdate").cast("long"))
        .withColumn("o_ym", F.date_format("o_orderdate", "yyyy-MM"))
        .groupBy("o_year", "o_month", "o_ym")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("o_totalprice"), 2).alias("sum_price"))
    )


def q_fieldmerge_events(spark, sf_dir):
    """FieldFlags merge semantics: KeepSmallest/KeepLargest/Append/Unique
    (Endpoints/EndPoints.cs:334-346, 475-584)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.min("value"), 4).alias("keep_smallest"),
        F.round(F.max("value"), 4).alias("keep_largest"),
        F.min_by("event_type", F.struct(F.col("ts"), F.col("event_id"))).alias("first_type"),
        F.max_by("event_type", F.struct(F.col("ts"), F.col("event_id"))).alias("last_type"),
        F.array_join(F.array_sort(F.collect_set("event_type")), ";").alias("uniq_types"),
        F.count(F.lit(1)).alias("cnt"),
    )


def q_antijoin_new_customers(spark, sf_dir):
    """checkexist / incremental skip as anti-join
    (Endpoints/ESIndexDocType.cs:73-118 → left anti). The "indexed" snapshot
    is the orders placed before 1996-01-01 — a customer whose orders all
    postdate the snapshot is NEW and must be (re)imported. The boundary makes
    the row non-vacuous (>0 survivors at every SF): an all-orders anti-join
    returns 0 rows on this fixture, which proves the join direction but not
    the survivor computation."""
    cust = _t(spark, sf_dir, "customer")
    indexed = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < "1996-01-01"
    )
    return cust.join(
        indexed, cust.c_custkey == indexed.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def q_join_merge_defaults(spark, sf_dir):
    """LoadRecord+EmitRecord merge = left join + coalesce
    (Endpoints/ESIndexDocType.cs:120-152)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
        .select(
            "o_orderkey",
            F.coalesce("c_name", F.lit("?")).alias("cust_name"),
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
        )
    )


def q_token_stats_docs(spark, sf_dir):
    """Token counting + fingerprinting (text/analysis.py)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
        fingerprint(F.col("text")).alias("fp"),
    )


def q_term_freq_top20(spark, sf_dir):
    """split/explode converters + agg + top-k (ComplexConverters.cs:114-157)."""
    docs = _t(spark, sf_dir, "documents")
    terms = docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    agg = terms.groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    # top-20 via TakeOrderedAndProject FIRST (never a global window over the
    # whole vocabulary — that's a single-partition sort of the dictionary at
    # scale); the rank window then sees ≤ 20 rows
    top = agg.orderBy(F.col("freq").desc(), F.col("term").asc()).limit(20)
    return _rank_bounded(top, F.col("freq").desc(), F.col("term").asc()).select(
        "rank", "term", "freq"
    )


def _docs_with_dups(spark, sf_dir):
    """documents ∪ mutated copies of the first 25 docs (id+10^6, one token
    appended) — a deterministic near-dup fixture built inside the query."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mut = (
        docs.where(F.col("doc_id") < 25)
        .select(
            (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzextra")).alias("text"),
        )
    )
    exact = docs.where((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        (F.col("doc_id") + F.lit(2000000)).alias("doc_id"), "text"
    )
    return docs.unionByName(mut).unionByName(exact)


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups via content digest (training-data op)."""
    base = _docs_with_dups(spark, sf_dir)
    return exact_dup_groups(base, "text", "doc_id").select("digest", "n", "keep_id")


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (exact, inverted-index join). The
    hot-shingle cap is explicitly OFF: this query's contract is the exact
    SQL oracle at any scale, so it must never trade recall for skew safety
    (production callers keep the capped default)."""
    base = _docs_with_dups(spark, sf_dir)
    return ngram_jaccard_pairs(
        base, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=None
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k over embeddings (similarity baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    out = cosine_topk_bruteforce(emb.where(F.col("vec_id") != 0), qvec, k=10)
    return _rank_bounded(out, F.col("cosine").desc(), F.col("vec_id").asc()).select(
        "rank", "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_quality_by_lang(spark, sf_dir):
    """Quality scoring features aggregated per language."""
    docs = _t(spark, sf_dir, "documents")
    qf = quality_features(docs, "text")
    return qf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct"),
    )


def q_langid_confusion(spark, sf_dir):
    """Language-ID heuristic vs labeled lang."""
    docs = _t(spark, sf_dir, "documents")
    pred = lang_id_scores(docs, "text")
    return pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("cnt"))


def q_repeat_regions(spark, sf_dir):
    """RepeatProcessor (PostProcessors/RepeatProcessor.cs:35-76)."""
    region = _t(spark, sf_dir, "region")
    return repeat_processor(region, 3).select(
        "r_regionkey", "r_name", F.col("copy_id").cast("long").alias("copy_id")
    )


def q_sort_multikey(spark, sf_dir):
    """SortProcessor multi-key typed sort incl. CI + desc
    (PostProcessors/SortProcessor.cs:71-234, JComparer.cs:195-268)."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    w = Window.orderBy(
        F.lower(F.col("event_type")).asc_nulls_first(),
        F.col("value").desc_nulls_last(),
        F.col("event_id").asc(),
    )
    return ev.withColumn("pos", F.row_number().over(w).cast("long")).select(
        "pos", "event_id", "event_type", F.round("value", 4).alias("value")
    )


def q_bm25_topk_docs(spark, sf_dir):
    """Flagship: native BM25 top-10 (k1=1.2, b=0.75) over the documents table
    with whitespace tokenization — the engine's query path expressed as the
    exhaustive DataFrame plan (rank oracle; the compressed WAND path is
    verified against it in tests/)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").where(
        F.col("text").isNotNull()
    )
    # r8 (guide §2.3 — shuffle fewer bytes): per-doc length is the SIZE of
    # the token array, computed map-side with no explode and no exchange
    # (the old explode→groupBy(doc_id) shuffled every token occurrence just
    # to count them; identical values — size(split(x)) ≡ count of exploded
    # rows for non-null text, and null-text docs are excluded on both sides
    # exactly like the oracle's unnest)
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("dl"),
    )
    totals = dl.agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("total")).first()
    n_docs, avgdl = int(totals.n), float(totals.total) / float(totals.n)
    # r8: filter to the query terms BEFORE the tf aggregation — the exchange
    # then carries only query-term occurrences instead of the whole
    # vocabulary (the old plan shuffled every (doc, term) pair, twice: once
    # under the broadcast idf build and once for the scoring join). tf and
    # df values for the query terms are unchanged by construction.
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term")
    )
    tf = (
        toks.where(F.col("term").isin(BM25_QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.withColumn(
        "idf",
        F.log(
            F.lit(1.0)
            + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        ),
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl, "doc_id")
        .withColumn(
            "c",
            F.col("idf")
            * F.col("tf").cast("double")
            * F.lit(2.2)
            / (
                F.col("tf").cast("double")
                + F.lit(1.2)
                * (F.lit(0.25) + F.lit(0.75) * F.col("dl").cast("double") / F.lit(avgdl))
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("c").alias("score"))
    # top-k via TakeOrderedAndProject FIRST (never a global window over every
    # matching doc); the rank window then sees ≤ k rows
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(BM25_K)
    return _rank_bounded(top, F.col("score").desc(), F.col("doc_id").asc()).select(
        "rank", "doc_id", F.round("score", 4).alias("score")
    )


# index roots whose removal at interpreter exit is already registered:
# atexit is process-wide, and one session may run a query many times
_RMTREE_AT_EXIT: set = set()


def _rmtree_at_exit(root: str) -> None:
    """Remove ``root`` when the interpreter exits; registered once per root."""
    import atexit
    import shutil

    if root not in _RMTREE_AT_EXIT:
        _RMTREE_AT_EXIT.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)


def q_update_delta_topk(spark, sf_dir):
    """r7 LSM delta-segment update path driven END-TO-END through the
    PHYSICAL engine (not a logical-plan restatement): build a compressed
    index in which every doc_id % 7 == 0 document carries only the first
    half of its text, delta-UPDATE those docs with their full text
    (ExistOlder → one delta generation of posting blocks + signed term-df
    adjustments), delta-DELETE every doc_id % 11 == 0 document (a
    tombstone-only generation), then answer a block-max WAND top-10 with
    owner-generation masking. The DuckDB oracle computes BM25 directly
    over the MERGED corpus (full text, minus the deleted docs) — the
    driver-gated form of the "delta update ≡ full rebuild" contract
    (index/deltas.py; crash windows + compaction in
    tests/test_delta_segments.py). Analyzer v1 tokens ≡ whitespace tokens
    on this corpus (text is pure [a-z0-9 ]), so scores agree exactly at
    the shared 4-decimal rounding."""
    import os
    import shutil
    import tempfile

    from importpipeline_spark.index.segments import (
        delete_from_index,
        update_index,
    )
    from importpipeline_spark.index.store import write_index
    from importpipeline_spark.index.wand import bm25_topk_wand

    root = os.path.join(
        tempfile.gettempdir(),
        # per-session component (ADVICE r7): concurrent sessions running the
        # same scale factor must not race on one root (rmtree under a peer's
        # live index); the applicationId is stable for this session's life
        f"entry_delta_idx_{os.path.basename(sf_dir.rstrip('/'))}_"
        f"{spark.sparkContext.applicationId}",
    )
    # deterministic root, rebuilt from scratch each call (stale delta
    # generations from a previous call must never shadow a fresh build);
    # the returned DataFrame reads lazily from it, so cleanup is deferred
    # to interpreter exit instead of leaking the index in /tmp
    shutil.rmtree(root, ignore_errors=True)
    _rmtree_at_exit(root)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    url = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    ts0 = F.lit("2020-01-01 00:00:00").cast("timestamp")
    half = F.substring(
        F.col("text"), 1, (F.length("text") / 2).cast("int")
    )
    # html = raw text bytes → the extractor's plain-text passthrough keeps
    # the indexed text byte-identical to the constructed column
    pages_v1 = docs.select(
        url.alias("url"),
        ts0.alias("warc_ts"),
        F.encode(
            F.when(F.col("doc_id") % 7 == 0, half).otherwise(F.col("text")),
            "utf-8",
        ).alias("html"),
        F.lit("en").alias("lang"),
    )
    pages_v2 = docs.where(F.col("doc_id") % 7 == 0).select(
        url.alias("url"),
        (ts0 + F.expr("INTERVAL 1 DAY")).alias("warc_ts"),
        F.encode(F.col("text"), "utf-8").alias("html"),
        F.lit("en").alias("lang"),
    )
    del_urls = docs.where(F.col("doc_id") % 11 == 0).select(url.alias("url"))

    write_index(spark, pages_v1, root, n_shards=8, write_docs=True)
    update_index(spark, root, pages_v2, run_id="entry_upd",
                 input_snapshot="entry_upd")
    pidx = delete_from_index(spark, root, del_urls, run_id="entry_del")

    top = bm25_topk_wand(spark, pidx, " ".join(BM25_QUERY_TERMS), k=BM25_K)
    idx_docs = spark.read.parquet(os.path.join(root, "docs")).select(
        "doc_id", "url"
    )
    mapped = top.join(idx_docs, "doc_id").select(
        F.substring("url", 7, 32).cast("long").alias("doc_id"), "score"
    )
    ordered = mapped.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return _rank_bounded(
        ordered, F.col("score").desc(), F.col("doc_id").asc()
    ).select("rank", "doc_id", F.round("score", 4).alias("score"))


def q_htmltotext_roundtrip(spark, sf_dir):
    """HtmlToTextConverter invariant driven through the Arrow UDF: wrap each
    document's text in block/inline/unwanted markup; extraction must return
    the original text exactly (HtmlProcessor.GetText semantics)."""
    from importpipeline_spark.html.udfs import html_to_text_udf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    html = F.concat(
        F.lit("<html><head><title>t</title><style>.x{}</style></head><body>"
              "<!-- c --><script>var a=1;</script><div><p>"),
        F.col("text"),
        F.lit("</p></div><noscript>skip</noscript></body></html>"),
    )
    return docs.select(
        "doc_id", html_to_text_udf(F.encode(html, "utf-8")).alias("extracted")
    )


def q_replace_converter(spark, sf_dir):
    """ReplaceConverter ordered replace list (ReplaceConverter.cs:88-163)."""
    from importpipeline_spark.functions.converters import replace_list

    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        replace_list(
            F.col("p_type"),
            [("BRASS", "Bz"), ("STEEL", "St"), ("POLISHED", "pol.")],
        ).alias("p_type_replaced"),
    )


# ---- formerly rows-only entries, now fully oracled ----


def q_abstract_snippets(spark, sf_dir):
    """GetAbstractFromText snippets (HtmlProcessor.cs:222-265) through the
    Arrow UDF; the DuckDB oracle re-derives the sentence/word-boundary cut
    with position scans over the same character classes."""
    from importpipeline_spark.html.udfs import make_abstract_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", make_abstract_udf(100, 20)(F.col("text")).alias("abstract")
    )


def q_minhash_lsh_dups(spark, sf_dir):
    """MinHash LSH near-dup pairs, parameterized at rows-per-band=1 (32
    single-hash bands): a candidate is any pair sharing ANY minhash value, so
    the miss probability for jaccard ≥ 0.5 is ≤ (1−0.5)^32 ≈ 2e-10 and the
    verified output equals the exact n-gram Jaccard pair set — which is the
    DuckDB oracle. Recall/precision of the banded (r>1) configurations are
    covered in tests/test_dedup_similarity.py."""
    base = _docs_with_dups(spark, sf_dir)
    # max_bucket_size=None: this query IS the recall invariant — a silent
    # bucket cap would fail the oracle at corpora where buckets outgrow the
    # default bound; the capped configuration is exercised in tests/
    return minhash_lsh_pairs(base, "text", "doc_id", n=3, num_hashes=32, bands=32,
                             threshold=0.5, max_bucket_size=None).select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    )


def q_simhash_pairs(spark, sf_dir):
    """SimHash recall invariant: every planted near-duplicate pair (one-token
    mutation or exact copy) MUST be detected at hamming ≤ 8 with 16×4-bit
    pigeonhole blocking (blocking is deterministic-complete for hamming ≤ 15,
    so a found=0 row means the simhash itself drifted). The oracle is the
    planted pair set with found=1 everywhere."""
    base = _docs_with_dups(spark, sf_dir)
    # uncapped: 4-bit bands mean bucket size grows with the corpus, and this
    # query's oracle asserts 100% recall — see q_minhash_lsh_dups note
    detected = simhash_pairs(base, "text", "doc_id", max_hamming=8, n_bands=16,
                             max_bucket_size=None)
    docs = _t(spark, sf_dir, "documents")
    mut = docs.where(F.col("doc_id") < 25).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(1000000)).alias("id_b"),
    )
    ex = docs.where((F.col("doc_id") >= 25) & (F.col("doc_id") < 50)).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + F.lit(2000000)).alias("id_b"),
    )
    truth = mut.unionByName(ex)
    return truth.join(
        detected.select("id_a", "id_b", F.lit(1).alias("found")),
        ["id_a", "id_b"],
        "left",
    ).select(
        "id_a", "id_b", F.coalesce("found", F.lit(0)).cast("long").alias("found")
    )


def q_boilerplate_ngrams(spark, sf_dir):
    """Boilerplate-span mining: the 20 most cross-document-frequent word
    trigrams (doc frequency, each doc counted once). Deterministic order:
    df DESC, ngram ASC — the tie-break makes the top-20 cut stable."""
    from importpipeline_spark.operators.dedup import boilerplate_ngrams

    docs = _t(spark, sf_dir, "documents")
    top = (
        boilerplate_ngrams(docs, "text", "doc_id", n=3, min_df=2)
        .orderBy(F.col("df").desc(), F.col("ngram").asc())
        .limit(20)
    )
    return _rank_bounded(top, F.col("df").desc(), F.col("ngram").asc()).select(
        "rank", "ngram", F.col("df").cast("long").alias("df")
    )


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup recall invariant: exact vector copies
    planted at vec_id+10^6 MUST be found by the hyperplane-LSH blocking
    (identical vectors get identical codes in every table, so same-bucket
    candidacy is deterministic); the natural corpus has NO pairs at cosine
    ≥ 0.99 (measured max cosine 0.51 at both SFs), so the emitted pair set
    EQUALS the planted set. Oracle = the planted pairs with found=1; the
    join is FULL OUTER so a precision regression (spurious emitted pairs)
    surfaces as extra rows the oracle does not have, not silently."""
    from importpipeline_spark.operators.similarity import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    copies = emb.where(F.col("vec_id") < 25).select(
        (F.col("vec_id") + F.lit(1000000)).alias("vec_id"), "embedding"
    )
    detected = embedding_neardup_pairs(
        emb.select("vec_id", "embedding").unionByName(copies), threshold=0.99
    )
    truth = emb.where(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + F.lit(1000000)).alias("id_b"),
    )
    return truth.join(
        detected.select("id_a", "id_b", F.lit(1).alias("found")),
        ["id_a", "id_b"],
        "full_outer",
    ).select(
        "id_a", "id_b", F.coalesce("found", F.lit(0)).cast("long").alias("found")
    )


def q_ann_lsh_topk(spark, sf_dir):
    """ANN recall invariant: the multi-probe hyperplane-LSH top-10 must equal
    the brute-force cosine top-10 on this corpus. Output = the exact top-10
    (rank, vec_id, cosine — SQL-recomputable) + found flag from the ANN path;
    the oracle expects found=1 on every row."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    rest = emb.where(F.col("vec_id") != 0)
    bf = cosine_topk_bruteforce(rest, qvec, k=10)
    ann = cosine_topk_lsh(
        spark, rest, qvec, k=10, n_planes=4, n_tables=8, multiprobe=True
    )
    top = _rank_bounded(bf, F.col("cosine").desc(), F.col("vec_id").asc())
    return top.join(
        ann.select("vec_id", F.lit(1).alias("found")), "vec_id", "left"
    ).select(
        "rank",
        "vec_id",
        F.round("cosine", 4).alias("cosine"),
        F.coalesce("found", F.lit(0)).cast("long").alias("found"),
    )


def q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN machinery end-to-end (build → assignment → centroid-ranked
    probe → within-cell exact cosine), oracle-checked at the parameter point
    where IVF is provably exact: n_probe == n_cells probes every cell, so
    the result EQUALS the brute-force top-10 (the same strategy as the
    minhash r=1 oracle). Selectivity at n_probe < n_cells has no SQL oracle
    by construction (the probed-cell set is not SQL-derivable); its recall
    is measured in tests/test_dedup_similarity.py (test_ivf_ann_recall:
    8-9/10 at 4/16 cells probed on this clusterless synthetic fixture)."""
    from importpipeline_spark.operators.similarity import cosine_topk_ivf, ivf_build

    emb = _t(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    rest = emb.where(F.col("vec_id") != 0)
    with_cells, centroids = ivf_build(rest, n_cells=16, iters=3)
    ann = cosine_topk_ivf(with_cells, centroids, qvec, k=10, n_probe=16)
    top = _rank_bounded(ann, F.col("cosine").desc(), F.col("vec_id").asc())
    return top.select(
        "rank", "vec_id", F.round("cosine", 4).alias("cosine")
    )


def q_ivf_ann_partial(spark, sf_dir):
    """IVF recall at a genuinely PARTIAL probe (2 of 8 cells), oracle-checked
    — the clustered-fixture counterpart to q_ivf_ann_topk's full-probe
    identity (and the ANN analogue of the r4 web-corpus move: the fixture
    embeddings are clusterless, so partial-probe recall plateaus at 8-9/10
    there and only full probe could be oracled; see CLAUDE.md §6).

    The planted structure is DERIVED from the embeddings table identically
    in Spark and SQL: cluster c = vec_id % 8, v' = 10·e_c + 0.1·v (centers
    14× farther apart than the noise radius). ivf_build's deterministic
    init (the 8 smallest ids of rest = vec_ids 1..8, whose ids mod 8 cover
    every planted cluster) seeds one centroid per cluster, so Lloyd
    converges to a planted-cluster↔cell bijection and probing the 2 cells
    nearest the query provably contains the full brute-force top-10.
    Measured recall-vs-n_probe on this fixture is 10/10 at EVERY n_probe
    ≥ 1 at sf0.001 and sf0.01 (PLANS §17); n_probe=2 is used for margin.
    Cosine is rounded to 6 decimals (not 4): within-cluster cosines all sit
    at ≈0.9999x, so 4-decimal rounding would tie the whole cluster."""
    from importpipeline_spark.operators.similarity import cosine_topk_ivf, ivf_build

    emb = _t(spark, sf_dir, "embeddings")
    c = (F.col("vec_id") % 8).cast("int")
    cvec = F.transform(
        "embedding",
        lambda x, i: F.when(i == c, F.lit(10.0)).otherwise(F.lit(0.0))
        + F.lit(0.1) * x.cast("double"),
    )
    clustered = emb.select("vec_id", cvec.alias("embedding"))
    qvec = [
        float(x)
        for x in clustered.where(F.col("vec_id") == 0).first().embedding
    ]
    rest = clustered.where(F.col("vec_id") != 0)
    with_cells, centroids = ivf_build(rest, n_cells=8, iters=3)
    ann = cosine_topk_ivf(with_cells, centroids, qvec, k=10, n_probe=2)
    bf = cosine_topk_bruteforce(rest, qvec, k=10)
    top = _rank_bounded(bf, F.col("cosine").desc(), F.col("vec_id").asc())
    res = top.join(
        ann.select("vec_id", F.lit(1).alias("found")), "vec_id", "left"
    ).select(
        "rank",
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
        F.coalesce("found", F.lit(0)).cast("long").alias("found"),
    )
    res.broadcast_deps = getattr(with_cells, "broadcast_deps", [])
    return res


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: documents → opaque binary payload + typed
    metadata via the stubbed decode path (operators/multimodal.py). The
    payload layout (8-byte magic + UTF-8 bytes) and md5 content hash are
    recomputed independently by the DuckDB oracle."""
    from importpipeline_spark.operators.multimodal import attach_fake_payload, extract_meta

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    with_bin = attach_fake_payload(docs, "text")
    return extract_meta(with_bin).select("doc_id", "n_bytes", "mime", "payload_hash")


# ----------------------------------------------------------------- driver --

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: BM25 top-10 over documents."""
    return q_bm25_topk_docs(spark, "/root/testdata/sf0.001")


def q_repetition_signals(spark, sf_dir):
    """Gopher-style per-doc repetition metrics (pretraining quality filters):
    duplicate-word/line fractions + the character mass of the most repeated
    2-/3-gram. One shared explode, two exchanges, no windows."""
    from importpipeline_spark.operators.pretrain import repetition_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_signals(docs, "text", "doc_id")


def q_contamination_screen(spark, sf_dir):
    """Benchmark decontamination: flag documents sharing any word 3-gram with
    a 'benchmark' table (deterministic subset: doc_id % 97 == 0). Equi-join
    on the shingle key; the tiny benchmark side broadcasts."""
    from importpipeline_spark.operators.pretrain import contamination_hits

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return contamination_hits(docs, bench, "text", "doc_id", n=3)


def q_neardup_components(spark, sf_dir):
    """Connected components over the exact near-dup pair set — the KEEP
    decision's grouping step (a near-dup relation isn't transitive-closed;
    survivors must be chosen per component, not per pair). Iterative
    min-label propagation, oracled by a recursive CTE."""
    from importpipeline_spark.operators.dedup import neardup_components

    base = _docs_with_dups(spark, sf_dir)
    pairs = ngram_jaccard_pairs(
        base, "text", "doc_id", n=3, threshold=0.5, max_shingle_df=None
    )
    return neardup_components(pairs).select(
        F.col("id").alias("doc_id"), "component_id"
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction + audit counts (pretraining compliance pass). The
    fixture has no PII, so deterministic emails/IPs/phones are injected per
    doc first — engine-identically in the oracle — then scrubbed with the
    shared conservative regex set (JVM regexp chain, map-side only)."""
    from importpipeline_spark.operators.pretrain import pii_counts, scrub_pii

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(" tel +1 555 010 "), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    c = pii_counts(F.col("text"))
    return injected.select(
        "doc_id",
        scrub_pii(F.col("text")).alias("scrubbed"),
        c["n_emails"].alias("n_emails"),
        c["n_ips"].alias("n_ips"),
        c["n_phones"].alias("n_phones"),
    )


def q_strip_boilerplate(spark, sf_dir):
    """Boilerplate REMOVAL (the consumer of boilerplate_ngrams' mined
    spans): strip every token covered by a word trigram that appears in ≥3
    documents; emit the stripped text + exact per-doc drop count.
    Position-coverage semantics — order-independent and exactly
    reproducible by the SQL oracle."""
    from importpipeline_spark.operators.dedup import (
        boilerplate_ngrams,
        strip_boilerplate,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mined = boilerplate_ngrams(docs, "text", "doc_id", n=3, min_df=3)
    return strip_boilerplate(docs, mined, "text", "doc_id", n=3).select(
        "doc_id", F.col("text").alias("stripped"), "n_removed"
    )


def q_contamination_attrib(spark, sf_dir):
    """Decontamination with provenance: which benchmark item each
    contaminated document overlaps most (count DESC, bench_id ASC
    tie-break) — the audit column of a real decontamination report.
    Benchmark = the deterministic doc_id % 97 == 0 subset, as in
    contamination_screen."""
    from importpipeline_spark.operators.pretrain import contamination_attribution

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_attribution(
        docs, bench, "text", "doc_id", "bench_id", n=3
    )


def q_token_budget(spark, sf_dir):
    """Training-mix final cut: keep the longest documents until a 10k-token
    budget is exhausted (a strict subset at every SF — the whole sf0.01
    corpus is ~27k tokens, so a larger budget would keep everything and
    prove nothing) (cumulative-prefix semantics, n_tokens DESC /
    doc_id ASC order). The global running sum is computed as a distributed
    prefix sum (range partition → per-partition totals → broadcast offsets
    → partition-local windows) — never a single-partition global window."""
    from importpipeline_spark.operators.pretrain import select_token_budget

    docs = _t(spark, sf_dir, "documents")
    withtok = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    out = select_token_budget(
        withtok, 10_000, "n_tokens", "n_tokens", "doc_id", num_partitions=32
    )
    res = out.select("doc_id", "n_tokens")
    # transformations don't carry Python-side attributes — re-attach the
    # persisted range-partitioned frame so release_cache(result) works for
    # any caller of this query (ADVICE r4)
    res.cached_deps = getattr(out, "cached_deps", [])
    return res


def q_corpus_sample(spark, sf_dir):
    """Deterministic stratified corpus sampling (training-mix construction):
    hash-threshold keep decisions, reproducible under retries and across
    cluster sizes — never sampleBy's partitioning-dependent RNG. The hash is
    exact 64-bit integer arithmetic, so the DuckDB oracle reproduces the
    selection bit-for-bit."""
    from importpipeline_spark.operators.pretrain import corpus_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return corpus_sample(
        docs, {"en": 0.5, "de": 0.25, "fr": 0.125}, "lang", "doc_id", seed=1
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "mapreduce_undup_agg": q_mapreduce_undup_agg,
        "undup_script": q_undup_script,
        "perl_regex": q_perl_regex,
        "topk_orders": q_topk_orders,
        "topk_per_group": q_topk_per_group,
        "unique_first_event": q_unique_first_event,
        "conditions_filter": q_conditions_filter,
        "categorizer_parts": q_categorizer_parts,
        "converter_dates": q_converter_dates,
        "fieldmerge_events": q_fieldmerge_events,
        "antijoin_new_customers": q_antijoin_new_customers,
        "join_merge_defaults": q_join_merge_defaults,
        "token_stats_docs": q_token_stats_docs,
        "term_freq_top20": q_term_freq_top20,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_topk": q_cosine_topk,
        "quality_by_lang": q_quality_by_lang,
        "langid_confusion": q_langid_confusion,
        "repeat_regions": q_repeat_regions,
        "sort_multikey": q_sort_multikey,
        "bm25_topk_docs": q_bm25_topk_docs,
        "update_delta_topk": q_update_delta_topk,
        "htmltotext_roundtrip": q_htmltotext_roundtrip,
        "replace_converter": q_replace_converter,
        "abstract_snippets": q_abstract_snippets,
        "minhash_lsh_dups": q_minhash_lsh_dups,
        "simhash_pairs": q_simhash_pairs,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ivf_ann_topk": q_ivf_ann_topk,
        "ivf_ann_partial": q_ivf_ann_partial,
        "embedding_neardup": q_embedding_neardup,
        "boilerplate_ngrams": q_boilerplate_ngrams,
        "multimodal_meta": q_multimodal_meta,
        "repetition_signals": q_repetition_signals,
        "contamination_screen": q_contamination_screen,
        "corpus_sample": q_corpus_sample,
        "neardup_components": q_neardup_components,
        "pii_scrub": q_pii_scrub,
        "strip_boilerplate": q_strip_boilerplate,
        "contamination_attrib": q_contamination_attrib,
        "token_budget": q_token_budget,
    }


_DOCS_WITH_DUPS_SQL = """
    WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zzextra' AS text
        FROM documents WHERE doc_id < 25
        UNION ALL
        SELECT doc_id + 2000000 AS doc_id, text
        FROM documents WHERE doc_id >= 25 AND doc_id < 50
    )
"""

# exact word-3-gram Jaccard pair set at threshold 0.5 — the oracle for BOTH
# ngram_jaccard and minhash_lsh_dups (minhash at rows-per-band=1 plus exact
# verification must reproduce this set exactly)
_NGRAM_JACCARD_SQL = _DOCS_WITH_DUPS_SQL + """
    , sh AS (
        SELECT doc_id, list_distinct(list_transform(
            generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')) - 2),
            i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')
        )) AS shingles
        FROM base
        WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
    ),
    ex AS (SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
               COUNT(*) AS common
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b,
           ROUND(CAST(common AS DOUBLE) / (na + nb - common), 4) AS jaccard
    FROM inter
    WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5
"""


def oracle_sql() -> dict[str, str]:
    return {
        "mapreduce_undup_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   MIN(l_quantity) AS min_qty,
                   MAX(l_quantity) AS max_qty,
                   CAST(FLOOR(SUM(CAST(TRUNC(l_quantity) AS BIGINT)) / COUNT(l_quantity)) AS BIGINT) AS mean_qty_int,
                   COUNT(*) AS cnt
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "perl_regex": """
            SELECT p_partkey,
                   regexp_replace(p_name, ' ', '_', 'g') AS name_joined,
                   CAST(CASE WHEN regexp_matches(p_name, 'green')
                        THEN 1 ELSE 0 END AS BIGINT) AS has_green
            FROM part
        """,
        "undup_script": """
            WITH g AS (
                SELECT l_orderkey, l_linenumber,
                       ROW_NUMBER() OVER (PARTITION BY l_orderkey
                           ORDER BY l_linenumber ASC NULLS FIRST) AS rn,
                       COUNT(*) OVER (PARTITION BY l_orderkey) AS cnt,
                       SUM(l_quantity) OVER (PARTITION BY l_orderkey) AS sum_qty
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber, ROUND(sum_qty, 2) AS sum_qty, cnt
            FROM g WHERE rn = 1 AND cnt > 1
        """,
        "topk_orders": """
            SELECT ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank,
                   o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "topk_per_group": """
            SELECT l_returnflag, rank, l_orderkey, l_linenumber,
                   ROUND(l_extendedprice, 2) AS l_extendedprice
            FROM (
                SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
                       ROW_NUMBER() OVER (PARTITION BY l_returnflag
                           ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rank
                FROM lineitem
            ) WHERE rank <= 3
        """,
        "unique_first_event": """
            SELECT user_id, event_id, event_type, ts FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                    ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "conditions_filter": """
            SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
            FROM events
            WHERE regexp_matches(event_type, '^(click|view)$')
              AND value >= 10 AND value < 90
              AND props LIKE '%"k"%'
              AND user_id IS NOT NULL
        """,
        "categorizer_parts": """
            SELECT CASE WHEN p_size >= 31 THEN 'large'
                        WHEN p_size >= 11 AND p_size <= 30 THEN 'medium'
                        WHEN p_size <= 10 THEN 'small' END AS size_cat,
                   CASE WHEN regexp_matches(p_type, 'BRASS') THEN 'brass'
                        ELSE 'other' END AS brass,
                   COUNT(*) AS cnt,
                   ROUND(AVG(p_retailprice), 2) AS avg_price
            FROM part GROUP BY 1, 2
        """,
        "converter_dates": """
            SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                   EXTRACT(month FROM o_orderdate) AS o_month,
                   strftime(o_orderdate, '%Y-%m') AS o_ym,
                   COUNT(*) AS cnt,
                   ROUND(SUM(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY 1, 2, 3
        """,
        "fieldmerge_events": """
            WITH ranked AS (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn_a,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn_d
                FROM events
            ), agg AS (
                SELECT user_id,
                       ROUND(MIN(value), 4) AS keep_smallest,
                       ROUND(MAX(value), 4) AS keep_largest,
                       array_to_string(list_sort(list(DISTINCT event_type)), ';') AS uniq_types,
                       COUNT(*) AS cnt
                FROM events GROUP BY user_id
            )
            SELECT agg.user_id, keep_smallest, keep_largest,
                   f.event_type AS first_type, l.event_type AS last_type,
                   uniq_types, cnt
            FROM agg
            JOIN ranked f ON f.user_id = agg.user_id AND f.rn_a = 1
            JOIN ranked l ON l.user_id = agg.user_id AND l.rn_d = 1
        """,
        "antijoin_new_customers": """
            SELECT c_custkey, c_name, c_mktsegment FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate < TIMESTAMP '1996-01-01'
            )
        """,
        "join_merge_defaults": """
            SELECT o_orderkey,
                   COALESCE(c_name, '?') AS cust_name,
                   COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
                   ROUND(o_totalprice, 2) AS o_totalprice
            FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        """,
        "token_stats_docs": """
            SELECT doc_id,
                   CASE WHEN trim(text) = '' THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
                   LENGTH(text) AS len_chars,
                   SUBSTRING(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16) AS fp
            FROM documents
        """,
        "term_freq_top20": """
            SELECT rank, term, freq FROM (
                SELECT term, COUNT(*) AS freq,
                       ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term ASC) AS rank
                FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
                      FROM documents)
                GROUP BY term
            ) WHERE rank <= 20
        """,
        "dedup_exact": _DOCS_WITH_DUPS_SQL + """
            SELECT md5(text) AS digest, COUNT(*) AS n, MIN(doc_id) AS keep_id
            FROM base GROUP BY md5(text) HAVING COUNT(*) > 1
        """,
        "ngram_jaccard": _NGRAM_JACCARD_SQL,
        # minhash at rows-per-band=1 (32 single-hash bands) + exact-Jaccard
        # verification must reproduce the exact pair set — same oracle
        "minhash_lsh_dups": _NGRAM_JACCARD_SQL,
        "abstract_snippets": """
            WITH cand AS (
                SELECT doc_id, i, substring(text, i+1, 1) AS ch
                FROM documents, UNNEST(range(80, 120)) AS t(i)
                WHERE length(text) > 120
            ),
            best AS (
                SELECT doc_id,
                    min_by(i, abs(100-i)*1000 + i)
                        FILTER (WHERE ch IN ('.','?','!')) AS bs,
                    min_by(i, abs(100-i)*1000 + i)
                        FILTER (WHERE ch IN (' ',';',',',':',chr(13),chr(10),chr(9))) AS bw
                FROM cand GROUP BY doc_id
            )
            SELECT d.doc_id,
                CASE WHEN length(d.text) <= 120 THEN d.text
                     ELSE substring(d.text, 1, COALESCE(b.bs, b.bw, 99))
                          || ' ' || chr(8230)
                END AS abstract
            FROM documents d LEFT JOIN best b USING (doc_id)
        """,
        "simhash_pairs": """
            WITH truth AS (
                SELECT doc_id AS id_a, doc_id + 1000000 AS id_b
                FROM documents WHERE doc_id < 25
                UNION ALL
                SELECT doc_id AS id_a, doc_id + 2000000 AS id_b
                FROM documents WHERE doc_id >= 25 AND doc_id < 50
            )
            SELECT id_a, id_b, CAST(1 AS BIGINT) AS found FROM truth
        """,
        "ann_lsh_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS cosine
                FROM embeddings, q WHERE vec_id != 0
            )
            SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank,
                   vec_id, ROUND(cosine, 4) AS cosine,
                   CAST(1 AS BIGINT) AS found
            FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "boilerplate_ngrams": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ts
                FROM documents
            ),
            grams AS (
                SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS ngram
                FROM toks, UNNEST(range(1, len(ts) - 1)) AS t(i)
            ),
            dfs AS (
                SELECT ngram, COUNT(*) AS df FROM grams GROUP BY ngram
                HAVING COUNT(*) >= 2
            )
            SELECT ROW_NUMBER() OVER (ORDER BY df DESC, ngram ASC) AS rank,
                   ngram, CAST(df AS BIGINT) AS df
            FROM dfs ORDER BY df DESC, ngram ASC LIMIT 20
        """,
        "embedding_neardup": """
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b,
                   CAST(1 AS BIGINT) AS found
            FROM embeddings WHERE vec_id < 25
        """,
        "ivf_ann_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS cosine
                FROM embeddings, q WHERE vec_id != 0
            )
            SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank,
                   vec_id, ROUND(cosine, 4) AS cosine
            FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "ivf_ann_partial": """
            WITH clustered AS (
                SELECT vec_id,
                       list_transform(generate_series(1, 64), d ->
                           (CASE WHEN d - 1 = vec_id % 8 THEN 10.0 ELSE 0.0 END)
                           + 0.1 * CAST(embedding[d] AS DOUBLE)) AS cv
                FROM embeddings
            ),
            q AS (SELECT cv AS qv FROM clustered WHERE vec_id = 0),
            scored AS (
                SELECT vec_id, list_cosine_similarity(cv, q.qv) AS cosine
                FROM clustered, q WHERE vec_id != 0
            ),
            -- rank on the RAW cosine in a subquery: an outer ORDER BY
            -- `cosine` would resolve to the ROUNDED output alias, and the
            -- whole planted cluster ties at 4-6 decimals
            top AS (
                SELECT vec_id, cosine,
                       ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC)
                           AS rank
                FROM scored
            )
            SELECT rank, vec_id, ROUND(cosine, 6) AS cosine,
                   CAST(1 AS BIGINT) AS found
            FROM top WHERE rank <= 10 ORDER BY rank
        """,
        "multimodal_meta": """
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN 0
                        ELSE CAST(8 + octet_length(encode(text)) AS INT)
                   END AS n_bytes,
                   'image/x-fake' AS mime,
                   substring(md5('FAKEIMG1' || text), 1, 16) AS payload_hash
            FROM documents WHERE doc_id < 200
        """,
        "cosine_topk": """
            WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT vec_id,
                       list_cosine_similarity(
                           CAST(embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS cosine
                FROM embeddings, q WHERE vec_id != 0
            )
            SELECT ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank,
                   vec_id, ROUND(cosine, 4) AS cosine
            FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "quality_by_lang": """
            SELECT lang, COUNT(*) AS cnt,
                   ROUND(AVG(len(regexp_split_to_array(lower(trim(text)), '\\s+'))), 4) AS avg_tokens,
                   ROUND(AVG(
                       CAST(LENGTH(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                       / GREATEST(LENGTH(text), 1)
                   ), 4) AS avg_punct
            FROM documents GROUP BY lang
        """,
        "langid_confusion": """
            WITH toks AS (
                SELECT doc_id, lang,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS t
                FROM documents
            ), scored AS (
                SELECT lang,
                    len(list_filter(t, x -> x IN ('the','and','of','to','in','that','for','with'))) AS s_en,
                    len(list_filter(t, x -> x IN ('der','die','und','das','ist','ein','nicht','mit'))) AS s_de,
                    len(list_filter(t, x -> x IN ('le','la','et','les','des','une','est','dans'))) AS s_fr,
                    len(list_filter(t, x -> x IN ('het','een','van','dat','niet','zijn'))) AS s_nl
                FROM toks
            )
            SELECT lang,
                   CASE WHEN GREATEST(s_en,s_de,s_fr,s_nl) = 0 THEN 'und'
                        WHEN s_en = GREATEST(s_en,s_de,s_fr,s_nl) THEN 'en'
                        WHEN s_de = GREATEST(s_en,s_de,s_fr,s_nl) THEN 'de'
                        WHEN s_fr = GREATEST(s_en,s_de,s_fr,s_nl) THEN 'fr'
                        ELSE 'nl' END AS lang_pred,
                   COUNT(*) AS cnt
            FROM scored GROUP BY 1, 2
        """,
        "repeat_regions": """
            SELECT r_regionkey, r_name, copy_id
            FROM region, (SELECT unnest(generate_series(0, 2)) AS copy_id)
        """,
        "sort_multikey": """
            SELECT ROW_NUMBER() OVER (ORDER BY lower(event_type) ASC NULLS FIRST,
                                      value DESC NULLS LAST, event_id ASC) AS pos,
                   event_id, event_type, ROUND(value, 4) AS value
            FROM events WHERE event_id < 200
        """,
        "htmltotext_roundtrip": """
            SELECT doc_id, text AS extracted FROM documents
        """,
        "replace_converter": """
            SELECT p_partkey,
                   replace(replace(replace(p_type, 'BRASS', 'Bz'),
                           'STEEL', 'St'), 'POLISHED', 'pol.') AS p_type_replaced
            FROM part
        """,
        "bm25_topk_docs": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
                FROM documents
            ),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
            q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
            dfreq AS (
                SELECT term, COUNT(*) AS df FROM tf
                WHERE term IN (SELECT term FROM q) GROUP BY term
            ),
            idf AS (
                SELECT term, df,
                       LN(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
                FROM dfreq
            ),
            contrib AS (
                SELECT tf.doc_id,
                       idf.idf * CAST(tf.tf AS DOUBLE) * 2.2 /
                       (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                        / (CAST((SELECT total FROM stats) AS DOUBLE) / (SELECT n FROM stats)))) AS c
                FROM tf JOIN idf ON tf.term = idf.term JOIN dl ON tf.doc_id = dl.doc_id
            ),
            scored AS (SELECT doc_id, SUM(c) AS score FROM contrib GROUP BY doc_id)
            SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
                   doc_id, ROUND(score, 4) AS score
            FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
        """,
        "update_delta_topk": f"""
            -- BM25 over the MERGED corpus: full text everywhere (the delta
            -- update re-indexed the halved docs), minus the delta-deleted
            -- doc_id mod-11 == 0 docs. The Spark side reaches this state
            -- through the physical engine's delta generations + masking.
            WITH corpus AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0
            ),
            toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
                FROM corpus
            ),
            dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
            stats AS (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dl),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
            q AS (SELECT unnest({BM25_QUERY_TERMS!r}) AS term),
            dfreq AS (
                SELECT term, COUNT(*) AS df FROM tf
                WHERE term IN (SELECT term FROM q) GROUP BY term
            ),
            idf AS (
                SELECT term, df,
                       LN(1.0 + (CAST((SELECT n FROM stats) AS DOUBLE) - df + 0.5) / (df + 0.5)) AS idf
                FROM dfreq
            ),
            contrib AS (
                SELECT tf.doc_id,
                       idf.idf * CAST(tf.tf AS DOUBLE) * 2.2 /
                       (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                        / (CAST((SELECT total FROM stats) AS DOUBLE) / (SELECT n FROM stats)))) AS c
                FROM tf JOIN idf ON tf.term = idf.term JOIN dl ON tf.doc_id = dl.doc_id
            ),
            scored AS (SELECT doc_id, SUM(c) AS score FROM contrib GROUP BY doc_id)
            SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
                   doc_id, ROUND(score, 4) AS score
            FROM scored ORDER BY score DESC, doc_id ASC LIMIT {BM25_K}
        """,
        "repetition_signals": """
            WITH t AS (
                -- empty tokens filtered, matching the engine's _toks (trim
                -- strips only spaces in Spark, so a trailing newline would
                -- otherwise mint a phantom empty token on both sides)
                SELECT doc_id, COALESCE(text, '') AS text,
                       list_filter(
                           regexp_split_to_array(
                               trim(COALESCE(text, '')), '\\s+'),
                           x -> x != '') AS ts,
                       CAST(length(COALESCE(text, '')) AS BIGINT) AS n_chars
                FROM documents
            ),
            words AS (SELECT doc_id, unnest(ts) AS u FROM t),
            wc AS (SELECT doc_id, u, COUNT(*) AS c FROM words GROUP BY 1, 2),
            wagg AS (
                SELECT doc_id,
                       SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_words
                FROM wc GROUP BY 1
            ),
            lns AS (
                SELECT doc_id, unnest(list_filter(
                    string_split(text, chr(10)), x -> trim(x) != '')) AS u
                FROM t
            ),
            lc AS (SELECT doc_id, u, COUNT(*) AS c FROM lns GROUP BY 1, 2),
            lagg AS (
                SELECT doc_id,
                       SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
                       SUM(c) AS n_lines
                FROM lc GROUP BY 1
            ),
            g2 AS (
                SELECT doc_id, array_to_string(ts[i:i+1], ' ') AS g
                FROM t, UNNEST(generate_series(1, len(ts) - 1)) AS s(i)
            ),
            g2c AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
            g2a AS (SELECT doc_id, MAX(c * length(g)) AS top2 FROM g2c GROUP BY 1),
            g3 AS (
                SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS g
                FROM t, UNNEST(generate_series(1, len(ts) - 2)) AS s(i)
            ),
            g3c AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
            g3a AS (SELECT doc_id, MAX(c * length(g)) AS top3 FROM g3c GROUP BY 1)
            SELECT t.doc_id,
                   CAST(len(t.ts) AS BIGINT) AS n_words,
                   t.n_chars,
                   ROUND(CASE WHEN len(t.ts) > 0 THEN
                       CAST(COALESCE(wagg.dup_words, 0) AS DOUBLE) / len(t.ts)
                       ELSE 0 END, 4) AS dup_word_frac,
                   ROUND(CASE WHEN COALESCE(lagg.n_lines, 0) > 0 THEN
                       CAST(COALESCE(lagg.dup_lines, 0) AS DOUBLE) / lagg.n_lines
                       ELSE 0 END, 4) AS dup_line_frac,
                   ROUND(CASE WHEN t.n_chars > 0 THEN
                       CAST(COALESCE(g2a.top2, 0) AS DOUBLE) / t.n_chars
                       ELSE 0 END, 4) AS top_2gram_char_frac,
                   ROUND(CASE WHEN t.n_chars > 0 THEN
                       CAST(COALESCE(g3a.top3, 0) AS DOUBLE) / t.n_chars
                       ELSE 0 END, 4) AS top_3gram_char_frac
            FROM t
            LEFT JOIN wagg ON t.doc_id = wagg.doc_id
            LEFT JOIN lagg ON t.doc_id = lagg.doc_id
            LEFT JOIN g2a ON t.doc_id = g2a.doc_id
            LEFT JOIN g3a ON t.doc_id = g3a.doc_id
        """,
        "contamination_screen": """
            WITH bsh AS (
                SELECT DISTINCT array_to_string(ts[i:i+2], ' ') AS s
                FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS ts
                      FROM documents WHERE doc_id % 97 = 0) b,
                     UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
            ),
            dsh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')) - 2),
                    i -> array_to_string(
                        regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')
                ))) AS s
                FROM documents
                WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
            ),
            hits AS (
                SELECT doc_id, COUNT(*) AS n_hits
                FROM dsh JOIN bsh USING (s) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        """,
        "neardup_components": f"""
            WITH RECURSIVE pairs AS (
                {_NGRAM_JACCARD_SQL}
            ),
            e AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ),
            r AS (
                SELECT a AS id, a AS lab FROM e
                UNION
                SELECT e.b AS id, r.lab FROM r JOIN e ON e.a = r.id
            )
            SELECT id AS doc_id, MIN(lab) AS component_id FROM r GROUP BY id
        """,
        "pii_scrub": """
            WITH injected AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com from 10.0.0.'
                            || CAST(doc_id % 200 AS VARCHAR)
                            || ' tel +1 555 010 ' || CAST(doc_id AS VARCHAR)
                       AS text
                FROM documents
            ),
            stages AS (
                SELECT doc_id, text,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS after_email
                FROM injected
            ),
            stages2 AS (
                SELECT *, regexp_replace(after_email,
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                           '<IP>', 'g') AS after_ip
                FROM stages
            )
            SELECT doc_id,
                   regexp_replace(after_ip,
                       '\\+?\\b\\d{1,4}([ -]\\d{2,4}){2,3}[ -]\\d{3,4}\\b|\\+\\d{1,4}([ -]\\d{3,4}){2}\\b|\\b\\d{1,4}(-\\d{3,4}){2}\\b|\\b\\d{7,15}\\b',
                                  '<PHONE>', 'g') AS scrubbed,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(after_email,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                       AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(after_ip,
                       '\\+?\\b\\d{1,4}([ -]\\d{2,4}){2,3}[ -]\\d{3,4}\\b|\\+\\d{1,4}([ -]\\d{3,4}){2}\\b|\\b\\d{1,4}(-\\d{3,4}){2}\\b|\\b\\d{7,15}\\b'))
                       AS BIGINT) AS n_phones
            FROM stages2
        """,
        "strip_boilerplate": """
            WITH toks AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS ts
                FROM documents
            ),
            grams AS (  -- per-doc DISTINCT trigram (df = doc frequency)
                SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS g
                FROM toks, UNNEST(range(1, len(ts) - 1)) t(i)
            ),
            mined AS (
                SELECT g FROM (SELECT g, COUNT(*) AS df FROM grams GROUP BY 1)
                WHERE df >= 3
            ),
            occ AS (  -- every occurrence start (1-based i -> 0-based i-1)
                SELECT doc_id, i - 1 AS s
                FROM toks, UNNEST(range(1, len(ts) - 1)) t(i)
                WHERE array_to_string(ts[i:i+2], ' ') IN (SELECT g FROM mined)
            ),
            cov AS (
                SELECT DISTINCT doc_id, s + d AS pos
                FROM occ, UNNEST(range(0, 3)) r(d)
            ),
            tok AS (
                SELECT doc_id, i - 1 AS pos, ts[i] AS tok
                FROM toks, UNNEST(range(1, len(ts) + 1)) t(i)
            ),
            kept AS (
                SELECT t.doc_id, t.pos, t.tok
                FROM tok t LEFT JOIN cov c
                  ON c.doc_id = t.doc_id AND c.pos = t.pos
                WHERE c.pos IS NULL
            )
            SELECT d.doc_id,
                   COALESCE(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS stripped,
                   CAST(len(ANY_VALUE(d.ts)) - COUNT(k.tok) AS BIGINT) AS n_removed
            FROM toks d LEFT JOIN kept k ON k.doc_id = d.doc_id
            GROUP BY d.doc_id
        """,
        "contamination_attrib": """
            WITH bsh AS (
                SELECT DISTINCT doc_id AS bid,
                       array_to_string(ts[i:i+2], ' ') AS s
                FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts
                      FROM documents WHERE doc_id % 97 = 0) b,
                     UNNEST(generate_series(1, len(ts) - 2)) AS t(i)
            ),
            dsh AS (
                SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(regexp_split_to_array(trim(text), '\\s+')) - 2),
                    i -> array_to_string(
                        regexp_split_to_array(trim(text), '\\s+')[i:i+2], ' ')
                ))) AS s
                FROM documents
                WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
            ),
            j AS (SELECT d.doc_id, b.bid, d.s FROM dsh d JOIN bsh b USING (s)),
            per_bench AS (
                SELECT doc_id, bid, COUNT(*) AS cnt FROM j GROUP BY 1, 2
            ),
            attrib AS (
                SELECT doc_id, bid AS top_bench_id, cnt AS top_bench_hits
                FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY cnt DESC, bid ASC) AS rn FROM per_bench)
                WHERE rn = 1
            ),
            totals AS (
                SELECT doc_id, COUNT(DISTINCT s) AS n_hits FROM j GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(t.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(t.n_hits, 0) > 0 AS contaminated,
                   CAST(a.top_bench_id AS BIGINT) AS top_bench_id,
                   CAST(COALESCE(a.top_bench_hits, 0) AS BIGINT) AS top_bench_hits
            FROM documents d
            LEFT JOIN totals t ON d.doc_id = t.doc_id
            LEFT JOIN attrib a ON d.doc_id = a.doc_id
        """,
        "token_budget": """
            WITH t AS (
                SELECT doc_id,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                       END AS n_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, n_tokens,
                       SUM(n_tokens) OVER (
                           ORDER BY n_tokens DESC, doc_id ASC
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM t
            )
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
            FROM c WHERE cum <= 10000
        """,
        "corpus_sample": """
            -- sample_hash(id, seed=1): multiplier = (2654435761*(2*1+1))
            -- % 1000000007 = 963307234; the double-% folds negative ids the
            -- way Spark's pmod does (DuckDB % follows the dividend's sign)
            SELECT doc_id, lang FROM documents
            WHERE CAST((((doc_id % 1000000000 + 1000000000) % 1000000000 + 1)
                        * 963307234 + 1)
                       % 1000000007 AS DOUBLE) / 1000000007
                  < CASE lang WHEN 'en' THEN 0.5
                              WHEN 'de' THEN 0.25
                              WHEN 'fr' THEN 0.125
                              ELSE 0.0 END
        """,
    }
