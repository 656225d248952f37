"""Index build: pages → docs → token frequencies → corpus stats → postings.

Replaces the reference's import→ElasticSearch flow
(/root/reference/ImportPipeline/Endpoints/ESEndpoint.cs:278-473) with a native
distributed index build. All heavy lifting is declarative DataFrame ops so
Catalyst plans partial aggregation, AQE handles runtime skew, and parquet
scans get pushdown/pruning; Python appears only in Arrow-batched UDFs
(extraction, tokenization, posting encode).

Scale notes (designed for ~10^12 docs / 1000 executors, tested on local[32]):
- ``doc_id = xxhash64(url)`` — deterministic across runs/cluster sizes
  (monotonically_increasing_id is not), computed JVM-side. The signed id is
  mapped to an order-preserving unsigned key for sharding and delta encoding.
- every index writer extracts through ONE extract kernel (extract_batch:
  extract + tokenize + per-doc term counts, bad pages quarantined, not
  fatal): the build's Arrow pass (build_docs_and_tf_safe) and an update's
  staging kernel, on the pages its existence probe keeps. Term counting
  happens inside the doc's batch, so there is no groupBy(doc_id, term)
  shuffle: the build's only corpus exchange repartitions the kernel's
  per-doc rows by doc-range shard (segments.build_index_resumable).
- postings are document-sharded: shard = top bits of unsigned doc_id. Every
  shard holds a complete sub-index over its doc range, so query-side WAND is
  shard-local and the global top-k merge is a k-row sort. Sorted runs from
  different shards never interleave (range sharding), mirroring the
  reference's hash fan-out + per-bucket sort
  (PostProcessors/FileBasedMapperWriters.cs:125-151) but with order-preserving
  ranges instead of hashes.
"""

from __future__ import annotations

import traceback
from collections import Counter
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..html.htmltext import html_to_text
from ..html.udfs import html_to_text_safe_udf, html_to_text_udf
from ..text.tokenizer import tokenize_series, tokenize_udf

K1 = 1.2
B = 0.75

# sign-bit flip: u = bits(doc_id) XOR 1<<63. Interpreted as UNSIGNED, u's
# order equals signed doc_id order — used for sharding (top bits via
# shiftrightunsigned) and for non-negative delta encoding inside kernels
# (numpy uint64 view). The flipped value is never used as a signed sort key.
_SIGN_FLIP = -(1 << 63)


def doc_id_expr(doc_id_mode: str = "hash"):
    """doc_id derivation, JVM-side and deterministic in both modes.

    - ``"hash"`` (default): ``xxhash64(url)`` — uniform spread over the
      signed-64 space, so equal-width range shards stay balanced whatever
      the corpus looks like.
    - ``"host_locality"``: the index-sorting analogue for web corpora
      (Lucene's recommended companion to block-max WAND): top 24 bits =
      ``xxhash64(host)``, low 40 bits = ``xxhash64(url)``. Every host's
      documents occupy one contiguous doc-id range, so posting blocks
      inherit the crawl's topic/doc-length locality and block-max bounds
      VARY across a term's posting list — the property pruning feeds on;
      under plain url-hash ids every block is a uniform sample of the
      posting list and bounds flatten out (PLANS §14/§16, measured). Hosts
      themselves scatter uniformly, so range shards stay balanced as long
      as hosts ≪ docs. Envelope: 2^40 ids per host (collision-safe to
      ~10^6 docs/host; beyond that widen the low field or supply ingest
      ordinals); a single mega-host concentrates its doc range into one
      shard — the known index-sorting trade.
    """
    if doc_id_mode == "hash":
        return F.xxhash64(F.col("url"))
    if doc_id_mode == "host_locality":
        host = F.parse_url(F.col("url"), F.lit("HOST"))
        return (
            F.xxhash64(host)
            .bitwiseAND(F.lit(-(1 << 40)))
            .bitwiseOR(
                F.xxhash64(F.col("url")).bitwiseAND(F.lit((1 << 40) - 1))
            )
        )
    raise ValueError(f"unknown doc_id_mode: {doc_id_mode!r}")


def shard_of(doc_id_col, n_shards: int):
    """Order-preserving range shard: top bits of bits(doc_id) XOR 1<<63.

    shard boundaries follow signed doc_id order: most-negative ids → shard 0,
    most-positive → shard n-1. n_shards must be a power of two.
    """
    assert n_shards & (n_shards - 1) == 0, "n_shards must be a power of two"
    bits = n_shards.bit_length() - 1
    if bits == 0:
        return F.lit(0)
    return F.shiftrightunsigned(
        doc_id_col.bitwiseXOR(F.lit(_SIGN_FLIP)), 64 - bits
    ).cast("int")


def build_docs(pages: DataFrame, doc_id_mode: str = "hash") -> DataFrame:
    """pages → docs(doc_id, url, warc_ts, text, tokens, doc_len, lang).

    Extraction is byte-identical per url to the reference
    (Html/HtmlProcessor.cs:274-339); tokens per analyzer spec v1.
    """
    return (
        pages.withColumn("text", html_to_text_udf(F.col("html")))
        .withColumn("doc_id", doc_id_expr(doc_id_mode))
        .withColumn("tokens", tokenize_udf(F.col("text")))
        .withColumn(
            "doc_len",
            F.when(F.col("tokens").isNull(), F.lit(0)).otherwise(
                F.size("tokens")
            ).cast("int"),
        )
        .select("doc_id", "url", "warc_ts", "text", "tokens", "doc_len", "lang")
    )


_TF_PAIRS_TYPE = ArrayType(
    StructType(
        [StructField("term", StringType()), StructField("tf", IntegerType())]
    )
)


@F.pandas_udf(_TF_PAIRS_TYPE)
def tf_pairs_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """tokens array → [(term, tf)] — per-doc term counting inside the Arrow
    batch. Grouping by term within a doc needs no shuffle: the doc's tokens
    are already co-located, so the classic explode→groupBy(doc_id, term)
    exchange (the single biggest shuffle of the build) disappears entirely."""
    def one(tokens):
        if tokens is None:
            return None
        return list(Counter(tokens).items())

    for s in batches:
        yield s.map(one)


def build_docs_safe(pages: DataFrame, doc_id_mode: str = "hash",
                    cache: bool = False):
    """Like build_docs but with per-record quarantine: returns (docs, errors).

    errors(url, stage, error, ts) mirrors the reference's error records
    (Endpoints/ESEndpoint.cs:457-471: err_key/err_date/err_ds/err_text).

    ``cache=True`` persists the shared post-extraction relation (html
    dropped — only the extracted text is cached) and attaches it to both
    returned frames as ``cached_deps``: a caller that counts/reads BOTH
    docs and errors would otherwise run the extraction UDF over the whole
    corpus twice — at scale that doubles the pipeline's single most
    expensive stage. Callers release via dedup.release_cache (or unpersist
    on the attached handle) once both sides are materialized."""
    extracted = pages.withColumn("ex", html_to_text_safe_udf(F.col("html")))
    if cache:
        extracted = extracted.drop("html").persist()
    errors = extracted.where(F.col("ex.error").isNotNull()).select(
        "url",
        F.lit("extract").alias("stage"),
        F.col("ex.error").alias("error"),
        F.current_timestamp().alias("ts"),
    )
    docs = (
        extracted.where(F.col("ex.error").isNull())
        .withColumn("text", F.col("ex.text"))
        .drop("ex")
        .withColumn("doc_id", doc_id_expr(doc_id_mode))
        .withColumn("tokens", tokenize_udf(F.col("text")))
        .withColumn(
            "doc_len",
            F.when(F.col("tokens").isNull(), F.lit(0)).otherwise(
                F.size("tokens")
            ).cast("int"),
        )
        .select("doc_id", "url", "warc_ts", "text", "tokens", "doc_len", "lang")
    )
    if cache:
        docs.cached_deps = [extracted]
        errors.cached_deps = [extracted]
    return docs, errors


def build_tf(docs: DataFrame) -> DataFrame:
    """docs → tf(doc_id, term, tf). Map-side only (no shuffle): per-doc
    counting happens inside the tokenizer's Arrow batch."""
    return docs.select(
        "doc_id", F.explode(tf_pairs_udf(F.col("tokens"))).alias("p")
    ).select("doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))


_FUSED_SAFE_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, doc_len int, "
    "tf_pairs array<struct<term:string,tf:int>>, error string"
)


def extract_batch(html: pd.Series) -> pd.DataFrame:
    """The one extract kernel: text, doc_len (int32), tf_pairs (the per-doc
    [(term, tf)], None without text) and error of each ``html`` value
    (bytes or str; None is a doc with no text), in input order. A page
    whose extraction raises is quarantined — ``error`` set — instead of
    failing its task. Called by the build's Arrow pass
    (build_docs_and_tf_safe) and by the staging kernel on the pages its
    existence probe keeps (store._extracted)."""
    texts, errs = [], []
    for v in html:
        text = err = None
        try:
            if isinstance(v, (bytes, bytearray)):
                v = bytes(v).decode("utf-8", errors="replace")
            if v is not None:
                text = html_to_text(v)
        except Exception as e:  # noqa: BLE001 — quarantine by design
            err = (f"{type(e).__name__}: {e} | "
                   + traceback.format_exc(limit=2).replace("\n", " "))
        texts.append(text)
        errs.append(err)
    # tokenization vectorized over the whole batch (pandas str ops — same
    # pinned analyzer as tokenize_scalar, asserted in tests)
    toks = [t if isinstance(t, list) else None
            for t in tokenize_series(pd.Series(texts, dtype=object))]
    return pd.DataFrame({
        "text": texts,
        "doc_len": pd.array([len(t) if t else 0 for t in toks], "int32"),
        "tf_pairs": [None if t is None else list(Counter(t).items())
                     for t in toks],
        "error": errs,
    })


def build_docs_and_tf_safe(pages: DataFrame,
                           doc_id_mode: str = "hash") -> DataFrame:
    """The build's extract pass: extract_batch over each Arrow batch of
    ``pages`` (one JVM↔Python round-trip, not three chained UDFs); doc_id
    is added JVM-side. Output: url, warc_ts, lang, text, doc_len,
    tf_pairs, error, doc_id — one row per page, error rows included; the
    build splits tf_pairs into term and tf arrays JVM-side and its shard
    kernel quarantines the error rows (segments._build). An update's
    staging kernel calls extract_batch itself, after its existence probe.
    Stored docs are never re-extracted: a fold or a delta staging
    re-tokenizes their text in its encode task (store._tf_of_text,
    store._stage_delta).
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ex = extract_batch(pdf["html"])
            yield pd.DataFrame({"url": pdf["url"], "warc_ts": pdf["warc_ts"],
                                "lang": pdf["lang"], **ex})

    return pages.mapInPandas(run, schema=_FUSED_SAFE_SCHEMA).withColumn(
        "doc_id", doc_id_expr(doc_id_mode)
    )


def build_doclen(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", "doc_len")


def corpus_stats(docs: DataFrame) -> dict:
    row = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_len").alias("total_tokens"),
    ).first()
    n_docs = int(row.n_docs)
    total = int(row.total_tokens or 0)
    # avgdl as one exact-int division — bit-identical across engines and
    # cluster sizes (float summation order would differ by ulps)
    return {
        "n_docs": n_docs,
        "avgdl": (total / n_docs) if n_docs else 0.0,
        "total_tokens": total,
    }


def build_term_df(tf: DataFrame) -> DataFrame:
    """Document frequency per term (the dictionary)."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def idf_expr(df_col, n_docs: int):
    """Lucene/ES BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5))."""
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
    )


def bm25_contrib_expr(tf_col, dl_col, idf_col, avgdl: float, k1: float = K1, b: float = B):
    """Per-(doc,term) BM25 contribution, float64 everywhere."""
    tfd = tf_col.cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * dl_col.cast("double") / F.lit(float(avgdl))
    )
    return idf_col * tfd * (F.lit(k1 + 1.0)) / (tfd + norm)


@dataclass
class LogicalIndex:
    """The uncompressed index relations (oracle path / build intermediates)."""

    docs: DataFrame
    tf: DataFrame
    doclen: DataFrame
    term_df: DataFrame
    stats: dict


def build_logical_index(pages: DataFrame, cache: bool = True,
                        doc_id_mode: str = "hash") -> LogicalIndex:
    docs = build_docs(pages, doc_id_mode)
    if cache:
        docs = docs.persist()
    tf = build_tf(docs)
    if cache:
        tf = tf.persist()
    doclen = build_doclen(docs)
    stats = corpus_stats(docs)
    term_df = build_term_df(tf)
    return LogicalIndex(docs=docs, tf=tf, doclen=doclen, term_df=term_df, stats=stats)
