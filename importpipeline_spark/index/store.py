"""Physical index: build + persist the compressed posting store.

Layout (parquet; Iceberg-ready — the same frames can go to ``writeTo`` on a
cluster with an Iceberg catalog):

    <root>/docs/        doc_id, url, warc_ts, text, doc_len, lang
                        (partitioned by shard — update/delete merge docs
                        per shard with COW hard links; read via read_docs)
    <root>/doclen/      shard, doc_id, doc_len            (partitioned by shard)
    <root>/postings/    term, block_id, n, min_doc, max_doc, docs_enc,
                        tfs_enc, max_tf, max_score        (partitioned by shard,
                        sorted by term within files → row-group term pruning)
    <root>/terms/       term, df, shards                  (the dictionary)
    <root>/termdf/      term, df             (per-shard sidecars, partitioned
                        by shard — the update path re-derives only affected
                        shards' sidecars and aggregates these for the
                        dictionary instead of re-reading all block metadata)
    <root>/stats.json   n_docs, avgdl, total_tokens, analyzer, k1, b, n_shards

Replaces the ES index + mapping template of the reference
(Endpoints/ESIndexDefinitions.cs:312-541). The "optimize to N segments" step
(ESIndexDefinitions.cs:452-458) maps to sortWithinPartitions + per-shard file
coalescing at write time.

Skew story: the build groups by (term, shard) — shard is a doc-range salt, so
a head term's postings are split across all shards and no single task sees
more than one shard of any term (two-level: per-shard encode here, shard-local
WAND + k-row global merge at query time). Shard count is the knob that holds
at 1000× data: shards scale with corpus size, per-shard group size stays
bounded by the doc-range width.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..text.tokenizer import ANALYZER_VERSION
from .build import K1, B, shard_of
from .codec import BLOCK_SIZE, encode_shard_blocks, to_u64

POSTINGS_SCHEMA = (
    "term string, shard int, block_id int, n int, min_doc long, max_doc long, "
    "docs_enc binary, tfs_enc binary, max_tf int, min_dl int"
)

_POSTING_COLS = [
    "term", "shard", "block_id", "n", "min_doc", "max_doc",
    "docs_enc", "tfs_enc", "max_tf", "min_dl",
]


def _encode_shard(tf_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
    """Cogrouped kernel: one doc-range shard's entire sub-index in one pass.

    One task per shard (not per term!): the tf rows are lexsorted by
    (term, doc_u) and encoded per-term run. A per-(term,shard) grouped-map
    would create |vocab|×|shards| tiny pandas groups — measured 3 orders of
    magnitude slower at small scale and pure overhead at any scale. Shard
    count is the parallelism/memory knob: each task holds one doc-range's
    postings (bounded by shard width), which is what holds at 1000× data.
    """
    if tf_pdf.empty:
        return pd.DataFrame(columns=_POSTING_COLS)
    shard = int(tf_pdf["shard"].iloc[0])
    u = to_u64(tf_pdf["doc_id"].to_numpy(dtype=np.int64))
    tfs = tf_pdf["tf"].to_numpy(dtype=np.int64)
    terms = tf_pdf["term"].to_numpy(dtype=object)
    # doclen lookup for the shard (the dl side's key is renamed in-flight to
    # dodge Spark's ambiguous-self-join analysis when tf and doclen derive
    # from the same parent frame)
    dl_key = "dl_doc_id" if "dl_doc_id" in dl_pdf.columns else "doc_id"
    dlu = to_u64(dl_pdf[dl_key].to_numpy(dtype=np.int64))
    dorder = np.argsort(dlu)
    dlu = dlu[dorder]
    dlv = dl_pdf["doc_len"].to_numpy(dtype=np.int64)[dorder]
    dls = dlv[np.searchsorted(dlu, u)]
    # sort by (term, doc_u); encode the whole shard in one vectorized pass
    order = np.lexsort((u, terms))
    u, tfs, dls, terms = u[order], tfs[order], dls[order], terms[order]
    run_starts = np.nonzero(np.concatenate(([True], terms[1:] != terms[:-1])))[0]
    (run_of_block, block_id, ns, min_doc, max_doc,
     docs_enc, tfs_enc, max_tf, min_dl) = encode_shard_blocks(
        u, tfs, dls, run_starts, BLOCK_SIZE
    )
    return pd.DataFrame(
        {
            "term": terms[run_starts[run_of_block]],
            "shard": np.full(len(block_id), shard, dtype=np.int32),
            "block_id": block_id.astype(np.int32),
            "n": ns.astype(np.int32),
            "min_doc": min_doc,
            "max_doc": max_doc,
            "docs_enc": docs_enc,
            "tfs_enc": tfs_enc,
            "max_tf": max_tf.astype(np.int32),
            "min_dl": min_dl.astype(np.int32),
        }
    )


def write_terms_dictionary(postings: DataFrame, path: str, n_files: int = 4) -> None:
    """Dictionary derived from posting block metadata: df = Σ block n per
    term, plus the shard list for query-side partition pruning (no extra
    planning job at query time). The SINGLE implementation used by the full
    build, the resumable build, and the incremental refresh — they must stay
    byte-compatible.

    Layout is query-shaped: hash-repartitioned BY TERM and sorted within
    files, so a per-query ``In(term, …)`` lookup prunes on parquet row-group
    min/max stats instead of scanning the whole dictionary — at 10^12 docs
    the dictionary is ~10^8 terms and an unsorted scan per query would be the
    planning bottleneck (n_files scales with |vocab| there). repartition
    (NOT coalesce): coalesce would fuse into the agg stage and run the whole
    aggregation in n_files tasks — a hidden serial fraction that caps N→4N
    scaling."""
    (
        postings.groupBy("term")
        .agg(
            F.sum("n").alias("df"),
            F.sort_array(F.collect_set("shard")).alias("shards"),
        )
        .repartition(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_terms_dictionary_from_tf(tf_sharded: DataFrame, path: str,
                                   n_files: int = 4) -> None:
    """Dictionary derived from the (doc_id, term, tf, shard) relation instead
    of the on-disk posting blocks: df per term = tf row count (each (doc,
    term) pair becomes exactly one posting entry, so Σ block n ≡ the count),
    shards = the term's shard set. Same aggregation shape, layout, and
    schema as write_terms_dictionary — byte-compatible by construction and
    asserted equal in tests/test_segments.py. The resumable build uses this
    when the tf relation is already cached (fresh or partially-resumed run):
    one job over the cache instead of a full re-read of every posting
    segment from disk."""
    (
        tf_sharded.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_set("shard")).alias("shards"),
        )
        .repartition(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )


def termdf_from_postings(postings: DataFrame) -> DataFrame:
    """Per-shard term document frequencies from posting block metadata:
    (shard, term, df) with df = Σ block n within the shard. Same derivation
    as write_terms_dictionary, just not collapsed across shards."""
    return postings.groupBy("shard", "term").agg(F.sum("n").alias("df"))


def termdf_from_tf(tf_sharded: DataFrame) -> DataFrame:
    """Per-shard term document frequencies from the (doc_id, term, tf, shard)
    relation: one tf row per (doc, term) pair ≡ one posting entry, so the
    count equals Σ block n (the write_terms_dictionary_from_tf identity)."""
    return tf_sharded.groupBy("shard", "term").agg(
        F.count(F.lit(1)).alias("df")
    )


def write_termdf_sidecars(termdf: DataFrame, path: str, n_shards: int) -> None:
    """Persist per-shard (term, df) sidecars partitioned by shard.

    This is the update path's dictionary state (the shard_stats analogue for
    terms): update/delete re-derives ONLY the affected shards' sidecars from
    their re-encoded postings and swaps those directories; the global
    dictionary then aggregates the skinny sidecar table — it never re-reads
    posting block metadata across all shards (the r5 O(all-shards) refresh).
    repartition by shard → each shard's rows land wholly in one task → one
    file per shard, sorted by term for row-group pruning."""
    (
        termdf.repartition(n_shards, "shard")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


def write_terms_dictionary_from_termdf(termdf: DataFrame, path: str,
                                       n_files: int = 4) -> None:
    """Dictionary from the per-shard term-df sidecars: df = Σ per-shard df,
    shards = the sidecar's shard set. Content-identical to
    write_terms_dictionary by construction (sidecars are the same block-n
    sums, partitioned) — asserted in tests/test_segments.py. Same
    query-shaped layout (hash by term, sorted within files)."""
    (
        termdf.groupBy("term")
        .agg(
            F.sum("df").alias("df"),
            F.sort_array(F.collect_set("shard")).alias("shards"),
        )
        .repartition(n_files, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(path)
    )


def _postings_from_sharded(sharded: DataFrame) -> DataFrame:
    """Encoded posting blocks from the shard-partitioned fused relation.

    Both cogroup sides derive from ``sharded`` (already hash-partitioned by
    the doc-range shard key), so their required distributions are satisfied
    and NO exchange is inserted — the whole build has exactly one shuffle,
    the one that produced ``sharded`` (pinned in tests/test_plans.py). The
    dl side's key columns are BOTH renamed in-flight (dl_shard, dl_doc_id):
    tf and dl share a cached parent, and Spark's ambiguous-self-join
    analysis rejects the cogroup when the two sides share a column's exprId
    (surfaces when the pages input itself contains a join); alias-aware
    output partitioning keeps the exchange elided through the rename."""
    tf = sharded.select(
        "shard", "doc_id", F.explode("tf_pairs").alias("p")
    ).select(
        "shard", "doc_id",
        F.col("p.term").alias("term"), F.col("p.tf").alias("tf"),
    )
    dl = sharded.select(
        F.col("shard").alias("dl_shard"),
        F.col("doc_id").alias("dl_doc_id"), "doc_len",
    )
    return (
        tf.groupBy("shard")
        .cogroup(dl.groupBy("dl_shard"))
        .applyInPandas(lambda l, r: _encode_shard(l, r), POSTINGS_SCHEMA)
    )


def _session_uuid(spark: SparkSession) -> str:
    """Stable per-SparkSession identifier (distinguishes newSession()
    siblings that share one applicationId). Falls back to the shared
    application scope on runtimes without the JVM handle (e.g. Connect),
    where the single-session assumption is documented instead."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:
        return "app"


@dataclass
class PhysicalIndex:
    root: str
    stats: dict
    # Resolved-relation cache. `spark.read.parquet(path)` pays a driver-side
    # file listing + footer/schema resolution on EVERY call; at query time
    # that cost recurs per query and grows with file count (at 10^12 docs the
    # posting store is tens of thousands of files — re-listing per query is
    # the latency floor, measured ~0.8s/query even at 64 shards here). A
    # relation resolved ONCE per (session, table) keeps its InMemoryFileIndex,
    # so later queries pay only filter pushdown + partition pruning, exactly
    # like querying a registered catalog table.
    #
    # Invalidation contract: a handle is a SNAPSHOT of the root it opened.
    # update_index / delete_from_index / compact rewrite files under the same
    # root in place, so any handle opened BEFORE such an operation is stale
    # afterwards (its cached file listing points at unlinked files) — those
    # paths call ``invalidate()`` on nothing automatically; callers must
    # re-open (open_index) after mutating a root, which is what every
    # in-repo caller does (segments.py returns a fresh PhysicalIndex). The
    # published-generation flow never hits this: each generation is a new
    # immutable directory. Keyed by applicationId (stable for the life of a
    # session, never aliased by id() reuse after GC).
    _rels: dict = field(default_factory=dict, repr=False, compare=False)

    def invalidate(self) -> None:
        """Drop memoized relations (call after in-place mutation of root)."""
        self._rels.clear()

    def _term_lookup_cache(self, spark: SparkSession) -> dict:
        """Per-(session, handle) dictionary-entry cache: term → (df,
        shards) or None for OOV (wand._lookup_idf). Lives in _rels so
        invalidate() clears it with the relations."""
        key = (spark.sparkContext.applicationId, _session_uuid(spark),
               "__term_lookup")
        cache = self._rels.get(key)
        if cache is None:
            cache = {}
            self._rels[key] = cache
        return cache

    def _rel(self, spark: SparkSession, name: str, path: str) -> DataFrame:
        # key: applicationId + the JVM session's own UUID, so sibling
        # sessions from spark.newSession() (same applicationId, different
        # conf/temp-view scope) never share a resolved DataFrame (ADVICE
        # r6); neither component can be GC-aliased the way id(spark) could.
        key = (spark.sparkContext.applicationId, _session_uuid(spark), name)
        df = self._rels.get(key)
        if df is None:
            df = spark.read.parquet(path)
            self._rels[key] = df
        return df

    def postings_df(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, "postings", self.postings_path)

    def doclen_df(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, "doclen", self.doclen_path)

    def terms_df(self, spark: SparkSession) -> DataFrame:
        return self._rel(spark, "terms", self.terms_path)

    def delta_gens(self) -> list:
        """Generations committed as of THIS handle's stats snapshot."""
        return sorted(int(g) for g in self.stats.get("delta_gens", []))

    def _delta_rel(self, spark: SparkSession, name: str):
        """Memoized relation over a delta table (None when the snapshot has
        no committed generations or the table was never written — e.g. a
        delete generation has no delta_postings). Uncommitted/garbage gen
        directories never reach here: readers filter to delta_gens, whose
        entries only land in stats.json after their directories are fully
        renamed into place."""
        key = (spark.sparkContext.applicationId, _session_uuid(spark), name)
        if key in self._rels:
            return self._rels[key]
        df = None
        path = os.path.join(self.root, name)
        if self.delta_gens() and os.path.isdir(path):
            try:
                df = spark.read.option("basePath", path).parquet(path)
            except Exception:
                df = None  # no parquet footers (fully purged table)
        self._rels[key] = df
        return df

    def postings_live_df(self, spark: SparkSession) -> DataFrame:
        """Base + committed delta posting blocks, each row tagged with its
        segment generation (base = 0). Same codec/schema either way; the
        query kernels mask base entries shadowed by a doc's newer owner
        generation (see deltas.py). With no deltas this is the base relation
        plus a constant column — the plan is unchanged."""
        base = self.postings_df(spark).withColumn(
            "seg_gen", F.lit(0).cast("int")
        )
        dp = self._delta_rel(spark, "delta_postings")
        if dp is None:
            return base
        dp = (
            dp.where(F.col("gen").isin(self.delta_gens()))
            .withColumn("seg_gen", F.col("gen").cast("int"))
            .drop("gen")
        )
        return base.unionByName(dp.select(*base.columns))

    def doclen_live_df(self, spark: SparkSession) -> DataFrame:
        """Base + committed delta doclen rows with their generation; the
        highest-generation row per doc is its owner (doc_len = -1 ⇒ deleted).
        Kernels resolve ownership per shard group — no driver-side work."""
        base = self.doclen_df(spark).withColumn(
            "seg_gen", F.lit(0).cast("int")
        )
        dd = self._delta_rel(spark, "delta_doclen")
        if dd is None:
            return base
        dd = (
            dd.where(F.col("gen").isin(self.delta_gens()))
            .withColumn("seg_gen", F.col("gen").cast("int"))
            .drop("gen")
        )
        return base.unionByName(dd.select(*base.columns))

    @property
    def postings_path(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def doclen_path(self) -> str:
        return os.path.join(self.root, "doclen")

    @property
    def terms_path(self) -> str:
        return os.path.join(self.root, "terms")

    @property
    def docs_path(self) -> str:
        return os.path.join(self.root, "docs")


def write_index(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    n_shards: int = 16,
    write_docs: bool = True,
    dict_files: int = 4,
    doc_id_mode: str = "hash",
) -> PhysicalIndex:
    """Full build: pages → physical index at ``root``.

    Uses the fused extract+tokenize+count pass (one Arrow round-trip),
    persisted once; docs, doclen, tf and stats all derive from it JVM-side.
    ``doc_id_mode="host_locality"`` selects host-clustered doc ids (the
    index-sorting analogue — see build.doc_id_expr) for web corpora where
    block-max pruning should bite.
    """
    from .build import build_docs_and_tf

    from concurrent.futures import ThreadPoolExecutor

    fused = build_docs_and_tf(pages, doc_id_mode)
    # ONE corpus-volume exchange for the whole build: hash-repartition the
    # fused pass output by the doc-range shard key and cache THAT. Every
    # output — postings (cogroup), docs, doclen, stats, term-df sidecars —
    # derives from this single partitioning: the cogroup's two sides inherit
    # HashPartitioning(shard, n_shards) so its exchanges are elided
    # (pinned in tests/test_plans.py), and the docs/doclen writes are
    # partitionBy over the cached layout with no further shuffle. The old
    # shape shuffled the corpus twice (exploded tf for the cogroup + full
    # text for docs) plus a third skinny doclen exchange. With
    # write_docs=False only the skinny (doc_id, doc_len, tf_pairs)
    # projection exchanges — the text never shuffles at all.
    keep = fused if write_docs else fused.select("doc_id", "doc_len", "tf_pairs")
    sharded = (
        keep.withColumn("shard", shard_of(F.col("doc_id"), n_shards))
        .repartition(n_shards, "shard")
        .persist()
    )
    postings = _postings_from_sharded(sharded)

    # Every output job is submitted CONCURRENTLY from the start (Spark job
    # submission is thread-safe): they all hang off the ONE corpus exchange,
    # whose map stage the DAG scheduler runs once and shares across the
    # concurrent jobs (the others show it as skipped), so the fixed
    # scheduling/IO latencies of the small outputs hide entirely under the
    # postings encode instead of summing after it. r8: postings is no longer
    # persisted — its only consumers besides the write (the dictionary
    # aggregations) now read the written parquet with column pruning
    # (term/shard/n only, never the posting blobs), which beats paying
    # cache population for the full binary blocks in the serial path.
    def _postings_then_terms():
        # the cogroup kernel emits whole shards, already sorted by (term,
        # block): write directly — no second exchange, ≤1 file per shard per
        # task, and term row-group stats stay monotone for scan pruning
        (
            postings.write.mode("overwrite")
            .partitionBy("shard")
            .parquet(os.path.join(root, "postings"))
        )
        # dictionary chain: ONE skinny aggregation over the written postings
        # (explicit schema so a 0-doc corpus reads as empty instead of
        # failing inference), persisted, then the global dictionary derives
        # from the per-shard sidecars (write_terms_dictionary_from_termdf ≡
        # write_terms_dictionary, asserted in tests/test_segments.py) —
        # one postings scan instead of the two independent aggregations the
        # old shape ran, and the global agg reads the tiny termdf relation
        pdisk = spark.read.schema(POSTINGS_SCHEMA).parquet(
            os.path.join(root, "postings")
        )
        termdf = termdf_from_postings(pdisk).persist()
        write_termdf_sidecars(termdf, os.path.join(root, "termdf"), n_shards)
        write_terms_dictionary_from_termdf(
            termdf, os.path.join(root, "terms"), dict_files
        )
        termdf.unpersist()

    def _write_doclen():
        (
            sharded.select("shard", "doc_id", "doc_len")
            .sortWithinPartitions("doc_id")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(os.path.join(root, "doclen"))
        )

    def _write_docs():
        if write_docs:
            # partitioned by the SAME doc-range shard key as postings and
            # doclen: incremental update/delete merge docs per shard (COW
            # hard links for untouched shards) instead of rewriting the
            # whole corpus — at 100 TB the docs table IS the corpus. No
            # exchange: the rows are already shard-partitioned in the cache.
            (
                sharded.drop("tf_pairs")
                .write.mode("overwrite")
                .partitionBy("shard")
                .parquet(os.path.join(root, "docs"))
            )

    def _stats_row():
        return sharded.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_len").alias("total_tokens"),
        ).first()

    with ThreadPoolExecutor(max_workers=4) as ex:
        # postings first: FIFO scheduling gives the longest pole priority
        f_pt = ex.submit(_postings_then_terms)
        f_dl = ex.submit(_write_doclen)
        f_dc = ex.submit(_write_docs)
        f_st = ex.submit(_stats_row)
        row = f_st.result()
        f_dl.result()
        f_dc.result()
        f_pt.result()
    n_docs = int(row.n_docs)
    total = int(row.total_tokens or 0)
    stats = {
        "n_docs": n_docs,
        "avgdl": (total / n_docs) if n_docs else 0.0,
        "total_tokens": total,
        "analyzer": ANALYZER_VERSION,
        "k1": K1,
        "b": B,
        "n_shards": n_shards,
        "block_size": BLOCK_SIZE,
        # recorded so every later writer (update/delete/streaming ingest)
        # derives ids the same way — a mode mismatch would index the same
        # url under two ids and silently strand stale postings
        "doc_id_mode": doc_id_mode,
    }
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "stats.json"), "w") as f:
        json.dump(stats, f)
    sharded.unpersist()
    return PhysicalIndex(root=root, stats=stats)


def open_index(root: str) -> PhysicalIndex:
    with open(os.path.join(root, "stats.json")) as f:
        stats = json.load(f)
    return PhysicalIndex(root=root, stats=stats)


def read_docs(spark: SparkSession, root: str) -> DataFrame:
    """The docs table in its LOGICAL schema (no physical partition column).

    docs is stored partitioned by the doc-range shard key (docs/shard=N/)
    so incremental update/delete can merge per shard with COW hard links
    for untouched shards; pre-partitioned flat layouts (older indexes, or
    a recovery that rolled forward a hand-written flat merge) read
    identically — there is just no shard column to drop."""
    df = spark.read.parquet(os.path.join(root, "docs"))
    return df.drop("shard") if "shard" in df.columns else df


def docs_is_sharded(docs_dir: str) -> bool:
    """True when the docs table at ``docs_dir`` uses the partitioned
    (shard=N/ subdirectory) layout."""
    return os.path.isdir(docs_dir) and any(
        e.startswith("shard=") for e in os.listdir(docs_dir)
    )
