"""Physical index: build + persist the compressed posting store.

Layout (parquet; Iceberg-ready — the same frames can go to ``writeTo`` on a
cluster with an Iceberg catalog):

    <root>/docs/        doc_id, url, warc_ts, text, doc_len, lang
                        (partitioned by shard: one part-0.parquet per
                        shard from the build's kernel, or an update or
                        delete's for each changed shard, the rest
                        hard-linked; read with DOCS_SCHEMA)
    <root>/doclen/      shard, doc_id, doc_len            (partitioned by shard,
                        sorted by doc_id within files)
    <root>/postings/    term, block_id, n, min_doc, max_doc, docs_enc,
                        tfs_enc, max_tf, min_dl           (partitioned by shard,
                        sorted by term within files → row-group term pruning;
                        a term's df in a shard is its blocks' Σ n)
    <root>/terms/       term, df, shards     (the BASE dictionary: build and
                        compaction derive it from the base postings' block
                        n — df = Σ n; readers add the live delta_termdf —
                        read_dictionary)
    <root>/segments/    seg_N.json — one lineage row per segment (run_id,
                        input_snapshot, counters; segments.py)
    <root>/errors/      url, stage, error, ts — quarantined pages
                        (append-only log)
    <root>/stats.json   format_version, n_docs, avgdl, total_tokens,
                        shard_stats (per-shard [n_docs, total_tokens]),
                        analyzer, k1, b, n_shards, block_size, doc_id_mode,
                        run_id, input_snapshot, n_errors
                        (+ delta_gens/last_gen once updates commit; see
                        deltas.py). read_stats refuses any other
                        format_version.

Every built index has this layout: write_index is the resumable build
(segments.build_index_resumable) on an empty root. ``docs/`` is absent
when the build ran with ``write_docs=False``. Every base and delta part is
written by the one shard kernel (_encode_shard), one task per shard: the
build's from the shard's extracted pages, a fold's (compaction) from the
shard's own docs/ part(s), a staging's from the incoming rows.

Replaces the ES index + mapping template of the reference
(Endpoints/ESIndexDefinitions.cs:312-541). The "optimize to N segments" step
(ESIndexDefinitions.cs:452-458) maps to one file per table and shard, as
Lucene's segment flush writes all of a segment's files in one pass.

Skew story: the build groups by shard — a doc-range salt, so a head term's
postings are split across all shards and no single task sees more than one
shard of any term (two-level: per-shard encode here, shard-local WAND +
k-row global merge at query time). Shard count is the knob that holds at
1000× data: shards scale with corpus size, per-shard group size stays
bounded by the doc-range width.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..text.tokenizer import ANALYZER_VERSION, tokenize_series
from . import build as _build
from .build import K1, B
from .codec import BLOCK_SIZE, encode_shard_blocks, to_u64

# stats.json layout version. Readers refuse any other value (and a missing
# one): older layouts are rebuilt, never migrated in place. 2: terms/ is the
# base dictionary only and delta markers carry their commit's stats.
FORMAT_VERSION = 2

POSTINGS_SCHEMA = (
    "term string, shard int, block_id int, n int, min_doc long, max_doc long, "
    "docs_enc binary, tfs_enc binary, max_tf int, min_dl int"
)

# docs/ as every writer stores it (the fused kernel's good rows, partition
# column last): a read with this schema skips the one-task schema-inference
# job a plain read runs (pinned against an inferred read in tests)
DOCS_SCHEMA = (
    "url string, warc_ts timestamp, lang string, text string, doc_len int, "
    "doc_id long, shard int"
)

# terms/ file count: compaction and the build write the same layout
DICT_FILES = 4

# POSTINGS_SCHEMA's Arrow types less the shard, as every postings part
# (base or delta) stores them: its directory names the shard
_POSTINGS_ARROW = pa.schema([
    ("term", pa.string()), ("block_id", pa.int32()),
    ("n", pa.int32()), ("min_doc", pa.int64()), ("max_doc", pa.int64()),
    ("docs_enc", pa.binary()), ("tfs_enc", pa.binary()),
    ("max_tf", pa.int32()), ("min_dl", pa.int32()),
])

# the row each kernel task returns for its shard (only a staging task's
# reports whether the shard changed and how many pages it quarantined)
STAGED_REPORT = "shard int, changed boolean, n_bad int"


def _write_part(table: pa.Table, d: str, name: str = "part-0.parquet",
                **opts) -> None:
    """``table`` as ``d/name`` (pq.write_table ``opts``), written
    executor-side under a dot-prefixed tmp name (Spark's and pyarrow's
    readers skip it) and renamed into place: content is deterministic and
    the rename atomic, so task retries and duplicates are harmless."""
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{name}.{os.getpid()}.tmp")
    pq.write_table(table, tmp, store_schema=False,
                   **{"use_dictionary": False, **opts})
    os.replace(tmp, os.path.join(d, name))


def _write_counters(rec: dict, counters_dir: str, shard: int) -> None:
    """``rec`` as ``counters_dir/shard_N.json`` (same tmp + rename)."""
    os.makedirs(counters_dir, exist_ok=True)
    tmp = os.path.join(counters_dir, f".shard_{shard}.{os.getpid()}.tmp")
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, os.path.join(counters_dir, f"shard_{shard}.json"))


# kinds of a staging encode's rows: an update's incoming pages (NEW, or BAD
# once the kernel's extraction quarantined them) and the urls a delete
# dooms (GONE)
NEW, GONE, BAD = 0, 1, 2

# docs/ in DOCS_SCHEMA's types, as a kernel task reads its shard's part(s)
_DOCS_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("lang", pa.string()), ("text", pa.string()), ("doc_len", pa.int32()),
    ("doc_id", pa.int64()),
])

# postings parts get dictionary pages on their integer columns only: the
# terms and the codec's byte strings barely repeat within a shard
_POSTINGS_DICT = ["block_id", "n", "min_doc", "max_doc", "max_tf", "min_dl"]


class Build(NamedTuple):
    """A build's kernel task gets one shard's extracted pages and writes
    under ``root`` (the encode root) the shard's postings, doclen and, with
    ``docs``, docs parts and its counters, and its quarantined pages as
    ``errors``-<shard> (a per-shard name, so re-extracting the shard
    replaces them)."""
    root: str
    errors: str
    docs: bool


class Staging(NamedTuple):
    """A delta generation's staging kernel reads each shard's live rows in
    ``live`` (the docs table) and writes each changed shard's
    delta_postings, delta_doclen, delta_termdf and counters under ``root``
    (the staging root), its merged docs part under ``docs`` and its
    quarantined pages as ``errors``-<shard> (a call-unique prefix in
    errors/)."""
    root: str
    docs: str
    live: str
    errors: str


class Fold(NamedTuple):
    """A fold's kernel task reads its shard's docs in ``live`` (the docs
    table) and writes under ``root`` (the encode root) the shard's postings
    and doclen parts and its counters."""
    live: str
    root: str


def _encode_shard(rows: pd.DataFrame,
                  mode: Build | Staging | Fold) -> pd.DataFrame:
    """The one shard kernel: one doc-range shard's entire sub-index in one
    task, which writes every file the shard owns itself (_write_part) and
    returns the shard's STAGED_REPORT row.

    One task per shard (not per term!): the shard's tf rows are lexsorted
    by (term, doc_u) and encoded per-term run (_encode_blocks). A
    per-(term,shard) grouped-map would create |vocab|×|shards| tiny pandas
    groups — measured 3 orders of magnitude slower at small scale and pure
    overhead at any scale. Shard count is the parallelism/memory knob: each
    task holds one doc-range's postings (bounded by shard width), which is
    what holds at 1000× data.

    What ``rows`` holds depends on ``mode``:
    - Build: the shard's extracted pages (shard, doc_id, url, doc_len,
      their term counts as ``terms``/``tfs`` arrays, error and, with
      ``mode.docs``, warc_us, lang and text). The quarantined ones go to
      the shard's errors/ part; the good ones are encoded into its base
      parts (_write_base).
    - Fold: the shard id. The task reads the shard's live docs
      (_live_docs), re-tokenizes them (_tf_of_text) and writes the base
      parts but docs.
    - Staging: one shard's raw pages (NEW) or a delete's urls (GONE). The
      task drops the pages the existence probe skips (_probe), extracts the
      rest (_extracted), encodes the good ones and stages the shard's delta
      postings, tables, merged docs part and quarantine records
      (_stage_delta; a term's run length is its +df).
    The index root must be a filesystem the driver and executors share, as
    every driver-side rename of executor-written parquet already requires.
    """
    shard = int(rows["shard"].iloc[0])
    changed, n_bad = True, 0
    if isinstance(mode, Staging):
        live = _live_docs(mode.live, shard)
        rows = _extracted(_probe(rows, live))
        new = rows[rows["kind"].to_numpy() == NEW]
    elif isinstance(mode, Fold):
        new = _tf_of_text(_live_docs(mode.live, shard))
    else:
        bad = rows["error"].notna().to_numpy()
        _write_errors(rows[bad], mode.errors, shard)
        new = rows[~bad]
    blocks, df = _encode_blocks(new)
    if isinstance(mode, Staging):
        changed, n_bad = _stage_delta(mode, shard, blocks, df, rows, live)
    else:
        _write_base(mode.root, shard, blocks, new,
                    isinstance(mode, Build) and mode.docs)
    return pd.DataFrame({"shard": [shard], "changed": [changed],
                         "n_bad": [n_bad]})


def _encode_blocks(docs: pd.DataFrame) -> tuple[pd.DataFrame, pd.Series]:
    """The posting blocks (_POSTINGS_ARROW's columns) of ``docs`` — doc_id,
    doc_len and each doc's term counts as ``terms``/``tfs`` arrays — and
    each term's df (its run length), encoded in one vectorized pass."""
    tf_pdf = _staged_tf(docs)
    terms = tf_pdf["term"].to_numpy(dtype=object)
    run_starts = np.empty(0, dtype=np.int64)
    if not len(terms):
        blocks = pd.DataFrame(columns=_POSTINGS_ARROW.names)
    else:
        u = to_u64(tf_pdf["doc_id"].to_numpy(dtype=np.int64))
        tfs = tf_pdf["tf"].to_numpy(dtype=np.int64)
        dlu = to_u64(docs["doc_id"].to_numpy(dtype=np.int64))
        dorder = np.argsort(dlu)
        dlu = dlu[dorder]
        dlv = docs["doc_len"].to_numpy(dtype=np.int64)[dorder]
        dls = dlv[np.searchsorted(dlu, u)]
        # sort by (term, doc_u); encode the whole shard in one vectorized pass
        order = np.lexsort((u, terms))
        u, tfs, dls, terms = u[order], tfs[order], dls[order], terms[order]
        run_starts = np.nonzero(
            np.concatenate(([True], terms[1:] != terms[:-1]))
        )[0]
        (run_of_block, block_id, ns, min_doc, max_doc,
         docs_enc, tfs_enc, max_tf, min_dl) = encode_shard_blocks(
            u, tfs, dls, run_starts, BLOCK_SIZE
        )
        blocks = pd.DataFrame({
            "term": terms[run_starts[run_of_block]],
            "block_id": block_id.astype(np.int32),
            "n": ns.astype(np.int32),
            "min_doc": min_doc,
            "max_doc": max_doc,
            "docs_enc": docs_enc,
            "tfs_enc": tfs_enc,
            "max_tf": max_tf.astype(np.int32),
            "min_dl": min_dl.astype(np.int32),
        })
    df = pd.Series(np.diff(np.append(run_starts, len(terms))),
                   index=terms[run_starts], dtype=np.int64)
    return blocks, df


def _write_postings(blocks: pd.DataFrame, d: str) -> None:
    """Posting ``blocks`` as ``d``/part-0.parquet in _POSTINGS_ARROW's
    types (base and delta parts alike)."""
    _write_part(pa.Table.from_pandas(blocks, _POSTINGS_ARROW,
                                     preserve_index=False),
                d, use_dictionary=_POSTINGS_DICT)


def _write_docs(docs: pd.DataFrame, d: str) -> None:
    """Docs rows (url, warc_us — warc_ts in epoch micros —, lang, text,
    doc_len, doc_id) as ``d``/part-0.parquet in DOCS_SCHEMA's types."""
    _write_part(pa.table({
        "url": pa.array(docs["url"], pa.string()),
        "warc_ts": pa.Array.from_pandas(docs["warc_us"], type=pa.int64())
        .cast(pa.timestamp("us", tz="UTC")),
        "lang": pa.array(docs["lang"], pa.string()),
        "text": pa.array(docs["text"], pa.string()),
        "doc_len": pa.array(docs["doc_len"].to_numpy(dtype=np.int64),
                            pa.int32()),
        "doc_id": pa.array(docs["doc_id"].to_numpy(dtype=np.int64)),
    }), d,
        # no text min/max: pyarrow repeats whole page texts in the page
        # header and the footer (KBs per part); nothing prunes on text
        write_statistics=["url", "warc_ts", "lang", "doc_len", "doc_id"])


def _write_errors(bad: pd.DataFrame, prefix: str, shard: int) -> None:
    """Quarantine records (url, stage, error, ts) of the ``bad`` rows, if
    any, as ``prefix``-<shard>.parquet; ts as a Spark write stores it."""
    if len(bad):
        _write_part(pa.table({
            "url": pa.array(bad["url"], pa.string()),
            "stage": pa.array(["extract"] * len(bad), pa.string()),
            "error": pa.array(bad["error"], pa.string()),
            "ts": pa.array([pd.Timestamp.now(tz="UTC")] * len(bad),
                           pa.timestamp("us", tz="UTC")),
        }), os.path.dirname(prefix),
            f"{os.path.basename(prefix)}-{shard}.parquet",
            use_deprecated_int96_timestamps=True)


def _write_base(root: str, shard: int, blocks: pd.DataFrame,
                docs: pd.DataFrame, with_docs: bool) -> None:
    """One shard's base parts under ``root``: postings (when it has
    blocks), doclen and, ``with_docs``, docs — both sorted by doc_id — and
    last its counters (n_docs, total_tokens, blocks, postings, terms), so a
    shard with counters has every file."""
    part = f"shard={shard}"
    docs = docs.sort_values("doc_id", kind="stable")
    if len(blocks):
        _write_postings(blocks, os.path.join(root, "postings", part))
    _write_part(pa.table({
        "doc_id": pa.array(docs["doc_id"].to_numpy(dtype=np.int64)),
        "doc_len": pa.array(docs["doc_len"].to_numpy(dtype=np.int32)),
    }), os.path.join(root, "doclen", part))
    if with_docs:
        _write_docs(docs, os.path.join(root, "docs", part))
    _write_counters({
        "blocks": len(blocks),
        "postings": int(blocks["n"].sum()) if len(blocks) else 0,
        "terms": int(blocks["term"].nunique()) if len(blocks) else 0,
        "n_docs": len(docs),
        "total_tokens": int(docs["doc_len"].sum()),
    }, os.path.join(root, "counters"), shard)


def _live_docs(docs: str, shard: int) -> pd.DataFrame:
    """The shard's live docs rows, read executor-side from every part of
    ``docs/shard=N`` in DOCS_SCHEMA's types, warc_ts as epoch micros
    ``warc_us``. A shard with no directory, or an empty one (a build's
    shard without pages), has no docs; an unreadable part raises."""
    d = os.path.join(docs, f"shard={shard}")
    t = (pq.read_table(d, columns=_DOCS_ARROW.names,
                       coerce_int96_timestamp_unit="us")
         if os.path.isdir(d) and any(not f.startswith((".", "_"))
                                     for f in os.listdir(d))
         else _DOCS_ARROW.empty_table())
    us = t["warc_ts"].cast(_DOCS_ARROW.field("warc_ts").type).cast(pa.int64())
    return t.set_column(1, "warc_us", us).to_pandas()


def _probe(rows: pd.DataFrame, live: pd.DataFrame) -> pd.DataFrame:
    """The reference's per-record existence probe (ESIndexDocType.cs:73-118),
    shard-local: an incoming NEW or BAD page stays when its url has no
    live copy, or one without warc_ts (NotExist), or an older one
    (ExistOlder), and is dropped when the live copy is as new (ExistSame)
    or newer (ExistNewer) — segments.classify_snapshot's rule. GONE rows
    stay."""
    pos = pd.Index(live["url"]).get_indexer(rows["url"])
    hit = (pos >= 0) & (rows["kind"].to_numpy() != GONE)
    old = live["warc_us"].to_numpy()[pos[hit]]
    keep = ~hit
    keep[hit] = pd.isna(old) | (old < rows["warc_us"].to_numpy()[hit])
    return rows[keep]


def _extracted(rows: pd.DataFrame) -> pd.DataFrame:
    """The probe-kept ``rows`` with each NEW page's ``html`` replaced by
    what the one extract kernel (build.extract_batch) makes of it: text,
    doc_len, error and the term counts as ``terms``/``tfs`` arrays (the
    shape _staged_tf takes). A page whose extraction raised is BAD from
    here on; GONE rows get doc_len -1 and nothing else."""
    new = rows["kind"].to_numpy() == NEW
    ex = _build.extract_batch(rows["html"][new]).set_axis(
        rows.index[new]).reindex(rows.index)
    pairs = [p if isinstance(p, list) else [] for p in ex["tf_pairs"]]
    return rows.drop(columns="html").assign(
        kind=np.where(ex["error"].notna(), BAD, rows["kind"]),
        text=ex["text"], error=ex["error"],
        doc_len=ex["doc_len"].fillna(-1).astype(np.int64),
        terms=[np.array([t for t, _ in p], dtype=object) for p in pairs],
        tfs=[np.fromiter((n for _, n in p), np.int64, len(p))
             for p in pairs])


def _staged_tf(new_pdf: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, term, tf) rows of the docs' ``terms``/``tfs`` arrays
    (empty for a doc with no tokens)."""
    return pd.DataFrame({
        "doc_id": np.repeat(new_pdf["doc_id"].to_numpy(np.int64),
                            [len(t) for t in new_pdf["terms"]]),
        "term": np.concatenate([np.empty(0, object), *new_pdf["terms"]]),
        "tf": np.concatenate([np.empty(0, np.int64), *new_pdf["tfs"]]),
    })


def _tf_of_text(live: pd.DataFrame) -> pd.DataFrame:
    """``live`` docs rows with each stored text's term counts as
    ``terms``/``tfs`` arrays (the shape _staged_tf takes): the pinned
    analyzer the build ran (tokenize_series), so a fold encodes exactly
    what the build's extract pass counted."""
    counts = [Counter(t) if isinstance(t, list) else Counter()
              for t in tokenize_series(live["text"].astype(object))]
    return live.assign(
        terms=[np.array(list(c), dtype=object) for c in counts],
        tfs=[np.fromiter(c.values(), np.int64, len(c)) for c in counts])


def _stage_delta(staging: Staging, shard: int, blocks: pd.DataFrame,
                 df: pd.Series, rows: pd.DataFrame,
                 live: pd.DataFrame) -> tuple[bool, int]:
    """One shard's share of a delta generation, from the incoming ``rows``
    the probe kept and the shard's ``live`` docs; returns (changed,
    quarantined rows). The BAD rows go to its errors/ part; the live rows
    whose url a NEW row carries (an update) or a GONE row names (a delete)
    are its OLD rows. A shard with neither new nor old rows gets nothing
    more. Otherwise the kernel writes under ``staging``: ``delta_postings``
    (the NEW rows' posting ``blocks``, if any); ``delta_doclen`` (the new
    rows, plus a doc_len = -1 tombstone per row a delete dooms, sorted by
    doc_id); ``delta_termdf`` (``df`` — +1 per new (doc, term) — minus 1
    per distinct term of each re-tokenized old text, netted, zeros
    dropped, sorted by term; the same pinned analyzer as indexing, so the
    decrements equal what the base counts); ``counters/shard_N.json`` (the
    shard's (Δn_docs, Δtotal_tokens), tombstones counting 0, and blocks);
    and the shard's merged docs part — live rows minus old plus new. The
    counters go last, so a shard with counters has every file."""
    kind = rows["kind"].to_numpy()
    new_pdf = rows[kind == NEW]
    bad = rows[kind == BAD]
    doomed = live["url"].isin(rows["url"][kind == GONE]).to_numpy()
    is_old = doomed | live["url"].isin(new_pdf["url"]).to_numpy()
    old_pdf = live[is_old]
    changed = len(new_pdf) + len(old_pdf) > 0
    _write_errors(bad, staging.errors, shard)
    if not changed:
        return False, len(bad)
    part = f"shard={shard}"
    if len(blocks):
        _write_postings(blocks,
                        os.path.join(staging.root, "delta_postings", part))
    doclen = pd.concat([
        new_pdf[["doc_id", "doc_len"]],
        live[doomed][["doc_id"]].assign(doc_len=-1),
    ]).sort_values("doc_id", kind="stable")
    _write_part(pa.table({
        "doc_id": pa.array(doclen["doc_id"].to_numpy(dtype=np.int64)),
        "doc_len": pa.array(doclen["doc_len"].to_numpy(dtype=np.int64),
                            pa.int32()),
    }), os.path.join(staging.root, "delta_doclen", part))
    gone = Counter(
        t for toks in tokenize_series(old_pdf["text"].astype(object))
        if isinstance(toks, list) for t in set(toks)
    )
    adj = df.sub(pd.Series(gone, dtype=np.int64), fill_value=0)
    adj = adj.astype(np.int64)
    adj = adj[adj != 0].sort_index()
    if len(adj):
        _write_part(pa.table({
            "term": pa.array(adj.index, pa.string()),
            "df": pa.array(adj.to_numpy(), pa.int64()),
        }), os.path.join(staging.root, "delta_termdf", part))
    _write_docs(pd.concat([live[~is_old], new_pdf]),
                os.path.join(staging.docs, part))
    new_len = new_pdf["doc_len"].to_numpy(dtype=np.int64)
    _write_counters({
        "n_docs": len(new_pdf) - len(old_pdf),
        "total_tokens": int(new_len.sum())
        - int(old_pdf["doc_len"].to_numpy(dtype=np.int64).sum()),
        "blocks": len(blocks),
    }, os.path.join(staging.root, "counters"), shard)
    return True, len(bad)


def encode_postings(rows: DataFrame, mode: Build | Staging | Fold) -> DataFrame:
    """The one posting writer: the plan whose tasks run the shard kernel
    (_encode_shard) in ``mode`` over ``rows``, one STAGED_REPORT row per
    shard; each task writes its shard's files itself, so the caller only
    collects the reports (the plan alone runs nothing).

    Given a Build or a Staging, ``rows`` is already repartitioned by
    ``shard`` (the query's one exchange; the grouping reuses its
    partitioning) and the kernel runs once per shard group:
    - Build: the shard's extracted pages (build.build_docs_and_tf_safe's
      output as _encode_shard takes it);
    - Staging: just a delta generation's incoming rows as JVM columns (so
      its map stage evaluates no Python): shard, doc_id, ``kind``, url,
      warc_us (warc_ts in epoch microseconds), lang and html (null for a
      delete). No live docs row crosses the exchange: each task probes its
      shard's live docs itself.
    Given a Fold, ``rows`` is one ``shard`` row per shard to fold, each in
    its own partition: the kernel maps over it (no exchange, no docs scan
    in the plan) and each task re-encodes its shard from its stored docs."""
    if isinstance(mode, Fold):
        return rows.mapInPandas(lambda batches: (
            _encode_shard(pd.DataFrame({"shard": [s]}), mode)
            for pdf in batches for s in pdf["shard"]), STAGED_REPORT)
    return rows.groupBy("shard").applyInPandas(
        lambda pdf: _encode_shard(pdf, mode), STAGED_REPORT)


def read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table (partitioned or not) at ``path``, or None when its
    directory holds no parquet files at all (e.g. the postings of an index
    whose every document quarantined or was deleted — schema inference has
    nothing to read). Any other read failure (a missing
    directory, a corrupt file) raises: an empty or partial dictionary or
    counter must never be derived silently."""
    try:
        return spark.read.option("basePath", path).parquet(path)
    except Exception:
        if os.path.isdir(path) and not any(
            f.endswith(".parquet") and not f.startswith((".", "_"))
            for _, _, files in os.walk(path) for f in files
        ):
            return None
        raise


def _derive_dictionary(spark: SparkSession, root: str,
                       out_path: str) -> None:
    """The base dictionary (build and compaction): term, df, shards from
    the base posting blocks' (term, shard, n) columns ONLY — df = Σ n,
    shards = the sorted set of shards holding a block — and never a delta
    generation (readers add those: read_dictionary).

    Layout is query-shaped: hash-repartitioned BY TERM into DICT_FILES
    files and sorted within them, so a per-query ``In(term, …)`` lookup
    prunes on parquet row-group min/max stats instead of scanning the
    whole dictionary. repartition, NOT coalesce: coalesce would fuse into
    the agg stage and run the whole aggregation in DICT_FILES tasks."""
    post = read_parquet_or_none(spark, os.path.join(root, "postings"))
    if post is None:
        (
            spark.createDataFrame([], "term string, df long, shards array<int>")
            .write.mode("overwrite").parquet(out_path)
        )
        return
    (
        post.groupBy("term")
        .agg(
            F.sum("n").alias("df"),
            F.sort_array(F.collect_set("shard")).alias("shards"),
        )
        .repartition(DICT_FILES, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def read_dictionary(spark: SparkSession, pidx: "PhysicalIndex",
                    terms=None) -> DataFrame:
    """The effective dictionary (term, df, shards) of ``pidx``'s snapshot,
    restricted to ``terms`` when given: the base ``terms`` table, or with
    live gens the base blocks' n + signed delta_termdf rows — per (shard,
    term) Σ df, keep > 0; df = Σ, shards = sorted set (a full rebuild's)."""
    def only(df: DataFrame) -> DataFrame:
        return df if terms is None else df.where(F.col("term").isin(list(terms)))

    delta = pidx._delta_rel(spark, "delta_termdf")
    if delta is None:
        return only(pidx.terms_df(spark))
    rows = only(delta.where(F.col("gen").isin(pidx.delta_gens()))
                .select("term", "df", "shard"))
    # an index whose base holds no posting file (every page quarantined,
    # or all deleted and compacted) has only the overlay
    base = pidx._rel_or_none(spark, "postings")
    if base is not None:
        rows = only(base.select("term", F.col("n").alias("df"), "shard")
                    ).unionByName(rows)
    return (
        rows.groupBy("shard", "term").agg(F.sum("df").alias("df"))
        .where(F.col("df") > 0)
        .groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sort_array(F.collect_set("shard")).alias("shards"),
        )
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

    def _rel_or_none(self, spark: SparkSession, name: str):
        """Memoized read_parquet_or_none of a table (None if absent)."""
        key = (spark.sparkContext.applicationId, _session_uuid(spark), name)
        if key not in self._rels:
            path = os.path.join(self.root, name)
            self._rels[key] = (read_parquet_or_none(spark, path)
                               if os.path.isdir(path) else None)
        return self._rels[key]

    def _delta_rel(self, spark: SparkSession, name: str):
        """Memoized delta table (None without committed gens or data);
        readers filter it to delta_gens (listed only once renamed in)."""
        return self._rel_or_none(spark, name) if self.delta_gens() else None

    def postings_live_df(self, spark: SparkSession) -> DataFrame:
        """Base + committed delta posting blocks, each row tagged with its
        segment generation (base = 0). Same codec/schema either way; the
        query kernels mask base entries shadowed by a doc's newer owner
        generation (see deltas.py). With no deltas this is the base relation
        plus a constant column — the plan is unchanged."""
        return self._live(spark, self.postings_df(spark), "delta_postings")

    def doclen_live_df(self, spark: SparkSession) -> DataFrame:
        """Base + committed delta doclen rows with their generation; the
        highest-generation row per doc is its owner (doc_len = -1 ⇒ deleted).
        Kernels resolve ownership per shard group — no driver-side work."""
        return self._live(spark, self.doclen_df(spark), "delta_doclen")

    def _live(self, spark: SparkSession, base: DataFrame,
              delta_table: str) -> DataFrame:
        """``base`` ∪ committed ``delta_table`` rows, tagged ``seg_gen``."""
        base = base.withColumn("seg_gen", F.lit(0).cast("int"))
        delta = self._delta_rel(spark, delta_table)
        if delta is None:
            return base
        delta = (
            delta.where(F.col("gen").isin(self.delta_gens()))
            .withColumn("seg_gen", F.col("gen").cast("int"))
            .drop("gen")
        )
        return base.unionByName(delta.select(*base.columns))

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
    doc_id_mode: str = "hash",
) -> PhysicalIndex:
    """Full build: pages → a fresh physical index at ``root``.

    The one build (segments.build_index_resumable) on an empty root:
    whatever ``root`` held — deltas, lineage, an older build — is removed
    first, so the result equals a build into a new directory. Bad pages are
    quarantined into ``errors/`` and every segment is lineage-committed,
    like any other build.
    ``doc_id_mode="host_locality"`` selects host-clustered doc ids (the
    index-sorting analogue — see build.doc_id_expr) for web corpora where
    block-max pruning should bite.
    """
    from .segments import build_index_resumable

    shutil.rmtree(root, ignore_errors=True)
    return build_index_resumable(
        spark, pages, root, n_shards=n_shards, run_id="full",
        input_snapshot="full", doc_id_mode=doc_id_mode,
        write_docs=write_docs,
    )


def totals_fields(shard_stats: dict) -> dict:
    """The stats.json corpus totals for the given per-shard subtotals;
    avgdl is one exact-int division, so it is bit-identical however the
    subtotals were gathered."""
    n = sum(v[0] for v in shard_stats.values())
    t = sum(v[1] for v in shard_stats.values())
    return {
        "n_docs": n,
        "avgdl": (t / n) if n else 0.0,
        "total_tokens": t,
        "shard_stats": {
            str(k): [int(v[0]), int(v[1])]
            for k, v in sorted(shard_stats.items())
        },
    }


def index_stats(shard_stats: dict, n_shards: int, doc_id_mode: str,
                **extra) -> dict:
    """The stats.json a full or resumable build writes: format version,
    corpus totals, the per-shard subtotals and the scoring/layout
    parameters."""
    return {
        "format_version": FORMAT_VERSION,
        **totals_fields(shard_stats),
        "analyzer": ANALYZER_VERSION,
        "k1": K1,
        "b": B,
        "n_shards": n_shards,
        "block_size": BLOCK_SIZE,
        # recorded so every later writer (update/delete)
        # derives ids the same way — a mode mismatch would index the same
        # url under two ids and silently strand stale postings
        "doc_id_mode": doc_id_mode,
        **extra,
    }


def write_stats(root: str, stats: dict) -> None:
    """Replace stats.json atomically (tmp + os.replace): it is the
    reader-visible commit point of every build, update and compaction."""
    tmp = os.path.join(root, "stats.json.tmp")
    with open(tmp, "w") as f:
        json.dump(stats, f)
    os.replace(tmp, os.path.join(root, "stats.json"))


def read_stats(root: str) -> dict:
    """stats.json of the index at ``root``; raises ValueError for any
    format other than FORMAT_VERSION (rebuild such an index)."""
    with open(os.path.join(root, "stats.json")) as f:
        stats = json.load(f)
    found = stats.get("format_version")
    if found != FORMAT_VERSION:
        raise ValueError(
            f"index at {root} has format_version {found!r}; this version "
            f"reads format_version {FORMAT_VERSION} only — rebuild the index"
        )
    return stats


def _update_marker(root: str) -> str:
    return os.path.join(root, "update.json")


def open_index(root: str) -> PhysicalIndex:
    """The index at ``root`` for querying; RuntimeError while a compaction
    marker (no ``mode``) remains: the fold changes base files, deltas and
    terms/ in separate steps, so until segments.recover_update (any writer
    runs it) finishes it the dictionary is wrong. A delta marker's
    generation is invisible until stats.json lists it."""
    stats = read_stats(root)
    try:
        with open(_update_marker(root)) as f:
            mode = json.load(f).get("mode")
    except FileNotFoundError:
        mode = "delta"
    if mode != "delta":
        raise RuntimeError(f"index at {root} has an interrupted compaction; "
                           "run segments.recover_update first")
    return PhysicalIndex(root=root, stats=stats)
