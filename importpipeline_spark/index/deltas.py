"""LSM-style delta posting segments: the one update/delete path.

Every update and delete writes its change as a delta generation, so its
cost is O(update bytes) — no re-tokenize or re-encode of the unchanged docs
of the shards it touches. This mirrors the reference's delegated ES/Lucene
segment model (immutable per-shard delta segments + query-time merge +
background compaction, incl. the exposed optimize-to-N-segments —
ImportPipeline/Endpoints/ESIndexDefinitions.cs:452-458, 195-196):

  <root>/delta_postings/gen=G/shard=N/   posting blocks, SAME codec/schema
                                         as the base segment
  <root>/delta_doclen/gen=G/shard=N/     (doc_id, doc_len) rows of the docs
                                         (re)written at generation G;
                                         doc_len = -1 is a DELETE tombstone
  <root>/delta_termdf/gen=G/shard=N/     signed (term, df) adjustments:
                                         +df of the new versions, -df of the
                                         live versions they shadow

Ownership rule (the whole merge semantics): a doc's OWNER generation is the
highest generation holding a doclen row for it (base = generation 0). Query
kernels mask a doc out of any posting block whose generation is lower than
its owner generation, and resolve doc_len from the owner row; a -1 owner row
masks the doc everywhere. Replaced docs therefore need no explicit tombstone
— their new doclen row IS the tombstone for every older posting entry.

Like a Lucene refresh, a commit never rewrites a global dictionary:
``terms/`` is the BASE dictionary (build and compaction only), and every
reader adds the live generations' delta_termdf with the derivation's own
rule (store.read_dictionary, serve.LocalSearcher), seeing exactly what a
full rebuild writes.

Commit protocol: a generation is staged completely BEFORE the update
marker is written, by ONE encode job (store.encode_postings given a
Staging) that also stages the docs copy-on-write merge. Its one side
carries only the incoming rows as JVM columns — an update's raw pages or
a delete's doomed urls — repartitioned by shard into parallel tasks (its
map stage runs no Python). Per shard the kernel reads the shard's own
docs part(s), runs the existence probe by (url, warc_ts) — ExistSame
and ExistNewer pages are dropped before anything is extracted or
written — extracts the kept pages (build.extract_batch, failures
quarantined), finds by url the live rows the generation shadows or
deletes, and writes under <root>/delta_staging/ the delta postings,
doclen rows, netted term-df adjustments and (Δn_docs, Δtotal_tokens),
the merged docs part under <root>/docs.tmp/ (live − old + new), and any
quarantined page as an errors/ part; a shard no incoming row maps to is
never read. The job collects one report row per shard; then, with no
Spark job, the driver hard-links every other docs shard into docs.tmp,
recounts errors/ with pyarrow and adds the counters to ``shard_stats``
(missing kernel output fails the commit); the new subtotals and error
counter ride in the marker. The generation is renamed into place after
the docs swap and becomes reader-visible only when stats.json (atomic
replace, written from the marker by no Spark job) lists it in
``delta_gens``. Update and delete share this staging and commit
(segments._commit_delta_mutation): segments.recover_update rolls a
mid-commit crash forward, and a pre-marker crash leaves only swept
staging garbage.

Compaction is the only re-encode of base segments after a build: it folds
a shard's base + deltas into a fresh base segment from the merged docs
table in one fold job — one task per shard reads its own docs part(s),
re-tokenizes them in the task and writes the shard's postings, doclen
part and counters (segments._rebuild_shards, store.Fold) — then derives
the base dictionary and purges that shard's delta subdirs under its own
marker (readers refuse the index while it exists: open_index);
generations left with no shard data are dropped from ``delta_gens``.
``segments.compact_deltas`` is the optimize-to-N analogue, and updates
auto-compact shards that accumulate ``compact_after`` generations or
more.
"""

from __future__ import annotations

import json
import os
import shutil
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import doc_id_expr, shard_of
from .store import GONE, NEW, Staging, encode_postings

DELTA_TABLES = ("delta_postings", "delta_doclen", "delta_termdf")


def gen_path(root: str, table: str, gen: int) -> str:
    return os.path.join(root, table, f"gen={int(gen)}")


def staging_root(root: str) -> str:
    return os.path.join(root, "delta_staging")


def staging_path(root: str, table: str) -> str:
    return os.path.join(staging_root(root), table)


def next_gen(stats: dict) -> int:
    """Next generation number. delta_gens only ever shrinks via compaction,
    which never renumbers, and ``last_gen`` records the high-water mark so a
    fully-compacted index does not reuse a generation number an old reader
    snapshot might still associate with removed data."""
    prev = [int(g) for g in stats.get("delta_gens", [])]
    prev.append(int(stats.get("last_gen", 0)))
    return max(prev) + 1


def discard_staging(root: str) -> None:
    shutil.rmtree(staging_root(root), ignore_errors=True)


def commit_staged_gen(root: str, gen: int) -> None:
    """Rename staged delta tables into their gen=G directories. Idempotent:
    a prior attempt's completed renames are skipped (recovery re-runs this);
    a table with no staged data (e.g. a delete writes no postings) is simply
    absent for that generation."""
    for table in DELTA_TABLES:
        src = staging_path(root, table)
        dst = gen_path(root, table, gen)
        if os.path.isdir(dst):
            continue
        if os.path.isdir(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
    discard_staging(root)


def shard_gen_map(root: str) -> dict:
    """shard -> set of generations holding on-disk delta data for it (union
    across the three delta tables; doclen is authoritative — every delta
    write includes doclen rows — but delta_postings/delta_termdf are
    scanned too so a half-purged crash window never hides data)."""
    out: dict = {}
    for table in DELTA_TABLES:
        base = os.path.join(root, table)
        if not os.path.isdir(base):
            continue
        for g in os.listdir(base):
            if not g.startswith("gen="):
                continue
            gen = int(g.split("=", 1)[1])
            gdir = os.path.join(base, g)
            for s in os.listdir(gdir):
                if s.startswith("shard="):
                    out.setdefault(int(s.split("=", 1)[1]), set()).add(gen)
    return out


def live_gens_on_disk(root: str) -> set:
    """Generations that still hold data for at least one shard."""
    gens: set = set()
    for g in shard_gen_map(root).values():
        gens |= g
    return gens


def purge_shards(root: str, shards) -> None:
    """Remove the given shards' delta data from every generation (compaction
    commit: the freshly re-encoded base now carries the folded state).
    Idempotent; emptied gen directories are removed so live_gens_on_disk and
    readers converge."""
    doomed = {int(s) for s in shards}
    for table in DELTA_TABLES:
        base = os.path.join(root, table)
        if not os.path.isdir(base):
            continue
        for g in list(os.listdir(base)):
            if not g.startswith("gen="):
                continue
            gdir = os.path.join(base, g)
            for s in list(os.listdir(gdir)):
                if s.startswith("shard=") and int(s.split("=", 1)[1]) in doomed:
                    shutil.rmtree(os.path.join(gdir, s), ignore_errors=True)
            if not any(e.startswith("shard=") for e in os.listdir(gdir)):
                shutil.rmtree(gdir, ignore_errors=True)


def _stage(spark: SparkSession, root: str, rows: DataFrame,
           n_shards: int) -> tuple[list, int]:
    """Stage a generation in ONE encode job (store.encode_postings with a
    Staging) over the incoming ``rows``: per shard the kernel probes and
    reads the shard's live docs, extracts the pages the probe keeps and
    writes delta_postings, delta_doclen, the netted delta_termdf, the
    (Δn_docs, Δtotal_tokens) counters, the merged ``docs.tmp/shard=N`` and
    the quarantined pages' errors/ part. ``rows`` is repartitioned by
    shard into min(n_shards, defaultParallelism) partitions, at least 2:
    the job's only exchange, which AQE does not coalesce, so the shards
    run as parallel tasks (one partition would plan as SinglePartition,
    which the adaptive plan shuffles a second time). Returns the changed
    shards and quarantined rows of the collected per-shard reports."""
    discard_staging(root)
    docs_tmp = os.path.join(root, "docs.tmp")
    shutil.rmtree(docs_tmp, ignore_errors=True)
    # a generation whose adjustments net to zero still commits its (empty)
    # delta_termdf directory
    os.makedirs(staging_path(root, "delta_termdf"))
    n_parts = max(2, min(n_shards, spark.sparkContext.defaultParallelism))
    report = encode_postings(
        rows.repartition(n_parts, "shard"),
        Staging(staging_root(root), docs_tmp, os.path.join(root, "docs"),
                os.path.join(root, "errors", f"part-{uuid4().hex}")),
    ).collect()
    return (sorted(r.shard for r in report if r.changed),
            sum(r.n_bad for r in report))


def stage_update_delta(
    spark: SparkSession,
    root: str,
    pages: DataFrame,
    n_shards: int,
) -> tuple[list, int]:
    """Stage one UPDATE generation under <root>/delta_staging/ and its
    merged docs shards under <root>/docs.tmp/; returns (changed shards,
    quarantined pages recorded in errors/).

    ``pages``: the incoming raw pages (url, warc_ts, lang, html) with the
    index's ``doc_id`` (build.doc_id_expr of its mode). They ride the
    staging job as NEW rows of JVM columns only; the kernel drops the
    pages its existence probe skips and extracts the rest (a page whose
    extraction fails is quarantined). A live row whose url a kept page
    carries is the shadowed version — its stored text re-tokenizes to the
    terms the base counts, its doc_len leaves the shard subtotals.
    """
    return _stage(spark, root, pages.select(
        shard_of(F.col("doc_id"), n_shards).alias("shard"), "doc_id", "url",
        F.unix_micros("warc_ts").alias("warc_us"), "lang", "html",
        F.lit(NEW).alias("kind"),
    ), n_shards)


def stage_delete_delta(
    spark: SparkSession,
    root: str,
    urls: DataFrame,
    n_shards: int,
    doc_id_mode: str,
) -> tuple[list, int]:
    """Stage one DELETE generation: the update's job with the doomed
    ``urls`` as GONE rows instead of pages — doclen tombstones (doc_len =
    -1) plus delta_termdf decrements from the doomed docs' stored text.
    No postings (no NEW rows) — deletion is pure masking until compaction
    folds it into the base. warc_us is 0, not null: pandas turns an
    integer column holding a null into float64."""
    return _stage(spark, root, urls.select(
        doc_id_expr(doc_id_mode).alias("doc_id"), "url").select(
        shard_of(F.col("doc_id"), n_shards).alias("shard"), "doc_id", "url",
        F.lit(0).cast("long").alias("warc_us"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("binary").alias("html"),
        F.lit(GONE).alias("kind"),
    ), n_shards)


def staged_shard_deltas(root: str, shards) -> dict:
    """shard → (Δn_docs, Δtotal_tokens) of the staged generation, from the
    counters the staging kernel wrote. Every affected shard must have its
    counters, its delta_doclen file, its staged docs part and, when its
    counters report posting blocks, its delta_postings part: a missing
    one means the executors wrote where the driver cannot see (the index
    root must be a shared filesystem), so this raises — before any marker
    — instead of defaulting a subtotal to 0."""
    out = {}
    for s in shards:
        part = os.path.join(f"shard={int(s)}", "part-0.parquet")
        counters = os.path.join(staging_root(root), "counters",
                                f"shard_{int(s)}.json")
        rec = {}
        if os.path.exists(counters):
            with open(counters) as f:
                rec = json.load(f)
        tables = ["delta_doclen"] + (
            ["delta_postings"] if rec.get("blocks") else [])
        files = [counters, os.path.join(root, "docs.tmp", part)] + [
            os.path.join(staging_path(root, t), part) for t in tables]
        if not all(os.path.exists(f) for f in files):
            raise RuntimeError(
                f"staging kernel output for shard {s} is missing under "
                f"{root}; the index root must "
                "be a filesystem shared by driver and executors"
            )
        out[int(s)] = (int(rec["n_docs"]), int(rec["total_tokens"]))
    return out
