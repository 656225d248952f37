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

Commit protocol: a generation is staged completely under
<root>/delta_staging/ BEFORE the update marker is written; the affected
shards' new subtotals (and the error counter, if the update quarantined a
page) are computed beside the staging and ride in the marker. The
generation is renamed into place after the docs swap and becomes
reader-visible only when stats.json (atomic replace, written from the
marker by no Spark job) lists it in ``delta_gens``. Update and delete
share this commit (segments._commit_delta_mutation): segments.recover_update
rolls a mid-commit crash forward, and a pre-marker crash leaves only swept
staging garbage.

Compaction is the only re-encode of base segments after a build: it folds
a shard's base + deltas into a fresh base segment from the merged docs
table (segments._rebuild_shards), purging that shard's delta subdirs under
its own marker (readers refuse the index while it exists: open_index);
generations left with no shard data are dropped from ``delta_gens``. ``segments.compact_deltas`` is the
optimize-to-N analogue, and updates auto-compact shards that accumulate
``compact_after`` generations or more.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import wait
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from .build import shard_of, tf_from_text
from .store import encode_postings, tf_from_pairs

DELTA_TABLES = ("delta_postings", "delta_doclen", "delta_termdf")


def join_all(futs) -> list:
    """Results of ``futs`` once every one has settled; the first failure
    is raised only then, so no job is left running behind it."""
    wait(futs)
    return [f.result() for f in futs]


def delta_table_path(root: str, table: str) -> str:
    return os.path.join(root, table)


def gen_path(root: str, table: str, gen: int) -> str:
    return os.path.join(root, table, f"gen={int(gen)}")


def staging_path(root: str, table: str) -> str:
    return os.path.join(root, "delta_staging", table)


def next_gen(stats: dict) -> int:
    """Next generation number. delta_gens only ever shrinks via compaction,
    which never renumbers, and ``last_gen`` records the high-water mark so a
    fully-compacted index does not reuse a generation number an old reader
    snapshot might still associate with removed data."""
    prev = [int(g) for g in stats.get("delta_gens", [])]
    prev.append(int(stats.get("last_gen", 0)))
    return max(prev) + 1


def discard_staging(root: str) -> None:
    shutil.rmtree(os.path.join(root, "delta_staging"), ignore_errors=True)


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
    write includes doclen rows — but postings/termdf are scanned too so a
    half-purged crash window never hides data)."""
    out: dict = {}
    for table in DELTA_TABLES:
        base = delta_table_path(root, table)
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
        base = delta_table_path(root, table)
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


def _signed_termdf(new_tf: DataFrame | None, old_docs: DataFrame | None,
                   n_shards: int) -> DataFrame:
    """Per-(shard, term) signed df adjustment: +1 per (new doc, term) pair,
    -1 per (shadowed live doc, term) pair. Both sides are O(update) — the
    shadowed versions' terms come from re-tokenizing exactly the replaced
    docs' stored text (build.tf_from_text: same pinned analyzer as
    indexing, so the decrements equal what the base postings count)."""
    parts = []
    if new_tf is not None:
        parts.append(
            new_tf.groupBy("shard", "term").agg(
                F.count(F.lit(1)).alias("df")
            )
        )
    if old_docs is not None:
        parts.append(
            tf_from_text(old_docs, n_shards).groupBy("shard", "term").agg(
                (-F.count(F.lit(1))).alias("df")
            )
        )
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy("shard", "term").agg(F.sum("df").alias("df"))
        .where(F.col("df") != 0)
        .select("term", "df", "shard")
    )


def _write_staged(df: DataFrame, root: str, table: str, n_shards: int,
                  sort_by: str) -> None:
    """Stage one delta table: partitioned by shard, sorted within files."""
    (
        df.repartition(n_shards, "shard").sortWithinPartitions(sort_by)
        .write.mode("overwrite").partitionBy("shard")
        .parquet(staging_path(root, table))
    )


def stage_update_delta(
    spark: SparkSession,
    root: str,
    changed_docs: DataFrame,
    old_replaced: DataFrame | None,
    n_shards: int,
) -> None:
    """Stage one UPDATE generation under <root>/delta_staging/.

    ``changed_docs``: the new/updated docs as the fused kernel emits them,
    WITH their ``tf_pairs`` column (a view of the caller's persisted fused
    relation — every job here is O(update) and none re-runs Python over
    the new docs).
    ``old_replaced``: the live docs-table rows being shadowed (for the
    termdf decrements); None/empty when every incoming url is new.
    """
    from concurrent.futures import ThreadPoolExecutor

    discard_staging(root)
    changed = changed_docs.withColumn(
        "shard", shard_of(F.col("doc_id"), n_shards)
    )
    tf = tf_from_pairs(changed)
    # tf and dl share the cached fused parent, whose lineage contains the
    # classification join — encode_postings renames the dl side's keys
    dl = changed.select("shard", "doc_id", "doc_len")

    def _w_postings():
        # no term-df sidecars here: a generation's delta_termdf is the
        # signed adjustment written by _w_termdf
        encode_postings(tf, dl, staging_path(root, "delta_postings"))

    def _w_doclen():
        _write_staged(dl, root, "delta_doclen", n_shards, "doc_id")

    def _w_termdf():
        _write_staged(_signed_termdf(tf, old_replaced, n_shards), root,
                      "delta_termdf", n_shards, "term")

    # the three staging writes are independent jobs over cached inputs —
    # submit them concurrently (job submission is thread-safe; same pattern
    # as the build's phase-A fan-out) so their fixed scheduling/IO tails
    # overlap instead of summing — at O(update) data the job floor IS most
    # of the staging wall. Each keeps the caller's (thread-local) job group
    # and description.
    with ThreadPoolExecutor(max_workers=3) as pool:
        join_all([pool.submit(inheritable_thread_target(spark)(f))
                  for f in (_w_postings, _w_doclen, _w_termdf)])


def stage_delete_delta(
    spark: SparkSession,
    root: str,
    doomed_docs: DataFrame,
    n_shards: int,
) -> None:
    """Stage one DELETE generation: doclen tombstones (doc_len = -1) plus
    termdf decrements from the doomed docs' stored text. No postings —
    deletion is pure masking until compaction folds it into the base."""
    discard_staging(root)
    tombstones = doomed_docs.select(
        "doc_id", F.lit(-1).alias("doc_len")
    ).withColumn("shard", shard_of(F.col("doc_id"), n_shards))
    _write_staged(tombstones, root, "delta_doclen", n_shards, "doc_id")
    _write_staged(_signed_termdf(None, doomed_docs, n_shards), root,
                  "delta_termdf", n_shards, "term")
