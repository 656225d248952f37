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
<root>/delta_staging/ BEFORE the update marker is written, by ONE encode
job (store.encode_postings given the staging root): the live rows the
generation shadows or deletes ride its dl side flagged ``old`` with their
stored text, and the per-shard kernel writes the delta postings, the doclen
rows, the netted term-df adjustments and the shard's (Δn_docs,
Δtotal_tokens). The driver adds those to stats.json's ``shard_stats`` (a
shard whose counters it cannot find fails the commit) and the new
subtotals — with the error counter, if the update quarantined a page —
ride in the marker. The generation is renamed into place after the docs
swap and becomes reader-visible only when stats.json (atomic replace,
written from the marker by no Spark job) lists it in ``delta_gens``.
Update and delete share this staging and commit
(segments._commit_delta_mutation): segments.recover_update rolls a
mid-commit crash forward, and a pre-marker crash leaves only swept staging
garbage.

Compaction is the only re-encode of base segments after a build: it folds
a shard's base + deltas into a fresh base segment from the merged docs
table (segments._rebuild_shards), purging that shard's delta subdirs under
its own marker (readers refuse the index while it exists: open_index);
generations left with no shard data are dropped from ``delta_gens``. ``segments.compact_deltas`` is the
optimize-to-N analogue, and updates auto-compact shards that accumulate
``compact_after`` generations or more.
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import wait

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import shard_of
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


def _dl_rows(docs: DataFrame, n_shards: int, old: bool,
             doc_len=None) -> DataFrame:
    """The staging job's dl-side rows of ``docs``: the generation's new
    delta_doclen rows (``doc_len`` overrides the column: -1 for a delete
    tombstone), or with ``old`` the live rows it replaces or deletes,
    carrying their stored ``text`` for the term-df decrements."""
    return docs.select(
        shard_of(F.col("doc_id"), n_shards).alias("shard"), "doc_id",
        (F.col("doc_len") if doc_len is None else doc_len).alias("doc_len"),
        F.lit(old).alias("old"),
        F.col("text") if old else F.lit(None).cast("string").alias("text"),
    )


def _stage(root: str, tf: DataFrame, dl: DataFrame) -> None:
    """Stage a generation in ONE encode job (store.encode_postings with a
    staging root): the kernel encodes ``tf`` against the new ``dl`` rows
    into delta_postings and, per shard, writes delta_doclen, the netted
    delta_termdf and the (Δn_docs, Δtotal_tokens) counters."""
    discard_staging(root)
    # a generation whose adjustments net to zero still commits its (empty)
    # delta_termdf directory
    os.makedirs(staging_path(root, "delta_termdf"))
    encode_postings(tf, dl, staging_path(root, "delta_postings"),
                    staging=staging_root(root))


def stage_update_delta(
    spark: SparkSession,
    root: str,
    changed_docs: DataFrame,
    old_replaced: DataFrame,
    n_shards: int,
) -> None:
    """Stage one UPDATE generation under <root>/delta_staging/.

    ``changed_docs``: the new/updated docs as the fused kernel emits them,
    WITH their ``tf_pairs`` column (a view of the caller's persisted fused
    relation — the job is O(update) and re-runs no Python over the new
    docs). ``old_replaced``: the live docs-table rows being shadowed; their
    text rides the dl side for the term-df decrements.
    """
    tf = tf_from_pairs(
        changed_docs.withColumn("shard", shard_of(F.col("doc_id"), n_shards))
    )
    _stage(root, tf, _dl_rows(changed_docs, n_shards, False).unionByName(
        _dl_rows(old_replaced, n_shards, True)))


def stage_delete_delta(
    spark: SparkSession,
    root: str,
    doomed_docs: DataFrame,
    n_shards: int,
) -> None:
    """Stage one DELETE generation: the update's job with an empty tf side
    — doclen tombstones (doc_len = -1) plus delta_termdf decrements from the
    doomed docs' stored text. No postings — deletion is pure masking until
    compaction folds it into the base."""
    tf = spark.createDataFrame([], "shard int, doc_id long, term string, "
                                   "tf int")
    _stage(root, tf, _dl_rows(doomed_docs, n_shards, False, F.lit(-1))
           .unionByName(_dl_rows(doomed_docs, n_shards, True)))
    shutil.rmtree(staging_path(root, "delta_postings"))


def staged_shard_deltas(root: str, shards) -> dict:
    """shard → (Δn_docs, Δtotal_tokens) of the staged generation, from the
    counters the staging kernel wrote. Every affected shard must have its
    counters and its delta_doclen file: a missing one means the executors
    wrote where the driver cannot see (the index root must be a shared
    filesystem), so this raises — before any marker — instead of
    defaulting a subtotal to 0."""
    out = {}
    for s in shards:
        counters = os.path.join(staging_root(root), "counters",
                                f"shard_{int(s)}.json")
        doclen = os.path.join(staging_path(root, "delta_doclen"),
                              f"shard={int(s)}", "part-0.parquet")
        if not (os.path.exists(counters) and os.path.exists(doclen)):
            raise RuntimeError(
                f"staging kernel output for shard {s} is missing under "
                f"{staging_root(root)}; the index root must "
                "be a filesystem shared by driver and executors"
            )
        with open(counters) as f:
            rec = json.load(f)
        out[int(s)] = (int(rec["n_docs"]), int(rec["total_tokens"]))
    return out
