"""Segment/checkpoint-resumable index build with per-partition lineage.

Mirrors the reference's RunAdministration design
(/root/reference/ImportPipeline/RunAdministration/RunAdministration.cs:36-52:
one record per run with state + counters; eviction/merge
RunAdministrations.cs:155-240) as a ``segments`` lineage table, and its
incremental ExistState skip logic
(Endpoints/ESIndexDocType.cs:73-118 → NotExist/ExistOlder/ExistSame/ExistNewer;
gate Datasources/StreamDatasourceBase.cs:110-134) as the update kernel's
per-shard probe (store._probe; classify_snapshot is its oracle).

Build shape (the one build — store.write_index is this on an empty root):
ONE staged query per run, the shape of the update's staging and of the
fold. pages get their doc_id and doc-range shard JVM-side; only the
shards left to do pass (every shard on a fresh build, the unfinished
ones on a resume); the extract pass (build.build_docs_and_tf_safe) runs
map-side; the rows, quarantined pages included, are repartitioned by
shard — the build's only corpus exchange — and one kernel task per shard
(store.encode_postings given a store.Build) writes the shard's postings,
doclen and docs parts, counters and errors/ part (_build). Then each
segment (= doc-range shard) is swapped in and lineage-committed
(_commit_segment): files land before lineage, so a kill anywhere leaves
finished segments skipped and the rest deterministically re-extracted
on resume — the final index row-identical to an uninterrupted run
(verified in tests). Every run then derives the dictionary from the
committed postings' block counts (df = Σ n), including a resume with
nothing left to encode, and writes stats.json last from the committed
segments (the build's commit point). The build's Spark jobs are
described ``build: encode`` (the staged query) and ``build: dictionary``.

Errors are quarantined per record (mirrors ESEndpoint.SaveError,
Endpoints/ESEndpoint.cs:457-471) into <root>/errors/.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from contextlib import contextmanager
from datetime import datetime, timezone

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import deltas as _deltas
from .build import build_docs_and_tf_safe, doc_id_expr, shard_of
from .store import (
    Build,
    Fold,
    PhysicalIndex,
    _derive_dictionary,
    _update_marker,
    encode_postings,
    index_stats,
    read_stats,
    totals_fields,
    write_stats,
)

# where an encode job (a build or a compaction's fold) writes its
# segments' files before each segment's commit swaps them into place
_ENCODE_TMP = "encode_tmp"

SEGMENTS_SCHEMA = (
    "run_id string, segment_id int, input_snapshot string, n_docs long, "
    "n_postings long, status string, started_ts timestamp, "
    "finished_ts timestamp, metrics map<string,long>"
)


def _count_error_urls(root: str) -> int:
    """Run-level error counter = DISTINCT failed urls in the quarantine,
    read with pyarrow (no Spark job).

    The errors dir is an append-only log (a page that keeps failing is
    re-quarantined on every retry — by design, each run's failures are
    recorded); the COUNTER must not inflate under the retry workflows
    crash-recovery encourages, so it counts distinct urls, not log rows.
    No parquet file means zero; a corrupt one raises, never n_errors=0."""
    p = os.path.join(root, "errors")
    if not os.path.isdir(p) or not any(
        f.endswith(".parquet") and not f.startswith((".", "_"))
        for f in os.listdir(p)
    ):
        return 0
    return pc.count_distinct(
        pq.read_table(p, columns=["url"])["url"]).as_py()


def _seg_dir(root: str) -> str:
    return os.path.join(root, "segments")


def _read_counters(tmp: str, shards, report) -> dict:
    """shard → counters of ``shards`` as their encode tasks wrote them
    under ``tmp``. ``report`` holds the row of every task that ran: a
    build runs none for a doc range without pages, whose counters are
    zeros. A task's missing file raises: the executors wrote where the
    driver cannot see."""
    ran = {int(r.shard) for r in report}
    out = {}
    for s in shards:
        p = os.path.join(tmp, "counters", f"shard_{s}.json")
        if s not in ran:
            out[s] = dict.fromkeys(
                ("n_docs", "total_tokens", "blocks", "postings", "terms"), 0)
        elif os.path.exists(p):
            with open(p) as f:
                out[s] = json.load(f)
        else:
            raise RuntimeError(
                f"segment {s} has no counters at {p}; the index root must "
                "be a filesystem shared by driver and executors")
    return out


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    p = _seg_dir(root)
    if not os.path.exists(p) or not any(
        f.endswith(".json") for f in os.listdir(p)
    ):
        return None
    # explicit schema: per-segment counters + metrics map (mirrors
    # DatasourceReport — ImportReport.cs:92-209)
    return spark.read.schema(SEGMENTS_SCHEMA).json(p)


def _lineage_rows(root: str) -> list[dict]:
    p = _seg_dir(root)
    if not os.path.exists(p):
        return []
    rows = []
    for f in os.listdir(p):
        if f.endswith(".json"):
            with open(os.path.join(p, f)) as fh:
                rows.append(json.load(fh))
    return rows


def _finished_segments(root: str, input_snapshot: str | None = None) -> set[int]:
    """Segment ids whose lineage row says status=ok — restricted to rows built
    from the SAME input_snapshot when one is given. A lineage row from a
    different snapshot must not be treated as done: resuming over different
    input would otherwise silently produce a mixed stale/fresh index."""
    return {
        int(row["segment_id"]) for row in _lineage_rows(root)
        if row.get("status") == "ok" and input_snapshot in (
            None, row.get("input_snapshot"))
    }


def _append_lineage(root: str, row: dict) -> None:
    p = _seg_dir(root)
    os.makedirs(p, exist_ok=True)
    tmp = os.path.join(p, f".seg_{row['segment_id']}.tmp")
    with open(tmp, "w") as f:
        json.dump(row, f)
    # atomic per-segment commit (the reference's save-after-each-run —
    # ImportEngine.cs:455)
    os.replace(tmp, os.path.join(p, f"seg_{row['segment_id']}.json"))


def _commit_segment(root: str, seg: int, tables, m: dict, run_id: str,
                    input_snapshot: str, started: str,
                    doc_id_mode: str | None = None, **metrics) -> None:
    """The one segment commit (build, resume, compaction): move ``seg``'s
    shard dir of each of ``tables`` from _ENCODE_TMP over the live one (a
    shard without data gets an empty dir) FIRST, then write its lineage
    row with the encode's counters ``m``, any extra ``metrics`` and, from
    a build, the ``doc_id_mode`` its ids derive from — a kill between the
    two just re-encodes the segment (deterministic, so the rows are
    identical)."""
    for table in tables:
        src = os.path.join(root, _ENCODE_TMP, table, f"shard={seg}")
        dst = os.path.join(root, table, f"shard={seg}")
        os.makedirs(src, exist_ok=True)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.rmtree(dst, ignore_errors=True)
        os.rename(src, dst)
    _append_lineage(root, {
        "run_id": run_id, "segment_id": int(seg),
        "input_snapshot": input_snapshot, "n_docs": m["n_docs"],
        "n_postings": m["postings"], "status": "ok", "started_ts": started,
        "finished_ts": datetime.now(timezone.utc).isoformat(),
        # per-segment metrics (mirrors DatasourceReport counters —
        # ImportReport.cs:92-209)
        "metrics": {"blocks": m["blocks"], "distinct_terms": m["terms"],
                    **metrics},
        **({"doc_id_mode": doc_id_mode} if doc_id_mode else {}),
    })


def _fold(spark, root: str, shards, want: dict) -> dict:
    """Re-encode ``shards`` from their stored docs in ONE Spark job with
    no exchange: one task per shard (store.encode_postings given a
    store.Fold) reads its own docs/shard=N with pyarrow, re-tokenizes it
    and writes under _ENCODE_TMP its postings and doc_id-sorted doclen
    parts and its counters.
    Returns shard → counters, each checked against ``want`` (shard_stats
    subtotals; an emptied shard is absent there): a mismatch, or a missing
    counters or doclen file, raises before anything is swapped."""
    tmp = os.path.join(root, _ENCODE_TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    ids = spark.range(len(shards), numPartitions=len(shards)).select(
        F.element_at(F.array(*map(F.lit, shards)),
                     F.col("id").cast("int") + 1).alias("shard"))
    report = encode_postings(
        ids, Fold(os.path.join(root, "docs"), tmp)).collect()
    out = _read_counters(tmp, shards, report)
    for s in shards:
        m = out[s]
        if not os.path.exists(os.path.join(
                tmp, "doclen", f"shard={s}", "part-0.parquet")):
            raise RuntimeError(f"segment {s} has no doclen part under {tmp}")
        got = [m["n_docs"], m["total_tokens"]] if m["n_docs"] else None
        if got != want.get(str(s)):
            raise RuntimeError(
                f"segment {s} folded to (n_docs, total_tokens) {got}; "
                f"shard_stats has {want.get(str(s))}")
    return out


def _build(spark, pages: DataFrame, root: str, todo, n_shards: int,
           doc_id_mode: str, write_docs: bool) -> dict:
    """Encode the ``todo`` shards of ``pages`` in ONE staged query: the
    shard filter runs JVM-side before the extract pass, so only their
    pages are extracted; the extracted rows — quarantined pages included,
    the text only with ``write_docs`` — are repartitioned by shard (an
    explicit count, which AQE does not coalesce), and one kernel task per
    shard (store.encode_postings given a store.Build) writes under
    _ENCODE_TMP the shard's postings, doclen and docs parts and counters,
    and its quarantined pages as errors/part-build-<shard>.parquet.
    Returns shard → counters."""
    tmp = os.path.join(root, _ENCODE_TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    fused = build_docs_and_tf_safe(
        pages.where(shard_of(doc_id_expr(doc_id_mode), n_shards).isin(todo)),
        doc_id_mode)
    # a page without text has no tf_pairs: it gets no terms
    pairs = F.coalesce("tf_pairs", F.array())
    cols = [shard_of(F.col("doc_id"), n_shards).alias("shard"), "doc_id",
            "url", "doc_len", "error", pairs.getField("term").alias("terms"),
            pairs.getField("tf").alias("tfs")]
    if write_docs:
        cols += [F.unix_micros("warc_ts").alias("warc_us"), "lang", "text"]
    report = encode_postings(
        fused.select(*cols).repartition(n_shards, "shard"),
        Build(tmp, os.path.join(root, "errors", "part-build"), write_docs),
    ).collect()
    return _read_counters(tmp, todo, report)


def _committed_shard_stats(root: str, n_shards: int) -> dict:
    """shard → (n_docs, total_tokens) of the committed segments, from
    their doclen parts read with pyarrow (no Spark job); a shard without
    docs is absent, as stats.json's shard_stats leave it out."""
    out = {}
    for s in range(n_shards):
        n = t = 0
        for f in glob.glob(os.path.join(root, "doclen", f"shard={s}",
                                        "*.parquet")):
            dl = pq.read_table(f, columns=["doc_len"])["doc_len"]
            n, t = n + len(dl), t + (pc.sum(dl).as_py() or 0)
        if n:
            out[s] = (n, t)
    return out


def _resumable_stats(root: str, input_snapshot: str,
                     doc_id_mode: str) -> dict | None:
    """The stats.json of a build that already finished at ``root``, or
    None. A resume must continue the same build: ValueError when that
    stats.json — or, before it lands, a committed segment's lineage row —
    records another input_snapshot or doc_id_mode (resuming over other
    input or other ids would mix stale and fresh segments)."""
    stats = (read_stats(root)
             if os.path.exists(os.path.join(root, "stats.json")) else None)
    for rec in [stats] if stats else _lineage_rows(root):
        if rec.get("input_snapshot") != input_snapshot:
            raise ValueError(
                f"index at {root} was built from input_snapshot="
                f"{rec.get('input_snapshot')!r}, not {input_snapshot!r}; "
                "use update_index for incremental changes or a fresh root"
            )
        if rec.get("doc_id_mode", doc_id_mode) != doc_id_mode:
            raise ValueError(
                f"index at {root} was built with doc_id_mode="
                f"{rec['doc_id_mode']!r}, not {doc_id_mode!r}"
            )
    return stats


def build_index_resumable(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    n_shards: int = 16,
    run_id: str = "run1",
    input_snapshot: str = "snap1",
    fail_after_segment: int | None = None,
    doc_id_mode: str = "hash",
    write_docs: bool = True,
) -> PhysicalIndex:
    """Segmented, resumable physical index build (the module docstring's
    Build shape).

    ``fail_after_segment`` injects a crash right after the commit of the
    segment at that (0-based) position among those left to do (tests only:
    some segments lineage-committed, the rest encoded but not swapped in). Re-invoking with the same root resumes:
    finished segments (lineage status=ok for the same input_snapshot) are
    skipped, and only the others' pages are extracted again; a root built
    from another input_snapshot or doc_id_mode is refused (ValueError).
    ``write_docs=False`` skips the docs table (a serving-only index; it
    cannot take updates).
    """
    os.makedirs(root, exist_ok=True)
    stats = _resumable_stats(root, input_snapshot, doc_id_mode)
    done = _finished_segments(root, input_snapshot)
    todo = [s for s in range(n_shards) if s not in done]
    if todo:
        started = datetime.now(timezone.utc).isoformat()
        with _described(spark, "build: encode"):
            counters = _build(spark, pages, root, todo, n_shards,
                              doc_id_mode, write_docs)
        tables = ["postings", "doclen"] + (["docs"] if write_docs else [])
        for pos, seg in enumerate(todo):
            _commit_segment(root, seg, tables, counters[seg], run_id,
                            input_snapshot, started, doc_id_mode)
            if fail_after_segment is not None and pos >= fail_after_segment:
                raise RuntimeError(f"injected failure after segment {seg}")
        shutil.rmtree(os.path.join(root, _ENCODE_TMP), ignore_errors=True)
    # every segment is committed: the dictionary derives from their
    # postings (also on a resume with nothing left to encode)
    with _described(spark, "build: dictionary"):
        _derive_dictionary(spark, root, os.path.join(root, "terms"))
    if stats is None or todo:
        # the build's commit point, written last (a finished build's
        # stats.json, which updates may have moved on since, stays): the
        # run-level error counter (ImportReport.cs:92-209 'errors') counts
        # the quarantine
        stats = index_stats(
            _committed_shard_stats(root, n_shards), n_shards, doc_id_mode,
            run_id=run_id, input_snapshot=input_snapshot,
            n_errors=_count_error_urls(root),
        )
        write_stats(root, stats)
    return PhysicalIndex(root=root, stats=stats)


# ---- incremental import (ExistState semantics) ----

def _rebuild_shards(spark, root: str, affected, run_id: str,
                    input_snapshot: str, want: dict) -> dict:
    """Re-encode postings + doclen for the given shards from the CURRENT
    docs table and return their (n_docs, total_tokens) subtotals (an
    emptied shard is absent). Idempotent (deterministic encode), so safe
    to re-run during crash recovery.

    One fold job (_fold: one task per shard, each reading its own docs
    and writing its postings, doclen part and counters, checked against
    ``want``); the per-shard commits happen afterwards.
    Only compaction calls this: a kill mid-swap is covered by
    compact_deltas' marker (recover_update re-runs the whole rebuild)."""
    affected = sorted(int(s) for s in affected)
    started = datetime.now(timezone.utc).isoformat()
    counters = _fold(spark, root, affected, want)
    for seg in affected:
        # an emptied shard keeps empty postings/doclen dirs
        _commit_segment(root, seg, ["postings", "doclen"], counters[seg],
                        run_id, input_snapshot, started, incremental=1)
    shutil.rmtree(os.path.join(root, _ENCODE_TMP), ignore_errors=True)
    # the freshly encoded base now carries these shards' full live state —
    # their delta-segment data (every delta table across ALL
    # generations) is folded and must go, or queries would double-count.
    # Still inside the caller's marker window: a crash here re-runs the
    # whole (idempotent) rebuild + purge.
    _deltas.purge_shards(root, affected)
    return {s: (m["n_docs"], m["total_tokens"])
            for s, m in counters.items() if m["n_docs"]}


def _refresh_stats_terms(root: str, mk: dict) -> dict:
    """Publish a mutation: stats.json from its marker ``mk`` and the gen
    dirs on disk — no Spark job, no dictionary write (readers add the live
    delta_termdf to the base terms/). ``mk["shard_stats"]``: the affected
    shards' new subtotals (an emptied shard drops out, as in a fresh
    build); ``mk["n_errors"]``, if present, the new error counter. A delta
    marker's gen joins ``delta_gens``; gens compaction emptied drop out.
    Re-running it (recovery) writes the same file; the atomic replace IS
    the reader-visible commit."""
    stats = read_stats(root)
    gens = {int(g) for g in stats.get("delta_gens", [])}
    if mk.get("mode") == "delta":
        gens.add(int(mk["gen"]))
        stats["last_gen"] = max(int(stats.get("last_gen", 0)), int(mk["gen"]))
    gens &= _deltas.live_gens_on_disk(root)
    stats["delta_gens"] = sorted(gens)
    affected = {int(s) for s in mk["affected"]}
    shard_stats = {
        int(k): tuple(v) for k, v in stats["shard_stats"].items()
        if int(k) not in affected
    }
    shard_stats.update((int(k), tuple(v)) for k, v in mk["shard_stats"].items())
    stats.update(
        totals_fields(shard_stats),
        run_id=mk["run_id"],
        input_snapshot=mk["input_snapshot"],
        n_errors=mk.get("n_errors", stats.get("n_errors")),
    )
    write_stats(root, stats)
    return stats


def _fold_shards(spark, root: str, mk: dict) -> dict:
    """Compaction under its marker ``mk`` (also its crash recovery):
    re-encode the shards, re-derive the base dictionary, publish."""
    with _described(spark, "compact_deltas: stage"):
        totals = _rebuild_shards(spark, root, mk["affected"], mk["run_id"],
                                 mk["input_snapshot"], mk["shard_stats"])
    terms_tmp = os.path.join(root, "terms.tmp")
    shutil.rmtree(terms_tmp, ignore_errors=True)
    with _described(spark, "compact_deltas: publish"):
        _derive_dictionary(spark, root, terms_tmp)
    terms_path = os.path.join(root, "terms")
    shutil.rmtree(terms_path, ignore_errors=True)
    os.rename(terms_tmp, terms_path)
    return _refresh_stats_terms(root, dict(mk, shard_stats=totals))


def _write_docs_tmp_cow(docs_path: str, affected) -> None:
    """Complete the post-merge docs table staged at ``docs_path + '.tmp'``,
    copying nothing that did not change. The staging kernel already wrote
    the ``affected`` shards' merged parts there; every OTHER shard
    directory is hard-linked from the live table by the publish path's
    copy-on-write primitive (_copy_index_tree; file copies where links are
    refused) — no Spark job, O(#files) link syscalls. The caller's
    whole-dir marker+rename swap — and recover_update — apply on top: a
    crash mid-staging leaves docs.tmp garbage that recovery sweeps, never
    a half-merged live table."""
    docs_tmp = docs_path + ".tmp"
    aff = {int(a) for a in affected}
    for e in os.listdir(docs_path):
        if e.startswith("shard=") and int(e.split("=", 1)[1]) not in aff:
            _copy_index_tree(
                os.path.join(docs_path, e), os.path.join(docs_tmp, e)
            )


@contextmanager
def _described(spark, desc: str):
    """Describe the calling thread's (thread-local) Spark jobs ``desc``."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(prev)


def recover_update(spark: SparkSession, root: str) -> bool:
    """Crash recovery for an interrupted update_index / delete_from_index /
    compact_deltas. Returns True if a recovery was performed.

    - docs dir missing: roll the docs swap forward (docs.tmp present) or back
      (docs.old present).
    - delta-mode marker (update or delete): the generation was FULLY staged
      and its stats computed before the marker was written, so recovery
      always rolls forward with no Spark job — finish the docs swap if the
      crash interrupted it, rename the staged generation into place
      (idempotent), and write the stats.json the marker carries, which
      atomically commits the generation to ``delta_gens``.
    - marker without ``mode``: only compaction writes one. Re-run the fold
      (_fold_shards: re-encode, base dictionary, stats) against the CURRENT
      docs table; the re-encode is deterministic, so a repeat writes
      identical bytes. The fold must reproduce the marker's
      ``shard_stats``; a marker without them (no writer leaves one) is
      refused with RuntimeError before anything is re-encoded.
    - no marker: any staging/tmp leftovers are pre-commit garbage — swept.
    Another format_version is refused (read_stats) before anything moves.
    """
    read_stats(root)
    docs_path = os.path.join(root, "docs")
    docs_tmp = docs_path + ".tmp"
    docs_old = docs_path + ".old"
    marker = _update_marker(root)
    recovered = False
    if not os.path.exists(docs_path):
        if os.path.exists(docs_tmp):
            os.rename(docs_tmp, docs_path)  # roll forward to merged docs
        elif os.path.exists(docs_old):
            os.rename(docs_old, docs_path)  # roll back to previous docs
        else:
            raise FileNotFoundError(f"index at {root} has no docs table")
        recovered = True
    if os.path.exists(marker):
        with open(marker) as f:
            mk = json.load(f)
        if mk.get("mode") == "delta":
            if os.path.exists(docs_tmp):
                # crash between marker and swap: complete the swap (the
                # staged merge is the full post-update docs state)
                shutil.rmtree(docs_old, ignore_errors=True)
                os.rename(docs_path, docs_old)
                os.rename(docs_tmp, docs_path)
            _deltas.commit_staged_gen(root, int(mk["gen"]))
            _refresh_stats_terms(root, mk)
        elif "shard_stats" not in mk:
            raise RuntimeError(
                f"compaction marker {marker} has no shard_stats: nothing "
                "to check a re-fold against; rebuild the index")
        else:
            _fold_shards(spark, root, mk)
        os.remove(marker)
        recovered = True
    shutil.rmtree(docs_old, ignore_errors=True)
    shutil.rmtree(docs_tmp, ignore_errors=True)
    _deltas.discard_staging(root)
    return recovered


def _write_marker(root: str, payload: dict) -> None:
    """Atomically write the update marker that recover_update reads."""
    marker = _update_marker(root)
    with open(marker + ".tmp", "w") as f:
        json.dump(payload, f)
    os.replace(marker + ".tmp", marker)


def _swap_docs_under_marker(root: str, marker_payload: dict) -> None:
    """marker (atomic) → docs→docs.old → docs.tmp→docs; every crash window
    is covered by recover_update."""
    _write_marker(root, marker_payload)
    docs_path = os.path.join(root, "docs")
    docs_old = docs_path + ".old"
    shutil.rmtree(docs_old, ignore_errors=True)
    os.rename(docs_path, docs_old)
    os.rename(docs_path + ".tmp", docs_path)


# patchable seam (tests inject post-swap crashes here); recovery calls
# deltas.commit_staged_gen directly
_commit_delta_gen = _deltas.commit_staged_gen


def _maybe_autocompact(spark, root: str, affected, compact_after,
                       run_id: str, input_snapshot: str,
                       stats: dict) -> PhysicalIndex:
    """Fold shards that accumulated >= compact_after delta generations back
    into their base segments (the LSM compaction trigger)."""
    if compact_after:
        sg = _deltas.shard_gen_map(root)
        crowded = [s for s in affected if len(sg.get(int(s), ())) >= compact_after]
        if crowded:
            return compact_deltas(spark, root, crowded,
                                  run_id=f"{run_id}-compact",
                                  input_snapshot=input_snapshot)
    return PhysicalIndex(root=root, stats=stats)


def _commit_delta_mutation(spark, root: str, stats: dict, op: str,
                           staged: tuple, run_id: str, input_snapshot: str,
                           compact_after) -> PhysicalIndex:
    """The one commit sequence of update_index and delete_from_index
    (``op``: the caller, for job descriptions), after their staging job:
    ``staged`` is its (changed shards, quarantined pages) report.

    A quarantine — already recorded in errors/ by the staging kernel — is
    recounted with pyarrow (_count_error_urls; no Spark job). With no
    changed shard the staging leftovers are swept and nothing is committed
    (an update whose every kept page quarantined still refreshes the error
    counter). Otherwise, before the marker and with no Spark job, the
    unchanged docs shards are hard-linked into docs.tmp and each changed
    shard's new subtotals are taken from its staged counters (a shard
    whose kernel output the driver cannot find raises, leaving swept
    garbage). The publish runs no Spark job either: marker (carrying
    ``shard_stats`` + Δ) + docs swap, gen rename, stats.json from the
    marker, marker dropped; then auto-compaction."""
    affected, n_bad = staged
    n_errors = {"n_errors": _count_error_urls(root)} if n_bad else {}
    docs_path = os.path.join(root, "docs")
    if not affected:
        _deltas.discard_staging(root)
        shutil.rmtree(docs_path + ".tmp", ignore_errors=True)
        if n_errors and n_errors["n_errors"] != stats.get("n_errors"):
            # a truthful counter, attributed to this run
            stats.update(n_errors, run_id=run_id,
                         input_snapshot=input_snapshot)
            write_stats(root, stats)
        return PhysicalIndex(root=root, stats=stats)

    n_shards = int(stats["n_shards"])
    gen = _deltas.next_gen(stats)
    _write_docs_tmp_cow(docs_path, affected)
    shard_stats = {}
    for s, (dn, dt) in _deltas.staged_shard_deltas(root, affected).items():
        n, t = stats["shard_stats"].get(str(s), (0, 0))
        if n + dn:  # an emptied shard drops out, as in a fresh build
            shard_stats[str(s)] = [n + dn, t + dt]
    mk = {
        "affected": affected, "n_shards": n_shards, "run_id": run_id,
        "input_snapshot": input_snapshot, "mode": "delta", "gen": gen,
        "shard_stats": shard_stats, **n_errors,
    }
    with _described(spark, f"{op}: publish"):
        _swap_docs_under_marker(root, mk)
        _commit_delta_gen(root, gen)
        stats = _refresh_stats_terms(root, mk)
        os.remove(_update_marker(root))
    shutil.rmtree(docs_path + ".old", ignore_errors=True)
    return _maybe_autocompact(spark, root, affected, compact_after,
                              run_id, input_snapshot, stats)


def update_index(
    spark: SparkSession,
    root: str,
    new_pages: DataFrame,
    run_id: str = "run2",
    input_snapshot: str = "snap2",
    strategy: str = "delta",
    compact_after: int | None = 8,
) -> PhysicalIndex:
    """Incremental index update: re-index only what changed.

    1. ONE staging job (deltas.stage_update_delta): its map stage, which
       runs no Python, sends each raw incoming page to the kernel task of
       the shard its (mode-recorded) id maps to. Each task reads its own
       shard's live docs, runs the existence probe (ExistState —
       NotExist/ExistOlder kept, ExistSame/ExistNewer dropped), extracts
       only the kept pages through the one extract kernel
       (build.extract_batch; a page whose extraction fails is
       quarantined), and the one encode kernel writes the delta
       generation (deltas.py: postings in the base's codec, doclen rows,
       signed term-df, the shard's subtotal change), the merged docs part
       and the quarantined pages' errors/ part, and returns one report
       row. Unchanged docs are never re-tokenized or re-encoded, and a
       shard without an incoming page is never read;
    2. commit under the marker protocol (_commit_delta_mutation) with no
       Spark job: unchanged docs shards hard-linked, the error counter
       recounted with pyarrow, stats.json (shard_stats + the staged
       changes) written from the marker; ``terms/`` stays the base
       dictionary (readers add delta_termdf);
    3. auto-compact shards holding ``compact_after`` or more generations.
    Its two Spark jobs (map stage, kernel) are described
    ``update_index: stage``.

    The result is rank-identical to a full rebuild over the merged corpus.
    Re-encoding the affected shards' base segments — what an update used
    to do in place — is ``update_index`` followed by
    ``compact_deltas(affected)``, which yields the same base tables. A kill
    at ANY point leaves the index recoverable via recover_update (invoked
    automatically on the next call).

    ``strategy`` accepts only ``"delta"``.
    """
    if strategy != "delta":
        raise ValueError(
            f"unknown update strategy: {strategy!r}; updates always write a "
            "delta generation — use compact_deltas to fold shards into "
            "their base segments"
        )
    recover_update(spark, root)

    stats = read_stats(root)
    # ids derive the way THIS index was built (hash ids over a
    # host_locality index would re-index a url under a second id)
    pages = new_pages.withColumn(
        "doc_id", doc_id_expr(stats.get("doc_id_mode", "hash")))
    with _described(spark, "update_index: stage"):
        staged = _deltas.stage_update_delta(spark, root, pages,
                                            int(stats["n_shards"]))
    return _commit_delta_mutation(
        spark, root, stats, "update_index", staged, run_id, input_snapshot,
        compact_after,
    )


def delete_from_index(
    spark: SparkSession,
    root: str,
    urls: DataFrame,
    run_id: str = "del1",
    input_snapshot: str = "del1",
    compact_after: int | None = 8,
) -> PhysicalIndex:
    """Per-record delete on the physical index (the reference's delete action
    reaching the store — ESIndexDocType.cs delete path): drop every doc whose
    url appears in ``urls``. One tombstone generation — doclen rows with
    doc_len = -1 mask the doomed docs out of every older segment, and
    signed term-df adjustments keep df/idf exact — O(delete bytes), no
    re-encode. The update's staging job stages it (stage_delete_delta):
    the doomed urls ride its one side in place of pages, each sent to the
    kernel task of the shard its (mode-recorded) id maps to, which finds
    the doomed docs among its shard's live docs and writes the survivors'
    docs part. It commits (and describes its Spark jobs) like update_index
    (_commit_delta_mutation); results equal a full rebuild over the
    survivors (including df/idf shifts), and ``delete_from_index``
    followed by ``compact_deltas(affected)`` re-encodes those shards' base
    segments without the doomed docs.

    ``urls`` must not lazily depend on this index's own docs table (the
    delete replaces those files; a caller-side plan re-evaluated afterwards
    would read gone paths) — pass a materialized or independent frame."""
    recover_update(spark, root)

    stats = read_stats(root)
    with _described(spark, "delete_from_index: stage"):
        staged = _deltas.stage_delete_delta(
            spark, root, urls.select("url"), int(stats["n_shards"]),
            stats.get("doc_id_mode", "hash"))
    return _commit_delta_mutation(
        spark, root, stats, "delete_from_index", staged, run_id,
        input_snapshot, compact_after,
    )


def compact_deltas(
    spark: SparkSession,
    root: str,
    shards=None,
    run_id: str = "compact",
    input_snapshot: str | None = None,
) -> PhysicalIndex:
    """Fold delta generations into the base segments — the reference's
    delegated optimize-to-N-segments (ESIndexDefinitions.cs:452-458) over
    this layout; besides the build, the only writer of base segments and
    of ``terms/``. For each given shard (default: every shard holding
    delta data) the base is re-encoded from the merged docs table and the
    shard's delta data purged in one marker-protected window
    (_fold_shards); generations left without data drop out of
    ``delta_gens``. Deterministic and idempotent: recover_update repairs a
    kill by re-running the fold, bit-identical to a fresh full build."""
    recover_update(spark, root)
    stats = read_stats(root)
    n_shards = int(stats["n_shards"])
    sg = _deltas.shard_gen_map(root)
    todo = sorted(sg) if shards is None else sorted(
        int(s) for s in shards if int(s) in sg
    )
    if not todo:
        return PhysicalIndex(root=root, stats=stats)
    if input_snapshot is None:
        input_snapshot = stats.get("input_snapshot", "compact")

    # marker without a mode: recovery re-runs the fold against current
    # docs, which must reproduce the folded shards' subtotals
    ss = stats["shard_stats"]
    mk = {"affected": todo, "n_shards": n_shards, "run_id": run_id,
          "input_snapshot": input_snapshot,
          "shard_stats": {str(s): ss[str(s)] for s in todo if str(s) in ss}}
    _write_marker(root, mk)
    stats = _fold_shards(spark, root, mk)
    os.remove(_update_marker(root))
    return PhysicalIndex(root=root, stats=stats)


# ---- published (snapshot-isolated) index lifecycle ----
#
# update_index above mutates an index root in place: crash-safe (marker
# protocol + recover_update) but a CONCURRENT reader mid-update can observe a
# mixed state (new docs + not-yet-committed delta). The published lifecycle
# below gives Iceberg-style snapshot isolation on top of it: every update
# builds a NEW generation directory that hard-links the unchanged files of
# the current one (no data copy; a changed shard is rewritten as fresh
# inodes, never mutating the old generation), then atomically flips the
# CURRENT pointer (sinks/writers.py publish_generation — the reference's
# alias-flip, ESIndexDefinitions.cs:375-541). A reader that resolved CURRENT
# before the flip keeps a complete, immutable index; one that resolves after
# sees the complete new one — never a mix. On object storage (no hard links)
# the same layout is expressed with manifest files instead — this mirrors the
# Iceberg snapshot-commit shape, which is not installable in this sandbox.


def _copy_index_tree(src: str, dst: str) -> None:
    """Recreate src's directory tree at dst with hard links to its files
    (falls back to copy when the filesystem refuses links)."""

    def _link_or_copy(s: str, d: str) -> None:
        try:
            os.link(s, d)
        except OSError:
            shutil.copy2(s, d)

    shutil.copytree(src, dst, copy_function=_link_or_copy)


def _new_gen_path(store_root: str) -> str:
    stamp = datetime.now(timezone.utc).strftime("%Y%m%d_%H%M%S_%f")
    return os.path.join(store_root, f"gen={stamp}")


def _gc_generations(store_root: str, keep_generations: int,
                    protected: set) -> None:
    """Remove old generation dirs after a publish. NEVER removes the
    ``protected`` ones — the generation just published and the one readers
    may still hold (the pre-flip CURRENT): a hard-killed update can leave
    an orphaned gen dir on disk, and counting it toward keep_generations
    could otherwise evict the live predecessor. Beyond those, keep the
    newest (keep_generations - len(protected)) others; the single-writer
    contract makes everything else (older published gens, crash orphans)
    disposable. keep_generations <= 0 disables GC."""
    if keep_generations <= 0:
        return
    gens = sorted(
        os.path.join(store_root, d)
        for d in os.listdir(store_root)
        if d.startswith("gen=") and os.path.isdir(os.path.join(store_root, d))
    )
    others = [g for g in gens if g not in protected]
    spare = max(0, keep_generations - len(protected))
    for g in others[: len(others) - spare if spare else None]:
        shutil.rmtree(g, ignore_errors=True)


def init_published_index(
    spark: SparkSession,
    pages: DataFrame,
    store_root: str,
    n_shards: int = 16,
    run_id: str = "run1",
    input_snapshot: str = "snap1",
    doc_id_mode: str = "hash",
) -> PhysicalIndex:
    """First generation: full build into gen=<stamp>/ then publish."""
    from ..sinks.writers import publish_generation

    os.makedirs(store_root, exist_ok=True)
    gen = _new_gen_path(store_root)
    pidx = build_index_resumable(
        spark, pages, gen, n_shards=n_shards, run_id=run_id,
        input_snapshot=input_snapshot, doc_id_mode=doc_id_mode,
    )
    publish_generation(store_root, gen)
    return pidx


def _current_or_raise(store_root: str) -> str:
    from ..sinks.writers import current_generation

    cur = current_generation(store_root)
    if cur is None:
        raise FileNotFoundError(f"no published generation under {store_root}")
    return cur


def open_current_index(store_root: str) -> PhysicalIndex:
    from .store import open_index

    return open_index(_current_or_raise(store_root))


def _publish_cow(store_root: str, mutate, keep_generations: int,
                 skip=None) -> PhysicalIndex:
    """Run ``mutate(gen_root)`` — an in-place index operation — on a COW
    copy of the CURRENT generation, then flip CURRENT to it. A crash at ANY
    point leaves CURRENT untouched (the old generation stays complete and
    immutable; the abandoned copy is removed). Old generations beyond
    ``keep_generations`` are removed after a successful publish (never the
    one just published nor its predecessor). ``skip(cur)`` true → nothing
    to do: the current generation is returned unchanged."""
    from ..sinks.writers import publish_generation
    from .store import open_index

    cur = _current_or_raise(store_root)
    if skip is not None and skip(cur):
        return open_index(cur)
    new_gen = _new_gen_path(store_root)
    _copy_index_tree(cur, new_gen)
    try:
        pidx = mutate(new_gen)
    except BaseException:
        # abandoned generation: CURRENT never moved, readers unaffected
        shutil.rmtree(new_gen, ignore_errors=True)
        raise
    publish_generation(store_root, new_gen)
    _gc_generations(store_root, keep_generations, {new_gen, cur})
    return pidx


def update_index_published(
    spark: SparkSession,
    store_root: str,
    new_pages: DataFrame,
    run_id: str = "run2",
    input_snapshot: str = "snap2",
    keep_generations: int = 2,
) -> PhysicalIndex:
    """Snapshot-isolated incremental update: update_index inside a
    copy-on-write generation + atomic CURRENT flip (_publish_cow)."""
    return _publish_cow(
        store_root,
        lambda gen: update_index(spark, gen, new_pages, run_id=run_id,
                                 input_snapshot=input_snapshot),
        keep_generations,
    )


def compact_index_published(
    spark: SparkSession,
    store_root: str,
    shards=None,
    run_id: str = "compact",
    keep_generations: int = 2,
) -> PhysicalIndex:
    """Snapshot-isolated compaction: fold delta generations inside a NEW
    COW generation directory and atomically flip CURRENT — readers of the
    published generation never observe the fold in progress (compact_deltas
    mutates a root in place, which is only safe under the single-writer /
    no-concurrent-reader contract). A generation without deltas is
    returned as is."""
    return _publish_cow(
        store_root,
        lambda gen: compact_deltas(spark, gen, shards=shards, run_id=run_id),
        keep_generations,
        skip=lambda cur: not _deltas.shard_gen_map(cur),
    )


def classify_snapshot(
    new_pages: DataFrame, existing_docs: DataFrame
) -> DataFrame:
    """Adds ``exist_state`` per incoming url:
    NotExist / ExistOlder / ExistSame / ExistNewer — the reference's
    existence probe (ESIndexDocType.cs:73-118) as one batch left join instead
    of a per-record network round-trip. The update path runs the same rule
    per shard inside its staging kernel (store._probe); this join is its
    test oracle."""
    ex = existing_docs.select(
        F.col("url").alias("url"), F.col("warc_ts").alias("old_ts")
    )
    joined = new_pages.join(ex, "url", "left")
    state = (
        F.when(F.col("old_ts").isNull(), "NotExist")
        .when(F.col("old_ts") < F.col("warc_ts"), "ExistOlder")
        .when(F.col("old_ts") == F.col("warc_ts"), "ExistSame")
        .otherwise("ExistNewer")
    )
    return joined.withColumn("exist_state", state).drop("old_ts")
