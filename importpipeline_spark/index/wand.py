"""Block-max WAND top-k over the compressed posting store.

Query lifecycle (rebuild of the reference's delegated ES search path —
Endpoints/ESIndexDocType.cs:193-202; analysis chain index.config.js:66-76):

  query string → analyzer v1 (same UDF path as indexing) → dictionary lookup
  (base terms parquet + live delta_termdf overlay, predicate-pushed;
  store.read_dictionary) → posting scan pruned to query terms
  (partitioned by doc-range shard; term predicate pushed to row groups) →
  per-shard block-max pruned scoring inside applyInPandas (numpy) → global
  top-k merge: orderBy(score DESC, doc_id ASC).limit(k) over ≤ k·shards rows.

Pruning — *interval-sweep block-max* (exact, fully vectorized):
block boundaries of the query terms cut the shard's doc-id space into
elementary intervals; each interval's upper bound is the sum of the covering
blocks' bounds (the classic block-max WAND bound, Ding & Suel 2011, computed
with a difference array instead of per-doc pivoting so the hot path stays in
numpy). Block bounds come from stats-independent metadata (max_tf, min_dl):
BM25 is monotone ↑tf/↓dl, so score(max_tf, min_dl) bounds every member under
the current global stats. Intervals are processed in descending-bound order
in geometrically growing CHUNKS (coalesced into contiguous doc ranges, one
vectorized accumulation per chunk — an interval-at-a-time loop measured 2-6×
slower than exhaustive scoring on flat-bound corpora); the running top-k
threshold θ is re-derived between chunks and everything bounding below it is
skipped, including whole unscored blocks (bounds carry a 1+1e-12 margin
against float summation-order effects).

Decoding is one vectorized pass when a shard's index is built
(_ShardIndex): every candidate block's varints, doc keys, delta-generation
masking, doc ordinals and BM25 contributions at once, into a flat posting
store where a block — or a whole term's run of blocks — is one slice. A
posting's doc ordinal is its doc's index in the shard's sorted doclen keys
(the lookup that fetches its doc length anyway).

Accumulation is by dense doc ordinal: per-doc scores are summed in a
float64 buffer with one slot per doc — direct addressing, with no sort,
hash or np.unique. Parts are added one at a time in ascending term order,
so each doc's sum is strictly sequential in that order — bit-identical to
the exhaustive oracle — and only the touched slots are read back and
re-zeroed. Top-k is a partition at the k-th score plus a lexsort of the
entries at or above it; ordinal order is doc_id order, so ties break
(score DESC, doc_id ASC).

The batch path scores a whole query *set* in one index pass: per shard, all
queries share one decoded store, so each block is decoded once for all of
them.
"""

from __future__ import annotations

import math
from functools import cached_property
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .build import K1, B
# perfbench's traced serve run counts calls of wand.varint_decode as
# per-block decodes; none remain, as this module decodes via decode_blocks
from .codec import decode_blocks, from_u64, to_u64, varint_decode  # noqa: F401
from .search import analyze_query
from .store import PhysicalIndex, read_dictionary

_UB_MARGIN = 1.0 + 1e-12

CAND_SCHEMA = "doc_id long, score double"
BATCH_CAND_SCHEMA = "query_id int, doc_id long, score double"


def resolve_doclen(dl_pdf: pd.DataFrame):
    """Resolve doclen rows (possibly spanning base + delta generations) to
    the LIVE per-doc state: returns (dl_u sorted, dl_v, tomb_u, tomb_g).

    Ownership rule (deltas.py): a doc's owner generation is the highest
    seg_gen holding a doclen row for it; doc_len = -1 at the owner means
    deleted. ``tomb_u/tomb_g`` list docs owned by a generation > 0 — a
    posting entry for such a doc in any OLDER segment is shadowed and must
    be masked (its live version, if any, lives in the owner generation's
    blocks). Base-only input (no seg_gen column, or all zero) returns
    tomb_u = None and the plain sorted lookup arrays — zero overhead on the
    no-delta path."""
    dl_key = "dl_doc_id" if "dl_doc_id" in dl_pdf.columns else "doc_id"
    dl_u = to_u64(dl_pdf[dl_key].to_numpy(dtype=np.int64))
    if "seg_gen" in dl_pdf.columns:
        g = dl_pdf["seg_gen"].to_numpy(dtype=np.int64)
        if g.max(initial=0) > 0:
            v = dl_pdf["doc_len"].to_numpy(dtype=np.int64)
            order = np.lexsort((g, dl_u))
            u_s, g_s, v_s = dl_u[order], g[order], v[order]
            last = np.nonzero(
                np.concatenate((u_s[1:] != u_s[:-1], [True]))
            )[0]
            owner_u, owner_g, owner_v = u_s[last], g_s[last], v_s[last]
            live = owner_v >= 0
            shadowing = owner_g > 0
            return (
                owner_u[live],
                owner_v[live].astype(np.float64),
                owner_u[shadowing],
                owner_g[shadowing],
            )
    dl_order = np.argsort(dl_u)
    return (
        dl_u[dl_order],
        dl_pdf["doc_len"].to_numpy(dtype=np.float64)[dl_order],
        None,
        None,
    )


def _lucene_idf(df: int, n: int) -> float:
    return math.log(1.0 + (n - df + 0.5) / (df + 0.5))


class _ShardIndex:
    """One shard's candidate blocks, decoded once into a flat posting store:
    per posting its doc ordinal (index into the sorted doclen keys) and its
    BM25 contribution, block ``bi`` at ``starts[bi]:ends[bi]`` and term
    code ``c`` at ``t_post[c]:t_post[c+1]``; plus the block metadata the
    sweep prunes on and a dense score buffer."""

    def __init__(self, post_pdf: pd.DataFrame, dl_pdf: pd.DataFrame,
                 tcode_map: Dict[str, int], idf_arr: np.ndarray,
                 avgdl: float, k1: float, b: float):
        dl_u, dl_v, tomb_u, tomb_g = resolve_doclen(dl_pdf)
        tcodes = post_pdf["term"].map(tcode_map).to_numpy(dtype=np.int64)
        order = np.argsort(tcodes, kind="stable")  # _init's term-code order
        post_pdf = post_pdf.iloc[order]
        gens = None
        if "seg_gen" in post_pdf.columns:
            gens = post_pdf["seg_gen"].to_numpy(dtype=np.int64)
        self._init(
            min_u=post_pdf["min_doc"].to_numpy(dtype=np.int64).view(np.uint64),
            max_u=post_pdf["max_doc"].to_numpy(dtype=np.int64).view(np.uint64),
            ns=post_pdf["n"].to_numpy(dtype=np.int64),
            tcodes=tcodes[order],
            docs_enc=pa.array(post_pdf["docs_enc"], type=pa.binary()),
            tfs_enc=pa.array(post_pdf["tfs_enc"], type=pa.binary()),
            max_tf=post_pdf["max_tf"].to_numpy(dtype=np.float64),
            min_dl=post_pdf["min_dl"].to_numpy(dtype=np.float64),
            dl_u=dl_u, dl_v=dl_v,
            idf_arr=idf_arr, avgdl=avgdl, k1=k1, b=b,
            gens=gens, tomb_u=tomb_u, tomb_g=tomb_g,
        )

    @classmethod
    def from_arrays(cls, **kw) -> "_ShardIndex":
        """Construct straight from preloaded arrays and Arrow columns (the
        serving path — no pandas)."""
        self = cls.__new__(cls)
        self._init(**kw)
        return self

    def _init(self, *, min_u, max_u, ns, tcodes, docs_enc, tfs_enc,
              max_tf, min_dl, dl_u, dl_v, idf_arr, avgdl, k1, b,
              gens=None, tomb_u=None, tomb_g=None):
        """The one decode pass, over every block: varint → doc keys →
        owner-generation masking → doc ordinal → BM25 contribution.

        Blocks must come sorted ascending by term code (``tcodes``, codes
        indexing ``idf_arr``), so term c's blocks are rows
        ``t_blk[c]:t_blk[c+1]``, its postings the store slice
        ``t_post[c]:t_post[c+1]`` and its stored posting count
        ``t_n[c+1] - t_n[c]``. Contributions are elementwise — the same
        float operations in the same order for every posting — so no value
        depends on which other blocks share the pass, and the serving,
        distributed and batch paths score bit-identically."""
        doc_u, tf, off = decode_blocks(docs_enc, tfs_enc, ns, min_u)
        self.t_blk = np.searchsorted(tcodes, np.arange(len(idf_arr) + 1))
        self.t_n = off[self.t_blk]
        if tomb_u is not None and len(tomb_u):
            # delta-segment masking: drop postings of docs owned by a NEWER
            # generation than their block's (the live version — if any — is
            # scored from the owner generation's block; a deleted doc has no
            # live block at all). gens None: every block is base (gen 0).
            # Masking precedes the doclen lookup: shadowed docs are absent
            # from dl_u.
            g = 0 if gens is None else np.repeat(gens, ns)
            pos = np.minimum(np.searchsorted(tomb_u, doc_u), len(tomb_u) - 1)
            keep = ~((tomb_u[pos] == doc_u) & (tomb_g[pos] > g))
            if not keep.all():
                doc_u, tf = doc_u[keep], tf[keep]
                off = np.concatenate(([0], np.cumsum(keep)))[off]
        self.starts, self.ends = off[:-1], off[1:]
        self.t_post = off[self.t_blk]
        self.ords = np.searchsorted(dl_u, doc_u)
        del doc_u
        tf = tf.astype(np.float64)
        # idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), evaluated in that
        # association (+ and × operands swapped only, which IEEE keeps
        # exact) and in place, so the pass holds few posting-sized arrays
        den = dl_v[self.ords]
        den *= b
        den /= avgdl
        den += 1.0 - b
        den *= k1
        den += tf
        tf *= np.repeat(idf_arr[tcodes], self.ends - self.starts)
        tf *= k1 + 1.0
        tf /= den
        self.contrib = tf
        self.dl_u = dl_u
        self.min_u = min_u
        self.max_u = max_u
        self.ns = ns
        self.tcodes = tcodes
        self.max_tf = max_tf
        self.min_dl = min_dl
        self.idf_arr = idf_arr
        self.avgdl = avgdl
        self.k1 = k1
        self.b = b
        # dense per-doc score buffer, one float64 slot per doc ordinal (index
        # into dl_u), all zero between accumulations (see _accumulate); every
        # query of a store shares it, so one store scores one query at a time
        self.acc = np.zeros(len(dl_u))
        # the last sweep's pruning accounting (set by _sweep)
        self.stats = None

    @cached_property
    def ub(self) -> np.ndarray:
        """Stats-independent per-block bound score(max_tf, min_dl); only
        the pruning sweep reads it, so it is computed on first use."""
        k1, b = self.k1, self.b
        return (
            self.idf_arr[self.tcodes]
            * self.max_tf
            * (k1 + 1.0)
            / (self.max_tf + k1 * (1.0 - b + b * self.min_dl / self.avgdl))
        ) * _UB_MARGIN

    def decode(self, bi: int) -> Tuple[np.ndarray, np.ndarray]:
        """Block ``bi`` → (doc ordinal, contrib): each live posting's index
        into dl_u (ascending, like the doc ids) and its BM25 contribution."""
        s, e = self.starts[bi], self.ends[bi]
        return self.ords[s:e], self.contrib[s:e]

    def decode_run(self, s: int, e: int):
        """(doc ordinal, contrib) of a whole term's postings ``s:e`` (its
        ``t_post`` bounds) — one slice of the store."""
        return self.ords[s:e], self.contrib[s:e]


def _accumulate(o_parts, c_parts, acc):
    """Shared bit-identical accumulation → (doc ordinals, scores), one entry
    per doc, unordered.

    Each part is a run of distinct doc ordinals; the parts come in ascending
    term order per doc. Part by part, contributions are added into the dense
    buffer ``acc`` (all zero on entry), so every doc's sum is strictly
    sequential in ascending term order — np.add.reduceat would be pairwise
    and drift a ulp from the oracle. The touched slots are then read back
    and re-zeroed: a doc read in an earlier part reads 0 in a later one, so
    each doc is reported once (every contribution is > 0, as idf > 0). No
    sort or np.unique is needed."""
    if len(o_parts) == 1:
        # single sorted run of unique docs (one term): per-doc sums are the
        # contributions themselves — skip the buffer (r8)
        return o_parts[0], c_parts[0]
    try:
        for o, c in zip(o_parts, c_parts):
            acc[o] += c
        ords, scores = [], []
        for o in o_parts:
            s = acc[o]
            hit = s != 0.0
            ords.append(o[hit])
            scores.append(s[hit])
            acc[o] = 0.0
    except BaseException:
        # never leave a dirty buffer behind for the next query
        for o in o_parts:
            acc[o] = 0.0
        raise
    return np.concatenate(ords), np.concatenate(scores)


def _topk(ords: np.ndarray, scores: np.ndarray, k: int):
    """≤ k entries ranked (score DESC, doc ordinal ASC) — ordinal order is
    doc_id order. A partition finds the k-th score; only the entries scoring
    at least that (the top k plus any ties at the cut) are lexsorted."""
    n = len(scores)
    if n > k:
        kth = np.partition(scores, n - k)[n - k]
        keep = scores >= kth
        ords, scores = ords[keep], scores[keep]
    top = np.lexsort((ords, -scores))[:k]
    return ords[top], scores[top]


def _score_all(si: _ShardIndex, codes, k: int):
    """Fully-vectorized exhaustive scoring of the terms ``codes`` (sorted,
    distinct) — faster than interval pruning when the candidate set is
    modest or bounds are flat (uniform head-term disjunctions).
    Bit-identical accumulation: one part per term — its whole posting run,
    one slice of the store — added in ascending term order (_accumulate)."""
    o_parts, c_parts = [], []
    for c in codes:
        o, contrib = si.decode_run(si.t_post[c], si.t_post[c + 1])
        o_parts.append(o)
        c_parts.append(contrib)
    ords, scores = _topk(*_accumulate(o_parts, c_parts, si.acc), k)
    return si.dl_u[ords], scores


# below this many candidate postings, exhaustive vectorized scoring beats
# the per-interval Python loop (interval pruning wins on long tails)
_EXHAUSTIVE_CUTOFF = 500_000

# chunked sweep: intervals are processed in descending-bound order in
# geometrically growing batches, re-computing the pruning threshold between
# chunks. An interval-at-a-time loop measured 2-6× slower than _score_all on
# the 600k-doc corpus (flat bounds, tiny numpy calls per interval dominate);
# chunking amortizes that into ~log₄(n) batched accumulations while keeping
# exact block-max pruning (everything bounding below the running θ after a
# chunk is skipped, and θ is already near-final after the first chunk of
# highest-bound intervals — the point of the descending order).
_CHUNK0 = 32
_CHUNK_GROWTH = 4
# after a chunk, if fewer than this fraction of the remaining intervals fall
# below the refreshed threshold, pruning isn't paying — finish everything
# above it in one batch instead of more chunks (flat-bound corpora converge
# to two passes ≈ _score_all cost)
_MIN_SKIP_FRAC = 0.3


def _sweep(si: _ShardIndex, codes, k: int, theta0: float = -np.inf):
    """Interval-sweep top-k over the blocks of the terms ``codes`` (one
    query's term codes, sorted and distinct). Returns (doc_u uint64[],
    score float64[]), ≤ k entries, ranked, and leaves the query's pruning
    accounting in ``si.stats``: its terms' blocks and stored postings
    (``*_total``) and those the kernel scored (``*_decoded``).

    ``theta0``: an externally-known lower bound on the global k-th score
    (e.g. from already-swept shards). Intervals bounded below theta0 can
    never contribute a global top-k doc, so they are skipped even before k
    local candidates exist — exactness is preserved because every skipped
    doc's score ≤ its interval bound < theta0 ≤ the global k-th score."""
    t_blk, t_n = si.t_blk, si.t_n
    blocks = postings = 0
    for c in codes:  # a query's 1-3 terms: Python ints beat array ops here
        blocks += int(t_blk[c + 1] - t_blk[c])
        postings += int(t_n[c + 1] - t_n[c])
    if postings <= _EXHAUSTIVE_CUTOFF:
        si.stats = {"blocks_total": blocks, "blocks_decoded": blocks,
                    "postings_total": postings, "postings_decoded": postings}
        return _score_all(si, codes, k)
    # the query's block rows, term-ascending (each term's run in block order)
    sel = np.concatenate([np.arange(t_blk[c], t_blk[c + 1]) for c in codes])
    min_u, max_u, ms = si.min_u[sel], si.max_u[sel], si.ub[sel]
    tc = si.tcodes[sel]
    points = np.unique(np.concatenate([min_u, max_u + np.uint64(1)]))
    i0 = np.searchsorted(points, min_u, side="left")
    i1 = np.searchsorted(points, max_u + np.uint64(1), side="left")
    n_iv = len(points) - 1
    diff = np.zeros(n_iv + 1, dtype=np.float64)
    np.add.at(diff, i0, ms)
    np.add.at(diff, i1, -ms)
    ub = np.cumsum(diff)[:n_iv]

    order_iv = np.argsort(-ub, kind="stable")
    sorted_bounds = ub[order_iv]  # descending
    # gap intervals (no covering block → bound 0) sort to the tail; only
    # positive-bound intervals are ever candidates
    n_pos_iv = int(np.count_nonzero(sorted_bounds > 0.0))
    top_ords = np.empty(0, dtype=np.intp)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    scored = np.zeros(len(sel), dtype=bool)
    pos = 0
    chunk = _CHUNK0
    while pos < n_pos_iv:
        thresh = max(theta, theta0) if len(top_scores) == k else theta0
        # intervals at positions >= pos bounding below thresh can never
        # contribute a top-k doc: every member doc's score ≤ its interval
        # bound < thresh ≤ the final k-th score (theta only rises) — skipped
        rem = sorted_bounds[pos:n_pos_iv]
        n_above = int(np.searchsorted(-rem, -thresh, side="right"))
        if n_above == 0:
            break
        if pos > 0 and n_above >= (1.0 - _MIN_SKIP_FRAC) * len(rem):
            take = n_above  # pruning isn't biting — one final batch
        else:
            take = min(chunk, n_above)
        # this chunk = the `take` highest-bound unprocessed intervals,
        # coalesced into maximal contiguous doc ranges so each block is
        # sliced per run instead of per elementary interval
        batch_iv = np.sort(order_iv[pos:pos + take])
        brk = np.nonzero(np.diff(batch_iv) > 1)[0]
        run_lo = points[batch_iv[np.concatenate(([0], brk + 1))]]
        run_hi = points[batch_iv[np.concatenate((brk, [len(batch_iv) - 1]))] + 1]
        # the same runs as doc-ordinal ranges: every decoded doc is in dl_u,
        # so doc ≥ lo ⟺ its ordinal ≥ searchsorted(dl_u, lo) (same for hi)
        ord_lo = np.searchsorted(si.dl_u, run_lo, side="left")
        ord_hi = np.searchsorted(si.dl_u, run_hi, side="left")
        # blocks visited in ascending term order; each doc lives in exactly
        # one interval (hence one run, in one chunk), so its contributions
        # accumulate term-ascending — the canonical order, bit-identical to
        # an interval-at-a-time sweep and to _score_all. A term's slices
        # are disjoint doc sets, so they join into one part per term.
        o_parts, c_parts = [], []
        part_t = None
        for x in range(len(sel)):
            # metadata reject: block entirely outside this chunk's runs —
            # this is where pruning skips a block's scoring, not just part
            # of it
            r0 = int(np.searchsorted(run_hi, min_u[x], side="right"))
            r1 = int(np.searchsorted(run_lo, max_u[x], side="right"))
            if r0 >= r1:
                continue
            o, contrib = si.decode(int(sel[x]))
            scored[x] = True
            if tc[x] != part_t:
                part_t = tc[x]
                o_parts.append([])
                c_parts.append([])
            for ri in range(r0, r1):
                s0 = np.searchsorted(o, ord_lo[ri], side="left")
                s1 = np.searchsorted(o, ord_hi[ri], side="left")
                if s0 < s1:
                    o_parts[-1].append(o[s0:s1])
                    c_parts[-1].append(contrib[s0:s1])
        o_parts = [np.concatenate(p) for p in o_parts if p]
        if o_parts:
            c_parts = [np.concatenate(p) for p in c_parts if p]
            ords, scores = _accumulate(o_parts, c_parts, si.acc)
            # merge into running top-k (tie-break: score DESC, doc ASC)
            top_ords, top_scores = _topk(
                np.concatenate([top_ords, ords]),
                np.concatenate([top_scores, scores]), k,
            )
            if len(top_scores) == k:
                theta = top_scores[-1]
        pos += take
        chunk *= _CHUNK_GROWTH
    si.stats = {"blocks_total": blocks,
                "blocks_decoded": int(np.count_nonzero(scored)),
                "postings_total": postings,
                "postings_decoded": int(si.ns[sel[scored]].sum())}
    return si.dl_u[top_ords], top_scores


def make_wand_kernel(
    idf_map: Dict[str, float], avgdl: float, k: int, k1: float = K1, b: float = B
):
    """Per-shard cogrouped kernel for one query: (postings, doclen) → ≤k rows."""
    terms_sorted = sorted(idf_map)
    tcode_map = {t: i for i, t in enumerate(terms_sorted)}
    idf_arr = np.array([idf_map[t] for t in terms_sorted], dtype=np.float64)

    def kernel(post_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        if post_pdf.empty or dl_pdf.empty:
            return pd.DataFrame({"doc_id": [], "score": []}).astype(
                {"doc_id": "int64", "score": "float64"}
            )
        si = _ShardIndex(post_pdf, dl_pdf, tcode_map, idf_arr, avgdl, k1, b)
        docs, scores = _sweep(si, range(len(idf_arr)), k)
        return pd.DataFrame({"doc_id": from_u64(docs), "score": scores})

    return kernel


def make_wand_batch_kernel(
    query_terms: Dict[int, List[str]],
    idf_map: Dict[str, float],
    avgdl: float,
    k: int,
    k1: float = K1,
    b: float = B,
):
    """Per-shard kernel scoring a whole query set in one pass over one
    decoded store, so each block is decoded once per shard for all queries."""
    terms_sorted = sorted(idf_map)
    tcode_map = {t: i for i, t in enumerate(terms_sorted)}
    idf_arr = np.array([idf_map[t] for t in terms_sorted], dtype=np.float64)
    q_codes = {
        qid: sorted({tcode_map[t] for t in ts if t in tcode_map})
        for qid, ts in query_terms.items()
    }

    def kernel(post_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        out_q, out_d, out_s = [], [], []
        if not post_pdf.empty and not dl_pdf.empty:
            si = _ShardIndex(post_pdf, dl_pdf, tcode_map, idf_arr, avgdl, k1, b)
            for qid, codes in q_codes.items():
                if not codes:
                    continue
                docs, scores = _sweep(si, codes, k)
                out_q.extend([qid] * len(docs))
                out_d.extend(from_u64(docs).tolist())
                out_s.extend(scores.tolist())
        return pd.DataFrame(
            {"query_id": pd.array(out_q, dtype="int32"),
             "doc_id": pd.array(out_d, dtype="int64"),
             "score": pd.array(out_s, dtype="float64")}
        )

    return kernel


def _lookup_idf(spark, pidx, terms: List[str]):
    """One scan of the snapshot's dictionary (store.read_dictionary: base
    terms + live delta_termdf) → (idf per term, union of candidate shards).

    The dictionary row carries each term's shard list (recorded at build),
    so partition pruning needs no extra planning job over the postings.
    Reads go through the handle's memoized relations (store.PhysicalIndex):
    resolving the parquet relation per query re-pays file listing + schema
    jobs — the measured majority of per-query latency at steady state.

    r8: per-term (df, shards) rows are memoized on the handle (the
    dictionary-entry cache every serving engine keeps): a term seen before
    skips the dictionary job entirely, and only the NOVEL terms of a query
    are scanned. Snapshot-consistent by the same contract as the relation
    cache — df is a constant of the handle's snapshot, and mutations
    either return a fresh PhysicalIndex or require ``invalidate()``
    (which clears this cache too). OOV terms are cached as None so a
    repeated miss costs nothing. The lookup's Spark jobs are described
    ``query: dictionary``."""
    n = pidx.stats["n_docs"]
    cache = pidx._term_lookup_cache(spark)
    missing = [t for t in terms if t not in cache]
    if missing:
        # the writer module stays out of the serving path's imports
        from .segments import _described

        with _described(spark, "query: dictionary"):
            rows = read_dictionary(spark, pidx, missing).collect()
        got = {r.term: (int(r.df), [int(s) for s in (r.shards or [])])
               for r in rows}
        for t in missing:
            cache[t] = got.get(t)
    idf_map = {}
    shards: set = set()
    for t in terms:
        hit = cache.get(t)
        if hit is None:
            continue
        idf_map[t] = _lucene_idf(hit[0], n)
        shards.update(hit[1])
    return idf_map, sorted(shards)


def _pruned_reads(spark, pidx, terms: List[str], shards: List[int]):
    """postings filtered to terms + both scans pruned to candidate shards.

    Both sides are explicitly repartitioned by shard to
    min(candidate shards, cluster parallelism) — there are only
    len(shards) cogroup groups, so more reduce partitions than that is
    pure task-launch overhead, and at the other end the width never
    exceeds what the cluster can run at once. The repartition IS the
    cogroup's exchange (its required distribution is satisfied, no second
    shuffle), and sizing it explicitly keeps the per-query latency floor
    at the scheduling cost of the right number of tasks instead of the
    session's corpus-sized spark.sql.shuffle.partitions — measured 1.25 →
    0.85 s/query at 60k/64sh under local[32] (PLANS §2, r7)."""
    if not shards:
        return None, None
    n_parts = max(1, min(len(shards),
                         spark.sparkContext.defaultParallelism))
    postings = (
        pidx.postings_live_df(spark)
        .where(F.col("shard").isin(shards))
        .where(F.col("term").isin(terms))
        .repartition(n_parts, "shard")
    )
    doclen = (
        pidx.doclen_live_df(spark)
        .where(F.col("shard").isin(shards))
        .repartition(n_parts, "shard")
    )
    return postings, doclen


def bm25_topk_wand(
    spark: SparkSession,
    pidx: PhysicalIndex,
    query: str,
    k: int = 10,
) -> DataFrame:
    """Top-k via the compressed store. Rank-identical to the exhaustive path.

    The dictionary lookup runs here (its jobs described ``query:
    dictionary``); the returned plan's kernel job runs at the caller's
    action, under the caller's job description."""
    terms = analyze_query(query)
    avgdl = pidx.stats["avgdl"] or 1.0
    empty = spark.createDataFrame([], CAND_SCHEMA)
    if not terms or pidx.stats["n_docs"] == 0:
        return empty
    idf_map, shards = _lookup_idf(spark, pidx, terms)
    if not idf_map:
        return empty
    postings, doclen = _pruned_reads(spark, pidx, list(idf_map), shards)
    if postings is None:
        return empty
    kernel = make_wand_kernel(idf_map, avgdl, k)
    cands = (
        postings.groupBy("shard")
        .cogroup(doclen.groupBy("shard"))
        .applyInPandas(lambda l, r: kernel(l, r), CAND_SCHEMA)
    )
    return cands.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)


def bm25_topk_wand_batch(
    spark: SparkSession,
    pidx: PhysicalIndex,
    queries: Sequence[Tuple[int, str]],
    k: int = 10,
) -> DataFrame:
    """Whole query set in one index pass → (query_id, doc_id, score, rank).

    One cogroup job total: per shard, every query reuses the same decoded
    store. Global per-query top-k = window rank over
    ≤ k·shards candidates per query. As in bm25_topk_wand, the dictionary
    lookup runs here (``query: dictionary``) and the kernel job at the
    caller's action.
    """
    avgdl = pidx.stats["avgdl"] or 1.0
    empty = spark.createDataFrame([], BATCH_CAND_SCHEMA + ", rank int")
    query_terms = {qid: analyze_query(q) for qid, q in queries}
    all_terms = sorted({t for ts in query_terms.values() for t in ts})
    if not all_terms or pidx.stats["n_docs"] == 0:
        return empty
    idf_map, shards = _lookup_idf(spark, pidx, all_terms)
    if not idf_map:
        return empty
    postings, doclen = _pruned_reads(spark, pidx, list(idf_map), shards)
    if postings is None:
        return empty
    kernel = make_wand_batch_kernel(query_terms, idf_map, avgdl, k)
    cands = (
        postings.groupBy("shard")
        .cogroup(doclen.groupBy("shard"))
        .applyInPandas(lambda l, r: kernel(l, r), BATCH_CAND_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
