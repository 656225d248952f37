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
skipped, including whole undecoded blocks (bounds carry a 1+1e-12 margin
against float summation-order effects).

Accumulation is by dense doc ordinal: decoding a block maps each posting's
doc to its index in the shard's sorted doclen keys (the lookup that fetches
its doc length anyway), and per-doc scores are summed in a float64 buffer
with one slot per doc — direct addressing, with no sort, hash or np.unique.
Parts are added one at a time in ascending term order, so each doc's sum is
strictly sequential in that order — bit-identical to the exhaustive oracle —
and only the touched slots are read back and re-zeroed. Top-k is a
partition at the k-th score plus a lexsort of the entries at or above it;
ordinal order is doc_id order, so ties break (score DESC, doc_id ASC).

The batch path scores a whole query *set* in one index pass: per shard, all
queries share the block arrays and the decode cache, so a hot term decoded
for one query is free for the rest.
"""

from __future__ import annotations

import math
from functools import cached_property
from typing import Dict, List, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .build import K1, B
from .codec import from_u64, to_u64, varint_decode
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
    """Decoded view of one shard's candidate postings + doclen lookup, with a
    block decode cache and a dense score buffer shared across queries."""

    def __init__(self, post_pdf: pd.DataFrame, dl_pdf: pd.DataFrame,
                 tcode_map: Dict[str, int], idf_arr: np.ndarray,
                 avgdl: float, k1: float, b: float):
        dl_u, dl_v, tomb_u, tomb_g = resolve_doclen(dl_pdf)
        gens = None
        if "seg_gen" in post_pdf.columns and tomb_u is not None:
            gens = post_pdf["seg_gen"].to_numpy(dtype=np.int64)
        self._init(
            min_u=post_pdf["min_doc"].to_numpy(dtype=np.int64).view(np.uint64),
            max_u=post_pdf["max_doc"].to_numpy(dtype=np.int64).view(np.uint64),
            ns=post_pdf["n"].to_numpy(dtype=np.int64),
            tcodes=post_pdf["term"].map(tcode_map).to_numpy(dtype=np.int64),
            docs_enc=post_pdf["docs_enc"].to_numpy(dtype=object),
            tfs_enc=post_pdf["tfs_enc"].to_numpy(dtype=object),
            max_tf=post_pdf["max_tf"].to_numpy(dtype=np.float64),
            min_dl=post_pdf["min_dl"].to_numpy(dtype=np.float64),
            dl_u=dl_u, dl_v=dl_v,
            idf_arr=idf_arr, avgdl=avgdl, k1=k1, b=b,
            gens=gens, tomb_u=tomb_u, tomb_g=tomb_g,
        )

    @classmethod
    def from_arrays(cls, **kw) -> "_ShardIndex":
        """Construct straight from preloaded numpy arrays (serving path —
        avoids any per-query pandas work)."""
        self = cls.__new__(cls)
        self._init(**kw)
        return self

    def _init(self, *, min_u, max_u, ns, tcodes, docs_enc, tfs_enc,
              max_tf, min_dl, dl_u, dl_v, idf_arr, avgdl, k1, b,
              block_keys=None, raw_cache=None, term_cache=None,
              gens=None, tomb_u=None, tomb_g=None, acc=None):
        # delta-segment state: per-block generation + the shadowed-doc
        # lookup (docs owned by a generation > 0; see resolve_doclen).
        # None on a pure-base index — decode() takes the unmasked fast path.
        self.gens = gens
        self.tomb_u = tomb_u if tomb_u is not None and len(tomb_u) else None
        self.tomb_g = tomb_g
        # optional cross-query raw-decode cache (serving path): maps an
        # external stable block key → (doc ordinal, tf, dl); contributions
        # are recomputed per query (idf/stats may differ) but varint decode
        # + doclen lookup — the expensive part — happens once per block ever.
        # Ordinals index dl_u, so a cache is only valid for one dl_u (one
        # searcher snapshot).
        self._block_keys = block_keys
        self._raw_cache = raw_cache
        # optional cross-query TERM-RUN cache (serving path): concatenated
        # (doc ordinal, contrib) for a whole term's block run. Contributions
        # are constants of the index snapshot (idf/stats fixed per
        # searcher), so caching them is exactly recomputation; ~500
        # per-block Python calls per head query collapse to one dict hit
        # per term (r8).
        self._term_cache = term_cache
        self.dl_u = dl_u
        self.dl_v = dl_v
        self.min_u = min_u
        self.max_u = max_u
        self.ns = ns
        self.tcodes = tcodes
        self.docs_enc = docs_enc
        self.tfs_enc = tfs_enc
        self.max_tf = max_tf
        self.min_dl = min_dl
        self.idf_arr = idf_arr
        self.avgdl = avgdl
        self.k1 = k1
        self.b = b
        # dense per-doc score buffer, one float64 slot per doc ordinal (index
        # into dl_u), all zero between accumulations (see _accumulate); the
        # serving path passes one buffer owned by its searcher
        self.acc = np.zeros(len(dl_u)) if acc is None else acc
        self._decoded: Dict[int, tuple] = {}
        # set by _score_all: every selected block was decoded, so the
        # pruning stats count them all without per-block bookkeeping
        self.scored_all = False

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
        got = self._decoded.get(bi)
        if got is not None:
            return got
        raw = None
        key = None
        if self._raw_cache is not None:
            key = int(self._block_keys[bi])
            raw = self._raw_cache.get(key)
        if raw is None:
            deltas = varint_decode(self.docs_enc[bi], int(self.ns[bi]))
            du = self.min_u[bi] + np.cumsum(deltas, dtype=np.uint64)
            tf = varint_decode(self.tfs_enc[bi], int(self.ns[bi])).astype(np.float64)
            if self.tomb_u is not None:
                # delta-segment masking: drop docs owned by a NEWER
                # generation than this block's (their live version — if any
                # — is scored from the owner generation's block; a deleted
                # doc has no live block at all). Masking precedes the
                # doclen lookup: shadowed docs are absent from dl_u.
                g = int(self.gens[bi]) if self.gens is not None else 0
                pos = np.searchsorted(self.tomb_u, du)
                pos_c = np.minimum(pos, len(self.tomb_u) - 1)
                shadowed = (self.tomb_u[pos_c] == du) & (self.tomb_g[pos_c] > g)
                if shadowed.any():
                    keep = ~shadowed
                    du, tf = du[keep], tf[keep]
            ords = np.searchsorted(self.dl_u, du)
            dl = self.dl_v[ords]
            if self._raw_cache is not None:
                self._raw_cache[key] = (ords, tf, dl)
        else:
            ords, tf, dl = raw
        idf = self.idf_arr[self.tcodes[bi]]
        contrib = (
            idf * tf * (self.k1 + 1.0)
            / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl))
        )
        self._decoded[bi] = (ords, contrib)
        return self._decoded[bi]

    def decode_run(self, rows: np.ndarray):
        """Concatenated (doc ordinal, contrib) for a run of same-term blocks
        in ascending block order — identical to decoding each block and
        concatenating (which is what it does on a cache miss). Cached
        cross-query when a term_cache is attached (the serving path)."""
        key = None
        if self._term_cache is not None and self._block_keys is not None \
                and len(rows):
            key = (int(self._block_keys[rows[0]]),
                   int(self._block_keys[rows[-1]]), len(rows))
            got = self._term_cache.get(key)
            if got is not None:
                return got
        o_parts, c_parts = [], []
        for bi in rows:
            o, contrib = self.decode(int(bi))
            o_parts.append(o)
            c_parts.append(contrib)
        out = (
            np.concatenate(o_parts) if o_parts else np.empty(0, dtype=np.intp),
            np.concatenate(c_parts) if c_parts else np.empty(0, dtype=np.float64),
        )
        if key is not None:
            self._term_cache[key] = out
        return out


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


def _score_all(si: _ShardIndex, sel: np.ndarray, k: int):
    """Fully-vectorized exhaustive scoring of the selected blocks — faster
    than interval pruning when the candidate set is modest or bounds are
    flat (uniform head-term disjunctions). Bit-identical accumulation: one
    part per term, added in ascending term order (_accumulate)."""
    order = np.argsort(si.tcodes[sel], kind="stable")
    sel_o = sel[order]
    tc_o = si.tcodes[sel_o]
    # one decode_run per TERM (contiguous same-tcode run, block order kept by
    # the stable sort): term runs are sorted disjoint doc sequences, so the
    # concatenation per term equals the old per-block append order exactly —
    # and the serving path's term cache turns ~hundreds of per-block decode
    # calls per head query into one dict hit per term
    runs = np.nonzero(np.concatenate(([True], tc_o[1:] != tc_o[:-1])))[0]
    ends = np.concatenate((runs[1:], [len(sel_o)]))
    o_parts, c_parts = [], []
    for a, b in zip(runs, ends):
        o, contrib = si.decode_run(sel_o[a:b])
        o_parts.append(o)
        c_parts.append(contrib)
    si.scored_all = True
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


def _sweep(si: _ShardIndex, sel: np.ndarray, k: int, theta0: float = -np.inf):
    """Interval-sweep top-k over a subset of blocks (one query's terms).
    Returns (doc_u uint64[], score float64[]), ≤ k entries, ranked.

    ``theta0``: an externally-known lower bound on the global k-th score
    (e.g. from already-swept shards). Intervals bounded below theta0 can
    never contribute a global top-k doc, so they are skipped even before k
    local candidates exist — exactness is preserved because every skipped
    doc's score ≤ its interval bound < theta0 ≤ the global k-th score."""
    if len(sel) == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.float64)
    if int(si.ns[sel].sum()) <= _EXHAUSTIVE_CUTOFF:
        return _score_all(si, sel, k)
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
    block_order = np.argsort(tc, kind="stable")  # ascending term order
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
        for x in block_order:
            # metadata reject: block entirely outside this chunk's runs —
            # this is where pruning skips DECODES, not just score work
            r0 = int(np.searchsorted(run_hi, min_u[x], side="right"))
            r1 = int(np.searchsorted(run_lo, max_u[x], side="right"))
            if r0 >= r1:
                continue
            o, contrib = si.decode(int(sel[x]))
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
        docs, scores = _sweep(si, np.arange(len(post_pdf)), k)
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
    """Per-shard kernel scoring a whole query set in one pass; the decode
    cache is shared, so hot terms are decoded once per shard for all queries."""
    terms_sorted = sorted(idf_map)
    tcode_map = {t: i for i, t in enumerate(terms_sorted)}
    idf_arr = np.array([idf_map[t] for t in terms_sorted], dtype=np.float64)
    q_tcodes = {
        qid: {tcode_map[t] for t in ts if t in tcode_map}
        for qid, ts in query_terms.items()
    }

    def kernel(post_pdf: pd.DataFrame, dl_pdf: pd.DataFrame) -> pd.DataFrame:
        out_q, out_d, out_s = [], [], []
        if not post_pdf.empty and not dl_pdf.empty:
            si = _ShardIndex(post_pdf, dl_pdf, tcode_map, idf_arr, avgdl, k1, b)
            for qid, tcset in q_tcodes.items():
                if not tcset:
                    continue
                sel = np.nonzero(np.isin(si.tcodes, list(tcset)))[0]
                docs, scores = _sweep(si, sel, k)
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

    One cogroup job total: per shard, every query reuses the same block
    arrays and decode cache. Global per-query top-k = window rank over
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
