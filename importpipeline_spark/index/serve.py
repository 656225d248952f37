"""Driver-local query serving over the compressed posting store.

The distributed WAND path (wand.py) is the right shape for batch scoring and
huge indexes; for interactive serving of a memory-resident index, Spark's
per-query job overhead (~seconds) dominates. ``LocalSearcher`` loads the
posting store once (pyarrow, no Spark jobs) and answers queries in pure
numpy using the SAME ``_ShardIndex``/``_sweep`` kernels the distributed path
uses — so results are bit-identical by construction, at millisecond latency.

Because doc-range shards are disjoint and ordered, all shards flatten into
ONE sweep space: the concatenated doclen arrays stay globally sorted and
blocks from different shards never overlap, so a query is a single interval
sweep instead of one per shard (the per-shard Python overhead was the
latency floor).

At web scale this is the per-executor serving model: each executor pins its
shard subset and serves locally; the k-row global merge is the only
coordination (exactly what bm25_topk_wand does as a Spark job).
"""

from __future__ import annotations

import glob
import math
import os
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from .build import K1, B
from .codec import from_u64, to_u64
from .store import PhysicalIndex, open_index
from .search import analyze_query
from .wand import _ShardIndex, _sweep, resolve_doclen


_GEN_PARTITIONING = ds.partitioning(pa.schema([("gen", pa.int64())]),
                                   flavor="hive")


def _read_parquet_dir(path: str, columns=None) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    parts = [pq.read_table(f, columns=columns).to_pandas() for f in files]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame()


def _read_delta_table(root: str, table: str, gens, columns=None) -> pd.DataFrame:
    """Committed delta generations of one delta table as a single frame with
    a ``seg_gen`` column, read in ONE pyarrow dataset call (gen taken from
    the directory name — the snapshot's stats.json lists only
    fully-committed generations; rows in (gen, file) order)."""
    base = os.path.join(root, table)
    files = [
        f for g in sorted(int(x) for x in gens)
        for f in sorted(glob.glob(os.path.join(base, f"gen={g}", "**",
                                               "*.parquet"), recursive=True))
    ]  # a delete generation has no delta_postings
    if not files:
        return pd.DataFrame()
    data = ds.dataset(files, format="parquet", partition_base_dir=base,
                      partitioning=_GEN_PARTITIONING)
    table = data.to_table(
        columns=None if columns is None else [*columns, "gen"])
    return table.to_pandas().rename(columns={"gen": "seg_gen"})


class LocalSearcher:
    def __init__(self, root: str):
        self.pidx: PhysicalIndex = open_index(root)
        self.n = int(self.pidx.stats["n_docs"])
        self.avgdl = float(self.pidx.stats["avgdl"]) or 1.0

        # flatten all shards (disjoint, ordered doc ranges) into one space
        posts, dls = [], []
        shard_dirs = sorted(
            glob.glob(os.path.join(self.pidx.postings_path, "shard=*")),
            key=lambda d: int(os.path.basename(d).split("=")[1]),
        )
        for d in shard_dirs:
            shard = int(os.path.basename(d).split("=")[1])
            posts.append(_read_parquet_dir(d))
            dls.append(
                _read_parquet_dir(
                    os.path.join(self.pidx.doclen_path, f"shard={shard}"),
                    columns=["doc_id", "doc_len"],
                )
            )
        # delta segments (LSM update path): blocks join the flattened sweep
        # space tagged with their generation; doclen rows resolve to the
        # per-doc owner generation exactly as the distributed kernel does.
        gens = self.pidx.stats.get("delta_gens") or []
        if gens:
            dpost = _read_delta_table(root, "delta_postings", gens)
            if not dpost.empty:
                posts.append(dpost)
            ddl = _read_delta_table(
                root, "delta_doclen", gens,
                columns=["doc_id", "doc_len"],
            )
            if not ddl.empty:
                dls.append(ddl)
        posts = [p for p in posts if not p.empty]
        dls = [d for d in dls if not d.empty]
        if not posts or not dls:
            # empty index: construct a searcher that answers [] (parity with
            # the distributed path's n_docs==0 guard)
            self._min_u = np.empty(0, dtype=np.uint64)
            self._max_u = np.empty(0, dtype=np.uint64)
            self._ns = np.empty(0, dtype=np.int64)
            self._docs_enc = np.empty(0, dtype=object)
            self._tfs_enc = np.empty(0, dtype=object)
            self._max_tf = np.empty(0, dtype=np.float64)
            self._min_dl = np.empty(0, dtype=np.float64)
            self._t_start, self._t_end = {}, {}
            self._dl_u = np.empty(0, dtype=np.uint64)
            self._dl_v = np.empty(0, dtype=np.float64)
            self._gens = self._tomb_u = self._tomb_g = None
            self._df = {}
            self._raw_cache = {}
            self._term_cache = {}
            return
        post = pd.concat(posts, ignore_index=True)
        dl = pd.concat(dls, ignore_index=True)
        if "seg_gen" in post.columns:
            post["seg_gen"] = post["seg_gen"].fillna(0).astype(np.int64)
        if "seg_gen" in dl.columns:
            dl["seg_gen"] = dl["seg_gen"].fillna(0).astype(np.int64)

        term_arr = post["term"].to_numpy(dtype=object)
        order = np.argsort(term_arr, kind="stable")  # stable: doc order kept per term
        term_arr = term_arr[order]
        self._min_u = post["min_doc"].to_numpy(dtype=np.int64)[order].view(np.uint64)
        self._max_u = post["max_doc"].to_numpy(dtype=np.int64)[order].view(np.uint64)
        self._ns = post["n"].to_numpy(dtype=np.int64)[order]
        self._docs_enc = post["docs_enc"].to_numpy(dtype=object)[order]
        self._tfs_enc = post["tfs_enc"].to_numpy(dtype=object)[order]
        self._max_tf = post["max_tf"].to_numpy(dtype=np.float64)[order]
        self._min_dl = post["min_dl"].to_numpy(dtype=np.float64)[order]
        starts = np.nonzero(
            np.concatenate(([True], term_arr[1:] != term_arr[:-1]))
        )[0]
        ends = np.concatenate((starts[1:], [len(term_arr)]))
        self._t_start = dict(zip(term_arr[starts], starts))
        self._t_end = dict(zip(term_arr[starts], ends))

        # live doclen + shadowed-doc lookup via the same ownership
        # resolution the distributed kernel uses (bit-identity by sharing)
        self._dl_u, self._dl_v, self._tomb_u, self._tomb_g = resolve_doclen(dl)
        self._gens = None
        if self._tomb_u is not None and len(self._tomb_u):
            if "seg_gen" in post.columns:
                self._gens = post["seg_gen"].to_numpy(dtype=np.int64)[order]
            else:  # delete-only generations: every block is base (gen 0)
                self._gens = np.zeros(len(term_arr), dtype=np.int64)
        else:
            self._tomb_u = self._tomb_g = None

        terms = _read_parquet_dir(self.pidx.terms_path, columns=["term", "df"])
        if gens:
            # base df + Σ live delta_termdf, net 0 dropped (read_dictionary)
            adj = _read_delta_table(root, "delta_termdf", gens,
                                    columns=["term", "df"])
            if not adj.empty:
                terms = pd.concat([terms, adj])
                terms = terms.groupby("term", sort=False)["df"].sum()
                terms = terms[terms > 0].reset_index()
        self._df: Dict[str, int] = dict(zip(terms["term"], terms["df"].astype(int)))
        # cross-query raw block decode cache: (doc ordinal, tf, dl) per block
        # row; ordinals index self._dl_u, fixed for this snapshot
        self._raw_cache: Dict[int, tuple] = {}
        # cross-query term-run cache: concatenated (doc ordinal, contrib) per
        # term block run — contributions are constants of this snapshot (r8)
        self._term_cache: Dict[tuple, tuple] = {}
        # dense per-doc score buffer (one slot per doc ordinal) reused by
        # every query; all zero between queries, so one searcher serves one
        # query at a time
        self._acc = np.zeros(len(self._dl_u))

    def idf(self, term: str) -> float:
        df = self._df.get(term, 0)
        return math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))

    def search(self, query: str, k: int = 10) -> List[Tuple[int, float]]:
        """→ [(doc_id, score)], ranked (score DESC, doc_id ASC); bit-identical
        to bm25_topk_wand / the exhaustive oracle.

        After each call ``last_stats`` holds the query's pruning accounting:
        candidate blocks/postings for its terms vs how many the kernel
        actually decoded+scored (the interval sweep skips blocks whose upper
        bound falls below the running top-k threshold; the exhaustive branch
        decodes all of them)."""
        terms = sorted({t for t in analyze_query(query) if t in self._df})
        if not terms or self.n == 0:
            self.last_stats = {"blocks_total": 0, "blocks_decoded": 0,
                               "postings_total": 0, "postings_decoded": 0}
            return []
        si = self._make_shard_index(terms)
        if si is None:
            self.last_stats = {"blocks_total": 0, "blocks_decoded": 0,
                               "postings_total": 0, "postings_decoded": 0}
            return []
        sel = np.arange(len(si.ns))
        docs, scores = _sweep(si, sel, k)
        decoded = sel if si.scored_all else list(si._decoded)
        self.last_stats = {
            "blocks_total": int(len(si.ns)),
            "blocks_decoded": len(decoded),
            "postings_total": int(si.ns.sum()),
            "postings_decoded": int(si.ns[decoded].sum()),
        }
        return list(zip(from_u64(docs).tolist(), scores.tolist()))

    def _make_shard_index(self, terms: List[str]):
        """Assemble the single flattened sweep space for a sorted term list
        (shared with tests that drive _sweep directly, e.g. with theta0)."""
        idf_arr = np.array([self.idf(t) for t in terms], dtype=np.float64)
        parts, codes = [], []
        for code, t in enumerate(terms):
            s_, e_ = self._t_start.get(t), self._t_end.get(t)
            if s_ is None:
                continue
            parts.append(np.arange(s_, e_))
            codes.append(np.full(e_ - s_, code, dtype=np.int64))
        if not parts:
            return None
        rows = np.concatenate(parts)
        row_codes = np.concatenate(codes)
        si = _ShardIndex.from_arrays(
            min_u=self._min_u[rows],
            max_u=self._max_u[rows],
            ns=self._ns[rows],
            tcodes=row_codes,
            docs_enc=self._docs_enc[rows],
            tfs_enc=self._tfs_enc[rows],
            max_tf=self._max_tf[rows],
            min_dl=self._min_dl[rows],
            dl_u=self._dl_u,
            dl_v=self._dl_v,
            idf_arr=idf_arr,
            avgdl=self.avgdl,
            k1=K1,
            b=B,
            block_keys=rows,
            raw_cache=self._raw_cache,
            term_cache=self._term_cache,
            gens=self._gens[rows] if self._gens is not None else None,
            tomb_u=self._tomb_u,
            tomb_g=self._tomb_g,
            acc=self._acc,
        )
        return si
