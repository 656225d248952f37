"""Driver-local query serving over the compressed posting store.

The distributed WAND path (wand.py) is the right shape for batch scoring and
huge indexes; for interactive serving of a memory-resident index, Spark's
per-query job overhead (~seconds) dominates. ``LocalSearcher`` loads the
posting store once (pyarrow, no Spark jobs) and decodes it at open in ONE
vectorized pass into a flat posting store: per posting its doc ordinal and
BM25 contribution, a term's postings one slice (wand._ShardIndex). Queries
then run in pure numpy with the SAME ``_ShardIndex``/``_sweep`` kernels the
distributed path uses — so results are bit-identical by construction, at
millisecond latency — and decode nothing: a searcher's memory is what its
open allocated, however many queries or distinct terms it serves.

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
import os
from typing import List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from .build import K1, B
from .codec import from_u64
from .store import _POSTINGS_ARROW, PhysicalIndex, open_index
from .search import analyze_query
from .wand import _ShardIndex, _lucene_idf, _sweep, resolve_doclen


_GEN_PARTITIONING = ds.partitioning(pa.schema([("gen", pa.int64())]),
                                   flavor="hive")

# the postings columns a searcher reads, with their stored Arrow types
_POSTING_COLS = pa.schema([
    _POSTINGS_ARROW.field(c) for c in
    ("term", "n", "min_doc", "max_doc", "docs_enc", "tfs_enc", "max_tf",
     "min_dl")
])

_NO_STATS = {"blocks_total": 0, "blocks_decoded": 0,
             "postings_total": 0, "postings_decoded": 0}


def _concat(tables) -> pa.Table:
    # files written by Spark and by pyarrow differ in nullability only
    return pa.concat_tables(tables, promote_options="default")


def _read_parquet_dir(path: str, columns) -> pa.Table | None:
    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    parts = [pq.read_table(f, columns=columns) for f in files]
    return _concat(parts) if parts else None


def _read_delta_table(root: str, table: str, gens,
                      columns=None) -> pa.Table | None:
    """Committed delta generations of one delta table as a single table
    with a ``seg_gen`` column, read in ONE pyarrow dataset call (gen taken
    from the directory name — the snapshot's stats.json lists only
    fully-committed generations; rows in (gen, file) order)."""
    base = os.path.join(root, table)
    files = [
        f for g in sorted(int(x) for x in gens)
        for f in sorted(glob.glob(os.path.join(base, f"gen={g}", "**",
                                               "*.parquet"), recursive=True))
    ]  # a delete generation has no delta_postings
    if not files:
        return None
    data = ds.dataset(files, format="parquet", partition_base_dir=base,
                      partitioning=_GEN_PARTITIONING)
    got = data.to_table(columns=None if columns is None else [*columns, "gen"])
    return got.rename_columns(
        ["seg_gen" if c == "gen" else c for c in got.column_names])


def _with_gen(t: pa.Table, gen: int) -> pa.Table:
    return t.append_column("seg_gen", pa.array(np.full(len(t), gen)))


def _base_table(path: str, shard: int, columns) -> pa.Table | None:
    """One base shard's table of ``path`` as generation 0."""
    t = _read_parquet_dir(os.path.join(path, f"shard={shard}"), columns)
    return None if t is None else _with_gen(t, 0)


class LocalSearcher:
    def __init__(self, root: str):
        self.pidx: PhysicalIndex = open_index(root)
        self.n = int(self.pidx.stats["n_docs"])
        self.avgdl = float(self.pidx.stats["avgdl"]) or 1.0
        gens = self.pidx.stats.get("delta_gens") or []

        terms = _read_parquet_dir(self.pidx.terms_path, ["term", "df"])
        terms = terms.to_pandas() if terms is not None else pd.DataFrame(
            {"term": [], "df": []})
        if gens:
            # base df + Σ live delta_termdf, net 0 dropped (read_dictionary)
            adj = _read_delta_table(root, "delta_termdf", gens, ["term", "df"])
            if adj is not None:
                terms = pd.concat([terms, adj.to_pandas()])
                terms = terms.groupby("term", sort=False)["df"].sum()
                terms = terms[terms > 0].reset_index()
        self._df = dict(zip(terms["term"], terms["df"].astype(int)))

        # flatten all shards (disjoint, ordered doc ranges) into one space;
        # delta segments (LSM update path) join it tagged with their
        # generation, and doclen rows resolve to the per-doc owner generation
        # exactly as the distributed kernel does
        post_cols, dl_cols = _POSTING_COLS.names, ["doc_id", "doc_len"]
        posts, dls = [], []
        shards = sorted(
            int(os.path.basename(d).split("=")[1])
            for d in glob.glob(os.path.join(self.pidx.postings_path, "shard=*"))
        )
        for shard in shards:
            posts.append(_base_table(self.pidx.postings_path, shard, post_cols))
            dls.append(_base_table(self.pidx.doclen_path, shard, dl_cols))
        if gens:
            posts.append(_read_delta_table(root, "delta_postings", gens,
                                           post_cols))
            dls.append(_read_delta_table(root, "delta_doclen", gens, dl_cols))
        posts = [t for t in posts if t is not None]
        dls = [t for t in dls if t is not None]
        post = _concat(posts) if posts else \
            _with_gen(_POSTING_COLS.empty_table(), 0)
        dl = _concat(dls).to_pandas() if dls else pd.DataFrame(
            {"doc_id": np.empty(0, np.int64), "doc_len": np.empty(0, np.int64)})

        # blocks sorted by term (stable: doc order kept per term); a term's
        # code is its rank in the sorted vocabulary, so code order is term
        # order, and its blocks are rows _t_start[t]:_t_end[t]
        post = post.take(pc.sort_indices(post, [("term", "ascending")]))
        coded = post["term"].combine_chunks().dictionary_encode()
        tcodes = coded.indices.to_numpy().astype(np.int64)
        vocab = coded.dictionary.to_pylist()
        run_off = np.searchsorted(tcodes, np.arange(len(vocab) + 1)).tolist()
        self._t_start = dict(zip(vocab, run_off[:-1]))
        self._t_end = dict(zip(vocab, run_off[1:]))
        idf_arr = np.array([_lucene_idf(self._df.get(t, 0), self.n)
                            for t in vocab], dtype=np.float64)

        # the one decode pass: every block → (doc ordinal, contribution)
        dl_u, dl_v, tomb_u, tomb_g = resolve_doclen(dl)
        col = lambda c, t: post[c].to_numpy().astype(t, copy=False)
        self._store = _ShardIndex.from_arrays(
            min_u=col("min_doc", np.int64).view(np.uint64),
            max_u=col("max_doc", np.int64).view(np.uint64),
            ns=col("n", np.int64),
            tcodes=tcodes,
            docs_enc=post["docs_enc"],
            tfs_enc=post["tfs_enc"],
            max_tf=col("max_tf", np.float64),
            min_dl=col("min_dl", np.float64),
            dl_u=dl_u, dl_v=dl_v,
            idf_arr=idf_arr, avgdl=self.avgdl, k1=K1, b=B,
            gens=col("seg_gen", np.int64), tomb_u=tomb_u, tomb_g=tomb_g,
        )
        self.last_stats = dict(_NO_STATS)

    def search(self, query: str, k: int = 10) -> List[Tuple[int, float]]:
        """→ [(doc_id, score)], ranked (score DESC, doc_id ASC); bit-identical
        to bm25_topk_wand / the exhaustive oracle.

        After each call ``last_stats`` holds the query's pruning accounting:
        its terms' candidate blocks/postings (``*_total``) vs the blocks the
        kernel scored and their postings (``*_decoded``: the interval sweep
        skips blocks whose upper bound falls below the running top-k
        threshold; the exhaustive branch scores all of them). Nothing is
        decoded at query time — the store was decoded at open — so
        "decoded" counts blocks scored."""
        terms = sorted({t for t in analyze_query(query) if t in self._df})
        si = self._make_shard_index(terms) if terms and self.n else None
        if si is None:
            self.last_stats = dict(_NO_STATS)
            return []
        docs, scores = _sweep(si, np.arange(len(si.ns)), k)
        self.last_stats = {
            "blocks_total": int(len(si.ns)),
            "blocks_decoded": len(si.scored),
            "postings_total": int(si.ns.sum()),
            "postings_decoded": int(si.ns[si.scored].sum()),
        }
        return list(zip(from_u64(docs).tolist(), scores.tolist()))

    def _make_shard_index(self, terms: List[str]):
        """The single flattened sweep space for a sorted term list: a view of
        the store's blocks of those terms (shared with tests that drive
        _sweep directly, e.g. with theta0)."""
        rows = [np.arange(self._t_start[t], self._t_end[t])
                for t in terms if t in self._t_start]
        return self._store.select(np.concatenate(rows)) if rows else None
