"""Seeded query streams derived from a built index's vocabulary.

Query classes follow ``bench._pick_sweep_queries``: the head term alone,
head + a topical mid-df term, head + a topical rare term, head + a
scattered rare term, a same-topic pair, and head + topical mid + topical
rare. *Topical* terms have a narrow doc-id range under host_locality ids
(one or two hosts); *scattered* terms span many hosts. Within a class every
term is drawn Zipf-style, with probability proportional to its df, from a
pool of distinct terms — the rare pools are large, so a real share of the
terms a stream sends are first-time (cold) for a fresh searcher.

Only the index's public on-disk tables are read (terms: term, df;
postings: term, min_doc, max_doc).
"""

from __future__ import annotations

import os

import numpy as np

from common import read_parquet_dir, read_stats

CLASSES = ("head", "head_topic_mid", "head_topic_rare", "head_scat_rare",
           "topic_pair", "three_mixed")
# doc ids under host_locality: top 24 bits host, low 40 bits url — a range
# narrower than two host ranges is "topical"
_NARROW = 1 << 41
_HEAD_POOL = 8


class QueryPool:
    def __init__(self, index_root: str):
        terms = read_parquet_dir(os.path.join(index_root, "terms"),
                                 ["term", "df"])
        post = read_parquet_dir(os.path.join(index_root, "postings"),
                                ["term", "min_doc", "max_doc"])
        rng_ = post.groupby("term").agg(lo=("min_doc", "min"),
                                        hi=("max_doc", "max"))
        t = terms.set_index("term").join(rng_, how="inner")
        t = t.sort_index()  # deterministic order independent of file layout
        df = t["df"].to_numpy(dtype=np.int64)
        lo = t["lo"].to_numpy(dtype=np.int64)
        hi = t["hi"].to_numpy(dtype=np.int64)
        names = t.index.to_numpy(dtype=object)
        n_docs = max(int(read_stats(index_root)["n_docs"]), 1)
        # generated content words end in a digit (excludes stopwords)
        synth = np.array([bool(x) and x[-1].isdigit() for x in names])
        width = hi.astype(np.float64) - lo.astype(np.float64)
        narrow = synth & (width < float(_NARROW))
        scattered = synth & ~narrow
        # df bands: rare ≤ 0.2% of docs < mid ≤ 10% of docs
        rare_max = max(2, n_docs // 500)
        rare = (df >= 2) & (df <= rare_max)
        mid = (df > rare_max) & (df <= max(rare_max + 1, n_docs // 10))
        order = np.lexsort((names, -df))
        self.head = names[order[:_HEAD_POOL]]
        self.head_df = df[order[:_HEAD_POOL]]
        self._pools = {}
        for key, m in (("topic_mid", narrow & mid), ("topic_rare", narrow & rare),
                       ("scat_rare", scattered & rare)):
            self._pools[key] = (names[m], df[m].astype(np.float64), lo[m] >> 40)
        for key, (nm, _, _) in self._pools.items():
            if len(nm) == 0:
                raise ValueError(f"index has no {key} terms for the query mix")

    def _draw(self, rng, key: str, bucket=None) -> str:
        nm, w, hb = self._pools[key]
        if bucket is not None:
            m = hb == bucket
            if m.sum() >= 2:
                nm, w = nm[m], w[m]
        return str(nm[rng.choice(len(nm), p=w / w.sum())])

    def _head(self, rng) -> str:
        w = self.head_df.astype(np.float64)
        return str(self.head[rng.choice(len(w), p=w / w.sum())])

    def query(self, rng, cls: str) -> str:
        if cls == "head":
            return self._head(rng)
        if cls == "head_topic_mid":
            return f"{self._head(rng)} {self._draw(rng, 'topic_mid')}"
        if cls == "head_topic_rare":
            return f"{self._head(rng)} {self._draw(rng, 'topic_rare')}"
        if cls == "head_scat_rare":
            return f"{self._head(rng)} {self._draw(rng, 'scat_rare')}"
        if cls == "topic_pair":
            nm, w, hb = self._pools["topic_mid"]
            i = int(rng.choice(len(nm), p=w / w.sum()))
            other = self._draw(rng, "topic_mid", bucket=hb[i])
            return f"{nm[i]} {other}"
        if cls == "three_mixed":
            return (f"{self._head(rng)} {self._draw(rng, 'topic_mid')} "
                    f"{self._draw(rng, 'topic_rare')}")
        raise ValueError(cls)

    def stream(self, seed: int, n: int) -> list[tuple[str, str]]:
        """n (class, query) pairs, classes in equal shares, seeded."""
        rng = np.random.default_rng([seed, 0x5E4E])
        classes = [CLASSES[i % len(CLASSES)] for i in range(n)]
        rng.shuffle(classes)
        return [(c, self.query(rng, c)) for c in classes]

    def one_per_class(self, seed: int) -> list[tuple[str, str]]:
        rng = np.random.default_rng([seed, 0xC4EC])
        return [(c, self.query(rng, c)) for c in CLASSES]


def cold_term_frac(queries, analyze) -> float:
    """Share of the stream's query-term occurrences that are the term's
    first occurrence in the stream (cold for a freshly opened searcher)."""
    seen, total, cold = set(), 0, 0
    for q in queries:
        for t in analyze(q):
            total += 1
            if t not in seen:
                cold += 1
                seen.add(t)
    return cold / total if total else 0.0
