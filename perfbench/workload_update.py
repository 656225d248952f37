"""``update``: writes beside reads on one index.

Setup: seeded web-profile pages → full ``write_index(write_docs=True,
doc_id_mode="host_locality")`` → one ``bm25_topk_wand_batch`` pass over a
fixed evaluation query set → seeded update batches planned from the pages.

Measurement: pairs of ``update_index`` calls (strategy ``delta``,
``compact_after=None``) — a host recrawl (a seeded half of one of the
largest hosts: one contiguous doc-id range) then a scattered batch of the
same size — each row with a bumped ``warc_ts`` and a round-specific marker
token appended to its text. The number of pairs follows from ``--seconds``
alone (one pair per PAIR_SECONDS), never from how fast the calls run, so
every seed and every version of the code does the same work against the
same number of delta generations. After every call a freshly opened
LocalSearcher answers the round's marker query (read-after-write):
freshness is the time from the start of the update call to that first
answer, and the answer must be exactly the batch's docs. One more
scattered batch (round 0) is applied the same way in setup, unmeasured: the
first update of a session pays one-off plan compilation and worker warm-up.
The run ends with one ``compact_deltas``.
"""

from __future__ import annotations

import os
import time
from datetime import timedelta

import common
from queries import QueryPool

N_PAGES = 3000
BATCH = 48  # docs per update batch
# one host-recrawl + scattered pair per this many seconds of --seconds; a
# pair takes about 15 s on a 4-core box
PAIR_SECONDS = 10
K = 10


def _marker(seed: int, rnd: int) -> str:
    return f"zzfresh{seed}r{rnd}"


def _plan_batches(spark, pages_path: str, seed: int, n_pairs: int):
    """Seeded update rounds 0 .. 2 * n_pairs → ({round: [page row]},
    {round: {doc_id}}). Odd rounds recrawl BATCH pages of one of the three
    largest hosts (rotating); even rounds, and the warm-up round 0, take
    BATCH pages scattered over the corpus. Rows carry the round's bumped
    warc_ts and marker text."""
    from urllib.parse import urlsplit

    import numpy as np

    from importpipeline_spark.index.build import doc_id_expr

    pdf = common.read_parquet_dir(pages_path, ["url", "warc_ts", "text",
                                               "lang"]).sort_values("url")
    pdf = pdf.reset_index(drop=True)
    host = pdf["url"].map(lambda u: urlsplit(u).hostname)
    sizes = host.value_counts()
    top = sorted(sizes.index, key=lambda h: (-sizes[h], h))[:3]
    rng = np.random.default_rng([seed, 0xB47C])
    picks = {0: rng.choice(len(pdf), size=BATCH, replace=False)}
    for p in range(n_pairs):
        on_host = np.flatnonzero((host == top[p % len(top)]).to_numpy())
        picks[2 * p + 1] = rng.choice(on_host, size=min(BATCH, len(on_host)),
                                      replace=False)
        picks[2 * p + 2] = rng.choice(len(pdf), size=BATCH, replace=False)
    rounds: dict = {}
    for rnd, rows in picks.items():
        out = []
        for i in sorted(rows):
            text = f"{pdf.at[i, 'text']} {_marker(seed, rnd)}"
            out.append({
                "url": pdf.at[i, "url"],
                "warc_ts": (pdf.at[i, "warc_ts"].to_pydatetime()
                            + timedelta(hours=rnd + 1)),
                # plain text passes extraction unchanged (no markup)
                "html": text.encode("utf-8"),
                "text": text,
                "lang": pdf.at[i, "lang"],
            })
        rounds[rnd] = out
    urls = sorted({r["url"] for rows in rounds.values() for r in rows})
    id_of = dict(
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", doc_id_expr("host_locality").alias("d")).collect()
    )
    ids = {rnd: {id_of[r["url"]] for r in rows} for rnd, rows in rounds.items()}
    return rounds, ids


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from importpipeline_spark.index import segments, serve, store, wand
    from importpipeline_spark.index.pagesgen import PAGES_SCHEMA
    from importpipeline_spark.text.tokenizer import tokenize_scalar

    spark = ctx.spark
    idx = os.path.join(ctx.work, "index")
    pages_path = ctx.pages_path
    pages = spark.read.parquet(pages_path)

    t_build0 = time.time()
    t0 = time.perf_counter()
    store.write_index(spark, pages, idx, n_shards=common.SHARDS_PER_CORE
                      * common.n_cores(), write_docs=True,
                      doc_id_mode="host_locality")
    build_s = time.perf_counter() - t0
    t_build1 = time.time()
    ctx.phase("index built")
    stats0 = common.read_stats(idx)
    build_index_bytes = common.index_bytes(idx)

    evalq = [q for _, q in QueryPool(idx).one_per_class(ctx.seed)]
    t_batch0 = time.time()
    t0 = time.perf_counter()
    batch_rows = wand.bm25_topk_wand_batch(
        spark, store.open_index(idx), list(enumerate(evalq)), k=K).collect()
    batch_s = time.perf_counter() - t0
    t_batch1 = time.time()
    s = serve.LocalSearcher(idx)
    searcher_eval = [s.search(q, k=K) for q in evalq]

    if ctx.tracer is not None:
        ctx.batch_spans = ctx.tracer.self_times()[0]
    n_pairs = max(1, round(ctx.seconds / PAIR_SECONDS))
    rounds, batch_ids = _plan_batches(spark, pages_path, ctx.seed, n_pairs)

    def apply(rnd: int):
        """One update call, reopen and marker read → (update s, reopen s,
        freshness s, bytes written per doc), or None when it raised."""
        rows = rounds[rnd]
        df = spark.createDataFrame(rows, PAGES_SCHEMA)
        before = common.file_table(idx)
        t0 = time.perf_counter()
        try:
            segments.update_index(spark, idx, df, run_id=f"u{rnd}",
                                  input_snapshot=f"s{rnd}",
                                  strategy="delta", compact_after=None)
            t1 = time.perf_counter()
            s = serve.LocalSearcher(idx)
            t2 = time.perf_counter()
            got = s.search(_marker(ctx.seed, rnd), k=K)
            t3 = time.perf_counter()
        except Exception as e:
            ctx.note(f"update round {rnd} raised {e!r}")
            ctx.attempted += 1
            ctx.failed += 1
            return None
        applied.append(rnd)
        wamp = (common.bytes_written(before, common.file_table(idx))
                / max(1, len(rows)))
        # read-after-write: the marker query answers exactly min(K,
        # batch) docs, every one of them from this batch
        ctx.check(len(got) == min(K, len(rows))
                  and all(d in batch_ids[rnd] for d, _ in got),
                  f"round {rnd}: marker query missed the batch")
        return t1 - t0, t2 - t1, t3 - t0, wamp

    applied = []
    apply(0)
    ctx.end_setup()

    if ctx.tracer is not None:
        ctx.tracer.reset()
    t_meas = time.perf_counter()
    done = [r for r in map(apply, range(1, 2 * n_pairs + 1)) if r]
    meas_wall = time.perf_counter() - t_meas
    t_meas_wall1 = time.time()
    rss = common.rss_mb()
    upd_s, reopen_s, fresh_s, wamp = (list(c) for c in zip(*done))
    docs_upd = sum(len(rounds[r]) for r in applied if r)
    ctx.phase(f"measured {len(upd_s)} updates")
    ctx.note("update_index seconds per call: "
             + " ".join(f"{x:.2f}" for x in upd_s))
    if ctx.tracer is not None:
        layers, roots = ctx.tracer.self_times()
        ctx.overhead_layer(len(upd_s))
        decode_calls = ctx.tracer.counts["index.codec.varint_decode_calls"]
    live_gens = len(common.read_stats(idx).get("delta_gens") or [])

    before = common.file_table(idx)
    t0 = time.perf_counter()
    segments.compact_deltas(spark, idx, run_id="compact")
    compact_s = time.perf_counter() - t0
    compact_bytes = common.bytes_written(before, common.file_table(idx))
    ctx.phase("compacted")

    # the corpus the index now holds: every url at its newest version
    latest = {}
    for r in applied:
        for row in rounds[r]:
            latest[row["url"]] = row
    base = pages.where(~F.col("url").isin(list(latest))) if latest else pages
    current = base.unionByName(
        spark.createDataFrame(list(latest.values()), PAGES_SCHEMA))
    text_bytes = (common.text_bytes(pages_path, set(latest))
                  + sum(len(r["text"].encode("utf-8")) for r in latest.values()))

    ctx.e2e("op_p50_ms", common.median(fresh_s) * 1e3)
    ctx.e2e("items_per_s", docs_upd / sum(upd_s))
    ctx.e2e("rss_mb", rss)
    ctx.e2e("index_bytes_per_text_byte", common.index_bytes(idx) / text_bytes)
    ctx.report("update_p50_s", common.median(upd_s), "s", "lower")
    ctx.report("freshness_p50_s", common.median(fresh_s), "s", "lower")
    ctx.report("compact_s", compact_s, "s", "lower")
    ctx.report("update_rounds", len(upd_s), "count", "higher")
    ctx.report("build_docs_per_s", N_PAGES / build_s, "1/s", "higher")
    ctx.report("batch_query_s", batch_s, "s", "lower")
    ctx.report("build_index_bytes_per_text_byte",
               build_index_bytes / common.text_bytes(pages_path), "B/B",
               "lower")

    if ctx.tracer is not None:
        # update_index's own time outside the named helpers is snapshot
        # classification + extraction of the changed pages
        layers["index.segments.classify"] = layers.pop(
            "index.segments.update", 0.0)
        ctx.layer_spans(layers, roots, meas_wall)
        ctx.layer("index.codec.decode_block_calls", decode_calls // 2)
        ctx.layer("index.deltas.live_gens", live_gens)
        ctx.layer("index.deltas.bytes_written_per_update_doc",
                  common.median(wamp))
        ctx.layer("index.segments.compact_bytes_rewritten", compact_bytes)
        ctx.layer("index.serve.open_s", common.median(reopen_s))
        ctx.build_layers(t_build0, t_build1)
        bst = ctx.stages.collect(t_batch0, t_batch1)
        from spans import kernel_task_s

        ctx.layer("index.wand.batch_kernel_cpu_s", kernel_task_s(bst))
        ctx.layer("index.wand.lookup_idf_s", ctx.batch_spans.get(
            "index.wand.lookup_idf", 0.0))
        ctx.layer("index.wand.pruned_reads_s", ctx.batch_spans.get(
            "index.wand.pruned_reads", 0.0))
        ctx.store_layers(idx)
        ctx.sample_layers(pages_path)
        ctx.spark_counts(t_meas_wall1)

    # correctness
    texts = common.read_parquet_dir(pages_path, ["text"])["text"]
    ctx.check(stats0["n_docs"] == len(texts), "stats.json n_docs != pages")
    want_tokens = sum(len(tokenize_scalar(t) or []) for t in texts)
    ctx.check(stats0["total_tokens"] == want_tokens,
              "stats.json total_tokens != tokens of the pages")
    got_batch = {}
    for r in batch_rows:
        got_batch.setdefault(r.query_id, []).append((r["rank"], r.doc_id,
                                                     r.score))
    for qi, want in enumerate(searcher_eval):
        got = [(d, sc) for _, d, sc in sorted(got_batch.get(qi, []))]
        ctx.check(common.same_topk(got, want),
                  f"batch != searcher for {evalq[qi]!r}")
    checks = evalq + ([_marker(ctx.seed, applied[-1])] if applied else [])
    want = common.oracle_topk(spark, current, checks, K)
    s = serve.LocalSearcher(idx)
    for q, w in zip(checks, want):
        ctx.check(common.same_topk(s.search(q, k=K), w),
                  f"after compaction {q!r} != oracle")
