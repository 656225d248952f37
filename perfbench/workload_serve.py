"""``serve``: one closed-loop client against an in-process LocalSearcher.

Setup: seeded web-profile pages (generated while the JVM starts) →
``write_index(doc_id_mode="host_locality")`` → seeded query stream from the
index vocabulary → a searcher answers a separate warm-up stream (code
paths, not the measured terms). Measurement:
passes of the same seeded stream, each against a freshly opened searcher, so
every pass has the same cold/warm term mix however fast the code runs; the
client sends the next query when the previous answer is back. No Spark job
runs while measuring. The traced run then also times the pretrain corpus
pipeline on a slice of the pages (``pretrain.py``), after the measurement.
"""

from __future__ import annotations

import os
import time

import common
import pretrain
from queries import CLASSES, QueryPool, cold_term_frac

N_PAGES = 4000
STREAM = 2400  # queries per pass
WARMUP = 60
K = 10


def run(ctx) -> None:
    from importpipeline_spark.index import serve, store
    from importpipeline_spark.index.search import analyze_query

    spark = ctx.spark
    idx = os.path.join(ctx.work, "index")
    pages = spark.read.parquet(ctx.pages_path)
    t_build0 = time.time()
    store.write_index(spark, pages, idx, n_shards=common.SHARDS_PER_CORE
                      * common.n_cores(), write_docs=False,
                      doc_id_mode="host_locality")
    t_build1 = time.time()
    ctx.phase("index built")
    pool = QueryPool(idx)
    stream = pool.stream(ctx.seed, STREAM)
    warm = serve.LocalSearcher(idx)
    for _, q in pool.stream(ctx.seed + 1_000_003, WARMUP):
        warm.search(q, k=K)
    del warm
    ctx.end_setup()

    if ctx.tracer is not None:
        ctx.tracer.reset()
    lat: dict = {c: [] for c in CLASSES}
    all_lat, opens = [], []
    blocks_dec = blocks_tot = post_dec = 0
    failed = 0
    t_meas = time.perf_counter()
    query_s = 0.0
    while True:
        t0 = time.perf_counter()
        s = serve.LocalSearcher(idx)
        opens.append(time.perf_counter() - t0)
        for cls, q in stream:
            t0 = time.perf_counter()
            try:
                s.search(q, k=K)
            except Exception as e:  # a failed query is counted, not fatal
                ctx.note(f"query {q!r} raised {e!r}")
                failed += 1
                continue
            dt = time.perf_counter() - t0
            query_s += dt
            lat[cls].append(dt)
            all_lat.append(dt)
            st = s.last_stats
            blocks_dec += st["blocks_decoded"]
            blocks_tot += st["blocks_total"]
            post_dec += st["postings_decoded"]
        if time.perf_counter() - t_meas >= ctx.seconds:
            break
    wall = time.perf_counter() - t_meas
    t_meas_wall1 = time.time()
    rss = common.rss_mb()
    ctx.phase("measured")
    ctx.attempted += len(all_lat) + failed
    ctx.failed += failed

    p50_ms = common.median(all_lat) * 1e3
    qps = len(all_lat) / query_s
    ctx.e2e("op_p50_ms", p50_ms)
    ctx.e2e("items_per_s", qps)
    ctx.e2e("rss_mb", rss)
    ctx.e2e("index_bytes_per_text_byte",
            common.index_bytes(idx) / common.text_bytes(ctx.pages_path))
    ctx.report("serve_p50_ms", p50_ms, "ms", "lower")
    ctx.report("serve_p99_ms", common.quantile(all_lat, 0.99) * 1e3, "ms",
               "lower")
    ctx.report("serve_qps", qps, "1/s", "higher")
    ctx.report("serve_rss_mb", rss, "MB", "lower")
    ctx.report("serve_queries", len(all_lat), "count", "higher")
    ctx.report("index_build_s", t_build1 - t_build0, "s", "lower")

    if ctx.tracer is not None:
        layers, roots = ctx.tracer.self_times()
        ctx.layer_spans(layers, roots, wall)
        ctx.layer("index.codec.decode_block_calls",
                  ctx.tracer.counts["index.codec.varint_decode_calls"] // 2)
        ctx.layer("index.wand.blocks_decoded_frac",
                  blocks_dec / blocks_tot if blocks_tot else 0.0)
        ctx.layer("index.wand.postings_decoded", post_dec)
        ctx.layer("serve.cold_term_frac",
                  cold_term_frac([q for _, q in stream], analyze_query))
        for c in CLASSES:
            ctx.layer(f"serve.p50_ms.{c}", common.median(lat[c]) * 1e3)
        ctx.layer("index.serve.open_s", common.median(opens))
        ctx.overhead_layer(len(all_lat) + failed)
        ctx.tracer.unpatch()
        ctx.build_layers(t_build0, t_build1)
        ctx.spark_counts(t_meas_wall1)
        ctx.store_layers(idx)
        ctx.sample_layers(ctx.pages_path)
        pretrain.run(ctx, pages)

    # correctness: a seeded sample, one query per class, rank-identical to
    # the exhaustive DataFrame oracle over the pages
    sample = pool.one_per_class(ctx.seed)
    want = common.oracle_topk(spark, pages, [q for _, q in sample], K)
    s = serve.LocalSearcher(idx)
    for (cls, q), w in zip(sample, want):
        ctx.check(common.same_topk(s.search(q, k=K), w),
                  f"serve {cls} {q!r} != oracle")
