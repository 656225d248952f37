"""Plumbing shared by the workloads: machine sizing, the Spark session,
seeded inputs, on-disk sizes and small statistics helpers.

Everything here calls the engine only through its public entry points
(``importpipeline_spark.session.get_spark``, ``pagesgen.gen_page``, the
index writers); nothing in the engine is modified.
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import subprocess

import pyarrow.parquet as pq

# doc-range shards per index: two per core keeps every stage of the build
# and update busy on local[nproc] without drowning a few-thousand-page
# corpus in tiny files and task launches
SHARDS_PER_CORE = 2


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Process-wide settings that must exist before the JVM and the Python
    workers start: workers import the engine from ``root`` (without
    PYTHONPATH they fail with ModuleNotFoundError when the benchmark runs
    from outside the repo root), and every scratch file lands in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    # session.get_spark defaults the Spark driver heap to 48g, more than a small
    # machine has
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit starts to build the Spark driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def start_spark(app: str, work: str, ui: bool):
    """local[nproc] session; the Spark UI (and its REST API) only when
    ``ui`` — the traced run reads stage metrics from it."""
    from importpipeline_spark.session import get_spark

    cores = n_cores()
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.port": "0",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
    }
    spark = get_spark(app, cores=cores, shuffle_partitions=2 * cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # the gateway exits on EOF of its stdin
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# pages per crawl segment taken into a corpus: every segment is one host
# with its own topic and doc-length scale (pagesgen's web profile), so a
# corpus of many segments averages those draws out across seeds
SEG_ROWS = 100


def segment_rows(seed: int, n_rows: int) -> list[int]:
    """Seeded row ids of a corpus: the first SEG_ROWS rows of
    n_rows / SEG_ROWS crawl segments. Segments are drawn from the seed,
    stratified on their doc-length scale (the web profile's largest
    per-segment effect: lognormal, sigma 0.7), so every seed's corpus has
    the same spread of host sizes while its hosts, topics and pages
    differ."""
    from statistics import NormalDist

    import numpy as np

    from importpipeline_spark.index.pagesgen import _SEG_DOCS, _seg_params

    n_seg = max(1, n_rows // SEG_ROWS)
    rng = np.random.default_rng([seed, 0x5E6])
    cand = [int(c) for c in rng.choice(1 << 20, size=16 * n_seg,
                                       replace=False)]
    log_scale = {c: math.log(_seg_params(seed, c)["dl_scale"]) for c in cand}
    chosen = []
    for i in range(n_seg):
        target = 0.7 * NormalDist().inv_cdf((i + 0.5) / n_seg)
        best = min(cand, key=lambda c: (abs(log_scale[c] - target), c))
        cand.remove(best)
        chosen.append(best)
    return [s * _SEG_DOCS + j for s in sorted(chosen) for j in range(SEG_ROWS)]


def write_web_pages(path: str, n_rows: int, seed: int) -> None:
    """Seeded web-profile pages from the engine's generator
    (``pagesgen.gen_page``, the per-row function behind ``write_pages``)
    for the rows of ``segment_rows``, written by this process as one parquet
    file per core so the scan splits across every core. Runs without
    Spark, so it can overlap the JVM start."""
    import pyarrow as pa

    from importpipeline_spark.index.pagesgen import gen_page

    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    ids = segment_rows(seed, n_rows)
    parts = n_cores()
    for p in range(parts):
        rows = [gen_page(i, seed, "web") for i in ids[p::parts]]
        table = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{p:05d}.parquet"))


def read_parquet_dir(path: str, columns=None):
    import pandas as pd

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                             recursive=True))
    parts = [pq.read_table(f, columns=columns).to_pandas() for f in files]
    return pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        columns=columns)


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def file_table(path: str) -> dict:
    """{relative path: (inode, size, mtime_ns)} of every file under path —
    diffing two tables gives the bytes a step wrote (hard-linked
    copy-on-write files keep their inode and count as unwritten)."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_ino, st.st_size,
                                             st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(v[1] for k, v in after.items() if before.get(k) != v)


def index_bytes(root: str) -> int:
    """On-disk bytes of an index excluding its ``docs`` table."""
    docs = os.path.join(root, "docs")
    return tree_bytes(root) - (tree_bytes(docs) if os.path.isdir(docs) else 0)


def text_bytes(pages_path: str, skip=frozenset()) -> int:
    """UTF-8 bytes of the pages' extracted text, urls in ``skip`` left out
    (the generator's golden ``text`` column, which extraction reproduces
    byte for byte)."""
    t = read_parquet_dir(pages_path, ["url", "text"])
    return int(sum(len(x.encode("utf-8")) for u, x in zip(t["url"], t["text"])
                   if x and u not in skip))


def read_stats(root: str) -> dict:
    with open(os.path.join(root, "stats.json")) as f:
        return json.load(f)


def rss_mb() -> float:
    """Resident set of this process now (the serving process)."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS missing from /proc/self/status")


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]) of a non-empty sample."""
    s = sorted(values)
    return float(s[max(0, math.ceil(q * len(s)) - 1)])


def median(values) -> float:
    return float(statistics.median(values))


def same_topk(got, want, rel: float = 1e-9) -> bool:
    """Top-k lists of (doc_id, score) agree: same length, scores equal to
    ``rel`` (the DataFrame oracle sums a doc's term contributions in
    aggregation order, so its scores can differ from the engine's canonical
    term-ascending sum in the last ulp — the tolerance the repo's own oracle
    tests use), and the same doc ids rank by rank except that docs whose
    scores tie within ``rel`` may come in either order."""
    if len(got) != len(want):
        return False
    if not all(math.isclose(g[1], w[1], rel_tol=rel, abs_tol=1e-12)
               for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and math.isclose(want[j][1], want[i][1],
                                             rel_tol=rel, abs_tol=1e-12):
            j += 1
        if {d for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            return False
        i = j
    return True


def oracle_topk(spark, pages, queries, k: int) -> list:
    """Exhaustive DataFrame oracle (``search.bm25_topk_batch``, the batch
    form of ``bm25_topk_exhaustive``) over the logical index of ``pages``
    → one ranked [(doc_id, score)] list per query, in one Spark job."""
    from importpipeline_spark.index.build import build_logical_index
    from importpipeline_spark.index.search import bm25_topk_batch

    li = build_logical_index(pages, doc_id_mode="host_locality")
    rows = bm25_topk_batch(spark, li, list(enumerate(queries)), k=k).collect()
    out = [[] for _ in queries]
    for r in sorted(rows, key=lambda r: (r.query_id, r["rank"])):
        out[r.query_id].append((r.doc_id, r.score))
    li.docs.unpersist()
    li.tf.unpersist()
    return out
