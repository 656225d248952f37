"""Traced-run instrumentation, installed from the benchmark's own files.

``Tracer`` wraps module entry points of ``importpipeline_spark`` with
timing shims (spans: name, start, end, parent) and counting shims, and
computes each layer's self time. ``SparkStages`` reads Spark's own stage
metrics from the REST API of the Spark UI (enabled in the traced run
only) and groups the stages of a time window into layers by the physical
operators of the SQL execution that ran them.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from collections import Counter, defaultdict
from datetime import datetime


class Tracer:
    """Spans at layer boundaries plus call counters.

    A span's parent is the innermost open span of its own thread or, for a
    span opened in a helper thread the engine spawned, the innermost open
    span of the main thread — so concurrent children (e.g. delta staging
    and the docs merge of one update) nest under the call that forked
    them."""

    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent]
        self.counts: Counter = Counter()
        self._tls = threading.local()
        self._main = threading.main_thread().ident
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # -- recording -------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def wrap(self, fn, name: str):
        tracer = self

        def shim(*args, **kwargs):
            stack = tracer._stack()
            is_main = threading.get_ident() == tracer._main
            if stack:
                parent = stack[-1]
            elif not is_main and tracer._main_stack:
                parent = tracer._main_stack[-1]
            else:
                parent = None
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append([name, time.perf_counter(), None, parent])
            stack.append(idx)
            if is_main:
                tracer._main_stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.spans[idx][2] = time.perf_counter()
                stack.pop()
                if is_main:
                    tracer._main_stack.pop()

        shim.__wrapped__ = fn
        return shim

    def count(self, fn, name: str):
        counts = self.counts

        def shim(*args, **kwargs):
            counts[name] += 1
            return fn(*args, **kwargs)

        shim.__wrapped__ = fn
        return shim

    def patch(self, owner, attr: str, name: str, counting: bool = False):
        orig = getattr(owner, attr)
        setattr(owner, attr,
                self.count(orig, name) if counting else self.wrap(orig, name))
        self._patched.append((owner, attr, orig))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()

    # -- analysis --------------------------------------------------------
    def self_times(self) -> tuple[dict, float]:
        """→ ({layer: summed self seconds}, summed duration of root spans).

        Self time = span duration minus the union of its children's
        intervals (children of one span may overlap when they run in
        helper threads)."""
        kids = defaultdict(list)
        for _, s, e, parent in self.spans:
            if parent is not None and e is not None:
                kids[parent].append((s, e))
        out: dict = defaultdict(float)
        roots = 0.0
        for i, (name, s, e, parent) in enumerate(self.spans):
            if e is None:
                continue
            covered = _union_len([(max(a, s), min(b, e)) for a, b in kids[i]])
            out[name] += (e - s) - covered
            if parent is None:
                roots += e - s
        return dict(out), roots


def _union_len(iv) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def shim_cost_s(n: int = 20000) -> tuple[float, float]:
    """Measured cost of one span shim and of one counting shim around a
    no-op call → (span seconds, counter seconds)."""
    t = Tracer()
    bare = (lambda: None)

    def loop(fn) -> float:
        t0 = time.perf_counter()
        for _ in range(n):
            fn()
        return time.perf_counter() - t0

    base = loop(bare)
    span = loop(t.wrap(bare, "noop"))
    count = loop(t.count(bare, "noop"))
    return max(0.0, (span - base) / n), max(0.0, (count - base) / n)


def install_serve_shims(tr: Tracer) -> None:
    """Spans around the serving path: LocalSearcher.search → analyze_query,
    _make_shard_index (assemble), _sweep → decode_run/decode, _accumulate;
    plus a counter on the codec's varint decode (two per block decode)."""
    from importpipeline_spark.index import serve, wand

    tr.patch(serve.LocalSearcher, "search", "index.serve.search")
    tr.patch(serve, "analyze_query", "index.search.analyze_query")
    tr.patch(serve.LocalSearcher, "_make_shard_index", "index.serve.assemble")
    tr.patch(serve, "_sweep", "index.wand.sweep")
    tr.patch(wand._ShardIndex, "decode_run", "index.wand.decode")
    tr.patch(wand._ShardIndex, "decode", "index.wand.decode")
    tr.patch(wand, "_accumulate", "index.wand.accumulate")
    tr.patch(wand, "varint_decode", "index.codec.varint_decode_calls",
             counting=True)
    tr.patch(serve.LocalSearcher, "__init__", "index.serve.open")


def install_batch_shims(tr: Tracer) -> None:
    """Spans around the steps of bm25_topk_wand_batch that run in the
    calling process: the dictionary lookup and the pruned posting/doclen
    reads."""
    from importpipeline_spark.index import wand

    tr.patch(wand, "_lookup_idf", "index.wand.lookup_idf")
    tr.patch(wand, "_pruned_reads", "index.wand.pruned_reads")


def install_update_shims(tr: Tracer) -> None:
    """Spans around update_index and the helpers it calls by module
    attribute: recover, delta staging, docs copy-on-write merge, docs swap,
    delta commit, stats/dictionary refresh."""
    from importpipeline_spark.index import deltas, segments

    tr.patch(segments, "update_index", "index.segments.update")
    tr.patch(segments, "recover_update", "index.segments.recover")
    tr.patch(deltas, "stage_update_delta", "index.deltas.stage")
    tr.patch(segments, "_write_docs_tmp_cow", "index.segments.docs_cow")
    tr.patch(segments, "_swap_docs_under_marker", "index.segments.swap")
    tr.patch(segments, "_commit_delta_gen", "index.deltas.commit")
    tr.patch(segments, "_refresh_stats_terms", "index.segments.refresh")


# ---------------------------------------------------------------------------
# Spark stage metrics (REST API of the Spark UI)


def _ts(s: str) -> float:
    # e.g. "2026-10-16T17:27:34.470GMT"
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStages:
    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def collect(self, t0: float, t1: float) -> list[dict]:
        """Completed stages submitted in the wall-clock window [t0, t1]
        (``time.time()`` seconds), each tagged with ``nodes``: the physical
        operator names of the SQL execution(s) whose jobs ran it."""
        job_nodes: dict = defaultdict(set)
        for ex in self._get("sql?details=true&planDescription=false"
                            "&offset=0&length=100000"):
            names = {n["nodeName"] for n in ex.get("nodes", [])}
            for j in (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                      + ex.get("runningJobIds", [])):
                job_nodes[j] |= names
        stage_nodes: dict = defaultdict(set)
        for job in self._get("jobs"):
            for sid in job["stageIds"]:
                stage_nodes[sid] |= job_nodes.get(job["jobId"], set())
        out = []
        for st in self._get("stages?status=complete"):
            sub = st.get("submissionTime")
            if sub is None or not (t0 <= _ts(sub) <= t1):
                continue
            st["nodes"] = stage_nodes.get(st["stageId"], set())
            out.append(st)
        return out

    def jobs_in(self, t0: float, t1: float) -> int:
        return sum(
            1 for j in self._get("jobs")
            if j.get("submissionTime") and t0 <= _ts(j["submissionTime"]) <= t1
        )


def task_s(st: dict) -> float:
    """Summed task run time of a stage (s). A task blocked on its Python
    worker counts as running, so this includes the Arrow/pandas UDF time
    that executorCpuTime (JVM threads only) cannot see."""
    return st["executorRunTime"] / 1000.0


def build_layers(stages: list[dict]) -> dict:
    """write_index stage metrics grouped into layers."""
    out = {
        "index.build.fused_cpu_s": 0.0,
        "index.store.exchange_s": 0.0,
        "index.store.shuffle_bytes": 0,
        "index.store.encode_cpu_s": 0.0,
        "index.store.write_s": 0.0,
        "index.store.dictionary_s": 0.0,
    }
    for st in stages:
        nodes = st["nodes"]
        out["index.store.exchange_s"] += (
            st["shuffleWriteTime"] / 1e9 + st["shuffleFetchWaitTime"] / 1e3
        )
        out["index.store.shuffle_bytes"] += st["shuffleWriteBytes"]
        if ("MapInPandas" in nodes and st["inputBytes"] > 0
                and st["shuffleWriteBytes"] > 0):
            key = "index.build.fused_cpu_s"  # scan → fused UDF → exchange
        elif "FlatMapCoGroupsInPandas" in nodes:
            key = "index.store.encode_cpu_s"  # cogroup encode → postings
        elif "WriteFiles" in nodes and (
                {"HashAggregate", "ObjectHashAggregate"} & nodes):
            key = "index.store.dictionary_s"  # termdf sidecars + terms
        else:
            key = "index.store.write_s"  # docs/doclen writes, stats
        out[key] += task_s(st)
    return out


def kernel_task_s(stages: list[dict]) -> float:
    """Task time of the cogroup (WAND batch kernel) stages."""
    return sum(task_s(st) for st in stages
               if "FlatMapCoGroupsInPandas" in st["nodes"])
