#!/usr/bin/env python3
"""Repo benchmark: one workload per invocation, from the repo root.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Prints a report line (every workload metric with unit and better
direction) and, as the last line of stdout, one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = ("serve", "update")


def _spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


class Ctx:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, work: str, t_start: float):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.pages_path = os.path.join(work, "pages")
        self.t_start = t_start
        self.spark = None
        self.tracer = None
        self.stages = None
        self.shim_cost_s = (0.0, 0.0)  # (span shim, counting shim)
        self.batch_spans: dict = {}
        self.setup_s = None
        self.attempted = 0
        self.failed = 0
        self.end_to_end: dict = {}
        self.reports: dict = {}
        self.layers: dict = {}

    # -- results ---------------------------------------------------------
    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start
        self.phase("setup done")

    def phase(self, name: str) -> None:
        """Progress line on stderr: seconds since start, phase name."""
        print(f"perfbench: {time.perf_counter() - self.t_start:8.2f}s {name}",
              file=sys.stderr, flush=True)

    def note(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr)

    def check(self, ok: bool, msg: str) -> None:
        """One verified operation; a wrong answer counts as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.note(f"check failed: {msg}")

    def e2e(self, name: str, value: float) -> None:
        self.end_to_end[name] = float(value)

    def report(self, name: str, value, unit: str, better: str) -> None:
        self.reports[name] = {"value": value, "unit": unit, "better": better}

    def layer(self, name: str, value) -> None:
        self.layers[name] = value

    # -- traced-run helpers ------------------------------------------------
    def layer_spans(self, self_times: dict, roots_s: float, wall_s: float):
        """Layer self times from the span tree plus the coverage check:
        root spans (the top-level layers) must cover ~all of the measured
        wall time; the remainder is reported as unattributed."""
        for name, sec in self_times.items():
            self.layer(f"{name}_s", sec)
        self.layer("trace.wall_s", wall_s)
        self.layer("trace.unattributed_s", wall_s - roots_s)
        cov = roots_s / wall_s if wall_s else 0.0
        self.layer("trace.coverage_frac", cov)
        if abs(1.0 - cov) > 0.10:
            self.note(f"layer coverage {cov:.3f} is outside 1 ± 0.10")

    def build_layers(self, t0: float, t1: float) -> None:
        from spans import build_layers

        for k, v in build_layers(self.stages.collect(t0, t1)).items():
            self.layer(k, v)

    def spark_counts(self, t1: float) -> None:
        """Spark jobs and tasks from session start to wall time ``t1``
        (the end of measurement): setup builds plus any measured jobs."""
        st = self.stages.collect(0.0, t1)
        self.layer("spark.jobs", self.stages.jobs_in(0.0, t1))
        self.layer("spark.tasks", sum(s["numCompleteTasks"] for s in st))

    def overhead_layer(self, n_ops: int) -> None:
        """Tracing overhead per measured operation, estimated from the
        shims that fired (spans and counters) times their calibrated cost."""
        span_s, count_s = self.shim_cost_s
        cost = (len(self.tracer.spans) * span_s
                + sum(self.tracer.counts.values()) * count_s)
        self.layer("trace.overhead_ms", cost * 1e3 / max(1, n_ops))

    def store_layers(self, root: str) -> None:
        import common
        from importpipeline_spark.index.codec import BLOCK_SIZE

        for t in ("postings", "doclen", "docs", "terms", "termdf"):
            p = os.path.join(root, t)
            self.layer(f"index.store.{t}_bytes",
                       common.tree_bytes(p) if os.path.isdir(p) else 0)
        n = common.read_parquet_dir(os.path.join(root, "postings"), ["n"])["n"]
        self.layer("index.store.block_rows", int(len(n)))
        self.layer("index.store.block_occupancy_mean",
                   float(n.mean()) / BLOCK_SIZE if len(n) else 0.0)

    def sample_layers(self, pages_path: str, n: int = 200) -> None:
        """In-process extraction and tokenization cost per KB on the first
        ``n`` generated pages (a seeded sample: pages derive from the seed)."""
        import common
        from importpipeline_spark.html.htmltext import html_to_text
        from importpipeline_spark.text.tokenizer import tokenize_scalar

        pdf = common.read_parquet_dir(pages_path, ["html", "text"]).head(n)
        html = [bytes(h).decode("utf-8", errors="replace") for h in pdf["html"]]
        text = [t or "" for t in pdf["text"]]
        t0 = time.perf_counter()
        for h in html:
            html_to_text(h)
        ext = time.perf_counter() - t0
        t0 = time.perf_counter()
        for t in text:
            tokenize_scalar(t)
        tok = time.perf_counter() - t0
        self.layer("html.htmltext.extract_us_per_kb",
                   ext * 1e6 / (sum(map(len, html)) / 1024))
        self.layer("text.analysis.tokenize_us_per_kb",
                   tok * 1e6 / (sum(map(len, text)) / 1024))


def main() -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # per-process string-hash randomisation moves the serving path's
        # dict and set layouts, and with them its speed, by up to ~15% from
        # run to run; one fixed hash seed (the one Spark gives its Python
        # workers by default) takes that out of the run-to-run spread
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "importpipeline_spark")):
        print("perfbench: run from the repo root (importpipeline_spark/ "
              "not found)", file=sys.stderr)
        return 2
    spec = _spec()
    import common

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.prepare_env(root, work)
    sys.path.insert(0, root)
    ctx = Ctx(args, work, t_start)
    try:
        import spans as tr

        if args.trace:
            ctx.tracer = tr.Tracer()
            ctx.shim_cost_s = tr.shim_cost_s()
            tr.install_serve_shims(ctx.tracer)
            if args.workload == "update":
                tr.install_batch_shims(ctx.tracer)
                tr.install_update_shims(ctx.tracer)
        if args.workload == "serve":
            import workload_serve as wl
        else:
            import workload_update as wl
        # this process generates the seeded pages while the JVM starts
        with ThreadPoolExecutor(max_workers=1) as ex:
            gen = ex.submit(common.write_web_pages, ctx.pages_path,
                            wl.N_PAGES, args.seed)
            ctx.spark = common.start_spark(f"perfbench-{args.workload}",
                                           work, ui=bool(args.trace))
            gen.result()
        ctx.phase("spark session up, pages written")
        if args.trace:
            ctx.stages = tr.SparkStages(ctx.spark)
        wl.run(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if ctx.tracer is not None:
            ctx.tracer.unpatch()
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
            ctx.phase("spark stopped")
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    ctx.e2e("setup_s", ctx.setup_s)
    missing = [m["name"] for m in spec["end_to_end"]
               if m["name"] not in ctx.end_to_end]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    ctx.report("fail_frac", ctx.failed / max(1, ctx.attempted), "1", "lower")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    better = {m["name"]: m["better"]
              for m in spec["end_to_end"] + spec["per_layer"]}
    for name, v in ctx.end_to_end.items():
        ctx.report(name, v, units[name], better[name])
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": ctx.reports}))
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = ctx.layers if args.trace else ctx.end_to_end
    metrics = {}
    for m in wanted:
        # every per-layer metric is printed; one the workload never enters
        # (see the "traced on" column of README.md) did no work there and
        # reads 0
        metrics[m["name"]] = {"value": source.get(m["name"], 0),
                              "unit": m["unit"]}
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
