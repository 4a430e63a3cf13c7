"""End-to-end extraction benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from the seed
(cached under ``perfbench/.work``), starts a SparkSession on
``local[<cores>]``, runs one untimed warm-up pass, then timed passes back
to back until ``--seconds`` have passed (at least one). A pass is
``pipeline.extract()`` plus the workload's sinks, each written to
parquet. After each pass, outside its timed window, the sinks are read
back and checked against the goldens.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` enables the
Spark UI, puts a job group around every call into the program, reads job,
stage and SQL figures from the UI's REST API, adds one pass without job
groups to measure the tracing overhead, and replays the module kernels
single-threaded over the same inputs; it prints the per-layer metrics.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import concurrent.futures as cf
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import pandas as pd

import kernels
import proctree
import workloads
from checks import check_pass
from tracing import SparkRest, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
SINK_NAMES = ("spans", "rows", "csv", "review", "quarantine")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.task_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.shuffle_mb": "MB",
    "pipeline.udf_execs": "count",
    "pipeline.overhead_ratio": "ratio",
    **{f"sink.{s}_s": "s" for s in SINK_NAMES},
    **{f"sink.{s}_out": "count" for s in SINK_NAMES},
    **{f"codecs.decode_ms.{f}": "ms" for f in (
        "png", "jpeg_baseline", "jpeg_progressive", "gif", "bmp", "tiff",
        "webp")},
    "codecs.pages": "count",
    "pdf.extract_ms": "ms",
    "pdf.pages": "count",
    "segment.page_ms": "ms",
    "segment.cells": "count",
    "segment.dates": "count",
    "cells.correct_ms": "ms",
    "cells.date_ms": "ms",
    "cells.blank_frac": "ratio",
    "html_extract.parse_ms": "ms",
    "markdown.parse_ms": "ms",
    "latex.parse_ms": "ms",
    "html_extract.rows": "count",
    "kernel.core_s": "s",
    "proc.pyspark_procs": "count",
    "trace.overhead_s": "s",
}

MIN_PASSES = 1
LAST_PASS_START_S = 110  # no timed pass starts later into the run
STEAL_CONTENDED = 0.10  # CPU steal share above which a run is flagged


def _environment(cpus: int) -> None:
    """Run settings, fixed before pyspark or the program is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        # get_spark defaults to local[32] and 32 shuffle partitions; keep
        # its one partition per core at the cores this host has
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,  # the pipeline's staging directories
        # the Python workers must import the program from this checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    tempfile.tempdir = None


def _steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]), sum(int(x) for x in cpu[1:])


class Run:
    """One session running one workload's passes."""

    def __init__(self, name: str, corpus: str, traced: bool) -> None:
        self.wl = workloads.WORKLOADS[name]
        self.corpus = corpus
        self.traced = traced
        self.tracer = Tracer()
        self.out = os.path.join(WORK, "out", name)
        self.expected_spans = pd.read_parquet(
            os.path.join(corpus, "expected_spans.parquet"))
        self.expected_rows = pd.read_parquet(
            os.path.join(corpus, "expected_rows.parquet"))
        self.spark = self.tabs = self.rest = None

    def start(self) -> None:
        from ocr_to_csv_spark.extraction import pipeline
        from ocr_to_csv_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.enabled": str(self.traced).lower(),
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            })
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.load"):
            self.tabs = pipeline.load_corpus(self.spark, self.corpus)
        if self.traced:
            self.rest = SparkRest(self.spark.sparkContext.uiWebUrl)

    def one_pass(self, pass_id: int, grouped: bool) -> dict:
        """Run pass ``pass_id``, then check its sinks. With ``grouped``, each
        call runs under its own job group and the pass's REST figures are
        read after it."""
        from ocr_to_csv_spark.extraction import pipeline

        sc = self.spark.sparkContext
        groups: set[str] = set()

        def call(name: str):
            if grouped:
                group = f"p{pass_id}.{name}"
                sc.setJobGroup(group, group)
                groups.add(group)
            return self.tracer.span(name)

        rec: dict = {"pass": pass_id, "grouped": grouped}
        window0, cpu0 = time.time(), proctree.cpu_seconds(os.getpid())
        try:
            with self.tracer.span("pass", pass_id) as span:
                with call("pipeline.extract") as ext:
                    res = pipeline.extract(self.spark, self.tabs["documents"],
                                           self.tabs["media"], self.tabs["aliases"])
                for sink in self.wl.sinks:
                    df = (pipeline.to_csv_strings(res["rows"]) if sink == "csv"
                          else res[sink])
                    with call(f"sink.{sink}") as s:
                        df.write.mode("overwrite").parquet(
                            os.path.join(self.out, sink))
                    rec[f"sink.{sink}_s"] = s.duration
        except Exception as e:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            rec.update(ok=False, problems=[f"{type(e).__name__}: {e}"[:500]])
            return rec
        finally:
            if grouped:
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(wall_s=span.duration,
                   cpu_s=proctree.cpu_seconds(os.getpid()) - cpu0,
                   **{"pipeline.extract_s": ext.duration})
        if grouped:
            figs = self.rest.pass_figures(groups, (window0, time.time()))
            rec.update({f"pipeline.{k}": v for k, v in figs.items()})
        sinks = {s: pd.read_parquet(os.path.join(self.out, s))
                 for s in self.wl.sinks}
        rec.update({f"sink.{s}_out": len(df) for s, df in sinks.items()})
        rec["problems"] = check_pass(sinks, self.expected_spans,
                                     self.expected_rows)
        rec["ok"] = not rec["problems"]
        return rec

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for every process they
        started to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        started = proctree.descendants(os.getpid())
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 15
        while True:
            alive = [p for p in started if os.path.exists(f"/proc/{p}")]
            if not alive:
                return
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = float("inf")
            time.sleep(0.1)


def _median(passes: list[dict], key: str) -> float:
    vals = [p[key] for p in passes if key in p]
    return statistics.median(vals) if vals else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_run = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "ocr_to_csv_spark", "__init__.py")):
        print(f"perfbench: no ocr_to_csv_spark package in {ROOT}; run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _environment(cpus)
    # a run stopped from outside still stops the JVM and the workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    import bench

    corpus = workloads.prepare(WORK, args.workload, args.seed, workers=cpus)
    run = Run(args.workload, corpus, traced=bool(args.trace))
    n_docs = run.wl.docs
    passes: list[dict] = []
    # each probe samples CPU steal for a second: run them beside the
    # session start and the session stop instead of in series
    with (cf.ThreadPoolExecutor(max_workers=1) as probes,
          proctree.Sampler(os.getpid()) as sampler):
        probe_pre = probes.submit(bench._contention_probe)
        try:
            run.start()
            warmup = run.one_pass(0, grouped=False)
            steal0, t0 = _steal_ticks(), time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t0 < args.seconds):
                if passes and time.perf_counter() - t_run > LAST_PASS_START_S:
                    break
                passes.append(run.one_pass(len(passes) + 1, grouped=run.traced))
            steal1 = _steal_ticks()
            if run.traced:
                plain = run.one_pass(len(passes) + 1, grouped=False)
                kernel = kernels.replay(corpus, run.tracer)
        finally:
            probe_post = probes.submit(bench._contention_probe)
            run.stop()
    probe_pre, probe_post = probe_pre.result(), probe_post.result()

    everything = [warmup] + passes + ([plain] if run.traced else [])
    failed = sum(not p["ok"] for p in everything)
    good = [p for p in passes if p["ok"]] or passes
    t = run.tracer
    warmup_s = warmup.get("wall_s", 0.0)
    setup_s = t.total("session.start") + t.total("session.load") + warmup_s
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    detail = {
        "workload": args.workload, "seed": args.seed, "docs": n_docs,
        "cpus": cpus, "trace": args.trace, "passes": len(passes),
        "pass_wall_s": [round(p.get("wall_s", 0), 3) for p in passes],
        "fail_frac": failed / len(everything),
        "problems": [q for p in everything for q in p["problems"]][:10],
        "steal_frac": round(steal, 4),
        "contended": (probe_pre["contended"] or probe_post["contended"]
                      or steal > STEAL_CONTENDED),
        "contention_pre": probe_pre, "contention_post": probe_post,
        "peak_rss_split_mb": sampler.peak_split_mb,
    }
    if run.traced:
        layer = {k: _median(good, k) for k in PER_LAYER if k.startswith(
            ("pipeline.", "sink."))}
        layer.update(kernel)
        layer.update({
            "session.start_s": t.total("session.start"),
            "session.warmup_s": warmup_s,
            "pipeline.overhead_ratio":
                layer["pipeline.task_s"] / max(kernel["kernel.core_s"], 1e-9),
            "proc.pyspark_procs": sampler.peak_pyspark_procs,
            "trace.overhead_s": _median(good, "wall_s") - plain.get("wall_s", 0),
        })
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        wall = _median(good, "wall_s")
        values = {
            "docs_per_s": n_docs / wall if wall else 0.0,
            "cpu_s": _median(good, "cpu_s"),
            "setup_s": setup_s,
            "peak_rss_mb": sampler.peak_rss_bytes / 2**20,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    stamp = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{stamp}.json"), "w") as f:
        json.dump({"detail": detail, "passes": everything, "metrics": metrics}, f)
    t.dump(os.path.join(WORK, "results", f"{stamp}-spans.json"))
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": len(everything),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
