"""Headline benchmark (driver contract): one JSON line on stdout.

Measures (a) end-to-end extraction throughput (documents/sec) on the
deterministic synthetic interleaved corpus — the BASELINE.json target
metric — and (b) the headline relational/training-data queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

Every timing is the MIN over SPARK_GRAFT_BENCH_REPS (default 3)
back-to-back runs: this host has bursty co-tenant CPU steal (±40% on
identical runs — BENCH.md), so a single sample is noise; min-of-N is the
closest observable to true engine cost.

Env:
  SPARK_GRAFT_SF_DIR   sf dir for relational queries (default sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  SPARK_GRAFT_BENCH_DOCS  corpus size for the extraction bench (default
                          2560 — large enough that per-job serial floor
                          (~6 s of AQE stage barriers + staging commits
                          at local[32]) stops dominating docs/sec; the
                          floor is fixed cost, so throughput at this
                          size is the number that extrapolates)
  SPARK_GRAFT_BENCH_REPS  repetitions per timing, min taken (default 3)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _corpus(n_docs: int, seed: int = 42) -> str:
    d = f"/tmp/ocr2csv_bench_corpus_{n_docs}_{seed}"
    from ocr_to_csv_spark.datagen.gen import corpus_is_current, write_corpus

    if not corpus_is_current(d):
        import shutil

        shutil.rmtree(d, ignore_errors=True)
        write_corpus(d, n_docs, seed=seed)
    return d


def _contention_probe() -> dict:
    """Forensics for the r4 orphan-JVM pollution: the driver's bench read
    170 docs/s while exclusive-host runs read 205.7 because two stray
    debug JVMs were burning cores. Sample (a) every OTHER live JVM /
    Spark process (excluding this process's own children — the bench's
    driver JVM is a child) with its CPU share, and (b) the host CPU
    steal fraction over a 1 s window, so the emitted numbers carry their
    own contamination evidence."""
    import subprocess

    me = os.getpid()
    procs: list[dict] = []
    try:
        out = subprocess.run(
            ["ps", "-eo", "pid,ppid,pcpu,comm,args"],
            capture_output=True, text=True, timeout=10,
        ).stdout
        rows = []
        parent = {}
        for line in out.splitlines()[1:]:
            parts = line.split(None, 4)
            if len(parts) < 5:
                continue
            pid, ppid, pcpu, comm, args = parts
            parent[int(pid)] = int(ppid)
            rows.append((int(pid), float(pcpu), comm, args))

        def _mine(pid: int) -> bool:  # in this process's descendant tree
            seen = 0
            while pid > 1 and seen < 64:
                if pid == me:
                    return True
                pid = parent.get(pid, 1)
                seen += 1
            return False

        for pid, pcpu, comm, args in rows:
            if _mine(pid):
                continue
            if ("java" in comm or "spark" in args.lower()) and pcpu > 5.0:
                procs.append(
                    {"pid": pid, "pcpu": pcpu, "cmd": args[:120]}
                )
    except Exception:
        pass
    steal = None
    try:
        def _steal():
            with open("/proc/stat") as f:
                p = f.readline().split()
            return int(p[8]), sum(int(x) for x in p[1:])

        s0, t0 = _steal()
        time.sleep(1.0)
        s1, t1 = _steal()
        steal = round((s1 - s0) / max(t1 - t0, 1), 4)
    except Exception:
        pass
    return {
        "contended": bool(procs),
        "sibling_jvms": procs,
        "cpu_steal_frac": steal,
    }


def main() -> None:
    from ocr_to_csv_spark import scratch
    from ocr_to_csv_spark.extraction import pipeline
    from ocr_to_csv_spark.functions import (
        analytics,
        analytics2,
        curation,
        curation5,
        dataops,
        dedup,
        geoops,
        projops,
        relational,
        segmentops,
        similarity,
        spellops,
        statsops,
        statsops2,
        textops,
        compressops,
    )
    from ocr_to_csv_spark.session import get_spark, sf_dir

    sf = sf_dir()
    sf_label = sf.rstrip("/").rsplit("sf", 1)[-1]
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2560"))
    corpus = _corpus(n_docs)  # generated before timing starts

    probe_pre = _contention_probe()  # before our own JVM exists
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # -- warmup (untimed): JIT/codegen compile + Python worker pool spin-up
    # so timings below measure steady-state engine throughput, not JVM
    # warmup of whichever query happens to run first
    warm = _corpus(24, seed=7)
    wt = pipeline.load_corpus(spark, warm)
    with scratch.scope():
        pipeline.extract(spark, wt["documents"], wt["media"], wt["aliases"])[
            "spans"
        ].count()
    relational.q_pricing_summary(spark, sf).count()
    dedup.q_minhash_sig(spark, sf).count()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    # -- extraction throughput (the BASELINE.json headline metric) --------
    tabs = pipeline.load_corpus(spark, corpus)
    extract_sec = float("inf")
    for _ in range(reps):
        with scratch.scope():
            t0 = time.time()
            res = pipeline.extract(
                spark, tabs["documents"], tabs["media"], tabs["aliases"]
            )
            n_spans = res["spans"].count()
            extract_sec = min(extract_sec, time.time() - t0)
    timings["extract"] = round(extract_sec, 3)

    # -- relational / training-data headline queries ----------------------
    headline = {
        "pricing_summary": relational.q_pricing_summary,
        "broadcast_join": relational.q_broadcast_join,
        "window_dedup": relational.q_window_dedup,
        "explode_tokens": relational.q_explode_tokens,
        "quality_score": textops.q_quality_score,
        "fingerprint": textops.q_fingerprint,
        "minhash_sig": dedup.q_minhash_sig,
        "simhash": dedup.q_simhash,
        "cosine_topk": similarity.q_cosine_topk,
        "cosine_topk_fast": similarity.cosine_topk_fast,
        "cdc_chunks": curation.q_cdc_chunks,
        "dsir_weights": curation.q_dsir_weights,
        "quality_classifier": textops.q_quality_classifier,
        "bm25_topk": textops.q_bm25_topk,
        "lsh_incremental": dedup.q_lsh_incremental,
        "line_dedup": curation5.q_line_dedup,
        "pack_sequences": curation5.q_pack_sequences,
        "corr_matrix": analytics.q_corr_matrix,
        "dq_audit": dataops.q_dq_audit,
        "range_window": statsops.q_range_window,
        "theta_intersect": analytics2.q_theta_intersect,
        "pca_cov": analytics2.q_pca_cov,
        "ks_test": statsops2.q_ks_test,
        "auc_roc": projops.q_auc_roc,
        "rp_embed": projops.q_rp_embed,
        "geo_grid_join": geoops.q_geo_grid_join,
        "unigram_segment": segmentops.q_unigram_segment,
        "compress_ratio": compressops.q_compress_ratio,
        "symspell_correct": spellops.q_symspell_correct,
    }
    for name, fn in headline.items():
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            fn(spark, sf).count()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    probe_post = _contention_probe()  # JVMs that appeared mid-run
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf_label) if sf_label.replace(".", "").isdigit() else sf_label,
                "extract_docs_per_sec": round(n_docs / extract_sec, 2),
                "extract_docs": n_docs,
                "extract_spans": n_spans,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "contended": probe_pre["contended"] or probe_post["contended"],
                "contention_pre": probe_pre,
                "contention_post": probe_post,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
