"""``util.superstep``, which runs every iterative query: one staging
write per round, convergence read from an ``Observation`` on that write
(no probe job), ``done`` tested on round 0, fixpoint guards that raise,
and staged rounds owned by the caller's ``scratch.scope()``."""

import os
import uuid
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from ocr_to_csv_spark import scratch
from ocr_to_csv_spark.functions.util import hash_min_fixpoint, superstep
from tests.test_plan_audit import SF


def _path(spark, n):
    """Symmetric edges (a, b) of the path 0-1-...-(n-1) and labels
    (cid, lbl) with lbl = 10 + cid, so the fixpoint labels every node 10."""
    pairs = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "a long, b long"
    )
    labels = spark.createDataFrame(
        [(i, 10 + i) for i in range(n)], "cid long, lbl long"
    )
    return edges, labels


def _min_label(edges):
    """One-hop min-label step keeping the previous label as ``old``."""

    def step(state, _r):
        nb = (
            edges.join(state.select(F.col("cid").alias("a"), "lbl"), "a")
            .groupBy("b")
            .agg(F.min("lbl").alias("mn"))
        )
        return state.join(nb, state.cid == nb.b, "left").select(
            "cid",
            F.col("lbl").alias("old"),
            F.least("lbl", F.coalesce("mn", F.col("lbl"))).alias("lbl"),
        )

    return step


def _converged(h):
    return len(h) > 1 and not h[-1]["changed"]


def _executions(spark):
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {
        ex.apply(i).executionId(): ex.apply(i).physicalPlanDescription()
        for i in range(ex.size())
    }


def test_fixpoint_runs_one_write_per_round_and_no_probe(spark):
    edges, labels = _path(spark, 6)
    with scratch.scope():
        seen = set(_executions(spark))
        state, hist = superstep(
            labels.withColumn("old", F.col("lbl")),
            _min_label(edges),
            20,
            metrics={"changed": F.sum((F.col("lbl") != F.col("old")).cast("long"))},
            done=_converged,
        )
        new = {k: v for k, v in _executions(spark).items() if k not in seen}
        # 5 rounds carry the label 10 to node 5; the 6th changes nothing
        assert len(hist) == 7
        assert len(new) == len(hist)
        assert all("InsertIntoHadoopFsRelationCommand" in v for v in new.values())
        assert {r.lbl for r in state.collect()} == {10}


def test_done_on_round_zero_runs_no_step(spark):
    def step(state, r):
        raise AssertionError(f"step {r} ran on a converged state")

    with scratch.scope():
        state, hist = superstep(
            spark.range(3),
            step,
            5,
            metrics={"n": F.count(F.lit(1))},
            done=lambda h: h[-1]["n"] == 3,
        )
        assert hist == [{"n": 3}]
        assert state.count() == 3


def test_history_matches_each_rounds_count(spark):
    seen = []

    def step(state, r):
        seen.append(state)
        return state.filter(F.col("id") % (r + 1) != 0)

    with scratch.scope():
        state, hist = superstep(
            spark.range(1, 40),
            step,
            4,
            metrics={"n": F.count(F.lit(1)), "s": F.sum("id")},
        )
        assert len(hist) == 5  # fixed horizon: round 0 + 4 steps
        counts = [df.count() for df in seen + [state]]
        sums = [df.agg(F.sum("id")).collect()[0][0] for df in seen + [state]]
        assert [h["n"] for h in hist] == counts
        assert [h["s"] for h in hist] == sums


def test_staged_rounds_die_with_the_enclosing_scope(spark):
    seen = []

    def step(state, _r):
        seen.append(state)
        return state.filter(F.col("id") > 1)

    with scratch.scope():
        state, _ = superstep(spark.range(5), step, 3)
        dirs = {
            os.path.dirname(urlparse(f).path)
            for df in seen + [state]
            for f in df.inputFiles()
        }
        assert len(dirs) == 4 and all(os.path.isdir(d) for d in dirs)
    assert not any(os.path.exists(d) for d in dirs)


def test_exhausted_fixpoint_guard_raises(spark):
    """One sweep cannot carry the minimum across a 6-node path; the
    guard must fail loudly instead of returning unconverged labels."""
    edges, labels = _path(spark, 6)
    with scratch.scope():
        with pytest.raises(RuntimeError, match="no fixpoint"):
            hash_min_fixpoint(edges, labels, max_sweeps=1).collect()
        got = hash_min_fixpoint(edges, labels).collect()
    assert sorted((r.cid, r.lbl) for r in got) == [(i, 10) for i in range(6)]


# job-group job counts of the hand-written loops these queries ran
# before they moved onto superstep (sf0.001, this suite's session)
JOBS_BEFORE = {
    "dedup_clusters": 28,
    "k_truss": 34,
    "luby_mis": 80,
    "greedy_coloring": 184,
}
# queries whose loops already ran few probes: they must not get worse
JOBS_CAP = {"cascade_spread": 33, "redirect_resolve": 19, "hash_walks": 41}


def test_iterative_queries_run_fewer_jobs(spark):
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    sc = spark.sparkContext
    got = {}
    for name in [*JOBS_BEFORE, *JOBS_CAP]:
        group = f"superstep-{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            with scratch.scope():
                qs[name](spark, SF).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    worse = {k: (got[k], v) for k, v in JOBS_BEFORE.items() if got[k] >= v}
    worse.update({k: (got[k], v) for k, v in JOBS_CAP.items() if got[k] > v})
    assert not worse, f"(jobs now, jobs before): {worse}"
