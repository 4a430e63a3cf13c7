"""Batch 97: k-truss peel + hash-partition quality audit, each checked
against an independent pure-Python recomputation at sf0.001."""

import glob

import pandas as pd

SF = "/root/testdata/sf0.001"


def test_k_truss_matches_sequential_peel(spark):
    from ocr_to_csv_spark.functions.graphcut import (
        K_TRUSS,
        _py_truss,
        _py_truss_edges,
        q_k_truss,
    )

    edges = _py_truss_edges(SF)
    gold = _py_truss(edges, K_TRUSS)
    got = q_k_truss(spark, SF).collect()
    assert {(r.lo, r.hi): r.support for r in got} == gold
    assert 0 < len(got) < len(edges)


def test_k_truss_is_strictly_below_one_shot_flag(spark):
    """The strip's interior path edges pass the ONE-SHOT support≥K-2
    check (edge_support's in_truss semantics) but die under the true
    peel — the iterative operator must be strictly stronger here."""
    from ocr_to_csv_spark.functions.graphcut import (
        K_TRUSS,
        _py_truss_edges,
        q_k_truss,
    )

    edges = _py_truss_edges(SF)
    adj = {}
    for lo, hi in edges:
        adj.setdefault(lo, set()).add(hi)
        adj.setdefault(hi, set()).add(lo)
    one_shot = {
        e for e in edges if len(adj[e[0]] & adj[e[1]]) >= K_TRUSS - 2
    }
    kept = {(r.lo, r.hi) for r in q_k_truss(spark, SF).collect()}
    assert kept < one_shot


def test_k_truss_fixpoint_property(spark):
    """Every surviving edge sits in ≥ K-2 triangles OF THE SURVIVOR
    subgraph — the defining (and uniqueness-giving) invariant."""
    from ocr_to_csv_spark.functions.graphcut import K_TRUSS, q_k_truss

    got = q_k_truss(spark, SF).collect()
    adj = {}
    for r in got:
        adj.setdefault(r.lo, set()).add(r.hi)
        adj.setdefault(r.hi, set()).add(r.lo)
    for r in got:
        sup = len(adj[r.lo] & adj[r.hi])
        assert sup == r.support
        assert sup >= K_TRUSS - 2


def test_partition_quality_matches_python(spark):
    from ocr_to_csv_spark.functions.graphcut import N_PARTS, q_partition_quality
    from ocr_to_csv_spark.functions.linkpred import _py_undirected_edges

    edges = _py_undirected_edges(SF)
    m = len(edges)
    cut = sum(1 for lo, hi in edges if lo % N_PARTS != hi % N_PARTS)
    deg_mass = {}
    for lo, hi in edges:
        deg_mass[lo % N_PARTS] = deg_mass.get(lo % N_PARTS, 0) + 1
        deg_mass[hi % N_PARTS] = deg_mass.get(hi % N_PARTS, 0) + 1
    sum_d2 = sum(d * d for d in deg_mass.values())
    files = sorted(glob.glob(f"{SF}/documents.parquet")) or sorted(
        glob.glob(f"{SF}/documents.parquet/*.parquet")
    )
    ids = pd.concat(
        [pd.read_parquet(f, columns=["doc_id"]) for f in files]
    )["doc_id"].astype(int).tolist()
    per_part = {}
    for i in ids:
        per_part[i % N_PARTS] = per_part.get(i % N_PARTS, 0) + 1
    r = q_partition_quality(spark, SF).collect()[0]
    assert r.m == m
    assert r.cut_edges == cut
    assert r.intra_edges == m - cut
    assert r.sum_d2 == sum_d2
    assert r.q_num == 4 * m * (m - cut) - sum_d2
    assert r.q_den == 4 * m * m
    assert r.q == r.q_num / r.q_den
    assert r.imbalance_milli == (
        max(per_part.values()) * N_PARTS * 1000 // len(ids)
    )
    # hash sharding of a modular graph keeps few edges local: Q ≈ 0
    assert abs(r.q) < 0.2
