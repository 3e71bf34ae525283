"""Single-task closure fast path (r6, closure.py::_closure_kernel).

The fast path must be output-identical to the distributed doubling loop on
every graph shape, fall back to the distributed loop when its pair cap
overflows, and handle non-integer node ids (factorize densification).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from zelph_spark import closure


def _pairs(spark, pairs):
    return spark.createDataFrame(pd.DataFrame(pairs, columns=["subj", "obj"]))


GRAPHS = {
    "chain": [(i, i + 1) for i in range(20)],
    "cycle": [(0, 1), (1, 2), (2, 0), (2, 3)],
    "hub": [(0, i) for i in range(1, 30)] + [(i, 99) for i in range(1, 30)],
    "tree": [(i, i // 2) for i in range(2, 500)],
    "dupes": [(0, 1), (0, 1), (1, 2)],
    "self_loop": [(0, 0), (0, 1)],
}


def _closure_set(spark, edges, bound, monkeypatch, cap=None):
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", bound)
    if cap is not None:
        monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", cap)
    df = closure.transitive_closure(_pairs(spark, edges))
    return {(r.subj, r.obj) for r in df.collect()}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_local_matches_distributed(spark, name, monkeypatch):
    edges = GRAPHS[name]
    local = _closure_set(spark, edges, 2_000_000, monkeypatch)
    dist = _closure_set(spark, edges, 0, monkeypatch)
    assert local == dist


def test_local_string_ids(spark, monkeypatch):
    edges = [(f"n{a}", f"n{b}") for a, b in GRAPHS["cycle"]]
    local = _closure_set(spark, edges, 2_000_000, monkeypatch)
    dist = _closure_set(spark, edges, 0, monkeypatch)
    assert local == dist


def test_overflow_falls_back_to_distributed(spark, monkeypatch):
    # a 10-pair cap cannot hold the 500-edge tree's closure: the kernel
    # raises, _local_closure returns None, and the distributed loop must
    # produce the complete closure anyway
    edges = GRAPHS["tree"]
    via_fallback = _closure_set(spark, edges, 2_000_000, monkeypatch, cap=10)
    dist = _closure_set(spark, edges, 0, monkeypatch)
    assert via_fallback == dist


@pytest.mark.parametrize("include_start", [False, True])
@pytest.mark.parametrize("name", ["chain", "cycle", "tree"])
def test_seeded_targets_local_matches_distributed(
    spark, name, include_start, monkeypatch
):
    edges = GRAPHS[name]
    # seeds: two in-graph nodes + one absent node (must appear only under
    # include_start, as (7777, 7777))
    seeds = spark.createDataFrame(
        pd.DataFrame({"node": [edges[0][0], edges[-1][1], 7777]})
    )

    def run(bound):
        monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", bound)
        df = closure.transitive_targets(
            _pairs(spark, edges), seeds, include_start=include_start
        )
        return {(r.start, r.node) for r in df.collect()}

    assert run(2_000_000) == run(0)


def test_seeded_targets_overflow_falls_back(spark, monkeypatch):
    edges = GRAPHS["tree"]
    seeds = spark.createDataFrame(pd.DataFrame({"node": [2, 3]}))

    def run(bound, cap=None):
        monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", bound)
        if cap is not None:
            monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", cap)
        df = closure.transitive_targets(_pairs(spark, edges), seeds)
        return {(r.start, r.node) for r in df.collect()}

    assert run(2_000_000, cap=2) == run(0)


@pytest.mark.parametrize("name", ["chain", "cycle", "tree", "hub"])
def test_closure_image_local_matches_fallback(spark, name, monkeypatch):
    edges = GRAPHS[name]
    # facts on some closure targets, some absent nodes, plus duplicates
    nodes = sorted({n for e in edges for n in e})
    fact_rows = [(nodes[i], 10_000 + i) for i in range(0, len(nodes), 3)]
    fact_rows += [(8888, 1), (nodes[0], 10_000)]  # absent K; duplicate P
    facts = spark.createDataFrame(
        pd.DataFrame(fact_rows, columns=["subj", "obj"])
    )

    def run(bound):
        monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", bound)
        df = closure.closure_image(_pairs(spark, edges), facts)
        return {(r.subj, r.obj) for r in df.collect()}

    local = run(2_000_000)
    fallback = run(0)
    assert local == fallback
    # cross-check against the unfused plan
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)
    clo = closure.transitive_closure(_pairs(spark, edges))
    import pyspark.sql.functions as F

    right = facts.select(F.col("subj").alias("_k"), "obj")
    manual = {
        (r.subj, r.obj)
        for r in clo.select("subj", F.col("obj").alias("_k"))
        .join(right, "_k")
        .select("subj", "obj")
        .distinct()
        .collect()
    }
    assert local == manual


def test_closure_image_overflow_falls_back(spark, monkeypatch):
    edges = GRAPHS["tree"]
    facts = spark.createDataFrame(
        pd.DataFrame([(i, 9000 + i) for i in range(2, 60)],
                     columns=["subj", "obj"])
    )
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 2_000_000)
    monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", 5)
    via_fallback = {
        (r.subj, r.obj)
        for r in closure.closure_image(_pairs(spark, edges), facts).collect()
    }
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)
    monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", 67108864)
    dist = {
        (r.subj, r.obj)
        for r in closure.closure_image(_pairs(spark, edges), facts).collect()
    }
    assert via_fallback == dist


def test_kernel_deep_chain_and_cycle_selfpairs():
    # depth-53 chain: every (i, j) with i < j; pure-kernel check, no Spark
    src = np.arange(53)
    dst = np.arange(1, 54)
    s, o = closure._closure_kernel(src, dst, 10_000_000)
    got = set(zip(s.tolist(), o.tolist()))
    assert got == {(i, j) for i in range(54) for j in range(i + 1, 54)}
    # cycle: every node reaches every node including itself
    s, o = closure._closure_kernel(
        np.array([0, 1, 2]), np.array([1, 2, 0]), 1000
    )
    assert set(zip(s.tolist(), o.tolist())) == {
        (i, j) for i in range(3) for j in range(3)
    }


def test_distributed_hop_caps_raise(spark, monkeypatch):
    """The distributed loops fail loudly at their cap instead of returning
    a truncated answer."""
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)
    chain = _pairs(spark, [(i, i + 1) for i in range(12)])
    seeds = spark.createDataFrame(pd.DataFrame({"node": [0]}))
    with pytest.raises(RuntimeError, match=r"transitive_targets.*max_iter=4\b"):
        closure.transitive_targets(chain, seeds, max_iter=4)
    with pytest.raises(RuntimeError, match=r"transitive_closure.*max_iter=4\b"):
        closure.transitive_closure(chain, method="linear", max_iter=4)
    # a cap that suffices still answers in full
    got = closure.transitive_targets(chain, seeds, max_iter=20)
    assert {r.node for r in got.collect()} == set(range(1, 13))
