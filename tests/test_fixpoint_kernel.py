"""Single-task fixpoint plan (zelph_spark.reasoning.kernel).

The in-task evaluator is checked without Spark against the independent
Datalog oracle on random programs; the Spark-level tests pin its admission
rule, its decline reasons, the overflow fallback and the result contract.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import types as T

import datalog_oracle as oracle
from zelph_spark import closure, rules as Rz
from zelph_spark.reasoning import kernel, run_fixpoint, verify_fixpoint
from zelph_spark.rules import P, R


def _kernel_facts(facts, rules, cap=10**8, max_iter=100):
    """Run the mapInPandas body directly on one pandas batch."""
    pdf = pd.DataFrame(sorted(set(facts)), columns=["subj", "pred", "obj"])
    consts = sorted(Rz.rule_constants(rules))
    out = pd.concat(list(kernel._task(iter([pdf]), rules, consts, cap, max_iter)))
    return out


def _as_set(out):
    return set(out[["subj", "pred", "obj"]].itertuples(index=False, name=None))


RANDOM_RULES = [
    # variable predicate bound through a membership fact
    R("transitive", [P("?R", "~", "T"), P("?X", "?R", "?Y"), P("?Y", "?R", "?Z")],
      P("?X", "?R", "?Z")),
    R("sym", [P("?X", "q", "?Y")], P("?Y", "q", "?X")),
    R("lift", [P("?X", "r", "?K"), P("?K", "p", "?U")], P("?X", "r", "?U")),
    R("ne", [P("?X", "s", "?Y"), P("?Y", "s", "?Z")], P("?X", "s2", "?Z"),
      unequals=(("?X", "?Z"),)),
    R("rep", [P("?X", "p", "?X")], P("?X", "self", "yes")),
    R("naf", [P("?X", "q", "?Y"), P("?Y", "r", "?X")], P("?X", "lonely", "?Y"),
      negated=(1,)),
    # NAF with no variable shared with the positive part; feeds stratum 1
    R("naf2", [P("?X", "lonely", "?Y"), P("?Z", "self", "yes")], P("?X", "p", "?Y"),
      negated=(1,)),
    R("vp", [P("?X", "?R", "?Y"), P("?R", "~", "T")], P("?Y", "back", "?X")),
    # a ground condition
    R("ground", [P("n1", "p", "n2"), P("?X", "q", "?Y")], P("?X", "gq", "?Y")),
]


@pytest.mark.parametrize("seed", range(8))
def test_evaluator_matches_oracle_on_random_programs(seed):
    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(10)]
    for _ in range(25):
        facts = {
            (rng.choice(nodes), rng.choice(["p", "q", "r", "s", "~"]), rng.choice(nodes))
            for _ in range(rng.randint(1, 30))
        }
        if rng.random() < 0.5:
            facts.add(("p", "~", "T"))
        want = oracle.stratified_fixpoint(facts, RANDOM_RULES)
        assert _as_set(_kernel_facts(facts, RANDOM_RULES)) == want


def test_evaluator_long_ids_rounds_and_extra_consequences():
    # a 40-edge chain under transitivity in int64 ids: semi-naive doubles
    # path length per round, so the closure lands in log2(40) + 1 rounds
    trans = R("t", [P("?a", 7, "?b"), P("?b", 7, "?c")], P("?a", 7, "?c"))
    out = _kernel_facts([(i, 7, i + 1) for i in range(40)], [trans])
    assert _as_set(out) == {(i, 7, j) for i in range(41) for j in range(i + 1, 41)}
    assert out["round"].max() == 6
    assert (out["round"] == 0).sum() == 40
    assert str(out["subj"].dtype) == "int64"
    # extra consequences == one rule per consequence over the same body
    ex = R("ex", [P("?X", "p", "?Y")], [P("?Y", "pp", "?X"), P("?X", "mark", "m")])
    split = [R("e1", [P("?X", "p", "?Y")], P("?Y", "pp", "?X")),
             R("e2", [P("?X", "p", "?Y")], P("?X", "mark", "m"))]
    facts = {("a", "p", "b"), ("b", "p", "c")}
    assert _as_set(_kernel_facts(facts, [ex])) == oracle.stratified_fixpoint(facts, split)


def test_evaluator_caps_raise_the_overflow_mark():
    trans = R("t", [P("?a", 0, "?b"), P("?b", 0, "?c")], P("?a", 0, "?c"))
    chain = [(i, 0, i + 1) for i in range(50)]
    with pytest.raises(OverflowError, match=closure._OVERFLOW_MARK):
        _kernel_facts(chain, [trans], cap=100)
    with pytest.raises(OverflowError, match=closure._OVERFLOW_MARK):
        _kernel_facts(chain, [trans], max_iter=3)


def test_static_declines():
    s = T.StringType()
    strings = T.StructType([T.StructField(c, s) for c in ("subj", "pred", "obj")])
    mixed = T.StructType(
        [T.StructField("subj", T.LongType()), T.StructField("pred", s),
         T.StructField("obj", T.LongType())]
    )
    rule = R("r", [P("?X", "p", "?Y")], P("?Y", "p", "?X"))
    assert kernel.static_decline(strings, [rule]) is None
    assert kernel.static_decline(mixed, [rule]) == "id-types"
    longs = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("subj", "pred", "obj")]
    )
    assert kernel.static_decline(longs, [rule]) == "constant-types"
    fresh = R("mint", [P("?X", "p", "?Y")], P("?X", "has", "?N"))
    assert kernel.static_decline(strings, [fresh]) == "fresh-variables"


def _df(spark, triples, schema="subj string, pred string, obj string"):
    return spark.createDataFrame(triples, schema)


def _edge_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def test_decline_reasons_are_logged(spark, monkeypatch):
    rule = R("flip", [P("?X", "r", "?Y")], P("?Y", "s", "?X"))
    # null key: the distributed loop runs (a null never joins there)
    res = run_fixpoint(_df(spark, [("a", "r", "b"), ("c", "r", None)]), [rule])
    first = res.log[0]
    assert (first["stratum"], first["reason"], first["rows"]) == (
        "kernel-declined", "null-keys", 2
    )
    assert ("b", "s", "a") in _edge_set(res.edges)
    # a fresh-variable rule: node minting stays in the compiler
    mint = R("mint", [P("?X", "r", "?Y")], P("?X", "has", "?N"))
    res = run_fixpoint(_df(spark, [("a", "r", "b"), ("a", "r", "c")]), [mint])
    assert res.log[0]["reason"] == "fresh-variables"
    assert res.n_deduced == 1  # one minted node for X=a
    # more rows than the edge bound
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 2)
    facts = [("a", "r", "b"), ("b", "r", "c"), ("c", "r", "d")]
    res = run_fixpoint(_df(spark, facts), [rule])
    assert res.log[0]["reason"] == "bound"
    assert _edge_set(res.edges) == oracle.stratified_fixpoint(set(facts), [rule])


def test_overflow_falls_back_to_identical_distributed_result(spark, monkeypatch):
    trans = R("t", [P("?a", "p", "?b"), P("?b", "p", "?c")], P("?a", "p", "?c"))
    facts = [(f"n{i:02d}", "p", f"n{i + 1:02d}") for i in range(12)]
    edges = _df(spark, facts)
    monkeypatch.setattr(closure, "LOCAL_PAIR_CAP", 20)
    via_fallback = run_fixpoint(edges, [trans])
    assert via_fallback.log[0]["reason"] == "overflow"
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)
    dist = run_fixpoint(edges, [trans])
    assert dist.log[0]["reason"] == "bound"
    got = _edge_set(via_fallback.edges)
    assert got == _edge_set(dist.edges)
    assert got == oracle.stratified_fixpoint(set(facts), [trans])
    assert via_fallback.n_deduced == dist.n_deduced == len(got) - len(facts)


def test_kernel_result_contract(spark, monkeypatch):
    """One kernel log entry; edges keep the input types; deduced is the
    round > 0 slice; no scratch dir and no session conf on this path."""
    import tempfile

    from pyspark.sql.conf import RuntimeConfig

    def forbidden(*a, **k):
        raise AssertionError("the kernel path must not touch this")

    monkeypatch.setattr(tempfile, "mkdtemp", forbidden)
    monkeypatch.setattr(RuntimeConfig, "set", forbidden)
    monkeypatch.setattr(RuntimeConfig, "unset", forbidden)
    trans = R("t", [P("?a", 5, "?b"), P("?b", 5, "?c")], P("?a", 5, "?c"))
    naf = R("root", [P("?a", 5, "?b"), P("?z", 5, "?a")], P("?a", 6, 1), negated=(1,))
    facts = [(i, 5, i + 1) for i in range(8)] + [(3, 5, 4)]
    edges = _df(spark, facts, "subj bigint, pred bigint, obj bigint")
    res = run_fixpoint(edges, [trans, naf])
    entry = res.log[0]
    assert entry["plan"] == "kernel" and entry["stratum"] == "positive"
    assert {"iter", "new", "sec"} <= set(entry)
    assert [e["stratum"] for e in res.log] == ["positive", "contra-plan"]
    assert dict(res.edges.dtypes) == {"subj": "bigint", "pred": "bigint", "obj": "bigint"}
    want = oracle.stratified_fixpoint(set(facts), [trans, naf])
    assert _edge_set(res.edges) == want
    assert _edge_set(res.deduced) == want - set(facts)
    assert res.n_deduced == entry["new"] == len(want) - len(set(facts))
    # 3 doubling rounds close the 8-chain, then the NAF round marks node 0
    assert res.iterations == entry["iter"] == 4
    monkeypatch.undo()
    assert verify_fixpoint(res, [trans, naf])
