"""Fused rule evaluation: must be observationally identical to the
per-rule path (differential, like naive-vs-semi-naive)."""

from __future__ import annotations

import pandas as pd

import datalog_oracle as oracle
from zelph_spark import closure, extract, rules as Rz
from zelph_spark.reasoning import run_fixpoint
from zelph_spark.reasoning.fused import fuse_rules


def test_fuse_classification():
    groups = fuse_rules(Rz.wikidata_rules())
    fused_ids = {s["rule_id"] for s in groups.single}
    for specs in groups.pairs.values():
        fused_ids |= {s["rule_id"] for s in specs}
    leftover_ids = {r.rule_id for r in groups.leftover}
    # the three variable-predicate meta-rules stay per-rule
    assert leftover_ids == {"transitive", "opp-swap", "inv-swap"}
    assert len(fused_ids) == len(Rz.wikidata_rules()) - 3
    assert {"opp-sym", "inv-sym"} <= {s["rule_id"] for s in groups.single}
    # transitive-inverse has a constant object in c1 -> pair shape
    assert "transitive-inverse" in fused_ids


def test_fused_equals_unfused_on_fixture(spark, fixture_docs_df, monkeypatch):
    t = extract.triples(extract.extract_all(fixture_docs_df))
    base = spark.createDataFrame(
        pd.DataFrame(
            sorted(
                {(r.subj, r.pred, r.obj) for r in t.collect()}
                | set(Rz.BASE_FACTS)
            ),
            columns=["subj", "pred", "obj"],
        )
    )
    # fuse shapes the distributed loop only: pin it
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)
    fused = run_fixpoint(base, Rz.wikidata_rules(), fuse=True)
    plain = run_fixpoint(base, Rz.wikidata_rules(), fuse=False)
    fset = {(r.subj, r.pred, r.obj) for r in fused.edges.collect()}
    pset = {(r.subj, r.pred, r.obj) for r in plain.edges.collect()}
    assert fset == pset
    # and both equal the independent oracle
    want = oracle.stratified_fixpoint(
        {(r.subj, r.pred, r.obj) for r in base.collect()}, Rz.wikidata_rules()
    )
    assert fset == want


def test_fused_with_constant_consequence_and_filters(spark, monkeypatch):
    """Rules with constant subjects/objects in conditions and constants in
    the consequence go through the fused path correctly."""
    from zelph_spark.rules import P, R

    facts = [("a", "p", "marker"), ("b", "p", "other"), ("a", "q", "c")]
    rules = [
        # constant object filter in the condition
        R("flag", [P("?X", "p", "marker")], P("?X", "is", "flagged")),
        # pair with constant in c2 and constant pred consequence
        R("pair", [P("?X", "p", "?Y"), P("?X", "q", "c")], P("?Y", "seen", "?X")),
    ]
    groups = fuse_rules(rules)
    assert not groups.leftover
    df = spark.createDataFrame(
        pd.DataFrame(facts, columns=["subj", "pred", "obj"])
    )
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # the fused path
    res = run_fixpoint(df, rules, fuse=True)
    got = {(r.subj, r.pred, r.obj) for r in res.edges.collect()}
    want = oracle.stratified_fixpoint(set(facts), rules)
    assert got == want
    assert ("a", "is", "flagged") in got and ("b", "is", "flagged") not in got
    # only X=a satisfies both conditions ((b q c) does not exist)
    assert ("marker", "seen", "a") in got
    assert ("other", "seen", "a") not in got


def test_fused_contradictions_equal_per_rule(spark, fixture_docs_df):
    """Fused contradiction sweep == per-rule sweep == oracle on the
    saturated fixture graph (rule_id + bindings)."""
    from zelph_spark.reasoning import evaluate_contradictions

    t = extract.triples(extract.extract_all(fixture_docs_df))
    base = spark.createDataFrame(
        pd.DataFrame(
            sorted({(r.subj, r.pred, r.obj) for r in t.collect()}
                   | set(Rz.BASE_FACTS)),
            columns=["subj", "pred", "obj"],
        )
    )
    sat = run_fixpoint(base, Rz.wikidata_rules()).edges
    crules = Rz.wikidata_contradiction_rules()
    fused = evaluate_contradictions(sat, crules, fuse=True)
    plain = evaluate_contradictions(sat, crules, fuse=False)
    fs = {(r.rule_id, frozenset(r.bindings.items())) for r in fused.collect()}
    ps = {(r.rule_id, frozenset(r.bindings.items())) for r in plain.collect()}
    assert fs == ps
    sat_set = {(r.subj, r.pred, r.obj) for r in sat.collect()}
    want = oracle.contradiction_bindings(sat_set, crules)
    assert fs == want
    assert len(fs) > 0


def test_fire_pairs_all_is_hash_join(spark):
    """The all-shapes pair fusion must stay a (broadcast/sort-merge/shuffled)
    HASH join: its composite key mixes a j1-CASE on the build side with the
    exploded tag+key on the probe side, and if a refactor ever makes a key
    non-side-separable Catalyst silently demotes the plan to a nested loop
    — a catastrophe at scale this pins against."""
    import re

    from zelph_spark.reasoning.fused import fire_pairs_all, fuse_rules

    edges = spark.createDataFrame(
        [("Q1", "P31", "Q2"), ("Q2", "P279", "Q3")],
        "subj string, pred string, obj string",
    )
    groups = fuse_rules([r for r in Rz.wikidata_rules() if not r.negated])
    shaped = [(sh, s) for sh, specs in groups.pairs.items() for s in specs]
    out = fire_pairs_all(edges, edges, shaped)
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct",
        plan,
    )
    assert joins, plan
    assert "BroadcastNestedLoopJoin" not in joins
    assert "CartesianProduct" not in joins
    # and it still deduces the instance-of-subclass fact the pair rules
    # encode ((X P31 C), (C P279 D) => (X P31 D))
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("Q1", "P31", "Q3") in got
