"""Fixpoint semantics vs the independent Datalog oracle + the semantic
probes of FIXTURES.md §6 (ported from the reference's test_reasoning /
test_stratified / test_seminaive suites)."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

import datalog_oracle as oracle
from zelph_spark import closure, datagen, extract, rules as Rz
from zelph_spark.reasoning import (
    evaluate_query,
    run_fixpoint,
    verify_fixpoint,
)
from zelph_spark.rules import P, R


def _df(spark, triples):
    return spark.createDataFrame(
        pd.DataFrame(triples, columns=["subj", "pred", "obj"])
    )


def _edge_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.collect()}


def _plans(monkeypatch):
    """Both fixpoint plans in turn: the single-task kernel (default edge
    bound) and the distributed loop (bound 0). Yields the plan name."""
    for plan, bound in (("kernel", closure.LOCAL_EDGE_BOUND), ("distributed", 0)):
        monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", bound)
        yield plan


def _plan_of(res):
    return res.log[0].get("plan", "distributed")


# ---------------------------------------------------------------------------
# Full wikidata.zph ruleset on the fixture corpus, vs the oracle
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fixture_facts(spark, fixture_docs_df):
    t = extract.triples(extract.extract_all(fixture_docs_df))
    base = {(s, p, o) for s, p, o in Rz.BASE_FACTS}
    facts = {(r.subj, r.pred, r.obj) for r in t.collect()} | base
    return facts


def test_wikidata_ruleset_matches_oracle(spark, fixture_facts, monkeypatch):
    want = oracle.stratified_fixpoint(fixture_facts, Rz.wikidata_rules())
    want_c = oracle.contradiction_bindings(
        want, Rz.wikidata_contradiction_rules()
    )
    edges = _df(spark, sorted(fixture_facts))
    for plan in _plans(monkeypatch):
        res = run_fixpoint(
            edges,
            Rz.wikidata_rules(),
            contradiction_rules=Rz.wikidata_contradiction_rules(),
        )
        assert _plan_of(res) == plan
        got = _edge_set(res.edges)
        assert got == want, plan
        assert res.n_deduced == len(want) - len(fixture_facts), plan
        assert _edge_set(res.deduced) == want - fixture_facts, plan
        # differential safety net (reasoning_seminaive.cpp:386-407)
        assert verify_fixpoint(res, Rz.wikidata_rules()), plan
        # contradictions vs oracle
        got_c = {
            (r.rule_id, frozenset(r.bindings.items()))
            for r in res.contradictions.collect()
        }
        assert got_c == want_c, plan
        # the seeded contradictions actually fire
        fired = {rule_id for rule_id, _ in got_c}
        assert "c-isa-cycle" in fired  # Q501/Q502
        assert "c-isa-and-sub" in fired  # Q503
        assert "c-opp-quality" in fired  # Q203 hot+cold


def test_expected_signature_deductions(spark, fixture_facts, monkeypatch):
    for plan in _plans(monkeypatch):
        res = run_fixpoint(
            _df(spark, sorted(fixture_facts)), Rz.wikidata_rules()
        )
        assert _plan_of(res) == plan
        got = _edge_set(res.edges)
        assert ("Q100", "P31", "Q215627") in got  # subclass lift
        assert ("Q100", "P31", "Q35120") in got  # + transitive P279
        assert ("Q213", "P527", "Q212") in got  # transitive has-part (3 hops)
        assert ("Q202", "P461", "Q201") in got  # symmetry
        assert ("Q211", "P361", "Q210") in got  # inverse swap P527 -> P361
        assert ("Q401", "P31", "Q35120") in got  # facet isa
        assert ("Q401", "P527", "Q403") in got  # facet has-part
        assert ("P361", "P1696", "P527") in got
        assert ("P527", "P1696", "P361") in got


def test_naive_equals_seminaive(spark, fixture_facts, monkeypatch):
    """Differential equivalence, test_seminaive.cpp:71: the kernel, the
    distributed semi-naive loop and the distributed naive loop agree with
    each other and with the oracle."""
    edges = _df(spark, sorted(fixture_facts))
    want = oracle.stratified_fixpoint(fixture_facts, Rz.wikidata_rules())
    for plan in _plans(monkeypatch):
        a = run_fixpoint(edges, Rz.wikidata_rules(), semi_naive=True)
        assert _plan_of(a) == plan
        assert _edge_set(a.edges) == want, plan
        assert verify_fixpoint(a, Rz.wikidata_rules()), plan
    b = run_fixpoint(edges, Rz.wikidata_rules(), semi_naive=False)
    assert _edge_set(b.edges) == want


# ---------------------------------------------------------------------------
# Semantic probes (FIXTURES.md §6)
# ---------------------------------------------------------------------------


def test_transitive_cycle_terminates(spark, monkeypatch):
    """Chain with a cycle: closure computed, loop terminates
    (test_reasoning.cpp:349)."""
    facts = [
        ("p", "P31", Rz.TRANSITIVE),
        ("a", "p", "b"),
        ("b", "p", "c"),
        ("c", "p", "a"),
    ]
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # pins the loop
    res = run_fixpoint(_df(spark, facts), Rz.wikidata_rules())
    got = _edge_set(res.edges)
    for x in "abc":
        for y in "abc":
            assert (x, "p", y) in got  # full closure incl. self-loops
    assert res.iterations < 10


def test_naf_fires_only_after_saturation(spark, monkeypatch):
    """Stratified NAF (test_stratified.cpp:48-95): 'base' reaches 'd' only
    transitively; the NAF rule must not fire on the pre-closure state."""
    facts = [
        ("p", "P31", Rz.TRANSITIVE),
        ("a", "p", "b"),
        ("b", "p", "c"),
        ("c", "p", "d"),
        ("x", "q", "x"),
    ]
    # NAF: anything x with (x q x) and NOT (a p x) gets flagged 'isolated'
    naf_rule = R(
        "naf-isolated",
        [P("?X", "q", "?X"), P("a", "p", "?X")],
        P("?X", "flag", "isolated"),
        negated=(1,),
    )
    rules = Rz.wikidata_rules() + [naf_rule]
    want = oracle.stratified_fixpoint(set(facts), rules)
    facts2 = facts + [("a", "p", "x")]
    for plan in _plans(monkeypatch):
        res = run_fixpoint(_df(spark, facts), rules)
        assert _plan_of(res) == plan
        got = _edge_set(res.edges)
        # closure gives (a p d); x is not reachable -> flagged
        assert ("a", "p", "d") in got
        assert ("x", "flag", "isolated") in got
        # counter-case: if x were reachable, no flag
        res2 = run_fixpoint(_df(spark, facts2), rules)
        assert ("x", "flag", "isolated") not in _edge_set(res2.edges)
        # oracle agreement on the NAF program
        assert got == want, plan
        assert verify_fixpoint(res, rules), plan


def test_rule_order_independence(spark, monkeypatch):
    """Stratification is schedule-independent (test_stratified.cpp:48-336)."""
    facts = [("a", "r", "b")]
    r1 = R("pos", [P("?X", "r", "?Y")], P("?Y", "s", "?X"))
    r2 = R(
        "naf",
        [P("?X", "r", "?Y"), P("?Y", "s", "?X")],
        P("?X", "t", "?Y"),
        negated=(1,),
    )
    want = oracle.stratified_fixpoint(set(facts), [r1, r2])
    for plan in _plans(monkeypatch):
        fwd = run_fixpoint(_df(spark, facts), [r1, r2])
        rev = run_fixpoint(_df(spark, facts), [r2, r1])
        assert _edge_set(fwd.edges) == _edge_set(rev.edges) == want, plan
        # (b s a) exists, so the NAF rule must never fire
        assert ("a", "t", "b") not in _edge_set(fwd.edges)


def test_naf_deduction_reopens_positive_stratum(spark, monkeypatch):
    """Deferred consequences re-open the positive stratum
    (test_stratified.cpp:150)."""
    facts = [("a", "r", "b")]
    naf = R(
        "naf-seed", [P("?X", "r", "?Y"), P("?X", "done", "?Y")],
        P("?X", "s", "?Y"), negated=(1,),
    )
    pos = R("chain", [P("?X", "s", "?Y")], P("?X", "done", "?Y"))
    want = oracle.stratified_fixpoint(set(facts), [naf, pos])
    for plan in _plans(monkeypatch):
        res = run_fixpoint(_df(spark, facts), [naf, pos])
        assert _plan_of(res) == plan
        got = _edge_set(res.edges)
        assert ("a", "s", "b") in got and ("a", "done", "b") in got
        assert got == want, plan
        # the re-opened stratum must not duplicate rows or double-count:
        # edges stays a set and n_deduced is exact (regression: NAF delta
        # was unioned into full twice)
        assert res.edges.count() == len(got)
        assert res.deduced.count() == len(got) - len(facts)
        assert res.n_deduced == len(got) - len(facts)


def test_unequal_guard(spark, monkeypatch):
    """!= guard blocks same-value bindings (test_reasoning.cpp:387,551)."""
    facts = [("a", "r", "b"), ("b", "r", "b")]
    rule = R(
        "guard",
        [P("?X", "r", "?Y")],
        P("?X", "ne", "?Y"),
        unequals=(("?X", "?Y"),),
    )
    for plan in _plans(monkeypatch):
        got = _edge_set(run_fixpoint(_df(spark, facts), [rule]).edges)
        assert ("a", "ne", "b") in got, plan
        assert ("b", "ne", "b") not in got, plan


def test_repeated_variable_in_pattern(spark):
    """(X r X) matches only self-loops (J8 binding consistency)."""
    facts = [("a", "r", "a"), ("a", "r", "b")]
    got = evaluate_query(_df(spark, facts), [P("?X", "r", "?X")]).collect()
    assert [r.X for r in got] == ["a"]


def test_query_mode_returns_bindings(spark, fixture_facts):
    """§2.7: statements with variables evaluate immediately as queries."""
    edges = _df(spark, sorted(fixture_facts))
    out = evaluate_query(
        edges,
        [P("?X", "P31", "?K"), P("?K", "P279", "?U")],
        select=["?X", "?U"],
    )
    rows = {(r.X, r.U) for r in out.collect()}
    assert ("Q100", "Q215627") in rows


# ---------------------------------------------------------------------------
# Transitive-closure acceleration (split_transitive + closure injection)
# ---------------------------------------------------------------------------

META_TRANS = R(
    "transitive",
    [P("?R", "~", "Trans"), P("?X", "?R", "?Y"), P("?Y", "?R", "?Z")],
    P("?X", "?R", "?Z"),
)


def test_split_transitive_shapes():
    from zelph_spark.reasoning import split_transitive

    const = R("t-const", [P("?a", "p", "?b"), P("?b", "p", "?c")], P("?a", "p", "?c"))
    # disqualified: consequence predicate differs / negated / repeated var
    other = R("plain", [P("?a", "q", "?b")], P("?b", "q2", "?a"))
    notrans = R(
        "not-trans", [P("?a", "p", "?b"), P("?b", "p", "?c")], P("?a", "q", "?c")
    )
    sp = split_transitive([const, META_TRANS, other, notrans])
    assert sp.const_preds == {"p"}
    assert sp.memberships == [("~", "Trans")]
    assert [r.rule_id for r in sp.rest] == ["plain", "not-trans"]
    assert split_transitive([other, notrans]) is None


def test_transitive_doubling_differential_deep_chain(spark, monkeypatch):
    """Deep chain under the wikidata-style meta-rule: closure injection and
    the plain loop produce the identical fixpoint (confluence), both match
    the Datalog oracle, and the accelerated driver loop quiesces in 2
    rounds (saturate + verify) regardless of chain depth."""
    depth = 48
    facts = [(f"n{i:03d}", "p", f"n{i + 1:03d}") for i in range(depth)]
    facts += [("p", "~", "Trans")]
    edges = _df(spark, facts)
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # pins the loop
    fast = run_fixpoint(edges, [META_TRANS], transitive_doubling=True)
    slow = run_fixpoint(edges, [META_TRANS], transitive_doubling=False)
    got = _edge_set(fast.edges)
    assert got == _edge_set(slow.edges)
    assert got == oracle.stratified_fixpoint(set(map(tuple, facts)), [META_TRANS])
    assert fast.iterations <= 2
    # the DEFAULT (plain) loop is already O(log d): the delta joins the
    # full extent at the other position, doubling path length per round
    assert slow.iterations <= 2 + math.ceil(math.log2(depth))
    assert verify_fixpoint(fast, [META_TRANS])


def test_transitive_membership_discovered_mid_fixpoint(spark, monkeypatch):
    """The transitive-predicate SET is data and can grow during the run
    (e.g. wikidata.zph's transitive-inverse rule): a membership fact
    deduced in round 1 must trigger closure injection for its predicate."""
    mark = R("mark", [P("?P", "mark", "yes")], P("?P", "~", "Trans"))
    depth = 16
    facts = [(f"m{i:02d}", "p", f"m{i + 1:02d}") for i in range(depth)]
    facts += [("p", "mark", "yes")]
    edges = _df(spark, facts)
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # pins the loop
    fast = run_fixpoint(edges, [META_TRANS, mark], transitive_doubling=True)
    slow = run_fixpoint(edges, [META_TRANS, mark], transitive_doubling=False)
    got = _edge_set(fast.edges)
    assert got == _edge_set(slow.edges)
    assert got == oracle.stratified_fixpoint(
        set(map(tuple, facts)), [META_TRANS, mark]
    )
    # round 0: mark fires; round 1: p discovered + closed; round 2: quiesce
    assert fast.iterations <= 3
    assert ("m00", "p", f"m{depth:02d}") in got


def test_transitive_const_shape_differential(spark, monkeypatch):
    part_of = R(
        "po-trans", [P("?a", "part", "?b"), P("?b", "part", "?c")], P("?a", "part", "?c")
    )
    facts = [("w", "part", "x"), ("x", "part", "y"), ("y", "part", "z"),
             ("q", "other", "w")]
    edges = _df(spark, facts)
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # pins the loop
    fast = run_fixpoint(edges, [part_of], transitive_doubling=True)
    slow = run_fixpoint(edges, [part_of], transitive_doubling=False)
    got = _edge_set(fast.edges)
    assert got == _edge_set(slow.edges)
    assert ("w", "part", "z") in got
    assert verify_fixpoint(fast, [part_of])


def test_inherit_factoring_differential(spark, monkeypatch):
    """[r6] Chain-inheritance factoring (split_inherit + deferred closure-
    image injection) must be invisible semantically: identical fixpoint
    output vs the plain per-round loop AND vs the independent Datalog
    oracle, on a corpus that exercises a DEEP subclass chain (one s-hop per
    round in the plain loop, one injection in the factored one), the
    haspart-isa interleaving, and the facet variant of the same shape."""
    chain = [(f"N{i}", "P279", f"N{i+1}") for i in range(9)]
    facts = sorted(
        set(chain)
        | {("N9", "P527", "PARTX"), ("PARTX", "P31", "KX"),
           ("N0", "P31", "K0"), ("F0", "P1269", "N3"),
           ("A", "P461", "N5"), ("A", "P31", "KA")}
    )
    edges = _df(spark, facts)
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # pins the loop
    monkeypatch.setenv("ZELPH_INHERIT_DOUBLING", "1")
    fast = run_fixpoint(edges, Rz.wikidata_rules())
    monkeypatch.setenv("ZELPH_INHERIT_DOUBLING", "0")
    slow = run_fixpoint(edges, Rz.wikidata_rules())
    got = _edge_set(fast.edges)
    assert got == _edge_set(slow.edges)
    assert got == oracle.stratified_fixpoint(set(facts), Rz.wikidata_rules())
    # the deep chain actually inherited: the bottom subclass carries the
    # top's part, transitively lifted to its class too
    assert ("N0", "P527", "PARTX") in got
    assert ("N0", "P527", "KX") in got
    # facet inheritance (same factored shape, s = P1269) composed as well
    assert ("F0", "P527", "PARTX") in got
    # the factored loop quiesces in far fewer rounds than the chain depth
    assert fast.iterations < slow.iterations
    assert verify_fixpoint(fast, Rz.wikidata_rules())


def test_fuse_shape_mode_differential(spark, monkeypatch):
    """[r6] The per-shape fused evaluation (new default — measured faster
    at both 300k- and 4.4M-fact scales) and the packed all-shapes variant
    must produce identical fixpoints on a corpus that exercises every pair
    shape in the wikidata ruleset plus singles, NAF-free recursion and the
    inheritance interleaving."""
    chain = [(f"N{i}", "P279", f"N{i+1}") for i in range(6)]
    facts = sorted(
        set(chain)
        | {("N6", "P527", "PARTX"), ("PARTX", "P31", "KX"),
           ("N0", "P31", "K0"), ("F0", "P1269", "N3"),
           ("A", "P461", "B"), ("A", "P31", "KA"),
           ("C", "P1696", "D"), ("C", "P31", "KC")}
    )
    edges = _df(spark, facts)
    monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", 0)  # pins the loop
    monkeypatch.setenv("ZELPH_FUSE_ALL_SHAPES", "0")
    per_shape = run_fixpoint(edges, Rz.wikidata_rules())
    monkeypatch.setenv("ZELPH_FUSE_ALL_SHAPES", "1")
    all_shapes = run_fixpoint(edges, Rz.wikidata_rules())
    got = _edge_set(per_shape.edges)
    assert got == _edge_set(all_shapes.edges)
    assert got == oracle.stratified_fixpoint(set(facts), Rz.wikidata_rules())


def test_round_cap_raises(spark, monkeypatch):
    """A fixpoint still deducing at ``max_iter`` rounds raises instead of
    returning a partial fact set — on the distributed loop, and through the
    kernel, whose round budget is the same ``max_iter``."""
    facts = [(f"n{i:02d}", "p", f"n{i + 1:02d}") for i in range(32)]
    facts += [("p", "~", "Trans")]
    edges = _df(spark, facts)
    for plan in _plans(monkeypatch):
        with pytest.raises(RuntimeError, match=r"run_fixpoint.*max_iter=2\b"):
            run_fixpoint(edges, [META_TRANS], max_iter=2)
