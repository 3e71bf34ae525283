"""Long-id fixpoint path: reasoning over the materialized int64 edge table
must equal the string-space fixpoint mapped through node ids."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

import datalog_oracle as oracle
from zelph_spark import closure, config, graph, rules as Rz
from zelph_spark.reasoning import run_fixpoint, verify_fixpoint


def test_longid_fixpoint_matches_string_fixpoint(spark, monkeypatch):
    """Both fixpoint plans: the single-task kernel (default edge bound) and
    the distributed loop (bound 0), each against the Datalog oracle."""
    facts = [
        ("Q1", "P31", "Q5"),
        ("Q5", "P279", "Q10"),
        ("Q10", "P279", "Q20"),
        ("P279", "P31", Rz.TRANSITIVE),
        ("Q30", "P461", "Q31"),
    ]
    sdf = spark.createDataFrame(
        pd.DataFrame(facts, columns=["subj", "pred", "obj"])
    )
    rules = Rz.wikidata_rules()
    want = oracle.stratified_fixpoint(set(facts), rules)
    edges = graph.build_edges(sdf).select("subj", "pred", "obj")
    consts = Rz.rule_constants(rules) | {t for f in facts for t in f}
    cdf = spark.createDataFrame(pd.DataFrame({"name": sorted(consts)}))
    mapping = {
        r.name: r.node
        for r in cdf.select(
            "name", config.node_id(F.col("name"), F.lit("wikidata")).alias("node")
        ).collect()
    }
    long_rules = Rz.resolve_rules(rules, mapping)

    for bound in (closure.LOCAL_EDGE_BOUND, 0):
        monkeypatch.setattr(closure, "LOCAL_EDGE_BOUND", bound)
        # string-space fixpoint
        s_res = run_fixpoint(sdf, rules)
        s_edges = {(r.subj, r.pred, r.obj) for r in s_res.edges.collect()}
        assert s_edges == want, bound
        assert verify_fixpoint(s_res, rules), bound

        # long-id space: materialize, resolve rule constants, saturate
        l_res = run_fixpoint(edges, long_rules)
        l_edges = {(r.subj, r.pred, r.obj) for r in l_res.edges.collect()}
        assert dict(l_res.edges.dtypes) == {
            "subj": "bigint", "pred": "bigint", "obj": "bigint"
        }
        assert verify_fixpoint(l_res, long_rules), bound

        mapped = {
            (mapping[s], mapping[p], mapping[o]) for s, p, o in s_edges
        }
        assert l_edges == mapped, bound
        assert len(l_edges) > len(facts)  # deductions happened
