"""Semi-naive, stratified fixpoint driver (SURVEY.md §2.4 R1/R8/R9, §4 O5/O6).

Catalyst has no fixpoint operator. :func:`run_fixpoint` has two plans for
the analog of ``Reasoning::run`` (``reasoning.cpp:57-211``) and
``run_fixpoint_seminaive`` (``reasoning_seminaive.cpp:92-445``), with one
schedule and one result contract:

- **single-task kernel** (:mod:`.kernel`): the whole stratified evaluation
  in one ``mapInPandas`` task. Admitted when the deduplicated base has at
  most ``closure.LOCAL_EDGE_BOUND`` rows, no null key, one id type (string
  or long) across ``subj``/``pred``/``obj``, rule constants of that type and
  no fresh-variable rule. Otherwise the log's first entry is
  ``{"stratum": "kernel-declined", "reason": ...}`` with reason ``bound``,
  ``null-keys``, ``id-types``, ``constant-types``, ``fresh-variables`` or
  ``overflow`` (an intermediate past ``closure.LOCAL_PAIR_CAP`` rows or
  more than ``max_iter`` rounds inside the task), and the distributed loop
  runs. The kernel sets no session conf and writes no scratch files.
- **distributed loop** in the Python driver, one round at a time. It sets
  session-wide SQL confs for its lifetime (see :func:`run_fixpoint`), so
  two fixpoints must not run concurrently on one session.

The schedule both plans follow:

- iteration 1 is a classic pass over all positive rules; afterwards only the
  delta participates: for each rule and each positive condition position j,
  evaluate with condition j bound to the delta and the rest to the full
  extent — the relational form of the fact-creation-observer seeding
  (``zelph.hpp:185-194``), union over j, minus known facts;
- rules are indexed by condition predicate (``reasoning_seminaive.cpp:100-207``):
  a (rule, position) pair is seeded only when its constant predicate occurs
  in the delta (variable-predicate conditions always seed — they are
  delta-safe here, unlike the reference's O7 fallback, because the
  relational evaluation has no nested-conjunction special case);
- NAF rules form stratum 2 (``reasoning.cpp:102-161``): they run only at
  positive quiescence; anything they deduce re-opens the positive stratum,
  and the alternation repeats until the NAF round is silent;
- contradiction rules (consequence ``!``) never feed the delta: they are
  evaluated once at the end against the saturated graph and returned as a
  (rule_id, bindings) DataFrame — the distributed form of zelph's counted
  ``contradiction_error`` records (``reasoning_deduce.cpp:131-133``).

The distributed loop additionally lands every round's delta as parquet —
fixpoint lineage otherwise grows linearly and re-executes from scratch (§7
hard part 1) — and factors chain-inheritance rules out of the rounds
(:func:`split_inherit`).

:func:`verify_fixpoint` ports the reference's semi-naive safety net
(``reasoning_seminaive.cpp:386-407``): one classic pass over the result must
deduce nothing new.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from ..rules import Rule, is_var
from .compiler import compile_rule_body, project_consequence
from . import kernel
from .fused import fire_contradictions_fused, fire_fused, fuse_contradiction_rules, fuse_rules

EDGE_COLS = ["subj", "pred", "obj"]


@dataclass
class FixpointResult:
    edges: DataFrame  # saturated distinct (subj, pred, obj)
    deduced: DataFrame  # deduced facts only (edges - input)
    contradictions: DataFrame  # (rule_id string, bindings map<string,string>)
    iterations: int
    n_deduced: int
    log: list[dict] = field(default_factory=list)


def _union_all(dfs: list[DataFrame]) -> DataFrame | None:
    dfs = [d for d in dfs if d is not None]
    if not dfs:
        return None
    return reduce(lambda a, b: a.unionByName(b), dfs)


def _rule_can_fire(rule, present_preds) -> bool:
    """Relation-extent restriction (SURVEY.md §4 O2): a rule with a positive
    condition on a constant predicate that has NO facts at all cannot fire —
    skip its whole plan branch. ``present_preds=None`` disables the check."""
    if present_preds is None:
        return True
    return all(
        is_var(rule.conditions[i].pred)
        or rule.conditions[i].pred in present_preds
        for i in rule.positive
    )


def _fire_positive(rules, edges, delta=None, delta_preds=None, present_preds=None):
    """Union of consequence projections for one round. ``delta=None`` =>
    classic full-extent pass; else semi-naive per-position seeding with the
    predicate index short-circuit."""
    outs = []
    for rule in rules:
        if not _rule_can_fire(rule, present_preds):
            continue
        if delta is None:
            outs.append(
                project_consequence(compile_rule_body(rule, edges), rule, edges)
            )
            continue
        for j in rule.positive:
            pat = rule.conditions[j]
            if (
                delta_preds is not None
                and not is_var(pat.pred)
                and pat.pred not in delta_preds
            ):
                continue  # rule-predicate index: this position can't match delta
            outs.append(
                project_consequence(
                    compile_rule_body(rule, edges, delta_at=j, delta=delta),
                    rule,
                    edges,
                )
            )
    return _union_all(outs)


def _distinct_preds(df: DataFrame) -> set:
    return {r.pred for r in df.select("pred").distinct().collect()}


@dataclass
class TransitiveSplit:
    """Transitivity rules factored out for closure-slice acceleration."""

    rest: list  # the remaining positive rules (fired normally)
    const_preds: set  # p from (?a p ?b),(?b p ?c) => (?a p ?c)
    memberships: list  # (M, t) from the meta shape below


def split_transitive(rules: list[Rule]):
    """Factor transitivity out of a ruleset so the driver can saturate each
    transitive predicate with :func:`zelph_spark.closure.transitive_closure`
    (the adaptive linear->doubling strategy) instead of rediscovering paths
    through the generic rule machinery every round.

    Recognized shapes (anything else stays in ``rest``):

    - const:  ``(?a p ?b), (?b p ?c) => (?a p ?c)`` with constant ``p`` —
      the predicate is transitive statically;
    - meta:   ``(?r M t), (?x ?r ?y), (?y ?r ?z) => (?x ?r ?z)`` with
      constant ``M``/``t`` (wikidata.zph line 36: ``?R ~ transitive``) —
      the transitive-predicate SET is data: ``{r | (r M t) in facts}`` and
      can GROW during the fixpoint (e.g. the transitive-inverse rule), so
      membership is re-resolved from each delta.

    Returns ``None`` when nothing was factored (caller keeps the plain
    loop). Guards: negation, inequality, extra consequences and fresh
    variables all disqualify — those need the general path.
    """
    rest: list = []
    const_preds: set = set()
    memberships: list = []
    for r in rules:
        if (
            r.negated
            or r.unequals
            or r.is_contradiction
            or r.extra_consequences
            or r.fresh_vars
        ):
            rest.append(r)
            continue
        cons = r.consequence
        conds = r.conditions
        matched = False
        if len(conds) == 2 and not is_var(conds[0].pred):
            c1, c2 = conds
            a, b, c = c1.subj, c1.obj, c2.obj
            if (
                c1.pred == c2.pred
                and c2.subj == b
                and all(is_var(t) for t in (a, b, c))
                and len({a, b, c}) == 3
                and (cons.subj, cons.pred, cons.obj) == (a, c1.pred, c)
            ):
                const_preds.add(c1.pred)
                matched = True
        elif len(conds) == 3:
            for mi in range(3):
                m = conds[mi]
                chain = [conds[i] for i in range(3) if i != mi]
                if is_var(m.pred) or is_var(m.obj) or not is_var(m.subj):
                    continue
                rv = m.subj
                for c1, c2 in (chain, chain[::-1]):
                    x, y, z = c1.subj, c1.obj, c2.obj
                    if (
                        c1.pred == rv
                        and c2.pred == rv
                        and c2.subj == y
                        and all(is_var(t) for t in (x, y, z))
                        and len({x, y, z, rv}) == 4
                        and (cons.subj, cons.pred, cons.obj) == (x, rv, z)
                    ):
                        memberships.append((m.pred, m.obj))
                        matched = True
                        break
                if matched:
                    break
        if not matched:
            rest.append(r)
    if not const_preds and not memberships:
        return None
    return TransitiveSplit(rest=rest, const_preds=const_preds,
                           memberships=memberships)


@dataclass(frozen=True)
class InheritSpec:
    """A factored chain-inheritance rule (?K p ?P),(?X s ?K) => (?X p ?P)."""

    rule_id: str
    p: object  # inherited predicate (constant; string or long id)
    s: object  # chain predicate (constant; p != s)


def split_inherit(rules: list[Rule]):
    """Factor chain-inheritance rules out of a ruleset (r6, guide §1.2 "fix
    the distributed algorithm first").

    Shape: ``(?K p ?P), (?X s ?K) => (?X p ?P)`` with constant ``p != s``
    (e.g. wikidata.zph's has-part-inherits-through-subclass). The rule is
    LINEAR RECURSION through p over the (eventually static) s relation, so
    the semi-naive loop extends it ONE s-hop per round — on the 200k-doc
    corpus the saturated subclass graph has chain depth 53, which made this
    single rule ~45 of the 56 fixpoint rounds and ~3.1M of 4.2M derived
    facts. The factored evaluation computes the complete image in one shot:
    ``s+ ⨝ p-facts`` (s+ = transitive closure of the s slice, computed
    internally, never emitted as facts), injected at positive quiescence.
    Confluence of positive Datalog makes any such schedule reach the
    identical fixpoint; the injection only derives facts derivable by
    repeated application of the factored rule.

    Guards: negation, inequality, contradiction, extra consequences and
    fresh variables disqualify; p == s is plain transitivity (split_transitive
    territory), repeated variables inside a condition disqualify.
    Returns (rest, specs)."""
    rest: list = []
    specs: list[InheritSpec] = []
    for r in rules:
        if (
            r.negated or r.unequals or r.is_contradiction
            or r.extra_consequences or r.fresh_vars or len(r.conditions) != 2
        ):
            rest.append(r)
            continue
        matched = False
        for cp, cs in (r.conditions, r.conditions[::-1]):
            # cp = (?K p ?P), cs = (?X s ?K)
            if is_var(cp.pred) or is_var(cs.pred) or cp.pred == cs.pred:
                continue
            k, p_, v = cp.subj, cp.pred, cp.obj
            x, s_, k2 = cs.subj, cs.pred, cs.obj
            if not all(is_var(t) for t in (k, v, x, k2)):
                continue
            if k2 != k or len({k, v, x}) != 3:
                continue
            c = r.consequence
            if (c.subj, c.pred, c.obj) == (x, p_, v):
                specs.append(InheritSpec(r.rule_id, p_, s_))
                matched = True
                break
        if not matched:
            rest.append(r)
    return rest, specs


def _var_pred_guards(rules: list[Rule]):
    """For each rule with a variable in a PRED position, find a condition
    binding that variable with TWO constants (e.g. ``(?R ISA TRANSITIVE)``):
    the variable's domain is then the (tiny, driver-trackable) subject/object
    set of that constant slice, and the rule can fire only if
    domain ∩ present-preds is non-empty. The wikidata `transitive` meta-rule
    never fires on corpora with no transitive-declared predicate carrying
    facts, yet its 3 delta positions cost ~6 full-extent scans per round —
    this guard skips the whole rule from the driver (r6).

    Returns (guards, pairs): guards = {rule_id: [(cp, co, side), ...]},
    pairs = ordered list of distinct (cp, co, side) watched slices."""
    guards: dict[str, list] = {}
    pairs: list = []
    for r in rules:
        pred_vars = {c.pred for c in r.conditions if is_var(c.pred)}
        if not pred_vars:
            continue
        for v in pred_vars:
            for i in r.positive:
                c = r.conditions[i]
                if is_var(c.pred):
                    continue
                key = None
                if c.subj == v and not is_var(c.obj):
                    key = (c.pred, c.obj, "subj")
                elif c.obj == v and not is_var(c.subj):
                    key = (c.pred, c.subj, "obj")
                if key is not None:
                    guards.setdefault(r.rule_id, []).append(key)
                    if key not in pairs:
                        pairs.append(key)
                    break
    return guards, pairs


def _materialize(df: DataFrame, scratch: str | None, name: str) -> DataFrame:
    """Cut lineage AND reset Catalyst size statistics.

    ``localCheckpoint`` alone carries the origin plan's estimated
    sizeInBytes forward (verified on Spark 4.1: a checkpointed join's stats
    are the PRODUCT of its inputs' carried stats). In an iterative fixpoint
    the delta feeds back into the next round's joins, so the estimate
    compounds exponentially and the driver ends up multiplying BigIntegers
    with millions of digits inside SizeInBytesOnlyStatsPlanVisitor — a
    single-threaded stall that dwarfs the actual cluster work. A parquet
    round-trip gives the next round a scan with REAL file statistics.
    """
    if scratch is None:
        return df.localCheckpoint()
    path = f"{scratch}/{name}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _new_facts(
    candidates: DataFrame | None,
    known: DataFrame,
    scratch: str | None = None,
    name: str = "delta",
) -> DataFrame | None:
    if candidates is None:
        return None
    out = candidates.dropDuplicates(EDGE_COLS).join(
        known, on=EDGE_COLS, how="left_anti"
    )
    return _materialize(out, scratch, name)


def deduced_wrong_contradictions(
    edges: DataFrame,
    rules: list[Rule],
    wrong_facts: DataFrame,
    present_preds: set | None = None,
) -> DataFrame:
    """Probability semantics inside reasoning (reasoning_deduce.cpp:244-292,
    verified against the compiled reference binary): condition matching
    IGNORES fact probabilities — a prob-0.1 fact fires rules exactly like a
    trusted one — but a rule firing whose consequence is a known-wrong fact
    (prob < 0.5, Answer::is_wrong, answer.cpp:73-76) raises a contradiction
    and the fact is NOT created or upgraded.

    Relational form: after saturation, for every rule whose consequence can
    instantiate to a known-wrong triple, join the consequence projection
    against ``wrong_facts`` and report (rule_id, bindings) rows alongside
    the explicit contradiction rules.  ``wrong_facts`` is tiny (explicit
    sub-0.5 assertions), so the whole sweep short-circuits to nothing when
    it is empty and broadcasts when it is not."""
    spark = edges.sparkSession
    wrong = wrong_facts.select(*EDGE_COLS).distinct()
    wrong_preds = {r.pred for r in wrong.select("pred").distinct().collect()}
    empty = spark.createDataFrame([], "rule_id string, bindings map<string,string>")
    if not wrong_preds:
        return empty
    outs = []
    for rule in rules:
        # NAF rules are checked too: the reference's per-deduction wrong-fact
        # check (reasoning_deduce.cpp:289-292) runs for every firing
        # regardless of how the bindings were produced, and compile_rule_body
        # already lowers negated conditions to anti-joins (parity:
        # test_reference_oracle.py naf-deduced-wrong case)
        if not rule.consequences:
            continue
        if not _rule_can_fire(rule, present_preds):
            continue
        fresh = rule.fresh_vars
        cons = [
            c
            for c in rule.consequences
            # a consequence with a fresh variable names a minted node and
            # can never equal a pre-existing wrong fact
            if not any(t in fresh for t in (c.subj, c.pred, c.obj))
            and (is_var(c.pred) or c.pred in wrong_preds)
        ]
        if not cons:
            continue
        b = compile_rule_body(rule, edges)
        bcols = sorted(b.columns)
        for c in cons:
            def term(t):
                return F.col(t[1:]) if is_var(t) else F.lit(t)

            proj = b.select(
                term(c.subj).alias("subj"),
                term(c.pred).alias("pred"),
                term(c.obj).alias("obj"),
                *[F.col(cname).cast("string") for cname in bcols],
            )
            hits = (
                proj.join(F.broadcast(wrong), on=EDGE_COLS)
                .select(*bcols)
                .dropDuplicates()
            )
            kvs = []
            for cname in bcols:
                kvs += [F.lit(cname), F.col(cname)]
            outs.append(
                hits.select(
                    F.lit(f"{rule.rule_id}#deduced-wrong").alias("rule_id"),
                    (
                        F.create_map(*kvs) if kvs else F.create_map()
                    ).alias("bindings"),
                )
            )
    out = _union_all(outs)
    return empty if out is None else out


def run_fixpoint(
    edges: DataFrame,
    rules: list[Rule],
    contradiction_rules: list[Rule] | None = None,
    semi_naive: bool = True,
    max_iter: int = 100,
    fuse: bool = True,
    wrong_facts: DataFrame | None = None,
    transitive_doubling: bool | None = None,
) -> FixpointResult:
    """Saturate ``edges`` (string or long ids — any equality-joinable type)
    under ``rules``; then evaluate ``contradiction_rules`` once.

    Plan choice (module docstring): the deduplicated base is checkpointed
    once, its row and null-key counts riding that job; a base the
    single-task kernel admits is saturated in one task, anything else — or
    a kernel overflow — runs the distributed loop. ``semi_naive``, ``fuse``
    and ``transitive_doubling`` shape only the distributed loop. The
    distributed loop sets ``spark.sql.adaptive.*`` confs on the session for
    its duration and restores them afterwards, so concurrent fixpoints on one
    session are unsupported; the kernel path sets none. ``iterations`` is
    the distributed loop's round count, or the kernel's last productive
    round (0 when nothing is deduced). More than ``max_iter`` rounds without
    quiescence raises RuntimeError rather than returning a partial set.

    ``transitive_doubling``: factor transitivity rules (const and meta
    shapes, :func:`split_transitive`) out of the per-round machinery and
    saturate each transitive predicate's slice with the adaptive
    linear->doubling closure instead. The semi-naive loop ALREADY doubles
    path length per round (the delta joins the full extent at the other
    position), so this cannot change round asymptotics — both modes are
    O(log diameter) rounds — and measurement says it does not beat the
    plain loop's round cost either: the injected closure pays its own
    join-per-doubling PLUS a second anti-join materialization per driver
    round, which on a 512-deep chain makes it 1.8x SLOWER warm
    (tools/tc_chain_bench.py) and at best a tie on the sf0.1 taxonomy.
    Kept as an opt-in experiment (default False / ZELPH_TC_DOUBLING=1);
    the fixpoint output is identical either way (transitive saturation is
    confluent with the other rules), pinned by tests/test_reasoning.py
    differential cases.

    ``wrong_facts``: triples asserted with prob < 0.5 ("known to be wrong",
    network.hpp:65-94). They participate in the input ``edges`` like any
    fact (reference-verified: unification ignores probabilities) but any
    rule firing that re-deduces one is reported as a contradiction instead
    of a deduction (reasoning_deduce.cpp:289-292)."""
    import shutil
    import tempfile

    from pyspark.sql import Observation

    # the deduplicated base; its sizing (rows, null-keyed rows) rides the
    # checkpoint job as Observation metrics, so admission costs no job
    sizing = Observation()
    base = (
        edges.select(*EDGE_COLS)
        .dropDuplicates(EDGE_COLS)
        .observe(
            sizing,
            F.count(F.lit(1)).alias("rows"),
            F.sum(
                (F.col("subj").isNull() | F.col("pred").isNull()
                 | F.col("obj").isNull()).cast("long")
            ).alias("nulls"),
        )
        .localCheckpoint()
    )
    rows, nulls = sizing.get["rows"], sizing.get["nulls"] or 0
    t0 = time.time()
    run, reason = kernel.saturate(base, rows, nulls, rules, max_iter)
    if run is not None:
        log = [{"iter": run.iterations, "stratum": "positive", "plan": "kernel",
                "new": run.n_deduced, "rows": rows,
                "sec": round(time.time() - t0, 2)}]
        return FixpointResult(
            edges=run.edges,
            deduced=run.deduced,
            contradictions=_sweep_contradictions(
                run.edges, rules, contradiction_rules, wrong_facts, run.preds,
                log,
            ),
            iterations=run.iterations,
            n_deduced=run.n_deduced,
            log=log,
        )
    declined = {"stratum": "kernel-declined", "reason": reason, "rows": rows,
                "sec": round(time.time() - t0, 2)}

    scratch = tempfile.mkdtemp(prefix="zelph_fixpoint_")
    spark = edges.sparkSession
    # Size-first AQE coalescing for the loop's lifetime: with the default
    # parallelism-first policy every post-shuffle stage keeps ~core-count
    # partitions even when a round's delta is a handful of rows, so each of
    # the ~40 rule branches schedules full-width stages — pure task-launch
    # overhead on tail rounds. Size-first collapses tiny shuffles to one
    # partition while leaving genuinely large rounds wide.
    import os

    if transitive_doubling is None:
        # Default OFF — measured, not assumed: warm A/B at local[8]
        # (tools/tc_chain_bench.py) has the plain loop at 17.8 s vs 32.8 s
        # injected on a 512-deep chain (the injection pays a second
        # materialization per round), and a tie (~30 vs ~32 s) on the
        # sf0.1 taxonomy workload. The plain loop already quiesces in
        # O(log d) rounds (10 rounds @ depth 512, pinned by
        # test_plain_loop_log_rounds) because the delta joins the FULL
        # extent at the other position. ZELPH_TC_DOUBLING=1 opts in.
        transitive_doubling = os.environ.get("ZELPH_TC_DOUBLING", "0") == "1"

    loop_conf = {
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        # AQE stays ON (measured: disabling it raised a 100k fixpoint from
        # 63s to 85s at local[8] — the runtime partition coalescing is worth
        # more than the re-planning latency it costs). Knob kept for skew
        # experiments.
        "spark.sql.adaptive.enabled":
            "false" if os.environ.get("ZELPH_FIXPOINT_AQE") == "0" else "true",
    }
    # conf.get(k, None) returns None for keys never EXPLICITLY set (it does
    # not fall back to the registered default), so restore must UNSET those
    # keys — the old `if v is not None: set(v)` silently left the loop's
    # size-first coalescing active for the rest of the session, starving
    # every later query's shuffles of parallelism (r6 root-cause of
    # dedup_minhash reading 92 s in-bench vs 15-22 s in a fresh session)
    old = {k: spark.conf.get(k, None) for k in loop_conf}
    for k, v in loop_conf.items():
        spark.conf.set(k, v)
    try:
        result = _run_fixpoint_inner(
            base, rules, contradiction_rules, semi_naive, max_iter, scratch,
            fuse, wrong_facts, transitive_doubling,
        )
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)
        # every returned DataFrame is rooted at localCheckpointed RDDs
        # (full/base), never at the scratch parquet files
        shutil.rmtree(scratch, ignore_errors=True)
    result.log.insert(0, declined)
    return result


def _sweep_contradictions(
    full, rules, contradiction_rules, wrong_facts, present, log
) -> DataFrame:
    """The contradiction sweep over the saturated ``full`` (both plans):
    explicit contradiction rules plus, with ``wrong_facts``, re-deduced
    known-wrong facts. Appends its driver-side time to ``log``."""
    t0 = time.time()
    contradictions = evaluate_contradictions(
        full, contradiction_rules or [], present_preds=present
    )
    if wrong_facts is not None:
        # plan construction is lazy but deduced_wrong_contradictions runs
        # one EAGER job (the wrong-predicate collect) — timed so the e2e
        # decomposition can see the sweep's driver-side share
        contradictions = contradictions.unionByName(
            deduced_wrong_contradictions(
                full, rules, wrong_facts, present_preds=present
            )
        )
    log.append({"stratum": "contra-plan", "sec": round(time.time() - t0, 2)})
    return contradictions


def _run_fixpoint_inner(
    base, rules, contradiction_rules, semi_naive, max_iter, scratch, fuse,
    wrong_facts=None, transitive_doubling=True,
) -> FixpointResult:
    import os as _os

    spark = base.sparkSession
    positive = [r for r in rules if not r.negated]
    naf_rules = [r for r in rules if r.negated]
    tsplit = split_transitive(positive) if transitive_doubling else None
    if tsplit is not None:
        positive = tsplit.rest
    # [r6] chain-inheritance factoring (split_inherit docstring): the
    # factored rules leave the per-round machinery entirely and are applied
    # as complete closure images at positive quiescence. Default ON
    # (measured: collapses the 56-round / 496 s sf1.0 e2e fixpoint tail);
    # ZELPH_INHERIT_DOUBLING=0 restores the plain loop.
    inherit_specs: list[InheritSpec] = []
    if _os.environ.get("ZELPH_INHERIT_DOUBLING", "1") == "1":
        positive, inherit_specs = split_inherit(positive)
    groups = fuse_rules(positive) if fuse else None
    per_rule = groups.leftover if groups is not None else positive
    # [r6] variable-predicate domain guards (_var_pred_guards docstring):
    # domains ride the delta-write Observation, so keeping them current
    # costs zero extra jobs after the one base aggregate below.
    guard_map, guard_pairs = _var_pred_guards(per_rule + naf_rules)
    guard_doms: dict = {k: set() for k in guard_pairs}

    def _guard_metrics():
        out = []
        for i, (cp, co, side) in enumerate(guard_pairs):
            other = "obj" if side == "subj" else "subj"
            out.append(
                F.collect_set(
                    F.when(
                        (F.col("pred") == F.lit(cp))
                        & (F.col(other) == F.lit(co)),
                        F.col(side),
                    )
                ).alias(f"_guard{i}")
            )
        return out

    def _guard_update(row):
        for i, key in enumerate(guard_pairs):
            guard_doms[key].update(row[f"_guard{i}"])

    # --- transitive-closure acceleration (see run_fixpoint docstring) ---
    tset: set = set(tsplit.const_preds) if tsplit else set()

    def _new_members(df, df_preds=None) -> set:
        """Predicates newly declared transitive by facts in ``df`` (tiny:
        membership facts are per-PREDICATE declarations, a handful of rows).
        ``df_preds``: when the caller already knows ``df``'s predicate set
        (delta Observation metrics), membership specs whose predicate is
        absent are skipped — most rounds then pay ZERO extra jobs."""
        out: set = set()
        for mp, mo in (tsplit.memberships if tsplit else []):
            if df_preds is not None and mp not in df_preds:
                continue
            out |= {
                r.subj
                for r in df.filter(
                    (F.col("pred") == F.lit(mp)) & (F.col("obj") == F.lit(mo))
                )
                .select("subj")
                .distinct()
                .collect()
            }
        return out - tset

    def _closure_cands(full, preds) -> list:
        """Fully saturate every dirty transitive predicate's slice in ONE
        grouped adaptive linear->doubling closure (pred rides the join key,
        so job count per internal round is constant in the predicate count);
        candidate rows are anti-joined against known facts by
        materialize_new like any rule firing. Injecting the COMPLETE
        closure keeps a predicate quiescent until some OTHER rule adds an
        edge to it (which shows up in the RULE delta's pred set — see
        materialize_round — and marks it dirty again)."""
        from ..closure import transitive_closure

        sl = full.filter(F.col("pred").isin(*preds)).select(
            "pred", "subj", "obj"
        )
        return [transitive_closure(sl, group=("pred",)).select(*EDGE_COLS)]

    def _guard_ok(rule):
        """Conservative var-pred domain check: skip a rule only when some
        pred-variable's (driver-tracked) domain shares nothing with the
        predicates that have facts — it provably cannot fire."""
        for key in guard_map.get(rule.rule_id, ()):
            if not (guard_doms[key] & present):
                return False
        return True

    def fire_all(full, delta=None, delta_preds=None, present=None):
        outs = []
        pr = _fire_positive([r for r in per_rule if _guard_ok(r)],
                            full, delta, delta_preds,
                            present_preds=present)
        if pr is not None:
            outs.append(pr)
        if groups is not None:
            outs.extend(fire_fused(groups, full, delta, delta_preds, present))
        return _union_all(outs)

    # `full` is never materialized per round: it is base (one localCheckpoint
    # at entry) unioned with a multi-path parquet scan over the delta files
    # already on disk. Every round then costs exactly TWO driver actions —
    # the delta parquet write (the real work) and a tiny pred-count scan of
    # the just-written files — instead of the previous three (the
    # localCheckpoint of the ever-growing `full` re-copied the whole fact set
    # every round: O(rounds x facts) serial materialization, the dominant
    # term in the 0.26-0.53 scaling-efficiency floor flagged in round 1).
    delta_paths: list[str] = []
    compactions = 0

    def full_df():
        if not delta_paths:
            return base
        return base.unionByName(spark.read.parquet(*delta_paths))

    def maybe_compact():
        """Bound the delta-file count: every rule-position branch re-scans
        `full` each round, so task count per round is
        O(branches x (base partitions + delta files)) — growing linearly
        with round number and dominated by near-empty tasks on long tails
        (measured: 46 s rounds with <200-row deltas at local[32]). Rewriting
        the accumulated deltas into one compacted file set every ~10 rounds
        costs one extra job amortized over 10 and keeps per-round planning
        and task counts flat — the same reason any LSM/Iceberg table
        compacts small files."""
        nonlocal compactions
        if len(delta_paths) < 10:
            return
        compactions += 1
        path = f"{scratch}/compact_{compactions}"
        spark.read.parquet(*delta_paths).hint("rebalance").write.mode(
            "overwrite"
        ).parquet(path)
        delta_paths.clear()
        delta_paths.append(path)

    def anti_targets(extra=None):
        r"""The current known-fact set as separate anti-join targets: base
        + accumulated deltas [+ the sibling delta when the closure lands
        second]. (A \ (B u C)) == (A \ B) \ C."""
        t = [base]
        if delta_paths:
            t.append(spark.read.parquet(*delta_paths))
        if extra is not None:
            t.append(extra)
        return t

    def materialize_new(cand, targets, name):
        """Dedup candidates, anti-join against known facts, land as parquet;
        returns (delta_df, path, n_rows, pred_set) with exactly ONE job:
        row count and delta-predicate set ride the write job as Observation
        metrics instead of a second scan. ``targets``: list of DataFrames
        whose union is the known-fact set."""
        from pyspark.sql import Observation

        if cand is None:
            return None, None, 0, set()
        out = cand.dropDuplicates(EDGE_COLS)
        for t in targets:
            out = out.join(t, on=EDGE_COLS, how="left_anti")
        obs = Observation()
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.collect_set("pred").alias("preds"),
            *_guard_metrics(),
        )
        path = f"{scratch}/{name}"
        # REBALANCE: let AQE size the output files — without it the anti-join
        # writes one near-empty file per task, and every later round re-opens
        # rounds x partitions tiny files per rule branch when scanning `full`
        out.hint("rebalance").write.mode("overwrite").parquet(path)
        m = obs.get
        _guard_update(m)
        return spark.read.parquet(path), path, m["n"], set(m["preds"])

    def materialize_round(cand_rules, clo_cands, targets, name):
        """Land rule candidates and closure candidates as SEPARATE deltas
        so dirty-tracking keys off the RULE delta alone. The closure's own
        output must not re-mark its predicate dirty — that re-ran the whole
        closure over the already-saturated slice on every following round
        (a pure waste; each re-close converges in one internal join but
        still pays planning + a shuffle per round) — while rule-produced
        facts on a transitive predicate (e.g. wikidata.zph's
        transitive-inverse rule) still must, or the factored-out
        transitivity would never compose them. Even with this fix the
        injected mode measures 1.8x slower than the plain loop on a
        512-deep chain (tools/tc_chain_bench.py), hence default OFF.
        ``targets``: anti_targets()-style list. Returns
        (delta, paths, n, delta_preds, rule_preds)."""
        d_r, p_r, n_r, preds_r = materialize_new(cand_rules, targets, name)
        if not clo_cands:
            return d_r, ([p_r] if n_r else []), n_r, preds_r, preds_r
        known = targets if (d_r is None or n_r == 0) else targets + [d_r]
        d_c, p_c, n_c, preds_c = materialize_new(
            _union_all(clo_cands), known, f"{name}_clo"
        )
        paths = [p for p, n in ((p_r, n_r), (p_c, n_c)) if n]
        if d_r is None or n_r == 0:
            return d_c, paths, n_c, preds_c, preds_r
        if d_c is None or n_c == 0:
            return d_r, paths, n_r, preds_r, preds_r
        return (
            d_r.unionByName(d_c), paths, n_r + n_c,
            preds_r | preds_c, preds_r,
        )

    import time as _time

    debug_preds = _os.environ.get("ZELPH_FIXPOINT_DEBUG") == "1"

    def _debug_pred_counts(d):
        """Measurement-only (ZELPH_FIXPOINT_DEBUG=1): per-pred delta counts
        into the log — one extra tiny job per round, never on by default."""
        if not debug_preds or d is None:
            return None
        return {
            str(r.pred): r.n
            for r in d.groupBy("pred").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    full = base
    log: list[dict] = []
    iterations = 0
    total_new = 0
    present = _distinct_preds(base)  # O2 extent restriction, kept current
    # Inheritance-injection bookkeeping: a spec re-injects when its s slice
    # changed (closure invalid -> FULL re-image) or when OTHER rules landed
    # new p facts since its last injection (incremental image over exactly
    # those delta files). An injection's own output is inherit-closed, so it
    # never re-triggers the spec — unless another spec shares the same p
    # (cross-composition needs the ping-pong).
    inherit_clo: dict = {}  # s -> checkpointed s+ closure, reused until s changes
    inherit_full_needed = {sp: True for sp in inherit_specs}
    inherit_pending: dict = {sp: [] for sp in inherit_specs}
    just_injected: set = set()
    if guard_pairs:
        _guard_update(base.agg(*_guard_metrics()).collect()[0])

    # classic first pass (reasoning_seminaive.cpp:236-242)
    _t0 = _time.time()
    cand0 = fire_all(full, present=present)
    clo0: list = []
    if tsplit:
        tset |= _new_members(base)
        dirty0 = {p for p in tset if p in present}
        if dirty0:
            clo0 = _closure_cands(full, dirty0)
    delta, dpaths, n_delta, delta_preds, rule_preds = materialize_round(
        cand0, clo0, anti_targets(), "delta_0"
    )
    plan_sec = None
    while iterations < max_iter:
        iterations += 1
        entry = {"iter": iterations, "stratum": "positive", "new": n_delta,
                 "sec": round(_time.time() - _t0, 2)}
        if debug_preds:
            entry["pred_counts"] = _debug_pred_counts(delta)
        if plan_sec is not None:
            entry["plan_sec"] = plan_sec
            plan_sec = None
        log.append(entry)
        _t0 = _time.time()
        if n_delta == 0:
            # positive quiescence -> pending chain-inheritance images first
            # (split_inherit): complete s+ ⨝ p-facts in ONE injected delta
            # instead of one s-hop per round. A non-empty injection re-opens
            # the positive stratum exactly like a NAF delta.
            todo = [
                sp for sp in inherit_specs
                if (inherit_full_needed[sp] or inherit_pending[sp])
                and sp.p in present and sp.s in present
            ]
            if todo:
                from ..closure import transitive_closure

                _ti = _time.time()
                clo_sec = 0.0
                cands = []
                todo_full = [inherit_full_needed[sp] for sp in todo]
                # when several FULL specs share one s-predicate, fusing
                # would recompute the s+ closure once per spec; the cached
                # transitive_closure path amortizes it across them instead
                _full_s = [sp.s for sp in todo if inherit_full_needed[sp]]
                _shared_s = {s for s in _full_s if _full_s.count(s) > 1}
                for sp in todo:
                    clo = inherit_clo.get(sp.s)
                    if (
                        clo is None
                        and inherit_full_needed[sp]
                        and sp.s not in _shared_s
                    ):
                        # [r6] FULL injection with no cached closure: the
                        # fused closure_image computes s+ ⨝ p inside one
                        # task without materializing the multi-million-row
                        # s+ (or falls back to the closure+join plan past
                        # its bounds). inherit_clo stays unpopulated — a
                        # later incremental injection for this spec
                        # computes the closure then (rare: only shared-p
                        # ping-pong or new s facts reach that path).
                        from ..closure import closure_image

                        _pf = (
                            "spark.sql.adaptive.coalescePartitions."
                            "parallelismFirst"
                        )
                        spark.conf.set(_pf, "true")
                        _tc = _time.time()
                        try:
                            img = closure_image(
                                full.filter(
                                    F.col("pred") == F.lit(sp.s)
                                ).select("subj", "obj"),
                                full.filter(
                                    F.col("pred") == F.lit(sp.p)
                                ).select("subj", "obj"),
                            )
                        finally:
                            spark.conf.set(_pf, "false")
                        clo_sec += _time.time() - _tc
                        cands.append(
                            img.select(
                                "subj", F.lit(sp.p).alias("pred"), "obj"
                            )
                        )
                        inherit_full_needed[sp] = False
                        inherit_pending[sp] = []
                        continue
                    if clo is None:
                        # the loop's size-first AQE coalescing (right for the
                        # tiny tail-round shuffles) starves the closure's
                        # multi-million-row self-joins of parallelism —
                        # measured 59.7 s vs 21.2 s standalone on the same
                        # 87k-edge slice; restore parallelism-first for the
                        # closure computation only
                        _pf = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
                        spark.conf.set(_pf, "true")
                        _tc = _time.time()
                        try:
                            clo = transitive_closure(
                                full.filter(
                                    F.col("pred") == F.lit(sp.s)
                                ).select("subj", "obj")
                            )
                        finally:
                            spark.conf.set(_pf, "false")
                        clo_sec += _time.time() - _tc
                        inherit_clo[sp.s] = clo
                    if inherit_full_needed[sp]:
                        src = full.filter(F.col("pred") == F.lit(sp.p))
                    else:
                        # incremental: only p facts landed since this spec's
                        # last injection can produce unseen image rows
                        src = spark.read.parquet(
                            *inherit_pending[sp]
                        ).filter(F.col("pred") == F.lit(sp.p))
                    # null-keyed fact rows are ignored — keeps this branch
                    # consistent with closure_image (engine facts are
                    # non-null by construction, so this filters nothing)
                    src = src.where(
                        F.col("subj").isNotNull() & F.col("obj").isNotNull()
                    ).select(
                        F.col("subj").alias("_k"), F.col("obj").alias("obj")
                    )
                    cands.append(
                        clo.select("subj", F.col("obj").alias("_k"))
                        .join(src, "_k")
                        .select(
                            "subj", F.lit(sp.p).alias("pred"), "obj"
                        )
                    )
                    inherit_full_needed[sp] = False
                    inherit_pending[sp] = []
                # an injection's output is inherit-closed for its OWN spec,
                # so the spec skips its own delta — EXCEPT when another spec
                # with the same p was co-injected this round: each needs the
                # other's new p facts, so shared-p specs keep ping-ponging
                # through pending until both quiesce
                _shared_p = {
                    p for p in (sp.p for sp in todo)
                    if sum(1 for sp in todo if sp.p == p) > 1
                }
                just_injected = {sp for sp in todo if sp.p not in _shared_p}
                inh_new, ipath, n_inh, inh_preds = materialize_new(
                    _union_all(cands), anti_targets(), f"inherit_{iterations}"
                )
                # timing under "inject_sec", NOT "sec": the injection time is
                # already inside the next positive entry's round timer, and
                # bench.py's fixpoint_secs sums "sec" over iter entries —
                # a "sec" here would double-count
                log.append(
                    {"iter": iterations, "stratum": "inherit", "new": n_inh,
                     "inject_sec": round(_time.time() - _ti, 2),
                     "clo_sec": round(clo_sec, 2),
                     "specs": [
                         f"{sp.rule_id}:{'full' if fn else 'incr'}"
                         for sp, fn in zip(todo, todo_full)
                     ]}
                )
                if n_inh:
                    delta, dpaths, n_delta = inh_new, [ipath], n_inh
                    delta_preds = rule_preds = inh_preds
                    continue
            # -> deferred NAF stratum (R9)
            if not naf_rules:
                break
            naf_new, npath, n_naf, naf_preds = materialize_new(
                _fire_positive([r for r in naf_rules if _guard_ok(r)],
                               full, present_preds=present),
                anti_targets(), f"naf_{iterations}",
            )
            log.append({"iter": iterations, "stratum": "naf", "new": n_naf})
            if n_naf == 0:
                break
            # NAF deductions re-open the positive stratum. The union into
            # `full` / total_new happens ONCE at the loop top like any other
            # delta (a pre-union here double-counted and duplicated rows).
            delta, dpaths, n_delta = naf_new, [npath], n_naf
            delta_preds = rule_preds = naf_preds
            continue
        total_new += n_delta
        delta_paths.extend(dpaths)
        maybe_compact()
        full = full_df()
        present |= delta_preds
        for sp in inherit_specs:
            if sp.p in delta_preds and sp not in just_injected:
                inherit_pending[sp].extend(dpaths)
            if sp.s in delta_preds:
                inherit_clo.pop(sp.s, None)
                inherit_full_needed[sp] = True
        just_injected = set()
        _tp = _time.time()
        if semi_naive:
            # broadcast the delta side when it is small: every rule-position
            # branch then becomes a broadcast hash join and the full extent
            # is never shuffled — the dominant cost of a semi-naive round is
            # otherwise ~(rules x positions) shuffles of `full` per round.
            # (The hint survives bind_condition's filters/projections.)
            seed = F.broadcast(delta) if n_delta <= 2_000_000 else delta
            cand = fire_all(full, seed, delta_preds, present)
        else:
            cand = fire_all(full, present=present)
        clo: list = []
        if tsplit:
            nm = _new_members(delta, delta_preds)
            tset |= nm
            dirty = {p for p in ((rule_preds & tset) | nm) if p in present}
            if dirty:
                clo = _closure_cands(full, dirty)
        # plan_sec: driver-side DataFrame/plan construction (Catalyst
        # analysis runs per transformation over py4j) — the part of a round
        # that does NOT shrink with more executors and does not grow with
        # data; the rest of the round's 'sec' is the one materialize job.
        # A round's numbers land on the NEXT iteration's log entry (the
        # round timer resets at append time).
        plan_sec = round(_time.time() - _tp, 2)
        delta, dpaths, n_delta, delta_preds, rule_preds = materialize_round(
            cand, clo, anti_targets(), f"delta_{iterations}"
        )
    else:
        # the cap was reached with a delta still pending: the facts so far
        # are not the fixpoint, so there is no result to return
        raise RuntimeError(
            f"run_fixpoint: no quiescence within max_iter={max_iter} rounds"
        )

    # detach the result from the scratch dir (deleted by the caller): one
    # final materialization of the deltas instead of one per round; base is
    # already checkpointed and is not re-copied
    _t0 = _time.time()
    if delta_paths:
        full = base.unionByName(
            spark.read.parquet(*delta_paths).localCheckpoint()
        )
    log.append({"stratum": "detach", "sec": round(_time.time() - _t0, 2)})
    contradictions = _sweep_contradictions(
        full, rules, contradiction_rules, wrong_facts, present, log
    )
    deduced = full.join(base, on=EDGE_COLS, how="left_anti")
    return FixpointResult(
        edges=full,
        deduced=deduced,
        contradictions=contradictions,
        iterations=iterations,
        n_deduced=total_new,
        log=log,
    )


def evaluate_contradictions(
    edges: DataFrame,
    rules: list[Rule],
    present_preds: set | None = None,
    fuse: bool = True,
) -> DataFrame:
    """Contradiction rules -> (rule_id, bindings map) rows
    (``reasoning.cpp:249-272`` reporting; rows instead of counters).
    1-/2-condition constant-predicate rules evaluate fused (one plan pair
    per shape regardless of rule count — required for S5 constraint-
    generated rulesets); the rest go per-rule."""
    spark = edges.sparkSession
    outs = []
    per_rule = rules
    if fuse:
        groups = fuse_contradiction_rules(rules)
        per_rule = groups.leftover
        outs.extend(fire_contradictions_fused(edges, groups, present_preds))
    for rule in per_rule:
        if not _rule_can_fire(rule, present_preds):
            continue
        b = compile_rule_body(rule, edges)
        kvs = []
        for c in sorted(b.columns):
            kvs += [F.lit(c), F.col(c).cast("string")]
        outs.append(
            b.select(
                F.lit(rule.rule_id).alias("rule_id"),
                F.create_map(*kvs).alias("bindings") if kvs else F.create_map().alias("bindings"),
            )
        )
    out = _union_all(outs)
    if out is None:
        return spark.createDataFrame([], "rule_id string, bindings map<string,string>")
    return out


def verify_fixpoint(result: FixpointResult, rules: list[Rule]) -> bool:
    """Differential safety net (reasoning_seminaive.cpp:386-407): a classic
    full pass over the saturated graph must produce zero new facts."""
    positive = [r for r in rules if not r.negated]
    naf_rules = [r for r in rules if r.negated]
    cand = _fire_positive(positive + naf_rules, result.edges)
    if cand is None:
        return True
    leftover = _new_facts(cand, result.edges)
    return leftover.count() == 0
