"""Single-task semi-naive fixpoint plan.

The distributed loop in :mod:`.fixpoint` pays a fixed driver cost per round
(plan construction over py4j, one parquet write, a handful of Spark jobs)
whatever the round's size. For a base that fits the single-task kernel
bound shared with :mod:`zelph_spark.closure` (``LOCAL_EDGE_BOUND`` rows, no
null keys) the whole stratified evaluation instead runs inside ONE
``repartition(1).mapInPandas`` task, the scaffolding of the closure kernels
(``closure._run_one_task``): vectorized graph operators per *Automating
Vectorized Distributed Graph Computation* (SIGMOD 2024), hash joins inside
the task per *Analyzing Vectorized Hash Tables Across CPU Architectures*
(VLDB 2023).

Inside the task:

- data ids and rule constants are factorized into one dense int64 code
  space, so string and long ids take the same path;
- the fact set is ONE sorted int64 key array, ``key = (pidx(p) * n + s) * n
  + o`` with ``pidx`` a dense predicate index: a constant-predicate
  condition is a contiguous key range (two ``searchsorted`` calls), the
  anti-join against known facts is a sorted-set difference, and landing a
  round is one sorted insert;
- a rule body is a chain of pandas hash joins on its shared variables,
  each side first semi-join-reduced through a boolean membership array over
  the dense codes; variable predicates, repeated variables, ``!=`` guards,
  NAF anti-joins and extra consequences follow :mod:`.compiler` exactly;
- the schedule is the distributed loop's: a classic first pass, then
  semi-naive rounds (each positive condition in turn bound to the delta,
  the rest to the full extent) to positive quiescence, then the NAF rules
  over the saturated set; a NAF deduction re-opens the positive stratum,
  as ``tests/datalog_oracle.py`` alternates.

Every intermediate join, every round's candidate set and the fact set are
bounded by ``closure.LOCAL_PAIR_CAP`` rows, and the round count by the
caller's ``max_iter``; past either the task raises the closure overflow
mark, :func:`closure._run_one_task` reports it, and the caller runs the
distributed loop instead. Rules with fresh variables (node minting stays in
the compiler), mixed or non-id column types and constants of another type
are declined before any task runs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F, types as T

from .. import closure
from ..rules import is_var, resolve_rules, rule_constants

EDGE_COLS = ["subj", "pred", "obj"]
_POSITIONS = ("subj", "pred", "obj")


@dataclass
class KernelRun:
    edges: DataFrame  # saturated distinct (subj, pred, obj), input types
    deduced: DataFrame  # the round > 0 slice of edges
    iterations: int  # last round that deduced a fact (0: none did)
    n_deduced: int
    preds: set  # predicates present in edges


def static_decline(schema: T.StructType, rules) -> str | None:
    """Decline reasons that need no Spark job: the three columns must share
    one id type (string or long), every rule constant must be of that type,
    and no rule may mint nodes."""
    types = {schema[c].dataType for c in EDGE_COLS}
    if types not in ({T.StringType()}, {T.LongType()}):
        return "id-types"
    if any(r.fresh_vars for r in rules):
        return "fresh-variables"
    want = str if types == {T.StringType()} else int
    for c in rule_constants(rules):
        if not isinstance(c, want) or isinstance(c, bool):
            return "constant-types"
    return None


def saturate(base: DataFrame, rows: int, nulls: int, rules, max_iter: int):
    """Run the whole fixpoint of ``rules`` over the distinct, checkpointed
    ``base`` in one task. ``rows``/``nulls`` are the base's sizing (row
    count, rows with a null key). Returns ``(KernelRun, None)``, or
    ``(None, reason)`` when the kernel declines or overflows."""
    reason = static_decline(base.schema, rules)
    bound = closure.LOCAL_EDGE_BOUND
    if reason is None and not (bound > 0 and rows <= bound):
        reason = "bound"
    if reason is None and nulls:
        reason = "null-keys"
    if reason is not None:
        return None, reason
    id_t = base.schema["subj"].dataType
    schema = T.StructType(
        [T.StructField(c, id_t) for c in EDGE_COLS]
        + [T.StructField("round", T.IntegerType())]
    )
    consts = sorted(rule_constants(rules))
    cap = closure.LOCAL_PAIR_CAP

    def compute(batches):
        return _task(batches, rules, consts, cap, max_iter)

    obs = Observation()
    out, _mark = closure._run_one_task(
        base, compute, schema,
        observe=(
            obs,
            F.sum((F.col("round") > 0).cast("long")).alias("n_deduced"),
            F.max("round").alias("rounds"),
            F.collect_set("pred").alias("preds"),
        ),
    )
    if out is None:
        return None, "overflow"
    m = obs.get
    edges = out.select(*EDGE_COLS)
    return KernelRun(
        edges=edges,
        deduced=out.where(F.col("round") > 0).select(*EDGE_COLS),
        iterations=m["rounds"] or 0,
        n_deduced=m["n_deduced"] or 0,
        preds=set(m["preds"]),
    ), None


def _task(batches, rules, consts, cap, max_iter):
    """mapInPandas body: factorize, saturate, decode. Input facts come back
    unchanged with round 0, deduced facts with the round that found them."""
    parts = list(batches)
    if not parts:
        return
    pdf = pd.concat(parts, ignore_index=True)
    m = len(pdf)
    if m == 0:
        return
    codes, uniques = pd.factorize(
        pd.concat(
            [pdf["subj"], pdf["pred"], pdf["obj"],
             pd.Series(consts, dtype=pdf["subj"].dtype)],
            ignore_index=True,
        )
    )
    codes = codes.astype(np.int64)
    code_of = dict(zip(consts, codes[3 * m:].tolist()))
    s, p, o, rnd = _saturate(
        codes[:m], codes[m : 2 * m], codes[2 * m : 3 * m], len(uniques),
        resolve_rules(rules, code_of), cap, max_iter,
    )
    vals = np.asarray(uniques)
    out = pd.concat(
        [
            pdf.assign(round=np.zeros(m, dtype=np.int32)),
            pd.DataFrame(
                {"subj": vals[s], "pred": vals[p], "obj": vals[o],
                 "round": rnd.astype(np.int32)}
            ),
        ],
        ignore_index=True,
    )
    for i in range(0, len(out), 1_000_000):
        yield out.iloc[i : i + 1_000_000]


def _overflow():
    return OverflowError(closure._OVERFLOW_MARK)


class _Facts:
    """The fact set as one sorted int64 key array over dense codes < n."""

    def __init__(self, n: int):
        self.n = n
        self.nn = n * n
        self.pidx = np.full(n, -1, dtype=np.int64)  # pred code -> index
        self.pcode = np.empty(0, dtype=np.int64)  # index -> pred code
        self.known = np.empty(0, dtype=np.int64)
        self.present: set = set()  # pred codes with at least one fact
        self._slices: dict = {}  # pred code -> (s, o) of known
        self._decoded = None  # (p, s, o) of known

    def keys(self, s, p, o):
        fresh = np.unique(p[self.pidx[p] < 0])
        if len(fresh):
            total = len(self.pcode) + len(fresh)
            if total * self.nn >= 1 << 63:
                raise _overflow()
            self.pidx[fresh] = np.arange(len(self.pcode), total)
            self.pcode = np.concatenate([self.pcode, fresh])
        return (self.pidx[p] * self.n + s) * self.n + o

    def preds_of(self, keys) -> set:
        return set(self.pcode[np.unique(keys // self.nn)].tolist())

    def unknown(self, keys):
        """Sorted distinct keys not yet known."""
        keys = np.unique(keys)
        if len(self.known) and len(keys):
            pos = np.searchsorted(self.known, keys)
            pos[pos == len(self.known)] = len(self.known) - 1
            keys = keys[self.known[pos] != keys]
        return keys

    def add(self, new):
        self.known = np.insert(self.known, np.searchsorted(self.known, new), new)
        preds = self.preds_of(new)
        self.present |= preds
        for c in preds:
            self._slices.pop(c, None)
        self._decoded = None

    def decode(self, keys):
        """keys -> (p, s, o) code arrays."""
        return self.pcode[keys // self.nn], (keys // self.n) % self.n, keys % self.n

    def pred_slice(self, keys, c, cached: bool):
        """(s, o) of the facts in ``keys`` with predicate code ``c``."""
        if cached and c in self._slices:
            return self._slices[c]
        q = self.pidx[c]
        if q < 0:
            k = keys[:0]
        else:
            lo, hi = np.searchsorted(keys, [q * self.nn, (q + 1) * self.nn])
            k = keys[lo:hi]
        out = ((k // self.n) % self.n, k % self.n)
        if cached:
            self._slices[c] = out
        return out

    def preds_slice(self, keys, codes):
        """(p, s, o) of the facts in ``keys`` whose predicate is in
        ``codes`` — one gather over the predicates' key ranges."""
        q = self.pidx[codes]
        q = q[q >= 0]
        lo = np.searchsorted(keys, q * self.nn)
        hi = np.searchsorted(keys, (q + 1) * self.nn)
        cnt = hi - lo
        total = int(cnt.sum())
        idx = np.repeat(lo, cnt) + (
            np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        )
        return self.decode(keys[idx])

    def decoded(self, keys, cached: bool):
        if not cached:
            return self.decode(keys)
        if self._decoded is None:
            self._decoded = self.decode(keys)
        return self._decoded


def _order(rule, first=None) -> list[int]:
    """Join order of the positive conditions: ``first`` (the delta
    position) or the most-constant condition, then greedily a condition
    sharing a variable with what is bound, most constants first."""

    def n_const(i):
        return sum(not is_var(t) for t in _terms(rule.conditions[i]))

    pos = list(rule.positive)
    if first is None:
        first = max(
            pos, key=lambda i: (n_const(i), not is_var(rule.conditions[i].pred), -i)
        )
    order = [first]
    bound = set(rule.conditions[first].variables)
    rest = [i for i in pos if i != first]
    while rest:
        nxt = max(
            rest,
            key=lambda i: (
                bool(rule.conditions[i].variables & bound),
                n_const(i),
                len(rule.conditions[i].variables & bound),
                not is_var(rule.conditions[i].pred),
                -i,
            ),
        )
        order.append(nxt)
        rest.remove(nxt)
        bound |= rule.conditions[nxt].variables
    return order


def _terms(pat):
    return (pat.subj, pat.pred, pat.obj)


def _bind(facts: _Facts, keys, pat, cached: bool, acc):
    """One condition over ``keys`` -> DataFrame of its variable bindings
    (no columns for a ground condition: its length is the match count).
    A variable predicate already bound in ``acc`` reads only those
    predicates' key ranges."""
    if not is_var(pat.pred):
        s, o = facts.pred_slice(keys, pat.pred, cached)
        cols = {"subj": s, "obj": o}
    else:
        if acc is not None and pat.pred in acc.columns:
            p, s, o = facts.preds_slice(keys, np.unique(acc[pat.pred].to_numpy()))
        else:
            p, s, o = facts.decoded(keys, cached)
        cols = {"subj": s, "pred": p, "obj": o}
    mask = None
    first: dict = {}
    for pos, term in zip(_POSITIONS, _terms(pat)):
        if is_var(term):
            if term not in first:
                first[term] = pos
                continue
            m = cols[first[term]] == cols[pos]
        elif pos == "pred":
            continue
        else:
            m = cols[pos] == term
        mask = m if mask is None else mask & m
    if not first:
        n = len(cols["subj"]) if mask is None else int(mask.sum())
        return pd.DataFrame(index=pd.RangeIndex(n))
    return pd.DataFrame(
        {v: cols[pos] if mask is None else cols[pos][mask] for v, pos in first.items()}
    )


def _member(values, keys, n):
    """Boolean mask: which ``values`` occur in ``keys`` (dense codes < n)."""
    look = np.zeros(n, dtype=bool)
    look[keys] = True
    return look[values]


def _join(acc, rows, n: int, cap: int):
    shared = [v for v in rows.columns if v in acc.columns]
    if not shared:
        if len(acc) * len(rows) > cap:
            raise _overflow()
        return acc.merge(rows, how="cross")
    v = shared[0]
    if len(rows) > len(acc):
        rows = rows[_member(rows[v].to_numpy(), acc[v].to_numpy(), n)]
    elif len(acc) > len(rows):
        acc = acc[_member(acc[v].to_numpy(), rows[v].to_numpy(), n)]
    if len(acc) * len(rows) > cap:
        sizes = acc.groupby(shared, sort=False).size().mul(
            rows.groupby(shared, sort=False).size()
        )
        if sizes.sum() > cap:
            raise _overflow()
    return acc.merge(rows, on=shared)


def _anti(acc, rows, n: int):
    """NAF: drop the bindings that match ``rows`` on the shared variables;
    with none shared, any match vetoes every binding."""
    shared = [v for v in rows.columns if v in acc.columns]
    if not shared:
        return acc.iloc[:0] if len(rows) else acc
    if len(shared) == 1:
        v = shared[0]
        return acc[~_member(acc[v].to_numpy(), rows[v].to_numpy(), n)]
    m = acc.merge(
        rows[shared].drop_duplicates(), on=shared, how="left", indicator=True
    )
    return m[m["_merge"] == "left_only"].drop(columns="_merge")


def _fire_rule(facts: _Facts, rule, j, delta, cap: int):
    """Consequence (s, p, o) arrays of one rule, condition ``j`` bound to
    ``delta`` (``j=None``: every condition reads the full extent)."""
    acc = None
    for idx in _order(rule, j):
        pat = rule.conditions[idx]
        src, cached = (delta, False) if idx == j else (facts.known, True)
        rows = _bind(facts, src, pat, cached, acc)
        if len(rows) == 0:
            return []
        if rows.shape[1] == 0:
            continue  # ground condition, matched
        acc = rows if acc is None else _join(acc, rows, facts.n, cap)
        if len(acc) == 0:
            return []
    if acc is None:
        acc = pd.DataFrame(index=pd.RangeIndex(1))
    for a, b in rule.unequals:
        acc = acc[acc[a].to_numpy() != acc[b].to_numpy()]
    for nidx in rule.negated:
        rows = _bind(facts, facts.known, rule.conditions[nidx], True, acc)
        acc = _anti(acc, rows, facts.n)
    if len(acc) == 0:
        return []

    def col(t):
        return acc[t].to_numpy() if is_var(t) else np.full(len(acc), t, np.int64)

    return [tuple(col(t) for t in _terms(c)) for c in rule.consequences]


def _fire(facts: _Facts, rules, delta, cap: int):
    """Candidate keys of one round: a classic pass when ``delta`` is None,
    else every (rule, positive position) whose predicate can match the
    delta."""
    delta_preds = None if delta is None else facts.preds_of(delta)
    out = []
    total = 0
    for rule in rules:
        conds = [rule.conditions[i] for i in rule.positive]
        if any(not is_var(c.pred) and c.pred not in facts.present for c in conds):
            continue
        if delta is None:
            seeds = [None]
        else:
            seeds = [
                j for j in rule.positive
                if is_var(rule.conditions[j].pred)
                or rule.conditions[j].pred in delta_preds
            ]
        for j in seeds:
            for s, p, o in _fire_rule(facts, rule, j, delta, cap):
                total += len(s)
                if total > cap:
                    raise _overflow()
                out.append(facts.keys(s, p, o))
    return np.concatenate(out) if out else np.empty(0, dtype=np.int64)


def _saturate(s, p, o, n: int, rules, cap: int, max_iter: int):
    """Stratified semi-naive fixpoint over distinct code triples. Returns
    the deduced facts as (s, p, o, round) arrays."""
    facts = _Facts(n)
    facts.add(np.unique(facts.keys(s, p, o)))
    positive = [r for r in rules if not r.negated]
    naf = [r for r in rules if r.negated]
    found, rounds = [], []
    delta = None  # None: the classic first pass
    naf_turn = False
    while True:
        if naf_turn:
            new = facts.unknown(_fire(facts, naf, None, cap))
        else:
            new = facts.unknown(_fire(facts, positive, delta, cap))
        if len(new) == 0:
            if naf_turn or not naf:
                break
            naf_turn = True  # positive quiescence: the NAF stratum runs
            continue
        if len(rounds) >= max_iter or len(facts.known) + len(new) > cap:
            raise _overflow()
        facts.add(new)
        found.append(new)
        rounds.append(np.full(len(new), len(rounds) + 1, dtype=np.int32))
        delta = new
        naf_turn = False
    if not found:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, empty, np.empty(0, dtype=np.int32)
    ps, ss, os_ = facts.decode(np.concatenate(found))
    return ss, ps, os_, np.concatenate(rounds)
