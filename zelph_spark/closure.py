"""Transitive closure + property paths (SURVEY.md §2.5 C1-C4, §2.6 Q12).

zelph computes per-predicate closures with level-synchronous BFS over a
cached per-predicate index (``zelph.cpp:267-296`` transitive_targets/sources,
``zelph.cpp:49-80`` bfs_over_index, two-stage index strategy
``zelph.cpp:44-47``). The Spark lowering is an iterative frontier self-join
over the predicate slice with early dedup (SURVEY.md §7 hard-part 4):

    frontier' = (frontier ⋈ base) \\ reached

Two expansion strategies, mirroring the direct-scan-vs-index adaptivity:
- ``linear``  — one hop per round (BFS analog): cheapest per round, rounds =
  longest path; right when graphs are shallow (taxonomies).
- ``doubling``— reach ⋈ reach per round: O(log diameter) rounds for deep
  chains at the cost of a larger build side.

Every round localCheckpoints (lineage cut) and dedups *before* expanding —
hub fan-out otherwise explodes the frontier. The per-predicate input should
come from :func:`zelph_spark.graph.edges_for_pred` so the scan is
bucket-pruned; the joins themselves shuffle on the frontier key and AQE
splits skewed hubs.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, functions as F

PAIR = ["subj", "obj"]


AUTO_SWITCH_ROUND = 3

# [r6] Single-task closure fast path (guide §4.2 "hand whole batches to
# vectorized native libraries"): when the EDGE SET provably fits one task
# (row-count bound, same adaptive pattern as the broadcast hints below),
# the whole doubling loop collapses into one numpy kernel inside one
# mapInPandas task — ~9 driver-scheduled rounds of 1-3M-row shuffles become
# one job. Past the edge bound, or if the kernel's pair cap overflows
# mid-computation (dense graphs whose closure explodes), the distributed
# loop runs unchanged, so 100TB-scale inputs keep the shuffle/spill plan.
LOCAL_EDGE_BOUND = int(_os.environ.get("ZELPH_LOCAL_CLOSURE_EDGES", "2000000"))
LOCAL_PAIR_CAP = int(_os.environ.get("ZELPH_LOCAL_CLOSURE_CAP", "67108864"))
_OVERFLOW_MARK = "ZELPH_LOCAL_CLOSURE_OVERFLOW"
_OVERFLOW_MARK_IMG = "ZELPH_LOCAL_CLOSURE_IMAGE_OVERFLOW"


def _count_and_nulls(df: DataFrame) -> tuple:
    """One agg job over a (subj, obj) DF: (row count, null-keyed rows)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("subj").isNull() | F.col("obj").isNull(), 1
            ).otherwise(0)
        ).alias("nn"),
    ).collect()[0]
    return row.n, row.nn or 0


def _run_one_task(df: DataFrame, compute, schema, observe: tuple = ()) -> tuple:
    """repartition(1) + mapInPandas + eager checkpoint for the kernel
    fast paths. repartition, not coalesce: coalesce(1) would collapse the
    UPSTREAM scan/filter to one task too. Returns (result, None) or, when
    the kernel raised an overflow mark, (None, mark) so the caller can
    fall back to its distributed plan. ``observe``: ``(Observation,
    *exprs)`` over the kernel output, collected by the checkpoint job
    itself. Cluster note: a deterministic overflow failure is retried
    spark.task.maxFailures times before surfacing (local mode fails
    fast); the caps are sized so overflow is the rare path."""
    out = df.repartition(1).mapInPandas(compute, schema=schema)
    if observe:
        out = out.observe(*observe)
    try:
        return out.localCheckpoint(), None
    except Exception as e:
        s = str(e)
        for m in (_OVERFLOW_MARK_IMG, _OVERFLOW_MARK):
            if m in s:
                return None, m
        raise


def _closure_kernel(src, dst, cap, seeds=None):
    """Positive transitive closure of an edge list over dense int node ids.

    With ``seeds`` (an int array of start nodes), computes the seeded
    forward closure instead: all (s, t) with s in seeds and a path s ->+ t
    — the recurrence is identical, only the initial delta is the seed-
    restricted slice of base (transitive_targets' first frontier).

    Semi-naive LINEAR expansion (delta x base per round) via numpy
    searchsorted merge-joins on pair keys s*n+o. In-kernel the per-round
    overhead that the distributed loop's doubling amortizes is gone, and
    linear generates each closure pair once per distinct last edge — the
    minimum any semi-naive schedule does — where doubling (delta x reach)
    measured ~15x redundant candidates on the saturated subclass graph
    (54M raw rows deduped for 385k new pairs, ~10 s of np.unique alone)
    and explodes quadratically on deep chains. Round count needs no
    doubling rescue: a graph of shortest-path depth D holds >= D^2/2
    closure pairs, so the pair cap itself bounds rounds at sqrt(2*cap)
    (~11.6k) rounds of per-round work that shrinks with delta.

    Raises OverflowError(_OVERFLOW_MARK) when any intermediate exceeds
    ``cap`` pairs so the caller can fall back to the shuffle plan.
    """
    import numpy as np

    if len(src) == 0:
        return src, dst
    n = int(max(src.max(), dst.max())) + 1
    if n * n >= (1 << 62):  # pair-key encoding would overflow int64
        raise OverflowError(_OVERFLOW_MARK)
    base = np.unique(src.astype(np.int64) * n + dst.astype(np.int64))
    # base sorted by key == sorted by subject: searchsorted-ready as-is
    base_s = base // n
    base_o = base % n
    if seeds is None:
        first = base
    else:
        seeds = np.unique(seeds.astype(np.int64))
        lo0 = np.searchsorted(base_s, seeds, side="left")
        hi0 = np.searchsorted(base_s, seeds, side="right")
        cnt0 = hi0 - lo0
        tot0 = int(cnt0.sum())
        idx0 = np.repeat(lo0, cnt0) + (
            np.arange(tot0) - np.repeat(np.cumsum(cnt0) - cnt0, cnt0)
        )
        first = base[idx0]  # already sorted (gathered in base order)
        if len(first) == 0:
            return first, first
    # reach = LSM-style list of sorted pieces, consolidated once at the
    # end: a per-round union1d would re-sort the whole reach every round
    # (O(rounds x |closure| log) — the dominant cost for deep graphs)
    pieces = [first]
    reach_total = len(first)
    delta = first
    while True:
        da = delta // n
        db = delta % n
        lo = np.searchsorted(base_s, db, side="left")
        hi = np.searchsorted(base_s, db, side="right")
        cnt = hi - lo
        total = int(cnt.sum())
        if total > cap:
            raise OverflowError(_OVERFLOW_MARK)
        if total == 0:
            break
        # gather build rows lo[i]:hi[i] for each delta row i (CSR-style)
        idx = np.repeat(lo, cnt) + (
            np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
        )
        new = np.unique(np.repeat(da, cnt) * n + base_o[idx])
        # new \ reach: sorted-set difference against each piece
        for p in pieces:
            if len(new) == 0:
                break
            pos = np.searchsorted(p, new)
            pos[pos == len(p)] = len(p) - 1
            new = new[p[pos] != new]
        if len(new) == 0:
            break
        if reach_total + len(new) > cap:
            raise OverflowError(_OVERFLOW_MARK)
        pieces.append(new)
        # geometric piece merging: pieces are pairwise-disjoint sorted
        # sets, so a merge is just sort(concat); merging while the new
        # piece is >= half its predecessor keeps piece sizes geometric,
        # the piece count O(log N) for the per-round set-diff scan, and
        # TOTAL merge work O(N log N) — both a consolidate-all-every-k-
        # rounds scheme (O(rounds x N log)) and an equal-size binary
        # counter (never carries when piece sizes decline monotonically,
        # as on chains) measured 10-60x slower on an 11k-deep chain
        while len(pieces) > 1 and 2 * len(pieces[-1]) >= len(pieces[-2]):
            b = pieces.pop()
            a = pieces.pop()
            pieces.append(np.sort(np.concatenate((a, b))))
        reach_total += len(new)
        delta = new
    out = np.unique(np.concatenate(pieces)) if len(pieces) > 1 else pieces[0]
    return out // n, out % n


def _local_closure(base: DataFrame):
    """Run _closure_kernel in one mapInPandas task over ``base``.

    Returns the checkpointed closure DataFrame, or None when the kernel
    overflowed its pair cap (caller falls back to the distributed loop).
    Node ids of any type are densified with pandas factorize inside the
    task; null-keyed rows pass through untouched (they never compose —
    join equality with null is never true in the distributed plan either).
    """

    def compute(batches):
        import numpy as np
        import pandas as pd

        parts = [b for b in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        scol, ocol = pdf.columns[0], pdf.columns[1]
        null_mask = pdf[scol].isna() | pdf[ocol].isna()
        work = pdf[~null_mask]
        codes, uniques = pd.factorize(
            pd.concat([work[scol], work[ocol]], ignore_index=True)
        )
        m = len(work)
        s_out, o_out = _closure_kernel(
            codes[:m].astype(np.int64), codes[m:].astype(np.int64),
            LOCAL_PAIR_CAP,
        )
        out = pd.DataFrame(
            {scol: uniques.take(s_out), ocol: uniques.take(o_out)}
        )
        if null_mask.any():
            out = pd.concat([out, pdf[null_mask]], ignore_index=True)
        for i in range(0, len(out), 1_000_000):
            yield out.iloc[i : i + 1_000_000]

    return _run_one_task(base, compute, base.schema)[0]


def transitive_closure(
    pairs: DataFrame,
    method: str = "auto",
    max_iter: int = 64,
    prepared: bool = False,
    group: tuple = (),
    local_ok: bool = True,
    sized: tuple | None = None,
) -> DataFrame:
    """All (subj, obj) with a directed path subj ->+ obj ('+' closure).

    ``auto`` (default, mirroring the reference's direct-vs-index adaptivity,
    zelph.cpp:44-47): run cheap linear rounds first — shallow graphs
    (taxonomies) finish before the switch — then flip to doubling so a deep
    chain costs O(log diameter) further rounds instead of one per level.
    Any prefix of linear rounds followed by doubling yields the identical
    closure (every added pair is a concatenation of real paths).

    ``prepared``: the caller guarantees ``pairs`` is already distinct and
    materialized (the analog of zelph's cached per-predicate index,
    zelph.cpp:44-47) — skip the initial dedup+checkpoint so repeated
    closures over one slice don't re-materialize it.

    ``group``: extra key columns (e.g. ``("pred",)``) — paths only compose
    within a group, so one driver loop closes MANY independent relations at
    once: per-round job count stays constant in the group count and rounds
    are log(max diameter over groups). Used by the fixpoint's transitive-
    predicate acceleration.

    A distributed loop still finding pairs after ``max_iter`` rounds
    raises RuntimeError instead of returning a partial closure.

    ``local_ok=False`` skips the single-task fast path (a caller whose own
    kernel already overflowed passes this so the doomed kernel is not
    re-run); ``sized=(n_rows, n_null_rows)`` hands over an already-known
    base size so the sizing agg is not repeated.

    [r6] Two structural costs of the original loop removed (guide §2.3/§2.4):

    - ``reach`` was ``union(...).localCheckpoint()``-ed EVERY round — an
      O(rounds x |closure|) serial re-copy of the whole result (at sf1.0
      kg_closure that is 8 copies of a 2.3M-row table). ``reach`` is now the
      plain union of per-round checkpointed delta pieces — nothing is ever
      re-materialized.
    - doubling rounds joined ``reach x reach``, regenerating every known
      pair O(depth) times (~21M candidate rows/round at sf1.0 before the
      dedup). They now join ``delta x reach`` ("smart" TC): complete because
      any pair at distance L in (hi, 2*hi] splits at the exact-distance-hi
      midpoint m — d(subj,m) = hi puts (subj,m) in the last delta (range
      (lo, hi]) and d(m,obj) = L - hi <= hi puts (m,obj) in reach. Candidate
      volume drops to |new paths| x avg-degree instead of |reach| x
      avg-degree."""
    group = tuple(group)
    cols = [*group, *PAIR]
    _dbg = _os.environ.get("ZELPH_CLOSURE_DEBUG") == "1"
    if _dbg:
        import sys as _sys
        import time as _time

        _t0 = _time.time()
    base = (
        pairs if prepared else pairs.select(*cols).distinct().localCheckpoint()
    )
    if _dbg:
        print(
            f"[closure] base build {_time.time() - _t0:.2f}s",
            file=_sys.stderr, flush=True,
        )
    pieces = [base]  # reach = union of pieces; each piece checkpointed once

    def reach_df():
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    # [r6] Broadcast the reach side while it is provably small. The pieces
    # are checkpointed RDDs with NO size statistics, so the planner never
    # broadcasts them: every round paid a full shuffle+sort of the entire
    # accumulated reach for the anti-join (and again for the doubling
    # join) even when the step was a handful of rows — the dominant cost
    # of small/medium closures (kg_sparql_cycle: a 10k-edge graph read
    # 26 s). Counting a just-materialized piece is one cheap job, so the
    # loop tracks |reach| exactly and broadcast-hints both reach-side
    # joins below the same 2M-row bound the fixpoint uses for its delta;
    # past the bound it falls back to the shuffle plan unchanged.
    reach_rows = [None]  # None = unknown (prepared base), disables the hint

    def _reach(df):
        if reach_rows[0] is not None and reach_rows[0] <= 2_000_000:
            return F.broadcast(df)
        return df

    # [r6] single-task fast path (see _closure_kernel): bounded edge sets
    # skip the driver loop entirely; grouped closures, truncated max_iter
    # calls and null-keyed edge sets keep the distributed plan (group
    # rides split_transitive which is off by default, a max_iter cap
    # changes the contract, and a null-obj edge composes under a non-null
    # join key in the shuffle plan, which the kernel's dense coding does
    # not reproduce). The null count rides the same single agg job that
    # sizes the edge set.
    eligible = (
        not group and max_iter >= 64 and LOCAL_EDGE_BOUND > 0 and local_ok
    )
    n_edges = n_nulls = None
    if sized is not None:
        n_edges, n_nulls = sized
    elif not prepared or eligible:
        n_edges, n_nulls = _count_and_nulls(base)
    if n_edges is not None:
        # a known size also enables the reach broadcast hint for prepared
        # bases whose fast path declines (nulls/overflow) — the fallback
        # loop would otherwise run unhinted
        reach_rows[0] = n_edges

    if eligible:
        if n_edges <= LOCAL_EDGE_BOUND and n_nulls == 0:
            _dump = _os.environ.get("ZELPH_CLOSURE_DUMP_DIR")
            if _dump:
                import uuid as _uuid

                base.write.mode("overwrite").parquet(
                    f"{_dump}/closure_base_{n_edges}_{_uuid.uuid4().hex[:6]}"
                )
            if _dbg:
                _t1 = _time.time()
            local = _local_closure(base)
            if _dbg:
                print(
                    f"[closure] local path {_time.time() - _t1:.2f}s "
                    f"(edges={n_edges})",
                    file=_sys.stderr, flush=True,
                )
            if local is not None:
                return local

    delta = base
    for rnd in range(max_iter):
        if method == "auto":
            doubling = rnd >= AUTO_SWITCH_ROUND
        else:
            doubling = method == "doubling"
        # rename the build side instead of DataFrame aliases: delta and
        # base can be the SAME checkpointed plan, and alias-based self-joins
        # hit attribute-reuse resolution failures (key not found: subj#N)
        right = (reach_df() if doubling else base).select(
            *[F.col(g).alias(f"_g_{g}") for g in group],
            F.col("subj").alias("_rs"),
            F.col("obj").alias("_ro"),
        )
        on = delta["obj"] == right["_rs"]
        for g in group:
            on = on & (delta[g] == right[f"_g_{g}"])
        step = (
            delta.join(_reach(right), on)
            .select(*group, "subj", F.col("_ro").alias("obj"))
            .distinct()
        )
        new = step.join(
            _reach(reach_df()), on=cols, how="left_anti"
        ).localCheckpoint()
        if new.isEmpty():
            return reach_df()
        pieces.append(new)
        delta = new
        if reach_rows[0] is not None and reach_rows[0] <= 2_000_000:
            reach_rows[0] += new.count()
    raise RuntimeError(
        f"transitive_closure: no quiescence within max_iter={max_iter} rounds"
    )


def closure_with_start(pairs: DataFrame, prepared: bool = False) -> DataFrame:
    """'*' closure: '+' closure ∪ identity over every node present
    (include_start=True in zelph.cpp:267-296; SPARQL p* vs p+)."""
    plus = transitive_closure(pairs, prepared=prepared)
    nodes = (
        pairs.select("subj").union(pairs.select(F.col("obj").alias("subj"))).distinct()
    )
    ident = nodes.select("subj", F.col("subj").alias("obj"))
    return plus.unionByName(ident).distinct()


def _image_kernel(es, eo, fs, fo, cap):
    """Image of the transitive closure: all (X, P) with X ->+ K over the
    (es, eo) edge list and (K, P) in the (fs, fo) fact list, without
    materializing the closure outside this function. Dense int ids.
    Raises OverflowError past ``cap``: _OVERFLOW_MARK from the closure
    stage (the closure itself does not fit — retrying it locally is
    pointless), _OVERFLOW_MARK_IMG from the image stage (the closure
    fits; only the fused gather overflowed).
    """
    import numpy as np

    cs, co = _closure_kernel(es, eo, cap)
    if len(cs) == 0 or len(fs) == 0:
        return cs[:0], co[:0]
    # facts CSR sorted by K
    order = np.argsort(fs, kind="stable")
    fs_sorted = fs[order]
    fo_sorted = fo[order]
    lo = np.searchsorted(fs_sorted, co, side="left")
    hi = np.searchsorted(fs_sorted, co, side="right")
    cnt = hi - lo
    total = int(cnt.sum())
    if total > cap:
        raise OverflowError(_OVERFLOW_MARK_IMG)
    if total == 0:
        return cs[:0], co[:0]
    idx = np.repeat(lo, cnt) + (
        np.arange(total) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    )
    n = int(max(int(cs.max()), int(fo_sorted.max()))) + 1
    if n * n >= (1 << 62):
        raise OverflowError(_OVERFLOW_MARK_IMG)
    img = np.unique(np.repeat(cs, cnt) * n + fo_sorted[idx])
    return img // n, img % n


def closure_image(pairs: DataFrame, facts: DataFrame) -> DataFrame:
    """DISTINCT (X, P) such that X ->+ K over ``pairs`` and (K, P) in
    ``facts`` — the chain-inheritance image s+ ⨝ p-facts (fixpoint.py
    split_inherit) WITHOUT materializing s+ when the single-task path is
    eligible: the multi-million-pair closure is an intermediate only, so
    shipping it out of the kernel task and shuffling it into a join costs
    more than the image itself. Falls back to
    ``transitive_closure(pairs) ⨝ facts`` (the r6-start plan) when the
    edge set exceeds the bound, carries null keys, or the kernel
    overflows. Both inputs are (subj, obj) DataFrames of one id type;
    null-keyed FACT rows are ignored on both paths.
    """
    from pyspark.sql import types as T

    subj_t = pairs.schema["subj"].dataType
    types = {
        subj_t, pairs.schema["obj"].dataType,
        facts.schema["subj"].dataType, facts.schema["obj"].dataType,
    }
    eligible = LOCAL_EDGE_BOUND > 0 and len(types) == 1
    base = pairs.select(*PAIR).distinct().localCheckpoint()
    sized = None
    closure_overflowed = False
    if eligible:
        sized = _count_and_nulls(base)
        n_edges, n_nulls = sized
        if n_edges <= LOCAL_EDGE_BOUND and n_nulls == 0:
            schema = T.StructType(
                [
                    T.StructField("subj", subj_t),
                    T.StructField("obj", facts.schema["obj"].dataType),
                ]
            )
            tagged = base.select(
                F.lit(0).alias("_k"), F.col("subj"), F.col("obj")
            ).unionByName(
                facts.select(
                    F.lit(1).alias("_k"), F.col("subj"), F.col("obj")
                ).where(
                    F.col("subj").isNotNull() & F.col("obj").isNotNull()
                )
            )

            def compute(batches):
                import numpy as np
                import pandas as pd

                parts = [b for b in batches]
                if not parts:
                    return
                pdf = pd.concat(parts, ignore_index=True)
                edges = pdf[pdf["_k"] == 0]
                fact = pdf[pdf["_k"] == 1]
                m = len(edges)
                codes, uniques = pd.factorize(
                    pd.concat(
                        [
                            edges["subj"], edges["obj"],
                            fact["subj"], fact["obj"],
                        ],
                        ignore_index=True,
                    )
                )
                k = len(fact)
                s_out, o_out = _image_kernel(
                    codes[:m].astype(np.int64),
                    codes[m : 2 * m].astype(np.int64),
                    codes[2 * m : 2 * m + k].astype(np.int64),
                    codes[2 * m + k :].astype(np.int64),
                    LOCAL_PAIR_CAP,
                )
                out = pd.DataFrame(
                    {"subj": uniques.take(s_out), "obj": uniques.take(o_out)}
                )
                for i in range(0, len(out), 1_000_000):
                    yield out.iloc[i : i + 1_000_000]

            result, mark = _run_one_task(tagged, compute, schema)
            if result is not None:
                return result
            # closure-stage overflow: the same kernel inside
            # transitive_closure would grind to the identical overflow —
            # skip straight to the distributed loop. Image-stage overflow:
            # the closure itself fits, so its fast path stays worthwhile
            # and only the join goes distributed.
            closure_overflowed = mark == _OVERFLOW_MARK
    clo = transitive_closure(
        base, prepared=True, local_ok=not closure_overflowed, sized=sized
    )
    right = facts.where(
        F.col("subj").isNotNull() & F.col("obj").isNotNull()
    ).select(F.col("subj").alias("_k"), F.col("obj").alias("obj"))
    return (
        clo.select("subj", F.col("obj").alias("_k"))
        .join(right, "_k")
        .select("subj", "obj")
        .distinct()
    )


def _local_targets(base: DataFrame, start: DataFrame):
    """Seeded forward closure in one mapInPandas task (r6, guide §4.2).

    Same shape as :func:`_local_closure` but the kernel's initial delta is
    the seed-restricted base slice. The seed set rides into the single
    task as tagged rows unioned onto the edge set. Returns None when the
    kernel overflows (caller falls back to the distributed frontier loop).
    The caller guarantees subj/obj/seed share one id type (the tagged
    union needs it).
    """
    from pyspark.sql import types as T

    subj_t = base.schema["subj"].dataType
    schema = T.StructType(
        [T.StructField("start", subj_t), T.StructField("node", subj_t)]
    )
    seed_col = start.columns[0]
    tagged = base.select(
        F.lit(0).alias("_k"), F.col("subj"), F.col("obj")
    ).unionByName(
        start.select(
            F.lit(1).alias("_k"),
            F.col(seed_col).alias("subj"),
            F.col(seed_col).alias("obj"),
        )
    )

    def compute(batches):
        import numpy as np
        import pandas as pd

        parts = [b for b in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        edges = pdf[pdf["_k"] == 0]
        seeds = pdf[pdf["_k"] == 1]["subj"].dropna()
        m = len(edges)
        codes, uniques = pd.factorize(
            pd.concat(
                [edges["subj"], edges["obj"], seeds], ignore_index=True
            )
        )
        s_out, o_out = _closure_kernel(
            codes[:m].astype(np.int64),
            codes[m : 2 * m].astype(np.int64),
            LOCAL_PAIR_CAP,
            seeds=codes[2 * m :].astype(np.int64),
        )
        out = pd.DataFrame(
            {"start": uniques.take(s_out), "node": uniques.take(o_out)}
        )
        for i in range(0, len(out), 1_000_000):
            yield out.iloc[i : i + 1_000_000]

    return _run_one_task(tagged, compute, schema)[0]


def transitive_targets(
    pairs: DataFrame,
    start: DataFrame,
    include_start: bool = False,
    max_iter: int = 64,
    prepared: bool = False,
) -> DataFrame:
    """Forward closure from a seed set (zelph.cpp:267-281): returns
    (start, target) rows. ``start`` is a one-column DF named 'node'.
    ``prepared``: see :func:`transitive_closure`. The distributed frontier
    loop takes one hop per round; a frontier still growing after
    ``max_iter`` hops raises RuntimeError instead of returning a truncated
    target set."""
    base = (
        pairs if prepared else pairs.select(*PAIR).distinct().localCheckpoint()
    )
    # [r6] single-task fast path, same eligibility rules as
    # transitive_closure (bounded edge set, no null keys) plus one id
    # type across subj/obj/seed — checked BEFORE the sizing agg so a
    # type mismatch costs no job
    if (
        LOCAL_EDGE_BOUND > 0
        and max_iter >= 64
        and base.schema["subj"].dataType == base.schema["obj"].dataType
        and start.schema[0].dataType == base.schema["subj"].dataType
    ):
        n_edges, n_nulls = _count_and_nulls(base)
        if n_edges <= LOCAL_EDGE_BOUND and n_nulls == 0:
            visited = _local_targets(base, start)
            if visited is not None:
                if include_start:
                    seeds = start.select(
                        F.col(start.columns[0]).alias("start"),
                        F.col(start.columns[0]).alias("node"),
                    )
                    visited = visited.unionByName(seeds).distinct()
                return visited
    frontier = (
        start.select(F.col("node").alias("subj"))
        .distinct()
        .join(base, on="subj")
        .select(F.col("subj").alias("start"), F.col("obj").alias("node"))
        .distinct()
        .localCheckpoint()
    )
    # visited = union of per-round checkpointed pieces (r6, same fix as
    # transitive_closure: the old per-round union+localCheckpoint re-copied
    # the whole visited set every round)
    pieces = [frontier]

    def visited_df():
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    for _ in range(max_iter):
        step = (
            frontier.join(base, frontier.node == base.subj)
            .select("start", F.col("obj").alias("node"))
            .distinct()
        )
        new = step.join(
            visited_df(), on=["start", "node"], how="left_anti"
        ).localCheckpoint()
        if new.isEmpty():
            break
        pieces.append(new)
        frontier = new
    else:
        raise RuntimeError(
            f"transitive_targets: no quiescence within max_iter={max_iter} hops"
        )
    visited = visited_df()
    if include_start:
        seeds = start.select(
            F.col("node").alias("start"), F.col("node").alias("node")
        )
        visited = visited.unionByName(seeds).distinct()
    return visited


def transitive_sources(pairs: DataFrame, start: DataFrame, **kw) -> DataFrame:
    """Backward closure (zelph.cpp:283-296): swap edge direction."""
    rev = pairs.select(F.col("obj").alias("subj"), F.col("subj").alias("obj"))
    out = transitive_targets(rev, start, **kw)
    return out


def path_sequence(edge_slices: list[DataFrame]) -> DataFrame:
    """SPARQL sequence path p1/p2/.../pn (sparql.zph:792-811): chained joins
    through generated intermediates; each element is a (subj, obj) slice
    (possibly itself a closure)."""
    acc = edge_slices[0].select(*PAIR)
    for nxt in edge_slices[1:]:
        right = nxt.select(F.col("subj").alias("_rs"), F.col("obj").alias("_ro"))
        acc = (
            acc.join(right, acc["obj"] == right["_rs"])
            .select("subj", F.col("_ro").alias("obj"))
            .distinct()
        )
    return acc
