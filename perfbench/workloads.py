"""The two workloads: ``pipeline`` and ``query``.

Each workload makes its inputs from the seed in ``setup`` (charged to
``setup_s``), then ``op`` is timed and ``check`` verifies its output outside
the timing. The engine only ever sees the generated inputs.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F


def unit_of(metric: str) -> str:
    if metric == "throughput_per_s":
        return "1/s"
    if metric == "peak_rss_mb":
        return "MB"
    if metric.endswith(("_s", ".s")):
        return "s"
    if metric.endswith(("bytes", "bytes_written")):
        return "B"
    if metric.endswith(("ratio", "per_input_byte")):
        return "ratio"
    if metric.endswith(("rows", "new_facts")):
        return "rows"
    return "count"


@dataclass(frozen=True)
class Scale:
    docs: int  # pipeline: corpus size
    classes: int  # query: taxonomy size
    items: int  # query: instances typed into the taxonomy


SCALES = {
    "full": Scale(docs=30, classes=400, items=4000),
    "tiny": Scale(docs=12, classes=40, items=200),
}


def dir_size(root: Path) -> tuple[int, int]:
    files = [p for p in root.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Workload:
    name = ""
    block = 1  # ops per block; a run ends at a block boundary

    def __init__(self, spark, work: Path, seed: int, scale: Scale, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.sizes: dict = {}
        self.per_op: dict[int, dict] = {}

    def setup(self, timers: dict) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> bool:
        raise NotImplementedError

    def throughput(self, samples: list[float]) -> float:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Per-layer metrics read from the engine's own outputs, as a mean
        over the ops."""
        rows = list(self.per_op.values())
        keys = sorted({k for r in rows for k in r})
        return {k: statistics.fmean(r.get(k, 0.0) for r in rows) for k in keys}


# ---------------------------------------------------------------------------
# pipeline: docs -> committed edges, names and saturated facts + contradictions
# ---------------------------------------------------------------------------


class Pipeline(Workload):
    """``run_pipeline`` (construction, then reasoning) with a ``StageStore``
    on local disk, over a seeded synthetic corpus written to parquet in
    setup."""

    name = "pipeline"

    def setup(self, timers):
        from zelph_spark import datagen, pipeline

        t0 = time.perf_counter()
        corpus = self.work / "corpus"
        datagen.synthetic_corpus(self.spark, self.scale.docs, seed=self.seed).write.parquet(
            str(corpus)
        )
        self.docs = self.spark.read.parquet(str(corpus))
        timers["datagen.corpus_s"] = time.perf_counter() - t0
        self.corpus_bytes = dir_size(corpus)[0]
        self.sizes = {"docs": self.scale.docs, "corpus_bytes": self.corpus_bytes}
        self.expected = None
        self.verified = False
        # untimed warm-up: construction alone over the same corpus, so the
        # timed op finds the JIT, the generated code and the Python workers
        # warm. Its committed edges and names are the reference every timed
        # op's construction must reproduce.
        store = self.work / "store-warmup"
        warm = pipeline.run_pipeline(self.spark, self.docs, store_root=str(store), reason=False)
        self.build_digest = (digest(warm.edges), digest(warm.names))
        shutil.rmtree(store, ignore_errors=True)

    def op(self, i):
        from zelph_spark import pipeline

        store = self.work / f"store-{i}"
        res = pipeline.run_pipeline(self.spark, self.docs, store_root=str(store))
        with self.tracer.span("fixpoint.contradictions"):
            n_con = res.contradictions.count()
        return store, res, n_con

    def check(self, i, out):
        from zelph_spark.checkpoint import StageStore

        store, res, n_con = out
        manifests = StageStore(store)
        rows = {stage: manifests.manifest(stage)["rows"] for stage in ("edges", "names", "saturated")}
        # every input edge survives saturation
        lost = res.edges.select("subj", "pred", "obj").join(
            res.saturated_ids, ["subj", "pred", "obj"], "left_anti"
        ).count()
        ok = (
            lost == 0
            and (digest(res.edges), digest(res.names)) == self.build_digest
            and rows["saturated"] == rows["edges"] + res.counters["deduced"]
            and min(*rows.values(), n_con) > 0
        )
        if not self.verified:
            # semi-naive safety net, once per run: one classic pass over the
            # saturated graph must deduce nothing new
            ok = ok and verify_saturated(self.spark, res.saturated_ids)
            self.verified = True
        nbytes, nfiles = dir_size(store)
        self.per_op[i] = {
            "extract.rows": manifests.manifest("extracted")["rows"],
            "link.rows": manifests.manifest("links")["rows"],
            "checkpoint.bytes_written": nbytes,
            "checkpoint.files_written": nfiles,
            "checkpoint.bytes_per_input_byte": nbytes / self.corpus_bytes,
            **fixpoint_log_metrics(res.counters),
        }
        shutil.rmtree(store, ignore_errors=True)
        got = (rows, n_con)
        if self.expected is None:
            self.expected = got
            self.sizes.update(rows, contradictions=n_con)
        return ok and got == self.expected

    def throughput(self, samples):
        return self.scale.docs / statistics.median(samples)  # docs/s


def digest(df) -> tuple[int, int]:
    """Order-independent digest of a table: row count and a sum of row
    hashes."""
    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns) % 2147483647)
    ).first()
    return int(row[0]), int(row[1] or 0)


def verify_saturated(spark, saturated_ids) -> bool:
    """``verify_fixpoint`` over the pipeline's saturated set, with the rule
    constants resolved to node ids as ``run_pipeline`` resolves them."""
    from zelph_spark import graph, rules as Rz
    from zelph_spark.reasoning import FixpointResult, verify_fixpoint

    rules = Rz.wikidata_rules()
    consts = sorted(Rz.rule_constants(rules))
    consts_df = spark.createDataFrame([(c,) for c in consts], "name string")
    cmap = {
        r.name: r.node
        for r in consts_df.select("name", graph.nid(F.col("name")).alias("node")).collect()
    }
    result = FixpointResult(
        edges=saturated_ids, deduced=None, contradictions=None, iterations=0, n_deduced=0
    )
    return verify_fixpoint(result, Rz.resolve_rules(rules, cmap))


def fixpoint_log_metrics(counters: dict) -> dict:
    """Round anatomy from the pipeline's ``fixpoint_log`` counter (the
    ``FixpointResult.log`` of its fixpoint)."""
    log = counters["fixpoint_log"]
    positive = [e for e in log if e.get("stratum") == "positive"]
    secs = [e["sec"] for e in positive if "sec" in e]
    return {
        "fixpoint.rounds": counters["fixpoint_iterations"],
        "fixpoint.round_s": statistics.median(secs) if secs else 0.0,
        "fixpoint.plan_s": sum(e.get("plan_sec", 0.0) for e in positive),
        "fixpoint.inherit_s": sum(e.get("inject_sec", 0.0) for e in log),
        "fixpoint.tail_s": sum(
            e.get("sec", 0.0) for e in log if e.get("stratum") in ("detach", "contra-plan")
        ),
        "fixpoint.new_facts": counters["deduced"],
        "fixpoint.productive_round_ratio": (
            sum(1 for e in positive if e.get("new", 0) > 0) / len(positive) if positive else 0.0
        ),
    }


# ---------------------------------------------------------------------------
# query: query text or operator call -> collected rows
# ---------------------------------------------------------------------------


def taxonomy(rng: random.Random, n_classes: int, n_items: int):
    """Seeded P279 forest (roots every 50 classes, some second parents),
    a few P279 cycles with feeder classes, and P31 instances."""
    sub = set()
    for c in range(2, n_classes + 1):
        if c % 50 == 1:
            continue  # a new tree
        lo = max(1, c - 20, ((c - 1) // 50) * 50 + 1)
        sub.add((c, rng.randint(lo, c - 1)))
        if rng.random() < 0.1:
            sub.add((c, rng.randint(lo, c - 1)))
    base = n_classes + 1
    for _ in range(max(1, n_classes // 80)):
        length = rng.randint(2, 6)
        ring = list(range(base, base + length))
        base += length
        for a, b in zip(ring, ring[1:] + ring[:1]):
            sub.add((a, b))
        sub.add((base, rng.choice(ring)))  # reaches the cycle, not on it
        base += 1
    classes = sorted({c for e in sub for c in e})
    isa = {(10**6 + i, rng.choice(classes)) for i in range(n_items)}
    return sorted(sub), sorted(isa), classes


QUERY_KINDS = ["group", "bound", "cycle", "tc", "targets", "cc"]
# One block of ops, which is what a run measures. The two parameterized
# kinds run twice as often as the others: a client sends them with fresh
# parameters, while the others return the same rows every time. So ten of
# sixteen ops are of the slower kinds (bound, targets, group), and the
# median lies among those rather than in the gap between the fast and slow
# kinds, where it jumped by 15% from run to run.
QUERY_BLOCK = (QUERY_KINDS + ["bound", "targets"]) * 2


class Query(Workload):
    """Closed loop, one client, seeded mix of SPARQL text queries and direct
    closure / components operator calls over a seeded taxonomy graph."""

    name = "query"
    block = len(QUERY_BLOCK)

    def setup(self, timers):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = random.Random(self.seed)
        t0 = time.perf_counter()
        sub, isa, self.classes = taxonomy(rng, self.scale.classes, self.scale.items)
        triples = [(f"Q{s}", "P279", f"Q{o}") for s, o in sub] + [
            (f"Q{s}", "P31", f"Q{o}") for s, o in isa
        ]
        # the graph goes to parquet once; Spark and DuckDB both read it there
        path = self.work / "query-graph.parquet"
        pairs_path = self.work / "p279-pairs.parquet"
        columns = list(zip(*triples))
        pq.write_table(pa.table({"subj": columns[0], "pred": columns[1], "obj": columns[2]}), path)
        pq.write_table(
            pa.table({"subj": pa.array([s for s, _ in sub], pa.int64()),
                      "obj": pa.array([o for _, o in sub], pa.int64())}),
            pairs_path,
        )
        self.triples = self.spark.read.parquet(str(path))
        self.sub_pairs = self.spark.read.parquet(str(pairs_path))
        self.cc_pairs = self.sub_pairs.select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        timers["datagen.corpus_s"] = time.perf_counter() - t0
        self.sizes = {"triples": len(triples), "p279": len(sub), "p31": len(isa), "classes": len(self.classes)}
        self.expected = oracle(duckdb, path)
        # draw only parameters whose answer is not empty
        self.bound_classes = sorted(int(k[1:]) for k in self.expected["bound"])
        self.reaching = sorted({s for s, _ in self.expected["tc"]})
        self.mix = random.Random(self.seed * 7919 + 1)
        self.params: dict[int, tuple] = {}
        # untimed warm-up: each kind once, checked against the oracle
        for j, kind in enumerate(QUERY_KINDS):
            i = -1 - j
            self.params[i] = (kind, self._draw(kind))
            if not self.check(i, self._run(*self.params[i])):
                raise RuntimeError(f"query warm-up '{kind}' disagrees with the DuckDB oracle")
        self.order: list[str] = []

    def _draw(self, kind):
        if kind == "bound":
            return self.mix.choice(self.bound_classes)
        if kind == "targets":
            return tuple(sorted(self.mix.sample(self.reaching, 5)))
        return None

    def op(self, i):
        # each block runs the same mix in a seeded order
        if not self.order:
            self.order = self.mix.sample(QUERY_BLOCK, self.block)
        kind = self.order.pop()
        self.params[i] = (kind, self._draw(kind))
        return self._run(*self.params[i])

    def _run(self, kind, arg):
        from zelph_spark import canon, closure, sparql

        span = self.tracer.span
        if kind in ("group", "bound", "cycle"):
            text = {
                "group": "SELECT ?k (COUNT(?x) AS ?n) WHERE { ?x P31 ?c . ?c P279+ ?k } GROUP BY ?k",
                "bound": f"SELECT ?x WHERE {{ ?x P31/P279+ wd:Q{arg} . }}",
                "cycle": "SELECT ?x WHERE { ?x P279+ ?x . }",
            }[kind]
            with span("sparql.plan"):
                df = sparql.sparql(self.triples, text)
            with span("sparql.exec"):
                return df.collect()
        if kind == "tc":
            with span("closure.tc"):
                return closure.transitive_closure(self.sub_pairs).collect()
        if kind == "targets":
            start = self.spark.createDataFrame([(c,) for c in arg], "node long")
            with span("closure.targets"):
                return closure.transitive_targets(self.sub_pairs, start).collect()
        with span("canon.cc"):
            return canon.connected_components(self.cc_pairs).collect()

    def check(self, i, rows):
        kind, arg = self.params[i]
        exp = self.expected
        if kind == "group":
            got = {(r["k"], int(r["n"])) for r in rows}
            want = exp["group"]
        elif kind == "bound":
            got = {r["x"] for r in rows}
            want = exp["bound"].get(f"Q{arg}", set())
        elif kind == "cycle":
            got = {r["x"] for r in rows}
            want = exp["cycle"]
        elif kind == "tc":
            got = {(r["subj"], r["obj"]) for r in rows}
            want = exp["tc"]
        elif kind == "targets":
            got = {(r[0], r[1]) for r in rows}
            want = {(s, o) for s, o in exp["tc"] if s in arg}
        else:
            got = {(r["node"], r["comp"]) for r in rows}
            want = exp["cc"]
        return got == want and len(got) == len(rows) and bool(want)

    def throughput(self, samples):
        return len(samples) / sum(samples)  # completed queries per busy second


def oracle(duckdb, triples_path: Path) -> dict:
    """Expected answers from DuckDB recursive SQL over the exported graph."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{triples_path}')")
        con.execute(
            """
            CREATE TABLE plus AS
            WITH RECURSIVE sub AS (SELECT subj, obj FROM t WHERE pred = 'P279'),
            r(s, o) AS (
              SELECT subj, obj FROM sub
              UNION
              SELECT r.s, sub.obj FROM r JOIN sub ON r.o = sub.subj
            ) SELECT s, o FROM r
            """
        )
        isa = "(SELECT subj, obj FROM t WHERE pred = 'P31') i JOIN plus p ON i.obj = p.s"
        group = set(con.execute(f"SELECT p.o, COUNT(*) FROM {isa} GROUP BY p.o").fetchall())
        bound: dict = {}
        for x, k in con.execute(f"SELECT DISTINCT i.subj, p.o FROM {isa}").fetchall():
            bound.setdefault(k, set()).add(x)
        cycle = {r[0] for r in con.execute("SELECT DISTINCT s FROM plus WHERE s = o").fetchall()}
        tc = {
            (int(s[1:]), int(o[1:]))
            for s, o in con.execute("SELECT s, o FROM plus").fetchall()
        }
        cc = set(
            con.execute(
                """
                WITH RECURSIVE e AS (
                  SELECT CAST(substr(subj, 2) AS BIGINT) AS a, CAST(substr(obj, 2) AS BIGINT) AS b
                  FROM t WHERE pred = 'P279'
                ), sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
                r(node, reach) AS (
                  SELECT a, b FROM sym
                  UNION
                  SELECT r.node, s.b FROM r JOIN sym s ON r.reach = s.a
                )
                SELECT node, LEAST(node, MIN(reach)) FROM r GROUP BY node
                """
            ).fetchall()
        )
    finally:
        con.close()
    return {"group": group, "bound": bound, "cycle": cycle, "tc": tc, "cc": cc}


WORKLOADS = {w.name: w for w in (Pipeline, Query)}
