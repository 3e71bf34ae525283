"""Measuring program of the benchmark; started by ``run.py``.

One run: start a Spark session sized to this host, set up the workload
(seeded inputs and any untimed warm-up, all charged to ``setup_s``), run
ops in a closed loop with one client for ``--seconds``, check every op's
output, and print the result as the last stdout line. With ``--trace 1``
every op is traced and the per-layer metrics replace the end-to-end ones
(see ``layertrace.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from layertrace import LAYER_METRICS, Tracer, read_event_log, span_metrics  # noqa: E402

import workloads  # noqa: E402

GATEWAY_EXIT_S = 30


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(workloads.SCALES), default="full")
    return ap.parse_args(argv)


def host_heap() -> str:
    """Spark driver heap: a quarter of host RAM, capped at 2 GiB (the inputs are
    small; a smaller pre-touched heap starts faster and leaves RAM to the
    Python workers)."""
    total_kb = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return f"{max(512, min(2048, total_kb // 1024 // 4))}m"


def start_session(work: Path, trace: bool, timers: dict):
    """``get_spark`` on ``local[<nproc>]`` with the heap, shuffle dir and (for
    traced runs) the event log inside the run's work directory."""
    os.environ["ZELPH_SPARK_PREWARM"] = "1"
    from zelph_spark import session

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": host_heap(),
        "spark.local.dir": str(work / "spark-local"),
        # no hsperfdata file under /tmp: the run writes only inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    prewarm = session._prewarm_python_workers

    def timed_prewarm(spark):
        t0 = time.perf_counter()
        prewarm(spark)
        timers["session.prewarm_s"] = time.perf_counter() - t0

    session._prewarm_python_workers = timed_prewarm
    t0 = time.perf_counter()
    try:
        spark = session.get_spark(
            app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
        )
    finally:
        session._prewarm_python_workers = prewarm
    timers["session.get_spark_s"] = time.perf_counter() - t0
    info = {
        "master": f"local[{cores}]",
        "driver_heap": conf["spark.driver.memory"],
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "local_dir": conf["spark.local.dir"],
        "pythonpath": os.environ.get("PYTHONPATH", ""),
    }
    return spark, info


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait (bounded) for it; its
    exit closes the ``pyspark.daemon`` workers' pipes, so they exit too."""
    import subprocess

    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Py4JError as exc:  # e.g. a SIGTERM interrupted a py4j call
        print(f"perfbench: spark.stop() failed ({exc}); ending the JVM", file=sys.stderr)
    finally:
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=GATEWAY_EXIT_S)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def run(args, work: Path) -> dict:
    timers: dict = {}
    t_setup = time.perf_counter()
    spark, info = start_session(work, bool(args.trace), timers)
    tracer = Tracer(spark)
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, work, args.seed, workloads.SCALES[args.scale], tracer
        )
        wl.setup(timers)
        setup_s = time.perf_counter() - t_setup

        samples, op_ids = [], []
        attempted = failed = 0
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            attempted += 1
            try:
                if args.trace:
                    with tracer.recording():
                        op_ids.append(len(tracer.spans))
                        with tracer.span("op"):
                            out, dt = timed(wl.op, i)
                else:
                    out, dt = timed(wl.op, i)
                ok = wl.check(i, out)
            except Exception:
                traceback.print_exc()
                ok = False
            if ok:
                samples.append(dt)
            else:
                failed += 1
                print(f"op {i} FAILED its output check", file=sys.stderr)
            i += 1
            if time.perf_counter() >= deadline and i % wl.block == 0:
                break
        layer = wl.layer_metrics() if args.trace else {}
    finally:
        stop_session(spark)
    print(f"config {json.dumps({**info, 'seed': args.seed, **wl.sizes})}")

    metrics: dict = {}
    if args.trace:
        metrics.update(dict.fromkeys(LAYER_METRICS, 0.0))
        metrics.update(timers)
        metrics.update(layer)
        metrics.update(
            span_metrics(tracer.spans, op_ids, read_event_log(work / "eventlog"))
        )
        metrics["trace.op_s"] = statistics.median(samples) if samples else 0.0
        metrics["trace.overhead_s"] = tracer.overhead_s / max(1, len(op_ids))
    elif samples:
        metrics["setup_s"] = setup_s
        metrics["op_p50_s"] = statistics.median(samples)
        metrics["throughput_per_s"] = wl.throughput(samples)
    print(f"ops {attempted} attempted, {failed} failed; fail_ratio {failed / attempted:.4f} ratio")
    for name in sorted(metrics):
        print(f"{name} {metrics[name]:.6g} {workloads.unit_of(name)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(v), "unit": workloads.unit_of(k)}
            for k, v in metrics.items()
        },
    }


def main(argv) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / "zelph_spark" / "__init__.py").is_file():
        print(f"perfbench: no zelph_spark package under {root}; run from the repository root", file=sys.stderr)
        return 2
    if not os.environ.get("PERFBENCH_WORK"):
        print("perfbench: start the benchmark with perfbench/run.py", file=sys.stderr)
        return 2
    work = Path(os.environ["PERFBENCH_WORK"])

    def on_sigterm(signum, frame):
        raise SystemExit(143)

    signal.signal(signal.SIGTERM, on_sigterm)
    result = run(args, work)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
