"""Smoke test of the benchmark itself, at the tiny scale.

    python3 perfbench/selftest.py        # from the repository root; ~5 min

For every workload, untraced and traced, it checks that the run exits 0,
that every metric ``BENCHMARK.json`` names is printed with its unit (the
end-to-end ones untraced, the per-layer ones traced), that no op failed, and
that no JVM or ``pyspark.daemon`` process is left behind. It also checks that
a run stopped with SIGTERM and a run in a directory without the engine both
exit non-zero without a result line and leave nothing behind.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def spark_pids() -> set[int]:
    out = set()
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            cmd = Path(f"/proc/{entry}/cmdline").read_bytes()
        except OSError:
            continue
        if b"org.apache.spark" in cmd or b"pyspark.daemon" in cmd:
            out.add(int(entry))
    return out


def command(workload: str, trace: int, seconds: int = 1) -> list[str]:
    return [
        *SPEC["command"],
        "--workload", workload, "--seed", "1", "--seconds", str(seconds),
        "--trace", str(trace), "--scale", "tiny",
    ]


def check_run(workload: str, trace: int) -> list[str]:
    errors = []
    before = spark_pids()
    p = subprocess.run(command(workload, trace), cwd=ROOT, capture_output=True, text=True, timeout=200)
    where = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        errors.append(f"{where}: fail_ratio {result['failed']}/{result['attempted']}")
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got:
            errors.append(f"{where}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errors.append(f"{where}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        elif f"{m['name']} " not in p.stdout:
            errors.append(f"{where}: {m['name']} not printed")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errors.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
    left = spark_pids() - before
    if left:
        errors.append(f"{where}: processes left behind: {sorted(left)}")
    return errors


def check_sigterm() -> list[str]:
    before = spark_pids()
    p = subprocess.Popen(command("query", 0, seconds=60), cwd=ROOT, stdout=subprocess.PIPE, text=True)
    time.sleep(25)  # inside the run, with the JVM and workers up
    p.send_signal(signal.SIGTERM)
    out, _ = p.communicate(timeout=60)
    errors = []
    if p.returncode == 0:
        errors.append("SIGTERM: run exited 0")
    if out.strip() and out.strip().splitlines()[-1].startswith("{"):
        errors.append("SIGTERM: run printed a result")
    left = spark_pids() - before
    if left:
        errors.append(f"SIGTERM: processes left behind: {sorted(left)}")
    return errors


def check_without_engine() -> list[str]:
    bare = HERE / ".work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        p = subprocess.run(SPEC["command"] + ["--workload", "query", "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        return [f"without the engine: exit {p.returncode}, stdout {p.stdout[-500:]!r}"]
    return []


def main() -> int:
    errors = check_without_engine()
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            errors += check_run(w["name"], trace)
            print(f"{w['name']} trace={trace} done", flush=True)
    errors += check_sigterm()
    for e in errors:
        print("FAIL", e)
    print("selftest", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
