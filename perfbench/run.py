#!/usr/bin/env python3
"""Benchmark command (see BENCHMARK.json at the checkout root).

    python3 perfbench/run.py --workload batch|ingest --seed N \
        --seconds S --trace 0|1

Runs the workload in a fresh child process (perfbench/workload.py)
with the checkout root on PYTHONPATH, so Python workers import the
package from the checkout too, and with every scratch file under
``.perfbench_work/`` in the checkout (a traced run leaves its spans
there, in ``spans-<workload>-<seed>.jsonl``). Prints the child's
result as one JSON line: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``; every metric also goes to
stderr as ``name = value unit``. Exits non-zero, printing no result,
when the run fails or the program is missing. What each workload and
metric means: perfbench/layers.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CHILD_TIMEOUT_S = 170


def metric_names(kind: str) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (the Spark
    JVM, Python workers, the landing generator) and wait for it."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + 5
        while time.time() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "vbb_data_pipeline_spark" / "__init__.py").is_file():
        print("perfbench: no vbb_data_pipeline_spark package in the checkout",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"

    env = dict(os.environ)
    env.pop("SPARK_GRAFT_FAST_HASH", None)  # default hash mode: oracle-comparable
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env["TMPDIR"] = str(work / "tmp")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    (work / "tmp").mkdir()

    cmd = [sys.executable, str(HERE / "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work), "--out", str(out)]
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                            stdout=sys.stderr)
    # on SIGTERM, still stop the child's processes (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        rc = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        rc = -1
        print(f"perfbench: run exceeded {CHILD_TIMEOUT_S}s", file=sys.stderr)
    finally:
        stop_group(proc)
        proc.wait()
    try:
        if rc != 0 or not out.exists():
            print(f"perfbench: workload exited {rc}", file=sys.stderr)
            return 1
        result = json.loads(out.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = metric_names("per_layer" if args.trace else "end_to_end")
    got = result["metrics"]
    missing = [n for n in wanted if n not in got]
    if missing:
        print(f"perfbench: missing metrics {missing}", file=sys.stderr)
        return 1
    for name, m in got.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": got[n]["value"], "unit": wanted[n]} for n in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
