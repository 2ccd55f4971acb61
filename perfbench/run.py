"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository.  Makes the input tables
(``datagen.py``, cached under ``.perfbench/data``), starts one fresh worker
process (``worker.py``) with its own ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and
working directory under a scratch root, waits until every process it
started has ended, removes the scratch root and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones.  Exits non-zero
without a result line if the worker fails or overruns.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import golden  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: the worker must finish within this, so the whole run stays under 180 s
WORKER_TIMEOUT_S = 165
#: JVM heap of the worker, fixed (-Xms = -Xmx) so that heap resizing does
#: not vary from run to run: ample for sf0.1, and small next to the 8g the
#: engine defaults to, so that memory stays modest on a shared machine
DRIVER_MEMORY = "3g"


def task_slots() -> int:
    """Spark task slots of the worker: half the cores, at least one.

    The other half is left to what runs beside the tasks: the JIT compiler
    and GC threads (busy for many passes), the Python driver and the Python
    UDF workers.  With every core given to tasks those compete with them and
    with the machine's other tenants, and a run's speed varies with how they
    happen to interleave.  At sf0.1 a call keeps about two cores busy either
    way, so its latency does not change.
    """
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _data_dir(work: str) -> str:
    """Input tables for this ``datagen.py``, generated once per checkout."""
    digest = golden.datagen_digest()
    path = os.path.join(work, "data", f"sf{datagen.SF}-{digest[:12]}")
    if not os.path.exists(os.path.join(path, "_COMPLETE")):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + f".tmp{os.getpid()}"
        datagen.write(tmp)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        os.rename(tmp, path)
    return path


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """Stop every process of the worker's group and wait until none is left."""
    for sig, grace in ((None, 10.0), (signal.SIGTERM, 5.0),
                       (signal.SIGKILL, 5.0)):
        if sig is not None:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if not _group_pids(pgid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description="pyspark-taxi-engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    checkout = os.getcwd()
    if golden.load()["datagen_sha256"] != golden.datagen_digest():
        print("golden.json was computed for another datagen.py; "
              "rerun perfbench/golden.py", file=sys.stderr)
        return 2
    work = os.path.join(checkout, ".perfbench")
    data = _data_dir(work)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "local", "cwd"):
        os.makedirs(os.path.join(scratch, sub))
    out = os.path.join(scratch, "result.json")
    log = os.path.join(scratch, "worker.log")
    spans = os.path.join(work, "traces",
                         f"{args.workload}-seed{args.seed}.spans.jsonl")
    os.makedirs(os.path.dirname(spans), exist_ok=True)

    env = dict(os.environ)
    env.update(
        TMPDIR=os.path.join(scratch, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        SPARK_GRAFT_CPUS=str(task_slots()),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        # keep the JVM's temp files (and no hsperfdata) inside the root too
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
                          " -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Xms{DRIVER_MEMORY} "
                            "pyspark-shell",
        PYTHONPATH=checkout,
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--out", out, "--spans", spans,
    ]
    try:
        with open(log, "w") as logf:
            proc = subprocess.Popen(
                cmd + ["--t0", repr(time.monotonic())],
                cwd=os.path.join(scratch, "cwd"), env=env, stdout=logf,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                print(f"worker overran {WORKER_TIMEOUT_S}s", file=sys.stderr)
                os.killpg(proc.pid, signal.SIGKILL)
            finally:
                _stop_group(proc.pid)
                proc.wait()
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    if result["calls"] == 0 or "metrics" not in result:
        print("no query call completed", file=sys.stderr)
        return 1
    metrics = result["metrics"]
    for why in result["failures"]:
        print(f"FAILED {why}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed}: {result['calls']} timed calls "
          f"in {result['passes']} passes over {result['timed_s']:.2f}s",
          file=sys.stderr)
    print(f"#   re-checked on the stage-cache hit path: "
          f"{', '.join(result['rechecked']) or 'none'}", file=sys.stderr)
    print(f"#   session start {result['session_start_s']:.2f}s; per query: "
          "warm-up call, then timed calls", file=sys.stderr)
    for name, lat in sorted(result["per_query"].items()):
        print(f"#   {name}: {result['setup_calls'][name]:.3f} | "
              f"{' '.join(f'{x:.3f}' for x in lat)}", file=sys.stderr)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
