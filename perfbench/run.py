"""Benchmark entry point.

    python3 perfbench/run.py --workload report_chain --seed 1 --seconds 20 --trace 0

Runs one workload (see ``perfbench/README.md``) in a worker process and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. ``--fast`` runs one short pass at sf0.001 (the
benchmark's own tests use it).

The worker's output, Spark's logs included, goes to standard error.
The worker writes its result to a file under ``.perfbench/`` in the
checkout; this process prints that file's JSON only once the worker
and every process it started have ended, so late shutdown messages can
never follow or interleave with the result line. Everything the run
writes (inputs, Spark scratch and temp files, results, spans) stays
inside the checkout.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "map_reduce_sf_crime_spark")

#: Wall-clock limit for one run; the worker is killed past it.
TIMEOUT_S = 170.0
#: Driver heap. The engine's default (8g) made no pass faster and the
#: driver's peak resident set 2-3x larger and far less steady; see
#: "Driver heap" in README.md.
DRIVER_HEAP = "1g"


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fast", action="store_true")
    return p.parse_args(argv)


def worker_env(run_dir: str) -> dict[str, str]:
    """Environment that keeps every file the run writes under
    ``run_dir``: Python and JVM temp files, Spark's local dirs."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS=env.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        PYSPARK_SUBMIT_ARGS=" ".join([
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            # keep every job, stage and SQL execution of a run in the
            # status store, so the traced run can attribute all of them
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell",
        ]),
    )
    return env


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _stop_group(pgid: int, grace_s: float = 10.0) -> None:
    """Stop every process left in the worker's process group (the
    Spark JVM and Python workers) and wait until they have ended."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while _group_alive(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(PACKAGE):
        print(f"perfbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-fast' if args.fast else ''}"
    run_dir = os.path.join(WORK, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--out", out,
    ] + (["--fast"] if args.fast else [])
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=worker_env(run_dir), stdin=subprocess.DEVNULL,
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {TIMEOUT_S:.0f} s", file=sys.stderr)
        code = None
    finally:
        _stop_group(proc.pid)
        proc.wait()
        for scratch in ("data", "tmp", "spark-local"):
            shutil.rmtree(os.path.join(run_dir, scratch), ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)
    line = json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")})
    sys.stderr.flush()
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
