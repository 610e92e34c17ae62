"""Benchmark worker: runs one workload in one Spark session and writes
its result file. Started by ``perfbench/run.py``, which sets the
environment (temp dirs, Spark scratch dirs, core count) and prints the
result line; run it directly only for debugging.

Phases of a run:

1. Set-up: start the session (``get_spark`` in a fresh process, so the
   JVM launch is included), then three times: write the seeded inputs
   to a fresh directory and check their row counts with Spark.
2. Warm-up passes, until pass times stop falling. The first is also
   the output check: each step's result is collected and compared with
   its registry DuckDB twin; the time spent in DuckDB and in the
   comparison is not counted.
   ``setup_s`` = session start + median input set-up + warm-up passes.
3. Timed passes until ``--seconds`` have gone by (at least one).
   ``--trace 1`` splits this time: untraced passes first, then traced
   passes; per-layer metrics are per traced pass, averaged, and
   ``trace.overhead_s`` is the difference of the two medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

INPUT_SETUPS = 3
#: a fresh JVM's first pass runs about twice as slowly as later ones,
#: and its second still about a third slower
WARMUP_PASSES = 2
#: scale factor of the generated inputs; ``--fast`` uses ``FAST_SF``
SF = 0.01
FAST_SF = 0.001


def metric_units(kind: str) -> dict[str, str]:
    """Name → unit of the metrics ``BENCHMARK.json`` lists under
    ``kind``: "end_to_end" (``--trace 0``) or "per_layer" (``--trace 1``)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Oracle:
    """The registry's DuckDB twins over one input directory, compared
    with ``tools/check_oracle.canon`` (the correctness gate's rule)."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.sql(f"create view {t} as select * from '{path}'")

    def matches(self, name: str, got) -> bool:
        from map_reduce_sf_crime_spark.plans.registry import REGISTRY
        from tools.check_oracle import canon

        want = self.con.sql(REGISTRY[name].oracle).df()
        return (
            sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and canon(got) == canon(want)
        )


class Runner:
    """Runs passes of one workload and counts what they attempt, what
    raises and what disagrees with the oracle."""

    def __init__(self, spark, workload, data_dir: str) -> None:
        self.spark = spark
        self.wl = workload
        self.data_dir = data_dir
        self.attempted = 0
        self.failed = 0
        self.wrong = 0
        self.rows_out: dict[str, int] = {}
        self.check_s = 0.0
        self.step_times: dict[str, list[float]] = {}
        self.tracer = None

    def _span(self, name: str, **attrs):
        import contextlib

        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    def _group(self, label: str) -> None:
        if self.tracer is not None:
            self.tracer.job_group(label)

    def run_step(self, name: str, index: int, oracle: Oracle | None) -> None:
        from map_reduce_sf_crime_spark.functions.caching import release_plan_checkpoints
        from map_reduce_sf_crime_spark.plans import registry

        if self.wl.fresh_build:
            release_plan_checkpoints()
            registry._BUILT.clear()
        label = f"perfbench|{name}|build|{index}"
        self._group(label)
        with self._span("plans.build", step=name, group=label) as build:
            df = registry.REGISTRY[name].spark(self.spark, self.data_dir)
        if self.tracer is not None:
            self.tracer.catalyst(df, build)
        for i in range(self.wl.executions):
            label = f"perfbench|{name}|action|{index}"
            self._group(label)
            with self._span("executor.action", step=name, group=label):
                if oracle is not None and i == 0:
                    got = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            if oracle is not None and i == 0:
                t0 = time.perf_counter()
                self.rows_out[name] = len(got)
                if not oracle.matches(name, got):
                    self.wrong += 1
                    print(f"perfbench: {name} disagrees with its oracle", file=sys.stderr)
                self.check_s += time.perf_counter() - t0
        if self.tracer is not None:
            self.tracer.resident_mb()

    def run_pass(self, index: int, oracle: Oracle | None = None) -> float:
        """One pass over the workload's steps; returns its wall time
        (oracle time excluded). A step that raises is counted and the
        pass goes on."""
        check0 = self.check_s
        if self.tracer is not None:
            self.tracer.begin_pass(index)
        t0 = time.perf_counter()
        with self._span("pass", index=index) as pass_span:
            for name in self.wl.steps:
                self.attempted += 1
                t_step = time.perf_counter()
                try:
                    with self._span("step", step=name):
                        self.run_step(name, index, oracle)
                except Exception:  # noqa: BLE001 — a failed step is a measured outcome
                    self.failed += 1
                    traceback.print_exc()
                self.step_times.setdefault(name, []).append(time.perf_counter() - t_step)
        wall = time.perf_counter() - t0 - (self.check_s - check0)
        if self.tracer is not None:
            rows = sum(self.rows_out.get(s, 0) for s in self.wl.steps) * self.wl.executions
            self.tracer.end_pass(pass_span, rows)
        return wall


def timed_passes(runner: Runner, seconds: float, first_index: int) -> list[float]:
    times: list[float] = []
    t0 = time.perf_counter()
    while not times or time.perf_counter() - t0 < seconds:
        times.append(runner.run_pass(first_index + len(times)))
    return times


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def check_inputs(spark, data_dir: str, stats: dict) -> None:
    for table, st in stats.items():
        n = spark.read.parquet(os.path.join(data_dir, f"{table}.parquet")).count()
        if n != st["rows"]:
            raise RuntimeError(f"input {table}: {n} rows read, {st['rows']} written")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--fast", action="store_true")
    args = p.parse_args()
    wl = WORKLOADS[args.workload]
    sf = FAST_SF if args.fast else SF

    from map_reduce_sf_crime_spark.session import cpu_count, get_spark

    session_wall = [time.time()]
    spark = get_spark("perfbench")
    session_wall.append(time.time())
    session_s = session_wall[1] - session_wall[0]
    input_times = []
    for k in range(1 if args.fast else INPUT_SETUPS):
        t0 = time.perf_counter()
        data_dir = os.path.join(args.run_dir, "data", f"setup{k}")
        stats = datagen.write_inputs(data_dir, sf, args.seed, wl.tables)
        check_inputs(spark, data_dir, stats)
        input_times.append(time.perf_counter() - t0)

    runner = Runner(spark, wl, data_dir)
    warm = [runner.run_pass(0, oracle=Oracle(data_dir, wl.tables))]
    check_failed = runner.failed
    while len(warm) < (1 if args.fast else WARMUP_PASSES):
        warm.append(runner.run_pass(len(warm)))
    setup_s = session_s + statistics.median(input_times) + sum(warm)
    input_rows = sum(st["rows"] for st in stats.values())
    input_bytes = sum(st["bytes"] for st in stats.values())

    details: dict = {
        "workload": wl.name, "seed": args.seed, "sf": sf, "cores": cpu_count(),
        "session_s": session_s, "input_setup_times_s": input_times,
        "warmup_pass_times_s": warm, "oracle_s": runner.check_s,
        "input_rows": input_rows, "input_bytes": input_bytes,
        "rows_out": runner.rows_out, "wrong_outputs": runner.wrong,
        "check_failed": check_failed,
    }
    if args.trace == 0:
        # read before the timed passes, whose number varies with the
        # machine's speed, so the peak always covers the same work
        rss_mb = jvm_peak_rss_mb(spark)
        times = timed_passes(runner, args.seconds, len(warm))
        pass_s = statistics.median(times)
        metrics = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "rows_per_s": input_rows / pass_s,
            "jvm_peak_rss_mb": rss_mb,
        }
        units = metric_units("end_to_end")
        details["pass_times_s"] = times
    else:
        from tracing import Tracer

        plain = timed_passes(runner, args.seconds / 2, len(warm))
        tracer = Tracer(spark, cpu_count())
        tracer.add_span("session.start", *session_wall, None)
        tracer.install()
        runner.tracer = tracer
        traced = timed_passes(runner, args.seconds / 2, len(warm) + len(plain))
        metrics = {
            k: statistics.fmean(p[k] for p in tracer.passes) for k in tracer.passes[0]
        }
        metrics["session.start_s"] = session_s
        metrics["trace.pass_s"] = statistics.median(traced)
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        units = metric_units("per_layer")
        details.update(untraced_pass_times_s=plain, traced_pass_times_s=traced,
                       traced_passes=tracer.passes)
        tracer.write_spans(os.path.join(args.run_dir, "spans.json"))

    details["step_times_s"] = runner.step_times
    spark.stop()
    result = {
        "correct": runner.wrong == 0 and check_failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        "details": details,
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
