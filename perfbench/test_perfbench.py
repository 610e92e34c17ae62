"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q        # about five minutes

The end-to-end cases run each workload once in ``--fast`` mode (one
short pass at sf0.001), untraced and traced, and check that every
metric ``BENCHMARK.json`` names is reported with its unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from tracing import covered, sql_metric_value  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=400,
    )


@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_fast_run_reports_every_metric(workload, trace, kind):
    out = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--fast")
    assert out.returncode == 0
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in SPEC[kind]}
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", SPEC["workloads"][0]["name"],
               "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert out.stdout == ""


def test_inputs_depend_only_on_the_seed(tmp_path):
    def digest(seed: int, sub: str) -> dict:
        d = tmp_path / sub
        stats = datagen.write_inputs(str(d), 0.001, seed)
        return {t: (s["rows"], (d / f"{t}.parquet").read_bytes()) for t, s in stats.items()}

    a, b, c = digest(5, "a"), digest(5, "b"), digest(6, "c")
    assert a == b
    assert {t: r for t, (r, _) in a.items()} == {t: r for t, (r, _) in c.items()}
    assert a["orders"][1] != c["orders"][1]


@pytest.mark.skipif(not os.environ.get("PERFBENCH_FIXTURES"),
                    reason="set PERFBENCH_FIXTURES to a directory of the engine's sf0.01 test tables")
def test_inputs_match_the_fixtures(tmp_path):
    """The generated tables have the fixtures' schemas and row counts,
    and each column's distinct count and range are close to theirs."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    datagen.write_inputs(str(tmp_path), 0.01, 7)
    for t in datagen.TABLES:
        real = pq.read_table(os.path.join(os.environ["PERFBENCH_FIXTURES"], f"{t}.parquet"))
        gen = pq.read_table(tmp_path / f"{t}.parquet")
        assert gen.schema == real.schema and gen.num_rows == real.num_rows, t
        for name in real.column_names:
            a, b = real[name], gen[name]
            if pt.is_list(a.type):
                continue
            assert pc.count_distinct(b).as_py() == pytest.approx(
                pc.count_distinct(a).as_py(), rel=0.05), (t, name)
            if not pt.is_string(a.type):
                lo, hi = pc.min_max(a).values()
                span = (hi.as_py() - lo.as_py()) * 0.1
                got = pc.min_max(b)
                assert lo.as_py() - span <= got["min"].as_py() <= hi.as_py(), (t, name)
                assert lo.as_py() <= got["max"].as_py() <= hi.as_py() + span, (t, name)


def test_sql_metric_strings():
    assert sql_metric_value("1,234", "sum") == 1234
    assert sql_metric_value("2.0 KiB", "size") == 2048
    assert sql_metric_value("45 ms", "timing") == pytest.approx(0.045)
    many = "total (min, med, max (stageId: taskId))\n1.5 s (0 ms, 1 ms, 2 ms (stage 1.0: task 2))"
    assert sql_metric_value(many, "timing") == pytest.approx(1.5)


def test_covered_counts_overlaps_once():
    assert covered((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0)]) == pytest.approx(5.0)
    assert covered((0.0, 1.0), []) == 0.0
