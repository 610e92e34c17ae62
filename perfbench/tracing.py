"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Everything here is measured from outside the engine, around calls into
its public functions and through Spark's own in-process status stores
(the web UI stays off):

- spans: ``session.start``, ``pass``, ``step``, ``plans.build`` (the
  registry build), ``mdx`` (``parse_mdx`` / ``mdx_cells_many``),
  ``catalyst.analysis|optimization|planning`` (from
  ``QueryExecution.tracker()``), ``executor.action`` (the noop write),
  and ``executor.job`` (from the status store);
- counts: stage metrics (task time, input, shuffle, spill), SQL plan
  metrics (files read, scan time, aggregation time, Python worker time,
  rows out of every operator), resident storage after each step and
  the cache-release failure counter.

Spans are held in memory and written once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def sql_metric_value(text: str, kind: str) -> float:
    """Number behind one SQL plan metric string as the status store
    renders it: ``"1,234"`` (sum), ``"12.3 MiB"`` / ``"45 ms"`` (one
    task), or ``"total (min, med, max ...)\\n12.3 MiB (...)"`` (several
    tasks, total first). Sizes come back in bytes, times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1].split(" (", 1)[0]
    text = text.strip()
    if kind == "sum":
        return float(text.replace(",", ""))
    if kind not in ("size", "timing", "nsTiming"):
        return 0.0
    num, _, unit = text.partition(" ")
    scale = _SIZE.get(unit) or _TIME.get(unit)
    return float(num.replace(",", "")) * scale if scale else 0.0


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Spans and counts of one traced run. ``install`` wraps the MDX
    entry points; ``begin_pass`` / ``end_pass`` bracket each traced
    pass, and ``end_pass`` folds the status-store records of that pass
    into per-pass totals."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.spans: list[dict] = []
        self.passes: list[dict] = []
        self._stack: list[int] = []
        self._jvm = spark.sparkContext._jvm
        mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = self._jvm.com.fasterxml.jackson.module.scala
        mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        self._mapper = mapper
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._job_cursor, self._stage_cursor = -1, -1
        self._exec_seen = 0
        self._release_failures0 = 0
        self._cur: dict | None = None

    # ---- spans -------------------------------------------------------
    def add_span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        rec = {"id": len(self.spans), "parent": parent, "name": name,
               "start": start, "end": end, **attrs}
        if self._cur is not None:
            rec["trace"] = self._cur["index"]
        self.spans.append(rec)
        return rec

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = self.add_span(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def install(self) -> None:
        from map_reduce_sf_crime_spark import mdx
        from map_reduce_sf_crime_spark.functions import caching

        for fname in ("parse_mdx", "mdx_cells_many"):
            fn = getattr(mdx, fname)

            @functools.wraps(fn)
            def wrapped(*a, _fn=fn, **k):
                with self.span("mdx", fn=_fn.__name__):
                    return _fn(*a, **k)

            setattr(mdx, fname, wrapped)
        self._release_failures0 = caching._RELEASE_FAILURES
        self._advance_cursors()

    # ---- per-step probes ----------------------------------------------
    def job_group(self, label: str) -> None:
        self.spark.sparkContext.setJobGroup(label, label, False)

    def catalyst(self, df, build_span: dict) -> None:
        """Record the tracker phases of the built frame: analysis ran
        inside the build; optimization and planning are forced here
        (the noop action repeats them on its own QueryExecution)."""
        with self.span("catalyst") as rec:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
        for phase, parent in (("analysis", build_span["id"]),
                              ("optimization", rec["id"]), ("planning", rec["id"])):
            got = phases.get(phase)
            if got.isDefined():
                s = got.get()
                self.add_span(f"catalyst.{phase}", s.startTimeMs() / 1e3,
                              s.endTimeMs() / 1e3, parent)

    def resident_mb(self) -> float:
        rdds = self._json(self._store.rddList(True))
        mb = sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / 2**20
        if self._cur is not None:
            self._cur["resident_mb_peak"] = max(self._cur["resident_mb_peak"], mb)
        return mb

    # ---- passes --------------------------------------------------------
    def begin_pass(self, index: int) -> None:
        self._cur = {"index": index, "resident_mb_peak": 0.0, "span_from": len(self.spans)}

    def end_pass(self, pass_span: dict, rows_out: int) -> dict:
        """Fold the pass's jobs, stages and SQL executions into per-pass
        totals (outside the pass's own timing)."""
        from map_reduce_sf_crime_spark.functions import caching

        self._drain()
        cur, self._cur = self._cur, None
        spans = self.spans[cur["span_from"]:]
        jobs, stages, execs = self._new_records()
        phases = [s for s in spans if s["name"] in ("plans.build", "executor.action")]
        for j in jobs:
            start = j.get("submissionTime")
            end = j.get("completionTime") or start
            if start is None:
                continue
            home = _home(phases, start / 1e3, j.get("jobGroup"))
            self.add_span("executor.job", start / 1e3, end / 1e3,
                          home["id"] if home else pass_span["id"], job=j["jobId"])
        spans = self.spans[cur["span_from"]:]
        children: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in spans:
            s["self"] = (s["end"] - s["start"]) - covered(
                (s["start"], s["end"]), children.get(s["id"], []))

        def total(name: str, key: str = "dur") -> float:
            return sum((s["end"] - s["start"]) if key == "dur" else s[key]
                       for s in spans if s["name"] == name)

        job_iv = [(s["start"], s["end"]) for s in spans if s["name"] == "executor.job"]
        builds = [s for s in spans if s["name"] == "plans.build"]
        build_ids = {s["id"] for s in builds}
        sqlm = _sql_totals(execs)
        st = {k: sum(s.get(k, 0) for s in stages if s.get("status") == "COMPLETE")
              for k in ("executorRunTime", "inputRecords", "inputBytes",
                        "shuffleWriteBytes", "shuffleWriteRecords", "diskBytesSpilled",
                        "numCompleteTasks")}
        wall = pass_span["end"] - pass_span["start"]
        task_s = st["executorRunTime"] / 1e3
        rec = {
            "pass_s": wall,
            "plans.build_s": total("plans.build"),
            "plans.build_driver_s": sum(
                (b["end"] - b["start"]) - covered((b["start"], b["end"]), job_iv)
                for b in builds),
            "plans.build_jobs": sum(1 for s in spans
                                    if s["name"] == "executor.job" and s["parent"] in build_ids),
            "plans.self_s": total("plans.build", "self"),
            "mdx.s": total("mdx"),
            "mdx.self_s": total("mdx", "self"),
            "catalyst.analysis_s": total("catalyst.analysis"),
            "catalyst.optimization_s": total("catalyst.optimization"),
            "catalyst.planning_s": total("catalyst.planning"),
            "executor.action_s": total("executor.action"),
            "executor.action_self_s": total("executor.action", "self"),
            "executor.task_s": task_s,
            "executor.busy_frac": task_s / (wall * self.cores) if wall > 0 else 0.0,
            "executor.jobs": len(jobs),
            "executor.stages": sum(1 for s in stages if s.get("status") == "COMPLETE"),
            "executor.tasks": st["numCompleteTasks"],
            "sources.scan_rows": st["inputRecords"],
            "sources.scan_bytes": st["inputBytes"],
            "sources.scan_files": sqlm.get("number of files read", 0.0),
            "sources.scan_s": sqlm.get("scan time", 0.0),
            "operators.shuffle_write_bytes": st["shuffleWriteBytes"],
            "operators.shuffle_records": st["shuffleWriteRecords"],
            "operators.spill_bytes": st["diskBytesSpilled"],
            "operators.agg_s": sqlm.get("time in aggregation build", 0.0),
            "operators.python_udf_s": sqlm.get("time to run Python workers", 0.0),
            "operators.rows_examined_per_row_out":
                sqlm.get("number of output rows", 0.0) / max(rows_out, 1),
            "functions.caching.resident_mb_peak": cur["resident_mb_peak"],
            "functions.caching.resident_mb_after": self.resident_mb(),
            "functions.caching.release_failures":
                caching._RELEASE_FAILURES - self._release_failures0,
        }
        self.passes.append(rec)
        return rec

    # ---- status store ----------------------------------------------------
    def _json(self, jobj):
        return json.loads(self._mapper.writeValueAsString(jobj))

    def _drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event of
        the pass."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage_list(self):
        empty = self.spark.sparkContext._gateway.new_array(self._jvm.double, 0)
        return self._json(self._store.stageList(None, False, False, empty, None))

    def _advance_cursors(self) -> None:
        """Skip every record from before the tracer was installed."""
        self._drain()
        jobs = self._json(self._store.jobsList(None))
        self._job_cursor = max([j["jobId"] for j in jobs], default=-1)
        self._stage_cursor = max([s["stageId"] for s in self._stage_list()], default=-1)
        self._exec_seen = self._sql.executionsCount()

    def _new_records(self):
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > self._job_cursor]
        stages = [s for s in self._stage_list() if s["stageId"] > self._stage_cursor]
        self._job_cursor = max([j["jobId"] for j in jobs], default=self._job_cursor)
        self._stage_cursor = max([s["stageId"] for s in stages], default=self._stage_cursor)
        seq = self._sql.executionsList(self._exec_seen, 1 << 30)
        execs = []
        for i in range(seq.size()):
            e = seq.apply(i)
            execs.append((self._json(e.metrics()),
                          self._json(self._sql.executionMetrics(e.executionId()))))
        self._exec_seen += len(execs)
        return jobs, stages, execs

    def write_spans(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _home(phases: list[dict], t: float, group: str | None) -> dict | None:
    """The build/action span a job belongs to: by job group when the
    driver thread set one, else the span covering its start."""
    if group:
        for s in phases:
            if s.get("group") == group:
                return s
    for s in phases:
        if s["start"] <= t <= s["end"]:
            return s
    return None


def _sql_totals(execs) -> dict[str, float]:
    """Sum each SQL plan metric, by name, over the given executions."""
    out: dict[str, float] = {}
    for metrics, values in execs:
        for m in metrics:
            v = values.get(str(m["accumulatorId"]))
            if v is None:
                continue
            try:
                x = sql_metric_value(v, m["metricType"])
            except ValueError:
                continue
            out[m["name"]] = out.get(m["name"], 0.0) + x
    return out
