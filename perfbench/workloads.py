"""The benchmark's workloads: which registry queries one pass runs,
how often each built frame is executed, and which tables it reads.

Each workload is a closed loop with one client: a single driver runs
the steps of a pass back to back, and the next pass starts when the
previous one has finished. ``BENCHMARK.json`` says why each workload
is there; ``README.md`` says which steps were left out and why.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    #: registry query names, run in this order every pass
    steps: tuple[str, ...]
    #: noop executions of each built frame per pass
    executions: int
    #: rebuild every step from scratch each pass (clears the registry's
    #: built-frame memo and releases its checkpoints first)
    fresh_build: bool
    #: input tables the steps read (``rows_per_s`` counts their rows)
    tables: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="report_chain",
            steps=("weekly_report", "olap_rollups"),
            executions=1,
            fresh_build=True,
            tables=("orders", "customer", "nation"),
        ),
        Workload(
            name="corpus_serve",
            steps=("corpus_clean_stats", "embedding_near_pairs"),
            executions=2,
            fresh_build=False,
            tables=("documents", "embeddings"),
        ),
    )
}
