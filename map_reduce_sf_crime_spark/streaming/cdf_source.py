"""Streaming change-data-feed source for the manifest-protocol
lakehouse — ``spark.readStream.format("lakehouse_cdf")``.

The batch form (`sources.lakehouse.read_changes`) answers "what
changed between two snapshots I name"; this source answers the
CONTINUOUS version: every committed merge becomes a micro-batch of
change events in the same Delta-CDF vocabulary (``insert`` /
``delete`` / ``update_preimage`` / ``update_postimage``), so
downstream maintenance — fold into the ANN indexes, the dedup
catalog, the term-stats ledger, a serving aggregate — runs as a
Structured Streaming job with checkpointed offsets instead of a
hand-rolled cursor loop. Built on the PySpark 4 Python Data Source
API (public: ``pyspark.sql.datasource``).

Offsets and exactly-once: an offset is ``{"cid": N}`` — the last
commit id folded into the stream. ``latestOffset`` advances to the
newest COMMITTED id (torn intents are invisible, exactly as
``read_changes`` refuses uncommitted endpoints); a micro-batch over
``(a, b]`` is a deterministic function of the manifests + archived
pre-images, so checkpoint replay reproduces it bit-for-bit and an
idempotent sink (e.g. the staged-delta materializer, or the fold
functions' replay contracts) yields end-to-end exactly-once.
Retention rule inherited from time travel: replaying past a rewrite
requires the merges to run ``archive=True``; a vacuumed pre-image
RAISES at planning time rather than mis-diffing.

Scale shape: planning reads only manifest JSON (commit-count-sized);
each input partition is ONE touched table-partition subpath, diffed
LOCALLY on an executor (pyarrow read → key-merge → classify) — valid
because the merge contract pins a key to one partition forever, so
the global diff is the disjoint union of per-partition diffs. Work
per batch is churn-sized: partitions untouched by the commit range
are never listed, opened, or shipped.

Snapshots resolve through ``sources.manifests``, the same commit-log
fold the batch readers use. This reader hands it ``os`` listings
(``manifests.local_ls``): ``partitions()`` and ``latestOffset()`` run
in Python workers where no SparkSession exists, so the source serves
local and NFS-style paths; an object-store deployment would pass
fsspec-backed ``ls``/``read_json`` callables instead. Only the diff
differs from ``read_changes``: a Spark full-outer join there, a
per-partition pandas merge here; tests/test_streaming.py compares
every micro-batch against ``read_changes`` on the same commits.

Column types are the schema ``write_partitioned`` recorded with the
table (``manifests.recorded_schema``), the record the batch readers
read with too: partition values arrive as directory-name strings and
are cast to their recorded types (``_cast_part_value``). A table with
no record (say, one written by a plain ``df.write.partitionBy``) is
refused by ``schema()`` with a ``ValueError`` naming its path.
"""

from __future__ import annotations

import datetime
import decimal
from typing import Iterator, Sequence
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..sources import manifests

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_CHANGE_COL = "_change_type"
#: merge sentinel for NULL key values (null-safe equality twin)
_NULL_KEY = "\x00__cdf_null_key__\x00"


def _log(root: str) -> manifests.CommitLog:
    return manifests.CommitLog(
        manifests.local_ls, manifests.local_read_json, root
    )


def _paths(resolved: dict, sub: str) -> list[str]:
    return [f for _base, f in resolved.get(sub, [])]


def _parse_subpath(sub: str, part_cols: list[str]) -> dict[str, str | None]:
    vals: dict[str, str | None] = {}
    for seg in sub.split("/"):
        if "=" not in seg:
            continue
        k, v = seg.split("=", 1)
        vals[k] = None if v == _HIVE_NULL else unquote(v)
    return {c: vals.get(c) for c in part_cols}


def _cast_part_value(v: str | None, ddl: str):
    """A hive partition value as ``ddl``'s Python type. Timestamps are
    wall-clock strings in the writing session's time zone, which
    ``session.get_spark`` pins to UTC."""
    if v is None:
        return None
    if ddl in ("tinyint", "smallint", "int", "bigint"):
        return int(v)
    if ddl in ("float", "double"):
        return float(v)
    if ddl.startswith("decimal"):
        return decimal.Decimal(v)
    if ddl == "boolean":
        return v == "true"
    if ddl == "date":
        return datetime.date.fromisoformat(v)
    if ddl == "timestamp":
        return datetime.datetime.fromisoformat(v).replace(
            tzinfo=datetime.timezone.utc
        )
    if ddl == "timestamp_ntz":
        return datetime.datetime.fromisoformat(v)
    return v


# ---------------------------------------------------------------------------
# the data source
# ---------------------------------------------------------------------------


class LakehouseChangeFeed(DataSource):
    """``spark.readStream.format("lakehouse_cdf")`` — see module
    docstring. Options:

    - ``path`` (required): lakehouse table root (manifest-protocol).
    - ``keyCols`` (required): comma-separated merge key columns (the
      same keys ``merge_upsert`` matches on).
    - ``startingCid`` (optional): a COMMITTED commit id; the feed
      emits changes strictly AFTER it. Default: the latest committed
      id when the stream starts (new changes only — Delta CDF's
      ``startingVersion`` semantics for the "now" case).
    - ``maxCommitsPerTrigger`` (optional): admission control — cap
      each micro-batch at this many commits, so a long backlog (a
      weekend of merges, a historical replay) drains as bounded
      batches instead of one giant diff. Best-effort like Delta's
      ``maxFilesPerTrigger``: the cap counts from the reader's view
      of progress (advanced at planning and commit time), so the
      first batch after a restart may exceed it; with
      ``Trigger.AvailableNow`` (which falls back to single-batch for
      Python sources) only ONE capped batch runs per start — drain a
      backlog with repeated runs or a continuous trigger.

    Register once per session::

        spark.dataSource.register(LakehouseChangeFeed)
    """

    @classmethod
    def name(cls) -> str:
        return "lakehouse_cdf"

    def _root(self) -> str:
        path = self.options.get("path")
        if not path:
            raise ValueError("lakehouse_cdf: option 'path' is required")
        return path.rstrip("/").removeprefix("file:")

    def schema(self) -> StructType:
        """The schema ``write_partitioned`` recorded (the columns as
        ``read_changes`` emits them) plus ``_change_type``."""
        root = self._root()
        rec = manifests.recorded_schema(
            manifests.local_ls, manifests.local_read_json, root
        )
        if rec is None:
            raise ValueError(
                f"lakehouse_cdf: {root} has no recorded schema; rewrite it "
                "once with sources.lakehouse.write_partitioned to record one"
            )
        return StructType.fromJson(rec).add(_CHANGE_COL, "string")

    def streamReader(self, schema) -> "_CDFStreamReader":
        key_cols = [
            c.strip()
            for c in (self.options.get("keycols") or "").split(",")
            if c.strip()
        ]
        if not key_cols:
            raise ValueError("lakehouse_cdf: option 'keyCols' is required")
        starting = self.options.get("startingcid")
        max_commits = self.options.get("maxcommitspertrigger")
        return _CDFStreamReader(
            self._root(),
            key_cols,
            schema,
            int(starting) if starting is not None else None,
            int(max_commits) if max_commits is not None else None,
        )


class _CDFStreamReader(DataSourceStreamReader):
    def __init__(self, root, key_cols, schema, starting_cid, max_commits=None):
        self._root = root
        self._key_cols = key_cols
        self._fields = [f.name for f in schema.fields]
        self._part_types = {
            f.name: f.dataType.simpleString() for f in schema.fields
        }
        if max_commits is not None and max_commits <= 0:
            raise ValueError(
                f"lakehouse_cdf: maxCommitsPerTrigger must be > 0 "
                f"(got {max_commits})"
            )
        self._max_commits = max_commits
        log = _log(root)
        if starting_cid is not None:
            log.require_committed(starting_cid, "lakehouse_cdf startingCid")
            self._start = starting_cid
        elif log.committed():
            self._start = log.committed()[-1]
        else:
            raise ValueError(
                f"lakehouse_cdf: no committed manifests at {root} — the "
                "feed needs at least the first committed merge"
            )
        # progress watermark for the admission cap; checkpointed starts
        # re-sync it at partitions() time, so the cap is best-effort
        # for the first post-restart batch only
        self._seen = self._start

    def initialOffset(self) -> dict:
        return {"cid": self._start}

    def latestOffset(self) -> dict:
        ids = _log(self._root).committed()
        if self._max_commits is None:
            return {"cid": ids[-1]}
        # walk the COMMITTED id list, never id arithmetic: commit ids
        # can have gaps (a torn intent whose recovery re-ran as the
        # next id), and an endpoint landing on an uncommitted id
        # would diff against a half-overwritten state the batch
        # reader by contract refuses
        ahead = [i for i in ids if i > self._seen]
        if not ahead:
            return {"cid": self._seen}
        return {"cid": ahead[min(self._max_commits, len(ahead)) - 1]}

    def commit(self, end: dict) -> None:
        self._seen = max(self._seen, int(end["cid"]))

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        a, b = int(start["cid"]), int(end["cid"])
        self._seen = max(self._seen, b)
        log = _log(self._root)
        part_cols = log.meta[b][0]["partition_cols"]
        touched = log.touched(a, b)
        pre, post = log.resolve(a, touched), log.resolve(b, touched)
        parts = [
            InputPartition(
                {
                    "sub": sub,
                    "pre": _paths(pre, sub),
                    "post": _paths(post, sub),
                    "part_vals": _parse_subpath(sub, part_cols),
                }
            )
            for sub in sorted(touched)
            if sub in pre or sub in post
        ]
        # zero-work batch (e.g. a merge whose change frame was empty):
        # the engine still plans it, so hand it one no-op partition
        return parts or [InputPartition({"sub": None})]

    # -- executor side ------------------------------------------------

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        import math

        import pandas as pd
        import pyarrow.parquet as pq

        spec = partition.value
        if spec["sub"] is None:
            return
        data_cols = [
            c
            for c in self._fields
            if c != _CHANGE_COL and c not in spec["part_vals"]
        ]
        pvals = tuple(
            _cast_part_value(v, self._part_types[c])
            for c, v in spec["part_vals"].items()
        )

        def _load(files) -> pd.DataFrame:
            if not files:
                return pd.DataFrame(columns=data_cols)
            tbl = pq.read_table(files, columns=data_cols)
            return tbl.to_pandas()[data_cols]

        def _py(v):
            if v is None or v is pd.NaT:
                return None
            if isinstance(v, float) and math.isnan(v):
                return None
            if hasattr(v, "tolist"):  # numpy scalar or array
                return v.tolist()
            if isinstance(v, pd.Timestamp):
                return None if pd.isna(v) else v.to_pydatetime()
            return v

        pre, post = _load(spec["pre"]), _load(spec["post"])
        keys = self._key_cols

        def _emit(row_vals, tag):
            return tuple(_py(v) for v in row_vals) + pvals + (tag,)

        if pre.empty or post.empty:
            whole, tag = (post, "insert") if pre.empty else (pre, "delete")
            for row in whole.itertuples(index=False, name=None):
                yield _emit(row, tag)
            return

        def _with_mkeys(df, side):
            out = df.copy()
            for k in keys:
                out[f"_mk_{k}"] = [
                    _NULL_KEY if _py(v) is None else _py(v) for v in df[k]
                ]
            out.columns = [
                c if c.startswith("_mk_") else f"{side}.{c}" for c in out.columns
            ]
            return out

        merged = _with_mkeys(pre, "a").merge(
            _with_mkeys(post, "b"),
            on=[f"_mk_{k}" for k in keys],
            how="outer",
            indicator=True,
        )
        val_cols = [c for c in data_cols if c not in keys]
        # name=None: the prefixed column labels are not identifiers,
        # so named tuples would positionally mangle them
        for row in merged.itertuples(index=False, name=None):
            r = dict(zip(merged.columns, row))
            which = r["_merge"]
            if which == "left_only":
                yield _emit([r[f"a.{c}"] for c in data_cols], "delete")
            elif which == "right_only":
                yield _emit([r[f"b.{c}"] for c in data_cols], "insert")
            else:
                if all(_py(r[f"a.{c}"]) == _py(r[f"b.{c}"]) for c in val_cols):
                    continue
                yield _emit(
                    [r[f"a.{c}"] for c in data_cols], "update_preimage"
                )
                yield _emit(
                    [r[f"b.{c}"] for c in data_cols], "update_postimage"
                )
