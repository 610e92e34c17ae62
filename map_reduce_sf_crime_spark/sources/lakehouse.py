"""Lakehouse write layout — the 100 TB form of the reference's K3/K4
"truncate and bulk reload" sinks (dimensions.ktr:611-740, LoadStarDB.
java:202-217).

Three layout strategies, all exercised by tests/test_lakehouse.py
against the physical layout (plans / parquet footers, not just
results):

- **Partitioned parquet** (`write_partitioned`): hive-style
  ``col=value`` directories. Predicates on partition columns become
  *partition pruning* — the scan lists only matching directories, so
  a year/month slice of a 100 TB fact touches only that slice's
  files. This replaces the reference's per-quarter manual file
  handling (one CSV per export window).
- **Bucketed tables** (`write_bucketed`): ``bucketBy(n, key)`` via
  ``saveAsTable``. Two tables bucketed on the same key by the same
  bucket count join WITHOUT a shuffle — the join degenerates to
  per-bucket sort-merge. At 100 TB this removes the dominant cost of
  the orders⋈customer class of joins when one side is reused across
  many queries (write once bucketed, join many times shuffle-free).
- **Z-order clustering** (`write_zordered`): files clustered on the
  Morton curve of several columns, so min/max footer stats skip
  files for predicates on ANY clustering column — the
  multi-dimensional complement to single-column sorting, for the
  100 TB fact whose queries filter by user *or* by time.

``mode="overwrite"`` everywhere — the atomic replacement of the
reference's truncate-then-insert (K4), without its read-gap.
"""

from __future__ import annotations

import operator
from collections.abc import Callable
from contextlib import contextmanager, suppress
from functools import partial, reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    AtomicType,
    DataType,
    MapType,
    NullType,
    StructField,
    StructType,
    UserDefinedType,
    VariantType,
)

from . import manifests


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """K3 at scale: columnar, partition-pruned, atomically replaced.

    An overwrite then records the schema readers get (data columns,
    then ``partition_cols``, all nullable) as ``_commits/_schema.json``,
    which every reader reads with (:func:`_reader`, ``lakehouse_cdf``):
    a partition column keeps its written type instead of the one Spark
    guesses from its directory name. Merges and compactions keep the
    record; another mode deletes it if the schema differs, and the
    table reads by inference, like a plain ``df.write.partitionBy``.

    An overwrite starts a new history: Spark removes the table root,
    commit log included, so every earlier commit id, ``.archive``
    pre-image and lease goes with it. On a table that has a commit log
    it therefore takes the table lease (:func:`acquire_lease`) first:
    a live writer's lease raises :class:`ConcurrentWriterError` and
    leaves the log intact."""
    spark = df.sparkSession
    fields = [f for f in df.schema if f.name not in partition_cols]
    fields += [df.schema[c] for c in partition_cols]
    schema = StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in fields]
    ).jsonValue()
    record = f"{path.rstrip('/')}/{_COMMITS_DIR}/{manifests.SCHEMA_FILE}"
    recorded = None if mode == "overwrite" else _recorded_schema(spark, path)
    if recorded not in (None, schema):
        fs, jvm = _hfs(spark, record)
        fs.delete(jvm.org.apache.hadoop.fs.Path(record), False)
    token = None
    if mode == "overwrite":
        fs, jvm = _hfs(spark, path)
        log_dir = f"{path.rstrip('/')}/{_COMMITS_DIR}"
        if fs.exists(jvm.org.apache.hadoop.fs.Path(log_dir)):
            token = acquire_lease(spark, path)
    try:
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    finally:
        if token is not None:
            # a finished overwrite removed the lease with the old log
            with suppress(ConcurrentWriterError):
                release_lease(spark, path, token)
    if mode == "overwrite":
        _write_json(spark, record, schema)


def read_partitioned(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Typed by the table's recorded schema (:func:`_reader`).
    ``merge_schema=True`` instead unions the footer schemas of every file
    (Spark's ``mergeSchema``), the ALTER TABLE ADD COLUMN of a
    format-less lakehouse: batches appended with new nullable columns
    surface them table-wide, earlier files reading NULL. Additive
    evolution only — a type CONFLICT on a shared column name fails
    loudly at read (pinned in tests/test_lakehouse.py) rather than
    silently coercing; widening requires an explicit rewrite. Off by
    default: schema union lists every footer, a real cost at
    100 TB file counts, so hot paths pin their schema instead."""
    if merge_schema:
        return spark.read.option("mergeSchema", "true").parquet(path)
    return _reader(spark, path).parquet(path)


# ---------------------------------------- commit manifest (crash consistency)
#
# Plain-parquet dynamic partition overwrite is atomic PER PARTITION
# but not across partitions: a driver crash mid-`merge_upsert` /
# mid-`compact_partitioned` can leave some touched partitions
# rewritten and others still old — readers see a torn table with no
# way to tell. Delta/Iceberg solve this with a transaction log; the
# minimal plain-parquet analog here is an intent/commit manifest pair
# under `{path}/_commits` (underscore-prefixed → invisible to Spark,
# Hive, and DuckDB parquet readers):
#
#   1. `{id}.intent.json`  — BEFORE the rewrite: the touched
#      partition keys + the pre-rewrite file inventory (name, length)
#      of each touched partition.
#   2. `{id}.commit.json`  — AFTER the rewrite: the post-rewrite
#      inventory of the same partitions.
#
# `table_state` then classifies the table: latest intent without its
# commit → TORN (crashed mid-rewrite; per-partition atomicity means
# each touched partition is wholly old or wholly new, and the intent
# says which ones to distrust). Latest commit whose recorded
# inventory no longer matches the files on disk → TORN (post-commit
# corruption, e.g. files deleted). RECOVERY contract (documented +
# tested in tests/test_lakehouse.py): re-run the SAME operation —
# `merge_upsert` with the same change batch is idempotent (matched
# keys replace, deletes re-apply, second apply is a fixpoint) and
# `compact_partitioned` is a no-op on already-compacted partitions —
# which rewrites every touched partition again and lands a new
# intent+commit pair, returning the state to CLEAN. All file I/O
# goes through the Hadoop FileSystem API, so the manifest works on
# any Hadoop-compatible store (local, HDFS, S3A), not just local
# disk. Reading the log (load, fold, live/archive resolution) is
# `sources.manifests`, shared with the lakehouse_cdf stream reader.

_COMMITS_DIR = manifests.COMMITS_DIR
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _hfs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _hfs_ls(spark: SparkSession, path: str) -> manifests.Ls:
    """The manifests ``ls`` over ``path``'s Hadoop FileSystem: one
    ``listStatus`` call a directory, an absent one listing empty."""
    fs, jvm = _hfs(spark, path)
    not_found = jvm.java.io.FileNotFoundException._java_lang_class

    def ls(d: str) -> dict[str, int | None]:
        try:
            statuses = fs.listStatus(jvm.org.apache.hadoop.fs.Path(d))
        except Py4JJavaError as e:
            if not not_found.isInstance(e.java_exception):
                raise
            return {}
        return {
            st.getPath().getName(): int(st.getLen()) if st.isFile() else None
            for st in statuses
        }

    return ls


def _commit_log(
    spark: SparkSession, path: str, strict: bool = True
) -> manifests.CommitLog:
    read_json = partial(_read_json, spark)
    return manifests.CommitLog(
        _hfs_ls(spark, path), read_json, path.rstrip("/"), strict
    )


def _recorded_schema(spark: SparkSession, path: str) -> dict | None:
    return manifests.recorded_schema(
        _hfs_ls(spark, path), partial(_read_json, spark), path.rstrip("/")
    )


def _reader(
    spark: SparkSession, path: str, log: manifests.CommitLog | None = None
) -> DataFrameReader:
    """``spark.read`` pinned to the schema :func:`write_partitioned`
    recorded (``log`` serves it from its listing); plain ``spark.read``
    for a table with no record."""
    rec = _recorded_schema(spark, path) if log is None else log.schema
    return spark.read.schema(StructType.fromJson(rec)) if rec else spark.read


def _orderable(dt: DataType) -> bool:
    """Whether ``<=>`` can compare values of ``dt`` (Spark's
    ``RowOrdering.isOrderable``): maps and variants cannot be ordered,
    nor can a struct or array holding one."""
    if isinstance(dt, StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    if isinstance(dt, ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, UserDefinedType):
        return _orderable(dt.sqlType())
    return isinstance(dt, (NullType, AtomicType)) and not isinstance(
        dt, VariantType
    )


def _null_safe_eq(
    cols: list[str], left: str, right: str, schema: StructType | None = None
) -> Column | None:
    """``left.c <=> right.c`` ANDed over ``cols`` (``None`` for none):
    a NULL key or partition value matches its own NULL, where ``==``
    is never true.

    Given the columns' ``schema``, a map column compares as its entries
    sorted by key, ``array_sort(map_entries(c))``: ``<=>`` cannot order
    maps, and two maps holding the same entries are equal whatever
    their order. A column that is still unorderable (a map of maps, a
    struct holding a map) raises ValueError naming it."""
    eqs = []
    for c in cols:
        lhs, rhs = F.col(f"{left}.{c}"), F.col(f"{right}.{c}")
        if schema is not None:
            dt = schema[c].dataType
            if isinstance(dt, MapType):
                lhs, rhs = (F.array_sort(F.map_entries(x)) for x in (lhs, rhs))
                dt = StructType(
                    [StructField("key", dt.keyType), StructField("value", dt.valueType)]
                )
            if not _orderable(dt):
                raise ValueError(
                    f"column {c!r} of type {schema[c].dataType.simpleString()} "
                    "cannot be compared for equality"
                )
        eqs.append(lhs.eqNullSafe(rhs))
    return reduce(operator.and_, eqs) if eqs else None


def _partition_pred(rows, partition_cols: list[str]) -> Column | None:
    """Rows in any partition of ``rows`` (``None`` for none), matched
    null-safe like :func:`_null_safe_eq`."""
    clauses = [
        reduce(
            operator.and_,
            [F.col(pc).eqNullSafe(F.lit(row[pc])) for pc in partition_cols],
        )
        for row in rows
    ]
    return reduce(operator.or_, clauses) if clauses else None


def _spelled_keys(df: DataFrame, partition_cols: list[str]) -> list[tuple]:
    """Distinct partition keys of ``df`` spelled the way SPARK spells
    them in directory names: each value is cast to string INSIDE
    Spark (the writer path is Cast-to-StringType), never by Python
    ``str()`` — which diverges for booleans (``True`` vs ``true``)
    and scientific-notation doubles (``1e-07`` vs ``1.0E-7``) and
    would make every path-based check silently miss the real
    directory. NULL stays None (the hive default-partition sentinel
    is applied at path-building time)."""
    rows = (
        df.select(
            *[F.col(pc).cast("string").alias(pc) for pc in partition_cols]
        )
        .distinct()
        .collect()
    )
    return [tuple(r[pc] for pc in partition_cols) for r in rows]


def _partition_subpath(
    spark: SparkSession, partition_cols: list[str], key: tuple
) -> str:
    """Hive-style relative partition path, e.g. ``month=2/day=5``.
    RELATIVE so manifests compare equal regardless of how the caller
    spells the table root (relative vs absolute vs file: URI).
    ``key`` values must already be SPARK-SPELLED strings (or None) —
    see :func:`_spelled_keys`. Escaping delegates to Spark's own
    ``ExternalCatalogUtils.getPartitionPathString`` so the manifest
    names the directories the running Spark version actually writes
    (a hand-copied escape set would drift)."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    segs = [
        f"{c}={_HIVE_NULL}" if v is None else utils.getPartitionPathString(c, v)
        for c, v in zip(partition_cols, key)
    ]
    return "/".join(segs)


def _inventory(
    spark: SparkSession, path: str, partition_cols: list[str], keys: list[tuple]
) -> dict[str, list[list]]:
    """``{partition_subpath: [[file_name, length], ...]}`` for the
    touched partitions (data files only; empty list when the dir is
    absent). Keys are RELATIVE subpaths — see
    :func:`_partition_subpath`."""
    ls = _hfs_ls(spark, path)
    subs = [_partition_subpath(spark, partition_cols, key) for key in keys]
    return {
        sub: manifests.inventory(ls(f"{path.rstrip('/')}/{sub}"))
        for sub in subs
    }


def _write_json(spark: SparkSession, file_path: str, obj: dict) -> None:
    import json

    fs, jvm = _hfs(spark, file_path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(file_path), True)
    # keys are pre-spelled strings (_spelled_keys); default=str is a
    # safety net for any other non-JSON value that slips in
    out.write(
        bytearray(
            json.dumps(obj, sort_keys=True, default=str).encode("utf-8")
        )
    )
    out.close()


def _read_json(spark: SparkSession, file_path: str) -> dict:
    import json

    fs, jvm = _hfs(spark, file_path)
    stream = fs.open(jvm.org.apache.hadoop.fs.Path(file_path))
    try:  # one JVM call for the whole file, not one per line
        return json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


_LEASE_NAME = "_lease.json"
#: Default writer-lease time-to-live. A lease older than this (by
#: filesystem mtime) is presumed to belong to a DEAD writer and may
#: be broken; sized far above any local merge/compaction and
#: documented as an ops dial for cluster jobs.
LEASE_TTL_SEC = 900


class ConcurrentWriterError(RuntimeError):
    """A live foreign writer holds (or broke) the table's lease."""


def acquire_lease(
    spark: SparkSession,
    path: str,
    ttl_sec: int = LEASE_TTL_SEC,
    owner: str | None = None,
) -> str:
    """Claim the table's single-writer lease, or raise
    :class:`ConcurrentWriterError` if a LIVE foreign writer holds it.

    The manifest protocol (intent → rewrite → commit) assumes ONE
    writer: two interleaved merges can each read the other's
    unfinished intent as a crash and "recover" it, and commit ids are
    assigned by listing, not reserved. The lease makes that
    assumption enforced instead of implicit: writers exclusive-create
    ``_commits/_lease.json`` (``FileSystem.create(overwrite=false)``
    is atomic on HDFS and local filesystems — NOT on bare S3, where a
    real table format or an external lock service is the answer) and
    delete it after commit. Liveness is judged by the lease file's
    MTIME against ``ttl_sec`` — a crashed writer's lease expires and
    the next writer breaks it (one takeover attempt; losing the
    takeover race to another writer raises). Returns the owner token
    to pass to :func:`release_lease`."""
    import json
    import os
    import socket
    import time
    import uuid

    fs, jvm = _hfs(spark, path)
    lease = f"{path.rstrip('/')}/{_COMMITS_DIR}/{_LEASE_NAME}"
    jp = jvm.org.apache.hadoop.fs.Path(lease)
    token = owner or (
        f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex[:8]}"
    )
    for attempt in (0, 1):
        try:
            out = fs.create(jp, False)
            out.write(
                bytearray(
                    json.dumps(
                        {"owner": token, "ttl_sec": ttl_sec}
                    ).encode("utf-8")
                )
            )
            out.close()
            return token
        except Exception as e:  # noqa: BLE001 — Py4J surfaces JVM errors
            low = str(e).lower()
            if "already exists" not in low and "alreadyexists" not in low:
                raise
        try:
            st = fs.getFileStatus(jp)
            age = time.time() - st.getModificationTime() / 1000.0
        except Exception:  # noqa: BLE001
            continue  # holder released between create and stat — retry
        if age <= ttl_sec:
            try:
                holder = _read_json(spark, lease).get("owner", "?")
            except Exception:  # noqa: BLE001 — torn lease file is live
                holder = "(unreadable)"
            raise ConcurrentWriterError(
                f"table at {path} is locked by a live writer "
                f"({holder}, lease age {age:.0f}s <= ttl {ttl_sec}s); "
                "refusing to interleave. Wait for it to finish, or "
                "break_lease() if you KNOW the writer is dead."
            )
        # stale — break via rename, then VERIFY the captured file is
        # the incarnation this writer judged expired. rename is
        # atomic per call but binds to the PATH, not the inode: a
        # delayed racer could otherwise capture the takeover winner's
        # freshly re-created lease (observed expired → winner breaks,
        # re-creates, starts writing → loser's rename grabs the NEW
        # file) and two writers would both believe they won. The
        # mtime check detects the wrong incarnation — stale vs fresh
        # differ by > ttl by construction — and the loser restores
        # the live lease and refuses loudly.
        safe = "".join(c for c in token if c.isalnum())[:32] or "x"
        bp = jvm.org.apache.hadoop.fs.Path(f"{lease}.broken.{safe}")
        if fs.rename(jp, bp):
            if fs.getFileStatus(bp).getModificationTime() == st.getModificationTime():
                fs.delete(bp, False)
            else:
                restored = fs.rename(bp, jp)
                if not restored:
                    fs.delete(bp, False)
                raise ConcurrentWriterError(
                    f"lost the lease-takeover race on {path}: captured "
                    "another writer's fresh lease mid-break"
                    + ("" if restored else
                       " and could NOT restore it — that writer will "
                       "see a broken lease at release; run "
                       "table_state() before trusting the table")
                )
    raise ConcurrentWriterError(
        f"lost the lease-takeover race on {path} to another writer"
    )


def release_lease(spark: SparkSession, path: str, token: str) -> None:
    """Release a held lease. Raises :class:`ConcurrentWriterError` if
    the lease is gone or owned by someone else — that means another
    writer broke ours mid-operation (our rewrite overran the TTL) and
    may have interleaved; the table needs a ``table_state`` check,
    not a silent shrug."""
    fs, jvm = _hfs(spark, path)
    lease = f"{path.rstrip('/')}/{_COMMITS_DIR}/{_LEASE_NAME}"
    jp = jvm.org.apache.hadoop.fs.Path(lease)
    holder = None
    if fs.exists(jp):
        try:
            holder = _read_json(spark, lease).get("owner")
        except Exception:  # noqa: BLE001
            holder = None
    if holder != token:
        raise ConcurrentWriterError(
            f"lease on {path} was broken while held (found "
            f"{holder!r}, expected {token!r}) — another writer "
            "presumed this one dead; run table_state() before "
            "trusting the table"
        )
    fs.delete(jp, False)


def break_lease(spark: SparkSession, path: str) -> None:
    """Operator override: forcibly remove the lease regardless of
    liveness. Only for a KNOWN-dead writer."""
    fs, jvm = _hfs(spark, path)
    jp = jvm.org.apache.hadoop.fs.Path(
        f"{path.rstrip('/')}/{_COMMITS_DIR}/{_LEASE_NAME}"
    )
    if fs.exists(jp):
        fs.delete(jp, False)


@contextmanager
def _table_lease(spark: SparkSession, path: str, held: bool):
    """The lease around a table-scoped rewrite (none unless ``held``),
    released on success and on in-process failure, where a broken-lease
    alarm must not mask the rewrite's own error."""
    token = acquire_lease(spark, path) if held else None
    try:
        yield
    except BaseException:
        if token is not None:
            with suppress(ConcurrentWriterError):
                release_lease(spark, path, token)
        raise
    if token is not None:
        release_lease(spark, path, token)


def _active_intent_conflicts(
    spark: SparkSession,
    path: str,
    subpaths: list[str],
    ttl_sec: int = LEASE_TTL_SEC,
    after_cid: int = -1,
) -> list[tuple[int, set[str]]]:
    """In-flight (PARTITION-SCOPED intent without commit, younger
    than ``ttl_sec``) manifest intents whose declared partition
    subpaths overlap ``subpaths`` — the optimistic-concurrency
    conflict check of the partition-scoped writer protocol (the
    Delta/Iceberg model: conflict on TOUCHED FILES/partitions, not on
    the table). Only ``scope: partition`` intents represent live
    lease-less writers; a TABLE-scoped writer's unfinished intent
    means a CRASH (it held the lease while alive), and blocking on it
    would refuse the documented re-run recovery. An intent older than
    the TTL is a presumed-dead writer and does not block (its torn
    state stays visible to table_state — exactly the lease-breaking
    liveness rule); an UNREADABLE fresh intent blocks conservatively
    (it is mid-write — its scope and keys are unknowable, and the TTL
    unblocks it like a dead lease). ``after_cid`` restricts to
    intents registered after a given id (the writer's own post-hoc
    overrun check) — there ALL scopes count, finished or not: any
    later overlapping registration is interleave evidence."""
    import time

    fs, jvm = _hfs(spark, path)
    cdir = f"{path.rstrip('/')}/{_COMMITS_DIR}"
    jd = jvm.org.apache.hadoop.fs.Path(cdir)
    if not fs.exists(jd):
        return []
    sub = set(subpaths)
    statuses = {st.getPath().getName(): st for st in fs.listStatus(jd)}
    out: list[tuple[int, set[str]]] = []
    for name, st in sorted(statuses.items()):
        if not name.endswith(".intent.json"):
            continue
        cid = int(name.split(".")[0])
        if cid <= after_cid:
            continue
        if f"{cid:06d}.commit.json" in statuses and after_cid < 0:
            # finished — no longer in flight (but the overrun check,
            # after_cid >= 0, must count finished later intents too:
            # a committed overlapping rewrite is exactly the
            # interleave it exists to detect)
            continue
        age = time.time() - st.getModificationTime() / 1000.0
        if age > ttl_sec and after_cid < 0:
            continue
        try:
            intent = _read_json(spark, f"{cdir}/{name}")
            if after_cid < 0 and intent.get("scope") != "partition":
                continue  # crashed table-scoped writer: re-run recovers
            overlap = sub & set(intent.get("pre", {}).keys())
        except Exception:  # noqa: BLE001 — torn mid-write intent
            overlap = {"(unreadable intent)"}
        if overlap:
            out.append((cid, overlap))
    return out


def begin_commit(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    keys: list[tuple],
    extra: dict | None = None,
) -> int:
    """Record rewrite INTENT. Ids are assigned by listing, not
    atomically reserved — which is why every writer that calls this
    does so UNDER the table lease (:func:`acquire_lease`): the
    table-scoped writers (merge_upsert, compact_partitioned) hold it
    for their whole operation, the partition-scoped protocol
    (``merge_upsert(scope="partition")``) holds it just for the
    conflict check + this registration. ``extra`` merges additional
    fields into the intent (e.g. the partition-scoped protocol's
    scope/ttl tags)."""
    ls = _hfs_ls(spark, path)
    ids = manifests.commit_ids(ls(f"{path.rstrip('/')}/{_COMMITS_DIR}"))
    cid = (ids[-1] + 1) if ids else 0
    _write_json(
        spark,
        f"{path.rstrip('/')}/{_COMMITS_DIR}/{cid:06d}.intent.json",
        {
            "format": manifests.MANIFEST_FORMAT,
            "id": cid,
            "partition_cols": partition_cols,
            "keys": [list(k) for k in keys],
            "pre": _inventory(spark, path, partition_cols, keys),
            **(extra or {}),
        },
    )
    return cid


def finish_commit(spark: SparkSession, path: str, cid: int) -> None:
    intent = _read_json(
        spark, f"{path.rstrip('/')}/{_COMMITS_DIR}/{cid:06d}.intent.json"
    )
    keys = [tuple(k) for k in intent["keys"]]
    _write_json(
        spark,
        f"{path.rstrip('/')}/{_COMMITS_DIR}/{cid:06d}.commit.json",
        {
            "format": manifests.MANIFEST_FORMAT,
            "id": cid,
            "post": _inventory(spark, path, intent["partition_cols"], keys),
        },
    )


def _unresolved(ids: list[int], meta: dict) -> dict[int, set[str]]:
    """Unfinished intents whose declared partitions lack later
    rewrite/emptiness evidence: ``{id: suspect_subpaths}``."""
    out: dict[int, set[str]] = {}
    for cid in ids:
        intent, post = meta[cid]
        if intent is None or post is not None:
            continue
        later_covered: set[str] = set()
        for cid2 in ids:
            intent2, post2 = meta[cid2]
            if cid2 > cid and intent2 is not None and post2 is not None:
                # rewrite evidence (post ≠ pre: fresh part-file names)
                # OR a definitively-empty post: the later op committed
                # with the partition holding no files, a KNOWN state
                # (sound: if the partition still held the crashed
                # rewrite's — or the old — files, that later op's own
                # pre/post would list them and not be empty).
                later_covered.update(
                    p
                    for p in intent2["pre"]
                    if post2.get(p) != intent2["pre"][p]
                    or post2.get(p) == []
                )
        leftover = set(intent["pre"].keys()) - later_covered
        if leftover:
            out[cid] = leftover
    return out


def table_state(spark: SparkSession, path: str) -> dict:
    """Classify the table's commit state.

    Returns ``{"status": "clean" | "torn", "detail": ..., "suspect":
    [partition_subpath, ...]}``. A table with no manifest history is
    clean (nothing claimed, nothing to distrust).

    EVERY unfinished intent is considered, not just the newest — a
    later successful rewrite of OTHER partitions must not mask an
    earlier crash. An unfinished intent is RESOLVED only when every
    partition it declared shows REWRITE EVIDENCE in a later committed
    operation: that commit's post inventory for the partition differs
    from its own pre (fresh part-file names prove the overwrite
    actually replaced it — a committed merge that merely DECLARED the
    partition but produced zero rows for it leaves the directory
    untouched and must not clear it) — or shows it definitively
    EMPTY. This is exactly what the documented re-run recovery
    produces."""
    log = _commit_log(spark, path)
    ids, meta = log.ids, log.meta
    if not ids:
        return {"status": "clean", "detail": "no manifest history", "suspect": []}
    unresolved = _unresolved(ids, meta)
    if unresolved:
        unfinished = sorted(unresolved)
        suspect: set[str] = set()
        for leftover in unresolved.values():
            suspect.update(leftover)
        return {
            "status": "torn",
            "detail": f"intent(s) {unfinished} have no commit and "
            "partitions no later commit rewrote: the declared rewrite "
            "may have replaced only some of its partitions — re-run "
            "the same operation to recover",
            "suspect": sorted(suspect),
        }
    committed_ids = log.committed()
    if not committed_ids:
        # only unfinished-but-empty intents (e.g. a crash during a
        # zero-partition merge): nothing was claimed about any data
        return {
            "status": "clean",
            "detail": "no committed history; unfinished intents declared "
            "no partitions",
            "suspect": [],
        }
    last = committed_ids[-1]
    post = meta[last][1]
    bad = sorted(
        p for p, files in post.items()
        if manifests.inventory(log.ls(f"{log.root}/{p}")) != files
    )
    if bad:
        return {
            "status": "torn",
            "detail": f"commit {last}'s recorded files diverge on disk "
            "(deleted or truncated after commit) — re-run the same "
            "operation to recover",
            "suspect": bad,
        }
    return {"status": "clean", "detail": f"commit {last} verified", "suspect": []}


def assert_committed(spark: SparkSession, path: str) -> None:
    """Reader-side guard: raise loudly instead of serving a torn table."""
    state = table_state(spark, path)
    if state["status"] != "clean":
        raise RuntimeError(
            f"lakehouse table at {path} is torn: {state['detail']} "
            f"(suspect partitions: {state['suspect']})"
        )


def vacuum_commits(spark: SparkSession, path: str, keep_last: int = 10) -> int:
    """Manifest retention: a daily-merged table accrues one
    intent/commit pair per rewrite forever; only the LATEST pair is
    load-bearing for ``table_state`` (older pairs are audit history).
    Drops all but the newest ``keep_last`` pairs and returns how many
    ids were removed. ``keep_last`` is floored at 1 — the latest pair
    is never dropped. Within the drop window, an id is droppable when
    it is committed, RESOLVED-unfinished (its crash evidence is moot:
    dropping the intent removes the need for its resolver — keeping
    the intent while dropping the resolver would manufacture a
    permanent false-torn, and droppability is a prefix so the pair
    always leaves together), or a legacy-format manifest (vacuum is
    the sanctioned discard path the strict readers point to). A
    genuinely UNRESOLVED intent is never dropped — it is the evidence
    ``table_state`` needs, and the fix is the documented re-run
    recovery, not retention."""
    log = _commit_log(spark, path, strict=False)
    ids, meta, legacy = log.ids, log.meta, log.legacy
    fs, jvm = _hfs(spark, path)
    unresolved = _unresolved(
        [cid for cid in ids if cid not in legacy], meta
    )
    drop = [
        cid
        for cid in ids[: -max(1, keep_last)]
        if cid in legacy
        or (meta[cid][0] is not None and cid not in unresolved)
    ]
    for cid in drop:
        base = f"{path.rstrip('/')}/{_COMMITS_DIR}/{cid:06d}"
        # a dropped manifest's archived pre-images go with it: without
        # the manifest the snapshot is unreconstructable anyway, and
        # the archive is the retention cost vacuum exists to bound
        # (delete of an absent path returns false)
        for suffix in (".intent.json", ".commit.json", manifests.ARCHIVE_SUFFIX):
            fs.delete(jvm.org.apache.hadoop.fs.Path(base + suffix), True)
    return len(drop)


def _archive_pre_images(
    spark: SparkSession, path: str, cid: int, intent_pre: dict
) -> None:
    """Copy the declared partitions' CURRENT data files (exactly the
    intent's ``pre`` inventory) under
    ``_commits/{cid}.archive/{partition_subpath}/`` before the
    overwrite replaces them — the retention half of time travel. Cost
    is proportional to the REWRITTEN partitions (one day of a
    day-partitioned fact), never the table; vacuum_commits bounds how
    long archives live."""
    fs, jvm = _hfs(spark, path)
    root = path.rstrip("/")
    conf = spark._jsc.hadoopConfiguration()
    futil = jvm.org.apache.hadoop.fs.FileUtil
    for sub, files in intent_pre.items():
        if not files:
            continue
        dst_dir = jvm.org.apache.hadoop.fs.Path(
            f"{root}/{_COMMITS_DIR}/{cid:06d}{manifests.ARCHIVE_SUFFIX}/{sub}"
        )
        fs.mkdirs(dst_dir)
        for name, _length in files:
            src = jvm.org.apache.hadoop.fs.Path(f"{root}/{sub}/{name}")
            dst = jvm.org.apache.hadoop.fs.Path(f"{dst_dir.toString()}/{name}")
            futil.copy(fs, src, fs, dst, False, True, conf)


def read_as_of(spark: SparkSession, path: str, cid: int) -> DataFrame:
    """TIME-TRAVEL read: the table exactly as it stood at commit
    ``cid`` — the reproducibility primitive a training-data lakehouse
    needs (pin the precise corpus snapshot a model trained on, after
    later daily merges rewrote it).

    Reconstruction folds the manifest log per partition:

    - touched by a commit ≤ ``cid`` → that latest commit's ``post``
      file list (an empty post means the partition did not exist at
      ``cid`` and is skipped);
    - first touched by an intent > ``cid`` → that intent's ``pre``
      list (the files as they stood from before that later op all the
      way back — nothing else wrote the table under the single-writer
      lease);
    - never manifested → the live directory (untouched since the
      initial load).

    Each wanted file is served from the live directory when still
    present with its recorded length, else from the EARLIEST archive
    of a later commit that rewrote its partition
    (``merge_upsert(..., archive=True)`` copies replaced files there;
    a snapshot whose files were overwritten by a NON-archiving merge,
    or vacuumed, raises with the missing paths — time travel is
    opt-in retention, not magic). Files are read in per-root groups
    with ``basePath`` set so hive partition columns resolve for live
    and archived locations alike."""
    log = _commit_log(spark, path)
    log.require_committed(cid, "read_as_of")
    subs = log.universe(len(log.meta[cid][0]["partition_cols"]))
    out = _read_resolved(spark, log, log.resolve(cid, subs))
    if out is None:
        raise ValueError(
            f"read_as_of: commit {cid} describes an empty table"
        )
    return out


def _read_resolved(
    spark: SparkSession,
    log: manifests.CommitLog,
    resolved: dict[str, list[tuple[str, str]]],
) -> DataFrame | None:
    """Read :meth:`manifests.CommitLog.resolve` output in one scan per
    ``basePath`` root, so hive partition columns resolve for live and
    archived files alike, typed by the table's record (:func:`_reader`);
    ``None`` when it names no file."""
    groups: dict[str, list[str]] = {}
    for files in resolved.values():
        for base_root, f in files:
            groups.setdefault(base_root, []).append(f)
    dfs = [
        _reader(spark, log.root, log).option("basePath", base).parquet(*files)
        for base, files in groups.items()
    ]
    return reduce(DataFrame.unionByName, dfs) if dfs else None


#: The public Delta-CDF change-type vocabulary read_changes emits —
#: THE single definition every fold consumer imports (term stats,
#: signature catalog, ANN indexes, postings index), so
#: the dead/live split can never drift between them.
CDF_DEAD_TYPES = ("delete", "update_preimage")
CDF_LIVE_TYPES = ("insert", "update_postimage")


def read_changes(
    spark: SparkSession,
    path: str,
    from_cid: int,
    to_cid: int,
    key_cols: list[str],
) -> DataFrame:
    """CHANGE FEED between two committed snapshots — the incremental
    primitive for "what changed since the snapshot my last run read":
    re-embed / re-index / re-train only the delta instead of
    reprocessing a 100 TB table.

    Emits one row per change event with the table's columns plus
    ``_change_type`` ∈ {``insert``, ``delete``, ``update_preimage``,
    ``update_postimage``} (the public Delta CDF vocabulary): rows
    keyed identically in both snapshots with identical values are NOT
    emitted. ``delete`` and ``update_preimage`` carry the ``from``
    image; ``insert`` and ``update_postimage`` carry the ``to``
    image.

    Scale shape: the diff never reads the whole table — only
    partitions TOUCHED by a commit in ``(from_cid, to_cid]`` (their
    intents' ``pre`` ∪ their ``post`` universe) are reconstructed on
    either side, so cost is proportional to the churn between the two
    snapshots, not to table size. Both snapshots resolve through the
    same live/archive machinery as :func:`read_as_of` (so travelling
    the ``from`` side back past a rewrite needs
    ``merge_upsert(archive=True)`` retention, and missing bytes raise
    rather than mis-diff). Assumes ``key_cols`` identify a row the
    way :func:`merge_upsert` matches them (unique per key; a key
    never changes its partition-column values — the same contract the
    merge itself enforces by matching only within rewritten
    partitions)."""
    if from_cid > to_cid:
        raise ValueError(
            f"read_changes: from_cid {from_cid} > to_cid {to_cid}"
        )
    log = _commit_log(spark, path)
    log.require_committed(from_cid, "read_changes")
    log.require_committed(to_cid, "read_changes")
    touched = log.touched(from_cid, to_cid)

    def _empty() -> DataFrame:
        schema = StructType.fromJson(log.schema) if log.schema else (
            spark.read.parquet(path).schema
        )
        schema.add("_change_type", "string", False)
        return spark.createDataFrame([], schema)

    if not touched:
        return _empty()
    pre_df, post_df = (
        _read_resolved(spark, log, log.resolve(cid, touched))
        for cid in (from_cid, to_cid)
    )
    if pre_df is None and post_df is None:
        return _empty()
    if pre_df is None:  # partitions born in the range: all inserts
        return post_df.withColumn("_change_type", F.lit("insert"))
    if post_df is None:  # partitions emptied in the range: all deletes
        return pre_df.withColumn("_change_type", F.lit("delete"))

    cols = post_df.columns
    val_cols = [c for c in cols if c not in key_cols]
    pre, post = pre_df.alias("pre"), post_df.alias("post")
    cond = _null_safe_eq(key_cols, "pre", "post")
    same = _null_safe_eq(val_cols, "pre", "post", post_df.schema)
    if same is None:  # key-only table: matched rows are identical
        same = F.lit(True)
    # presence is detectable without flag columns only if some column
    # is non-null; a literal marker is unconditionally sound
    joined = (
        pre.withColumn("_p", F.lit(True))
        .alias("pre")
        .join(
            post.withColumn("_q", F.lit(True)).alias("post"),
            on=cond,
            how="full_outer",
        )
    )

    def _img(side: str, tag: str):
        return F.struct(
            *[F.col(f"{side}.{c}").alias(c) for c in cols],
            F.lit(tag).alias("_change_type"),
        )

    # one pass over the single join: each matched pair maps to 0, 1,
    # or 2 change events, exploded — no cache, no re-join
    events = (
        F.when(F.col("pre._p").isNull(), F.array(_img("post", "insert")))
        .when(F.col("post._q").isNull(), F.array(_img("pre", "delete")))
        .when(
            ~same,
            F.array(
                _img("pre", "update_preimage"),
                _img("post", "update_postimage"),
            ),
        )
        .otherwise(F.array())
    )
    return (
        joined.select(F.explode(events).alias("_e"))
        .select("_e.*")
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    delete_col: str | None = None,
    manifest: bool = True,
    archive: bool = False,
    scope: str = "table",
) -> None:
    """MERGE INTO for a plain-parquet lakehouse table — the idiomatic
    open-Spark form without a row-level table format: copy-on-write at
    partition granularity.

    - ``changes`` carries upserts (and, when ``delete_col`` names a
      boolean column, deletes) keyed by ``key_cols``.
    - Only partitions PRESENT in the change batch are read (the tiny
      distinct partition-key list prunes the scan) and rewritten
      (``partitionOverwriteMode=dynamic`` replaces exactly those
      directories, atomically per partition). A change batch touching
      one day of a 100 TB fact reads and writes one day.
    - Matched keys take the change row (update), unmatched change
      rows append (insert), delete-flagged keys drop; a NULL delete
      flag means upsert (only an explicit ``true`` deletes). Key
      matching is null-safe, so NULL-valued key columns update rather
      than duplicate. A batch whose deletes empty a WHOLE partition
      removes that partition's directory explicitly (dynamic
      overwrite skips empty outputs and would otherwise leave the old
      files — pinned in tests/test_lakehouse.py).
    - CONTRACT: a key's partition-column values must be immutable
      (the usual day-partitioned-fact shape). A change row that moves
      a key to a DIFFERENT partition inserts there without touching
      the old partition — partition-granular copy-on-write cannot see
      the old row without scanning the whole table; emit an explicit
      delete row for the old partition in the same batch instead.

    The merged frame is localCheckpoint-ed before the write: the plan
    reads the same path it overwrites, and truncating the lineage is
    what makes the self-overwrite safe (and re-runnable) — the
    checkpoint holds only the touched partitions' rows.

    ``manifest=True`` (default) brackets the rewrite with an
    intent/commit manifest pair (see the commit-manifest section
    above): a crash between the two leaves a detectable TORN state
    (``table_state`` / ``assert_committed``), and re-running the same
    merge with the same change batch is the recovery — the merge is
    idempotent, so the second apply is a fixpoint. Tested end-to-end
    (torn simulation + recovery) in tests/test_lakehouse.py.

    ``manifest=False`` is the SINGLE-WRITER fast path: no lease, no
    intent. It still refuses to start while a partition-scoped intent
    is in flight (a read-only tripwire), but the reverse ordering is
    undetectable by construction — a partition-scoped writer that
    registers after the tripwire ran cannot see this merge. Callers
    that run concurrent writers must use ``manifest=True`` or
    ``scope="partition"``.

    ``archive=True`` additionally copies the replaced partitions'
    files under the commit's ``.archive`` dir before overwriting,
    enabling :func:`read_as_of` time travel back past this merge;
    cost is proportional to the rewritten partitions and bounded by
    ``vacuum_commits`` retention.

    ``scope`` (round 6) picks the writer-concurrency protocol:

    - ``"table"`` (default): the single-writer lease is held from the
      snapshot read through the commit — any concurrent writer raises.
    - ``"partition"``: the optimistic Delta/Iceberg-shaped protocol —
      the table lease is held ONLY for a brief registration window
      (conflict check against in-flight intents + intent write with
      the touched-partition set), then the snapshot read, merge, and
      partition-dynamic overwrite run WITHOUT the lease, so merges
      touching DISJOINT partition sets commit concurrently; an
      overlapping in-flight intent raises ConcurrentWriterError at
      registration. Requires ``manifest=True`` (the intent IS the
      claim). Liveness matches the lease rule: a crashed writer's
      intent stops blocking after its TTL while its torn state stays
      visible; a writer that overruns the TTL is detected at its own
      finish (a later overlapping registration raises instead of
      committing, leaving the re-run-to-recover torn state).
    """
    if scope not in ("table", "partition"):
        raise ValueError(f"scope must be 'table' or 'partition', got {scope!r}")
    if scope == "partition":
        if not manifest:
            raise ValueError(
                "scope='partition' requires manifest=True — the intent "
                "manifest is the partition claim"
            )
        _merge_upsert_partition_scoped(
            spark, path, changes, key_cols, partition_cols, delete_col,
            archive,
        )
        return
    # single-writer lease from the SNAPSHOT READ through the commit:
    # the merged frame is built (and localCheckpoint-materialized)
    # from the table's current bytes, so acquiring the lease any
    # later leaves a lost-update window — writer B could snapshot,
    # writer A merge-and-release, then B lease-and-overwrite A's
    # committed rows from its stale snapshot. A concurrent merge
    # raises ConcurrentWriterError instead of interleaving (two
    # writers could otherwise also each "recover" the other's
    # unfinished intent). Released on success AND on in-process
    # failure — the unfinished intent, not the lease, is the crash
    # evidence, and an immediate re-run is the documented recovery;
    # only a hard crash leaves the lease, where the TTL protects the
    # torn table until the writer is provably dead.
    with _table_lease(spark, path, manifest):
        _merge_upsert_locked(
            spark, path, changes, key_cols, partition_cols, delete_col,
            manifest, archive,
        )


def _merge_upsert_partition_scoped(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    delete_col: str | None,
    archive: bool,
    ttl_sec: int = LEASE_TTL_SEC,
) -> None:
    """The partition-scoped concurrent-writer protocol (see
    :func:`merge_upsert` ``scope="partition"``): register → merge →
    overwrite → overrun-check → commit. The registration happens
    BEFORE the snapshot read, so no live writer can claim (or be
    claimed by) this merge's partitions between the snapshot and the
    overwrite — the lost-update window the table lease closed is
    closed per partition instead."""
    keys = _spelled_keys(changes.select(*partition_cols), partition_cols)
    subpaths = [_partition_subpath(spark, partition_cols, k) for k in keys]
    token = acquire_lease(spark, path, ttl_sec)
    try:
        conflicts = _active_intent_conflicts(spark, path, subpaths, ttl_sec)
        if conflicts:
            claimed = sorted(set().union(*(o for _, o in conflicts)))
            raise ConcurrentWriterError(
                f"partition(s) {claimed[:5]} of {path} are claimed by "
                f"in-flight intent(s) {sorted(c for c, _ in conflicts)}; "
                "refusing to interleave. Wait for them to finish (or "
                "expire past the TTL if the writer is dead)."
            )
        cid = begin_commit(
            spark, path, partition_cols, keys,
            extra={"scope": "partition", "ttl_sec": ttl_sec},
        )
    finally:
        release_lease(spark, path, token)
    wrote = [False]
    ok = False

    def _pre_write_overrun_check() -> None:
        # runs inside _merge_upsert_locked just before the first byte
        # changes: a later overlapping registration means another
        # writer judged our intent TTL-expired while we built the
        # merge — raising HERE (wrote still False) withdraws our
        # intent cleanly instead of first clobbering the other
        # writer's committed partitions and detecting it after.
        late_pre = _active_intent_conflicts(
            spark, path, subpaths, ttl_sec, after_cid=cid
        )
        if late_pre:
            raise ConcurrentWriterError(
                f"intent {cid} on {path} overran its TTL before "
                f"writing: later intent(s) "
                f"{sorted(c for c, _ in late_pre)} claimed overlapping "
                "partitions — withdrawing without touching data; "
                "re-run the merge to retry"
            )

    try:
        _merge_upsert_locked(
            spark, path, changes, key_cols, partition_cols, delete_col,
            True, archive, pre_registered=(cid, keys), wrote_flag=wrote,
            pre_write_check=_pre_write_overrun_check,
        )
        # post-hoc overrun check BEFORE declaring success: a later
        # registration overlapping our partitions means another writer
        # judged our intent expired mid-merge (we overran the TTL) and
        # may have interleaved — leave the unfinished intent as the
        # torn-state evidence and raise instead of committing
        late = _active_intent_conflicts(
            spark, path, subpaths, ttl_sec, after_cid=cid
        )
        if late:
            raise ConcurrentWriterError(
                f"intent {cid} on {path} overran its TTL: later "
                f"intent(s) {sorted(c for c, _ in late)} claimed "
                "overlapping partitions mid-merge — not committing; "
                "run table_state() and re-run the merge to recover"
            )
        finish_commit(spark, path, cid)
        ok = True
    finally:
        if not ok and not wrote[0]:
            # refused/failed before touching any data: withdraw the
            # claim so the table stays clean instead of reading torn
            fs, jvm = _hfs(spark, path)
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    f"{path.rstrip('/')}/{_COMMITS_DIR}/{cid:06d}.intent.json"
                ),
                False,
            )


def _merge_upsert_locked(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    delete_col: str | None,
    manifest: bool,
    archive: bool,
    pre_registered: tuple[int, list[tuple]] | None = None,
    wrote_flag: list | None = None,
    pre_write_check=None,
) -> None:
    """``wrote_flag`` (a one-element list) is set True the moment the
    table's bytes start changing — the partition-scoped caller uses it
    to decide whether a failure withdraws its intent (nothing touched)
    or leaves it as torn-state evidence (overwrite started)."""
    # Spark-spelled key strings for everything PATH-shaped (manifest
    # inventories, the empty-partition delete) — see _spelled_keys.
    # Computed (and conflict-checked) BEFORE the snapshot read below
    # materializes: a partition-scoped writer that registered before
    # this writer's lease holds no lease, and if it COMMITTED between
    # our snapshot and a later check, its intent would look finished
    # and the stale snapshot would silently revert its rows — the
    # check must precede the bytes being read (round-6 review).
    keys = (
        pre_registered[1]
        if pre_registered is not None
        else _spelled_keys(changes.select(*partition_cols), partition_cols)
    )
    if pre_registered is None:
        # regardless of THIS writer's manifest flag: a manifest=False
        # table writer records no intent for partition-scoped writers
        # to conflict against, and the lease it skips is exactly what
        # used to make it safe — so it must still refuse to interleave
        # with an in-flight partition-scoped merge. The check is
        # read-only and returns [] when the table has no _commits dir.
        #
        # ONE-SIDED by design (round-8 ADVICE): this protects only the
        # direction where the partition-scoped intent already exists
        # when the manifest=False writer checks. A partition-scoped
        # writer registering AFTER this check cannot see the in-flight
        # manifest=False merge — no intent, no lease, nothing to
        # conflict against — so that ordering can still interleave.
        # Closing it would require manifest=False writers to drop an
        # intent marker, which collapses the mode's contract: an
        # intent with no commit from a writer that opted OUT of
        # manifests would read as torn state to table_state()/
        # assert_committed and would need lease-allocated commit ids.
        # The documented rule stands: concurrent writers want
        # manifest=True (lease) or scope="partition" (intents);
        # manifest=False is the single-writer fast path, and this
        # check is a best-effort tripwire, not a guarantee.
        subpaths = [
            _partition_subpath(spark, partition_cols, k) for k in keys
        ]
        conflicts = _active_intent_conflicts(spark, path, subpaths)
        if conflicts:
            raise ConcurrentWriterError(
                f"partition(s) claimed by in-flight partition-scoped "
                f"intent(s) {sorted(c for c, _ in conflicts)} on "
                f"{path}; refusing to interleave"
            )
    current = _reader(spark, path).parquet(path)
    part_keys = changes.select(*partition_cols).distinct().collect()
    pred = _partition_pred(part_keys, partition_cols)
    touched = current.filter(pred) if pred is not None else current.limit(0)
    if delete_col is not None:
        # NULL flag = upsert: a bare filter(~flag) would drop the row
        # from upserts while its key still anti-joins the current row
        # away — a silent delete for what the caller meant as update
        upserts = changes.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)
    else:
        upserts = changes
    change_keys = changes.select(*key_cols).distinct()
    # null-safe anti-join on the key: NULL-valued key columns must
    # match their own key (as the partition predicate above already does)
    t, ck = touched.alias("t"), change_keys.alias("ck")
    merged = (
        t.join(ck, _null_safe_eq(key_cols, "t", "ck"), "left_anti")
        .unionByName(upserts)
        .localCheckpoint()
    )
    # dynamic overwrite only replaces partitions PRESENT in the
    # output: a change batch whose deletes empty a whole partition
    # yields zero merged rows for it, the overwrite skips the
    # directory, and the old files would silently survive — an
    # unapplied delete. Those directories are removed explicitly
    # below, inside the manifest bracket so the commit's post
    # inventory records the emptiness. (merged is checkpointed; the
    # distinct over touched partitions is batch-sized.)
    present = set(
        _spelled_keys(merged.select(*partition_cols), partition_cols)
    )
    if not present and keys:
        # the merge would delete EVERY declared partition; if nothing
        # else remains the table becomes a bare _commits dir that
        # spark.read.parquet can no longer schema-infer — refuse
        # loudly BEFORE touching anything rather than strand readers
        untouched = (
            current.filter(~pred).limit(1).count() if pred is not None else 0
        )
        if untouched == 0:
            raise ValueError(
                "merge_upsert: this change batch would delete every row "
                "of the table, leaving an unreadable (schema-less) "
                "parquet directory — drop or rewrite the table "
                "explicitly instead"
            )
    if pre_registered is not None:
        cid = pre_registered[0]
    else:
        cid = (
            begin_commit(spark, path, partition_cols, keys)
            if manifest
            else None
        )
    if pre_write_check is not None:
        # partition-scoped writers re-check for overlapping LATER
        # intents here, after the (possibly long) merge build but
        # BEFORE any byte changes — including the archive copy below:
        # a withdrawal (wrote_flag still False) deletes only the
        # intent file, so an archive dir written first would be
        # orphaned forever (vacuum reclaims archives by manifest cid
        # only) and its copy work wasted. An overrunning writer thus
        # raises with nothing on disk; the post-write overrun check
        # in the caller stays for full coverage of the window between
        # here and the commit.
        pre_write_check()
    if manifest and archive:
        # retention for time travel (read_as_of): the replaced
        # files — exactly the intent's pre inventory — are copied
        # under the commit's .archive dir before the overwrite
        # deletes them
        intent = _read_json(
            spark,
            f"{path.rstrip('/')}/{_COMMITS_DIR}/{cid:06d}.intent.json",
        )
        _archive_pre_images(spark, path, cid, intent["pre"])
    if wrote_flag is not None:
        # from here the table's bytes change: a failure past this
        # point must leave the intent as torn-state evidence
        wrote_flag[0] = True
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    fs, jvm = _hfs(spark, path)
    for key in keys:
        if key not in present:
            sub = _partition_subpath(spark, partition_cols, key)
            p = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}/{sub}")
            if fs.exists(p):
                fs.delete(p, True)
    if manifest and pre_registered is None:
        finish_commit(spark, path, cid)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_rows_per_file: int = 1_000_000,
    max_files_per_partition: int = 1,
    manifest: bool = True,
) -> list[tuple]:
    """Small-file compaction for a hive-partitioned parquet table —
    the maintenance half of a streaming/CDC lakehouse. Micro-batch
    sinks (`streaming/materialize.py`) and partition-granular MERGE
    (`merge_upsert`) both append small files over time; at 100 TB the
    resulting per-file footer/open overhead dominates scan cost long
    before data volume does.

    Only partitions whose file count exceeds ``max_files_per_partition``
    are rewritten, bin-packed to ``ceil(rows / target_rows_per_file)``
    files each: every touched partition gets its own salt modulus
    (broadcast back by partition key) and the rewrite shuffles on
    ``(partition key, salt)`` — so one task never scatters a
    partition across many small outputs, and an oversized partition
    still splits. Untouched partitions keep their bytes — the same
    touched-partition discipline as ``merge_upsert``, so compaction
    of one hot day never rewrites the other 36,499. The rewrite rides
    ``partitionOverwriteMode=dynamic`` with a localCheckpoint
    truncating lineage before the self-overwrite, bracketed by the
    intent/commit manifest (``manifest=True``) so a crash mid-rewrite
    is detectable via ``table_state`` and recoverable by re-running
    (already-compacted partitions fail the file-count filter, so the
    re-run touches only what the crash left torn). Returns the list
    of compacted partition-key tuples.
    """
    # lease from the snapshot read through the commit — same
    # lost-update reasoning as merge_upsert: the file-count scan and
    # the checkpointed rewrite must observe a table no other writer
    # mutates in between (a compaction interleaving with a merge is
    # the same hazard)
    with _table_lease(spark, path, manifest):
        return _compact_partitioned_locked(
            spark, path, partition_cols, target_rows_per_file,
            max_files_per_partition, manifest,
        )


def _compact_partitioned_locked(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_rows_per_file: int,
    max_files_per_partition: int,
    manifest: bool,
) -> list[tuple]:
    current = _reader(spark, path).parquet(path)
    counts = (
        current.withColumn("_f", F.input_file_name())
        .groupBy(*partition_cols)
        .agg(
            F.countDistinct("_f").alias("_nf"),
            F.count(F.lit(1)).alias("_rows"),
        )
        # a partition already at its bin-packed file count is DONE:
        # an oversized partition legitimately holds ceil(rows/target)
        # files, so the threshold is the max of both bounds — without
        # it every oversized partition would be rewritten forever
        .filter(
            F.col("_nf")
            > F.greatest(
                F.lit(max_files_per_partition),
                F.ceil(F.col("_rows") / F.lit(target_rows_per_file)),
            )
        )
        # carry Spark-spelled string forms alongside the native values:
        # the manifest paths must use Spark's spelling (see _spelled_keys)
        .select(
            "*",
            *[
                F.col(pc).cast("string").alias(f"_s_{pc}")
                for pc in partition_cols
            ],
        )
        .collect()
    )
    if not counts:
        return []
    skeys = [tuple(row[f"_s_{pc}"] for pc in partition_cols) for row in counts]
    if manifest:
        # conflict-check BEFORE the snapshot materializes below (the
        # same ordering rule as merge_upsert): a partition-scoped
        # writer that commits after our data is read would otherwise
        # look finished to a later check while we overwrite its rows
        # from stale bytes
        subpaths = [
            _partition_subpath(spark, partition_cols, k) for k in skeys
        ]
        conflicts = _active_intent_conflicts(spark, path, subpaths)
        if conflicts:
            raise ConcurrentWriterError(
                f"partition(s) claimed by in-flight partition-scoped "
                f"intent(s) {sorted(c for c, _ in conflicts)} on "
                f"{path}; refusing to compact over them"
            )
    pred = _partition_pred(counts, partition_cols)
    kdf = spark.createDataFrame(
        [
            tuple(row[pc] for pc in partition_cols)
            + (max(1, -(-row["_rows"] // target_rows_per_file)),)
            for row in counts
        ],
        current.select(*partition_cols).schema.add("_k", "integer"),
    )
    data_cols = [c for c in current.columns if c not in partition_cols]
    # null-safe join back of the salt modulus: a plain equi-join would
    # silently drop the NULL partition's rows
    t, kk = current.filter(pred).alias("t"), F.broadcast(kdf.alias("k"))
    cond = _null_safe_eq(partition_cols, "t", "k")
    # salt = hash of the data columns MIXED with a per-row id: a hash
    # of values alone is a pure function of row CONTENT, so a
    # duplicate-heavy partition (or a table with only partition
    # columns, where data_cols is empty and a bare xxhash64() throws)
    # would collapse onto one salt, never split past one-file-per-
    # distinct-row, and be re-selected by the file-count filter on
    # every run. The id is nondeterministic across task retries, which
    # the write tolerates on Spark >= 3.3 (SPARK-38388 indeterminate-
    # stage handling re-runs the whole stage, and file placement — not
    # content — is all that varies); partition CONTENT is
    # salt-invariant either way.
    touched = t.join(kk, cond).select(
        *[F.col(f"t.{c}") for c in current.columns], F.col("k._k").alias("_k")
    ).withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(
                *[F.col(c) for c in data_cols], F.monotonically_increasing_id()
            ),
            F.col("_k"),
        ),
    )
    n_tasks = sum(max(1, -(-row["_rows"] // target_rows_per_file)) for row in counts)
    touched = (
        touched.repartition(n_tasks, *partition_cols, "_salt")
        .drop("_k", "_salt")
        .localCheckpoint()
    )
    keys = [tuple(row[pc] for pc in partition_cols) for row in counts]
    cid = begin_commit(spark, path, partition_cols, skeys) if manifest else None
    (
        touched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    if manifest:
        finish_commit(spark, path, cid)
    return keys


def _bucket_spec(spark: SparkSession, table: str):
    """(n_buckets, bucket_cols, sort_cols, location) from the catalog."""
    rows = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"describe extended {table}").collect()
    }
    if "Num Buckets" not in rows:
        raise ValueError(f"{table} is not a bucketed table")
    parse = lambda s: [c.strip(" `") for c in s.strip("[]").split(",") if c.strip()]
    return (
        int(rows["Num Buckets"]),
        parse(rows.get("Bucket Columns", "[]")),
        parse(rows.get("Sort Columns", "[]")),
        rows["Location"].removeprefix("file:"),
    )


def drop_table_and_orphan(spark: SparkSession, table: str) -> None:
    """``drop table if exists`` PLUS removal of an orphaned managed
    location: a crash during a ``saveAsTable`` (or an earlier PROCESS
    whose in-memory catalog forgot the registration) can leave the
    warehouse directory behind with no table over it, and a later
    ``saveAsTable`` refuses to adopt it (LOCATION_ALREADY_EXISTS).
    Default-database managed tables only — the shape every bucketed
    store here uses."""
    spark.sql(f"drop table if exists {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, jvm = _hfs(spark, wh)
    orphan = jvm.org.apache.hadoop.fs.Path(f"{wh.rstrip('/')}/{table}")
    if fs.exists(orphan):
        fs.delete(orphan, True)


def _table_file_count(spark: SparkSession, location: str) -> int:
    """Data files directly under ``location`` (Hadoop FS API — works
    on any store, matching the manifest machinery above)."""
    fs, jvm = _hfs(spark, location)
    root = jvm.org.apache.hadoop.fs.Path(location)
    if not fs.exists(root):
        return 0
    return sum(
        1
        for st in fs.listStatus(root)
        if st.isFile() and st.getPath().getName().startswith("part-")
    )


def compact_bucketed(
    spark: SparkSession, table: str, files_per_bucket: int = 1
) -> int:
    """Small-file compaction for a BUCKETED ``saveAsTable`` table — the
    maintenance half of the append-only signature catalog
    (`operators/dedup.py::append_signature_catalog`): every bucketed
    append lands one file per (writing task, bucket), so a year of
    daily appends puts hundreds of files in each bucket and footer
    overhead starts to dominate the probe's bucket-pruned scan.

    Rewrites the table at one task per bucket — the FORCED bucketed
    scan yields exactly one partition per bucket (all its fragment
    files), so the bucketed writer emits one file per bucket with no
    shuffle anywhere — into ``{table}__compact`` with the ORIGINAL
    bucket/sort spec read from the catalog, then swaps via two
    renames and drops the old data.
    No-op (returns 0) when the table already has ≤ ``files_per_bucket``
    files per bucket.

    Crash contract: :func:`swap_rewrite`'s. Returns the number of
    files removed by the rewrite."""
    n_buckets, bucket_cols, sort_cols, location = _bucket_spec(spark, table)
    before = _table_file_count(spark, location)
    if before <= files_per_bucket * n_buckets:
        return 0
    # One file per bucket with ZERO shuffle: force the BUCKETED scan.
    # The planner's auto choice disables it here (no join/agg wants
    # the distribution) while the optimizer simultaneously drops a
    # repartition(n, bucket_cols) as redundant (the table's claimed
    # HashPartitioning satisfies it) — leaving NEITHER mechanism
    # aligning tasks to buckets, and the write scatters each bucket
    # over every scan task (observed: 61 files for 16 buckets).
    # With autoBucketedScan off, the scan itself yields exactly one
    # partition per bucket (all of that bucket's fragment files), so
    # the bucketed writer emits exactly one file per bucket and the
    # whole compaction is a narrow read→write, no exchange at all.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"

    def rewrite(tmp: str) -> None:
        prev_auto = spark.conf.get(auto_key)
        spark.conf.set(auto_key, "false")
        try:
            w = spark.table(table).write.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                w = w.sortBy(*sort_cols)
            w.format("parquet").mode("overwrite").saveAsTable(tmp)
        finally:
            spark.conf.set(auto_key, prev_auto)

    swap_rewrite(spark, table, rewrite)
    return before - _table_file_count(spark, _bucket_spec(spark, table)[3])


def swap_rewrite(
    spark: SparkSession, table: str, rewrite: Callable[[str], None]
) -> None:
    """Replace the metastore table ``table`` with a rewrite of it:
    ``rewrite(tmp)`` writes the new copy as the table ``tmp`` =
    ``{table}__compact`` (reading ``table`` is fine — it is untouched
    until the write is complete), then two renames swap it in and the
    old copy is dropped. The table-level twin of
    ``generations.swap_dir``; the compaction of every bucketed store
    (signature catalog, term-stats ledger) runs through it.

    Crash contract (single writer, like the commit manifest): each
    window is recoverable and re-running is always safe —

    - before the first rename (including a FAILED rewrite): ``table``
      is intact and a stray ``__compact`` is left; the next run or
      :func:`recover_bucketed_compaction` drops it.
    - between the renames: ``{table}`` is briefly ABSENT (the one
      non-atomic window two metastore renames can't close — a real
      table format's transaction log is the upgrade);
      :func:`recover_bucketed_compaction` restores it from whichever
      of ``__old``/``__compact`` survived, preferring the compacted
      copy.
    - after the second rename: a stray ``__old``; recovery (or the
      next run) drops it."""
    if not spark.catalog.tableExists(table):
        raise ValueError(
            f"{table} does not exist — run recover_bucketed_compaction "
            "if a compaction crashed mid-swap"
        )
    tmp, old = f"{table}__compact", f"{table}__old"
    for t in (tmp, old):
        # a crash DURING a previous run's tmp write leaves an
        # orphaned location no drop clears — adopt-refusal would
        # otherwise wedge every later compaction
        drop_table_and_orphan(spark, t)
    rewrite(tmp)
    spark.sql(f"alter table {table} rename to {old}")
    spark.sql(f"alter table {tmp} rename to {table}")
    spark.sql(f"drop table {old}")


def recover_bucketed_compaction(spark: SparkSession, table: str) -> str:
    """Restore ``table`` after a crash inside :func:`swap_rewrite`'s
    rename window (``compact_bucketed`` and the ledger compactions).
    Returns what was done: ``"intact"`` (nothing to recover; stray
    helpers dropped), ``"recovered_compacted"`` (the finished rewrite
    was promoted), or ``"recovered_original"`` (the pre-compaction
    table was restored)."""
    tmp, old = f"{table}__compact", f"{table}__old"
    if spark.catalog.tableExists(table):
        for t in (tmp, old):
            drop_table_and_orphan(spark, t)
        return "intact"
    if spark.catalog.tableExists(tmp):
        spark.sql(f"alter table {tmp} rename to {table}")
        spark.sql(f"drop table if exists {old}")
        return "recovered_compacted"
    if spark.catalog.tableExists(old):
        spark.sql(f"alter table {old} rename to {table}")
        return "recovered_original"
    raise ValueError(
        f"nothing to recover: neither {table}, {tmp}, nor {old} exists"
    )


#: bits per clustering column in the Z-order key (256 rank buckets);
#: with m columns the interleaved key is m×ZORDER_BITS bits.
ZORDER_BITS = 8


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = ZORDER_BITS
) -> DataFrame:
    """Append a ``_z`` column: the Morton / Z-order interleaving of
    rank-bucketed clustering columns (Morton 1966; the file-clustering
    discipline popularized by Delta Lake's ``OPTIMIZE ZORDER BY`` —
    public technique, re-derived here on plain parquet).

    Each column is first mapped to a ``2^bits``-bucket rank via
    **approximate-quantile cut points** (numeric/timestamp columns;
    single GK-sketch pass, driver holds ≤ 2^bits cuts) so skewed
    value distributions still fill the bucket space evenly — a
    min/max linear scale would collapse under one outlier. String
    columns fall back to a hash bucket: equal values still cluster
    (point-lookup skipping) but lose range locality, and that
    difference is documented rather than hidden. Bucket lookup is a
    codegen'd HOF over the broadcast cut array (≤256 comparisons per
    row, no shuffle, no UDF); bit interleaving is a sum of
    shift-and-mask column expressions.

    Scale shape: one sketch pass + one map-side projection. The only
    shuffle is the caller's range partition on ``_z``.
    """
    out = df
    numeric_exprs: dict[str, object] = {}  # tmp col name → expression
    hash_cols: dict[str, str] = {}  # original col → bucket col name
    bucket_names: list[str] = []
    for j, c in enumerate(cols):
        dt = dict(df.dtypes)[c]
        if dt == "date":
            # date→double is not a legal cast; days-since-epoch is
            numeric = F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        elif dt in ("string", "binary", "boolean"):
            numeric = None
        else:  # numeric, decimal, timestamp(_ntz) all cast cleanly
            numeric = F.col(c).cast("double")
        name = f"_zb{j}"
        bucket_names.append(name)
        if numeric is None:
            hash_cols[c] = name
        else:
            numeric_exprs[f"_zn{j}"] = (name, numeric)
    # ONE GK-sketch pass for every numeric column (approxQuantile
    # takes a column list) — m separate calls would scan m times
    tmp_names = list(numeric_exprs)
    for tmp, (_, expr) in numeric_exprs.items():
        out = out.withColumn(tmp, expr)
    n_cuts = (1 << bits) - 1
    probs = [i / (1 << bits) for i in range(1, n_cuts + 1)]
    all_cuts = (
        out.stat.approxQuantile(tmp_names, probs, 1.0 / (1 << bits))
        if tmp_names
        else []
    )
    for tmp, col_cuts in zip(tmp_names, all_cuts):
        name, _ = numeric_exprs[tmp]
        cuts = sorted(set(col_cuts))
        cut_arr = F.array(*[F.lit(float(x)) for x in cuts])
        # rank = #cuts ≤ value; NULLs → rank 0. Low-cardinality
        # columns dedupe to few cuts, so SPREAD the ranks across
        # the full bucket space — otherwise only low-order bits
        # would ever vary and the column would contribute nothing
        # to the high (file-splitting) bits of the curve.
        scale = (1 << bits) // (len(cuts) + 1)
        out = out.withColumn(
            name,
            F.when(F.col(tmp).isNull(), F.lit(0)).otherwise(
                F.size(F.filter(cut_arr, lambda x: x <= F.col(tmp)))
                * F.lit(scale)
            ).cast("long"),
        )
    out = out.drop(*tmp_names)
    for c, name in hash_cols.items():
        out = out.withColumn(
            name, F.pmod(F.xxhash64(F.col(c)), F.lit(1 << bits)).cast("long")
        )
    bucket_cols = bucket_names
    m = len(bucket_cols)
    z = F.lit(0).cast("long")
    for k in range(bits):
        for j, bc in enumerate(bucket_cols):
            bit = F.shiftright(F.col(bc), k).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, k * m + (m - 1 - j))
    return out.withColumn("_z", z).drop(*bucket_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = ZORDER_BITS,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` parquet files clustered on the
    Z-order curve of ``cols``: range-partition on ``_z`` (so each file
    owns a contiguous curve segment) and sort within files. Every
    clustering column then has tight per-file min/max footer stats,
    so a predicate on ANY of the columns skips most files — the
    multi-dimensional generalization of sorting by one column, which
    gives perfect skipping on that column and none on the others.
    At 100 TB this is the difference between scanning one column's
    slice (single-sort layout) and scanning a slice in every common
    filter dimension (tests/test_lakehouse.py measures both layouts'
    footer-stat overlap directly).
    """
    zdf = zorder_value(df, cols, bits)
    (
        zdf.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and bucket-sorted) on ``bucket_col``
    so equi-joins and aggregations on that key need no shuffle."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.format("parquet").saveAsTable(table)
