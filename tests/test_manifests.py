"""The commit-log fold (sources/manifests.py) on hand-built ``_commits``
trees, through the ``os`` filesystem pair: no Spark. The end-to-end
pins (read_as_of, read_changes, table_state, vacuum_commits and the
lakehouse_cdf stream) live in tests/test_lakehouse.py and
tests/test_streaming.py."""

from __future__ import annotations

import json

import pytest

from map_reduce_sf_crime_spark.sources import manifests
from map_reduce_sf_crime_spark.sources.manifests import local_ls, local_read_json


def _put(path, data: bytes = b"") -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)


def _manifest(root, cid, pre, post=None, fmt=manifests.MANIFEST_FORMAT):
    cdir = root / manifests.COMMITS_DIR
    intent = {"id": cid, "partition_cols": ["pt"], "keys": [], "pre": pre}
    if fmt is not None:
        intent["format"] = fmt
    _put(cdir / f"{cid:06d}.intent.json", json.dumps(intent).encode())
    if post is not None:
        _put(
            cdir / f"{cid:06d}.commit.json",
            json.dumps({"format": fmt, "id": cid, "post": post}).encode(),
        )


def _archive(root, cid, sub, name, data: bytes) -> None:
    arch = f"{cid:06d}{manifests.ARCHIVE_SUFFIX}"
    _put(root / manifests.COMMITS_DIR / arch / sub / name, data)


def _log(root, strict=True):
    return manifests.CommitLog(local_ls, local_read_json, str(root), strict)


@pytest.fixture
def rewritten(tmp_path):
    """pt=0 holds ``b.parquet`` rewritten in place by three archiving
    commits (3 → 4 → 6 bytes; each commit archived the version it
    replaced); pt=1 was never manifested."""
    root = tmp_path / "t"
    _put(root / "pt=0" / "b.parquet", b"x" * 6)
    _put(root / "pt=1" / "c.parquet", b"cc")
    _put(root / "pt=1" / ".c.parquet.crc", b"k")
    _manifest(root, 0, {"pt=0": []}, {"pt=0": [["b.parquet", 3]]})
    _manifest(root, 1, {"pt=0": [["b.parquet", 3]]}, {"pt=0": [["b.parquet", 4]]})
    _archive(root, 1, "pt=0", "b.parquet", b"x" * 3)
    _manifest(root, 2, {"pt=0": [["b.parquet", 4]]}, {"pt=0": [["b.parquet", 6]]})
    _archive(root, 2, "pt=0", "b.parquet", b"x" * 4)
    return root


def test_live_file_at_recorded_length_is_read_live(rewritten):
    log = _log(rewritten)
    assert log.ids == [0, 1, 2] and log.legacy == set()
    root = str(rewritten)
    assert log.resolve(2, {"pt=0"}) == {
        "pt=0": [(root, f"{root}/pt=0/b.parquet")]
    }


def test_rewritten_file_falls_back_to_earliest_later_archive(rewritten):
    log = _log(rewritten)
    root = str(rewritten)
    arch1 = f"{root}/_commits/000001.archive"
    arch2 = f"{root}/_commits/000002.archive"
    # the live b.parquet is 6 bytes: commit 0's 3-byte version is in
    # BOTH later archives' directories, and the earliest one holds it
    assert log.resolve(0, {"pt=0"}) == {
        "pt=0": [(arch1, f"{arch1}/pt=0/b.parquet")]
    }
    assert log.resolve(1, {"pt=0"}) == {
        "pt=0": [(arch2, f"{arch2}/pt=0/b.parquet")]
    }


def test_missing_bytes_raise_with_paths_named(tmp_path):
    root = tmp_path / "t"
    _put(root / "pt=0" / "y.parquet", b"yy")
    _put(root / "pt=1" / "z.parquet", b"zz")
    _manifest(root, 0, {"pt=0": [], "pt=1": []},
              {"pt=0": [["x.parquet", 3]], "pt=1": [["z.parquet", 2]]})
    # commit 1 rewrote pt=0 without archiving x.parquet
    _manifest(root, 1, {"pt=0": [["x.parquet", 3]]}, {"pt=0": [["y.parquet", 2]]})
    with pytest.raises(ValueError, match="overwritten without archive") as ei:
        _log(root).resolve(0, {"pt=0", "pt=1"})
    assert "pt=0/x.parquet" in str(ei.value)
    assert "z.parquet" not in str(ei.value)


@pytest.mark.parametrize(
    "write_intent",
    [
        lambda root: _manifest(root, 0, {}, {}, fmt=None),  # pre-stamp
        lambda root: _put(root / "_commits" / "000000.intent.json", b""),
        lambda root: _put(root / "_commits" / "000000.intent.json", b'{"pre"'),
    ],
    ids=["old_format", "empty", "truncated"],
)
def test_unreadable_or_old_intent_strict_raises_tolerant_is_legacy(
    tmp_path, write_intent
):
    root = tmp_path / "t"
    write_intent(root)
    _manifest(root, 1, {"pt=0": []}, {"pt=0": []})
    with pytest.raises(RuntimeError, match="vacuum_commits"):
        _log(root, strict=True)
    log = _log(root, strict=False)
    assert log.ids == [0, 1] and log.legacy == {0}
    assert log.meta[0] == (None, None)
    assert log.committed() == [1]
    assert log.touched() == {"pt=0"}


@pytest.mark.parametrize("torn", [b"", b'{"format": 2, "po', b'{"format": 2}'])
def test_torn_commit_json_reads_as_unfinished(tmp_path, torn):
    root = tmp_path / "t"
    _manifest(root, 0, {"pt=0": []}, {"pt=0": []})
    _manifest(root, 1, {"pt=0": []})
    _put(root / "_commits" / "000001.commit.json", torn)
    log = _log(root)
    assert log.ids == [0, 1]
    assert log.meta[1][0]["pre"] == {"pt=0": []} and log.meta[1][1] is None
    assert log.committed() == [0]
    with pytest.raises(ValueError, match="unknown or never committed"):
        log.require_committed(1, "read_as_of")


def test_touched_range_and_universe(rewritten):
    _put(rewritten / "pt=2" / "d.parquet", b"d")
    _manifest(rewritten, 3, {"pt=2": [["d.parquet", 1]]})  # unfinished
    log = _log(rewritten)
    assert log.touched(0, 2) == {"pt=0"}
    assert log.touched(2) == {"pt=2"}
    assert log.touched(3) == set()
    # live never-manifested partitions join the universe
    assert log.universe(1) == {
        "pt=0", "pt=1", "pt=2",
    }
    # pt=1 resolves from its live listing (hidden files skipped); pt=2
    # from the later intent's pre
    root = str(rewritten)
    assert log.resolve(2, {"pt=1", "pt=2"}) == {
        "pt=1": [(root, f"{root}/pt=1/c.parquet")],
        "pt=2": [(root, f"{root}/pt=2/d.parquet")],
    }


def test_commit_ids_and_inventory(rewritten):
    assert manifests.commit_ids(local_ls(str(rewritten / "_commits"))) == [0, 1, 2]
    assert manifests.commit_ids(local_ls(str(rewritten / "absent"))) == []
    assert manifests.inventory(local_ls(str(rewritten / "pt=1"))) == [
        ["c.parquet", 2]
    ]


def test_recorded_schema_missing_is_none_torn_raises(tmp_path):
    """The record ``write_partitioned`` leaves in ``_commits``: absent
    reads as ``None``, present as the parsed schema (through
    :func:`recorded_schema` and ``CommitLog.schema`` alike, and never
    as a commit id), torn raises."""
    root = tmp_path / "t"
    assert manifests.recorded_schema(local_ls, local_read_json, str(root)) is None
    _manifest(root, 0, {"pt=0": []}, {"pt=0": []})
    assert _log(root).schema is None
    schema = {
        "type": "struct",
        "fields": [
            {"name": "pt", "type": "decimal(10,2)", "nullable": True, "metadata": {}}
        ],
    }
    rec = root / manifests.COMMITS_DIR / manifests.SCHEMA_FILE
    _put(rec, json.dumps(schema).encode())
    log = _log(root)
    assert log.ids == [0] and log.schema == schema
    assert manifests.recorded_schema(local_ls, local_read_json, str(root)) == schema
    _put(rec, json.dumps(schema).encode()[:20])
    with pytest.raises(ValueError):
        manifests.recorded_schema(local_ls, local_read_json, str(root))
    with pytest.raises(ValueError):
        _log(root).schema
