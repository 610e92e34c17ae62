"""The one reader of a lakehouse table's commit log.

``sources.lakehouse`` records each rewrite as ``_commits/{id:06d}.
intent.json`` (before it: format stamp, partition columns, keys, the
``pre`` inventory ``{subpath: [[file_name, length], ...]}``) and
``{id:06d}.commit.json`` (after it: the ``post`` inventory);
``merge_upsert(archive=True)`` copies the replaced files under
``{id:06d}.archive/{subpath}/``; ``write_partitioned`` records the
table's schema as ``_schema.json`` (:func:`recorded_schema`). The
batch readers (``read_as_of``, ``read_changes``, ``table_state``,
``vacuum_commits``) fold this log on the driver through the Hadoop
FileSystem API; the ``lakehouse_cdf`` stream plans in Python workers
with no SparkSession and goes through ``os``. Both fold it here,
stdlib only, given two callables:

- ``ls(dir) -> {name: length}``: a file's byte length, ``None`` for a
  subdirectory; ``{}`` when ``dir`` is absent;
- ``read_json(file)``: the parsed file; ``ValueError`` when torn.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from functools import cached_property

COMMITS_DIR = "_commits"
ARCHIVE_SUFFIX = ".archive"
SCHEMA_FILE = "_schema.json"
#: Manifest schema version (2 = table-root-relative inventory keys,
#: version-stamped). Manifests WITHOUT the stamp predate it and the
#: key spelling is unverifiable, so strict readers (table_state /
#: assert_committed) refuse them loudly rather than risk
#: mis-comparing inventories as torn/clean; vacuum_commits is the
#: sanctioned discard path.
MANIFEST_FORMAT = 2

Ls = Callable[[str], dict]


def local_ls(d: str) -> dict[str, int | None]:
    try:
        with os.scandir(d) as it:
            return {e.name: None if e.is_dir() else e.stat().st_size for e in it}
    except (FileNotFoundError, NotADirectoryError):
        return {}


def local_read_json(p: str):
    with open(p, "r", encoding="utf-8") as f:
        return json.load(f)


def inventory(listing: dict) -> list[list]:
    """The sorted ``[[file_name, length], ...]`` manifests record for
    one ``ls`` listing: data files only, hidden ``.``/``_`` skipped."""
    return sorted(
        [name, size]
        for name, size in listing.items()
        if size is not None and not name.startswith((".", "_"))
    )


def commit_ids(listing) -> list[int]:
    """Every id with an intent in a ``_commits`` listing."""
    return sorted(
        int(n.split(".")[0]) for n in listing if n.endswith(".intent.json")
    )


def recorded_schema(
    ls: Ls, read_json: Callable, root: str, listing: dict | None = None
) -> dict | None:
    """The table's recorded schema, Spark's ``StructType.jsonValue()``
    of the columns as a reader sees them (data columns, then partition
    columns); ``None`` when none is recorded. ``listing`` is the
    ``_commits`` listing when the caller already has it. A torn record
    raises ``read_json``'s ``ValueError``."""
    cdir = f"{root}/{COMMITS_DIR}"
    if SCHEMA_FILE not in (ls(cdir) if listing is None else listing):
        return None
    return read_json(f"{cdir}/{SCHEMA_FILE}")


class CommitLog:
    """A table's manifest pairs, loaded once: ``ids`` (every intent),
    ``meta`` (``{id: (intent, post | None)}``) and ``legacy``.

    ``strict`` raises on an intent that is unreadable or lacks the
    current format stamp (readers must not mis-compare it); otherwise
    it is marked legacy, ``(None, None)``, so vacuum can discard it. A
    ``commit.json`` that is missing, torn (a crash inside the writer
    leaves it empty or truncated) or has no ``post`` reads as
    unfinished, like a missing marker."""

    def __init__(
        self, ls: Ls, read_json: Callable, root: str, strict: bool = True
    ):
        self.ls, self.read_json, self.root = ls, read_json, root
        cdir = f"{root}/{COMMITS_DIR}"
        self.names = names = ls(cdir)
        self.ids = commit_ids(names)
        self.meta: dict[int, tuple] = {}
        self.legacy: set[int] = set()
        for cid in self.ids:
            base = f"{cdir}/{cid:06d}"
            try:
                intent = read_json(f"{base}.intent.json")
            except ValueError:
                intent = None
            fmt_ok = isinstance(intent, dict) and (
                intent.get("format") == MANIFEST_FORMAT
            )
            if not fmt_ok:
                if strict:
                    fmt = (
                        repr(intent.get("format"))
                        if isinstance(intent, dict)
                        else "unreadable"
                    )
                    raise RuntimeError(
                        f"manifest {base}.intent.json is {fmt} (this engine "
                        f"reads format {MANIFEST_FORMAT}); after a fresh "
                        "rewrite, vacuum_commits(keep_last=1) drops "
                        "old-format/unreadable manifests"
                    )
                self.legacy.add(cid)
                self.meta[cid] = (None, None)
                continue
            post = None
            if f"{cid:06d}.commit.json" in names:
                try:
                    post = read_json(f"{base}.commit.json")["post"]
                except (ValueError, KeyError, TypeError):
                    post = None
            self.meta[cid] = (intent, post)

    @cached_property
    def schema(self) -> dict | None:
        """:func:`recorded_schema`, served from the ``_commits`` listing
        already taken."""
        return recorded_schema(self.ls, self.read_json, self.root, self.names)

    def committed(self) -> list[int]:
        return [i for i, (_intent, post) in self.meta.items() if post is not None]

    def require_committed(self, cid: int, who: str) -> None:
        if cid not in self.meta or self.meta[cid][1] is None:
            raise ValueError(
                f"{who}: commit {cid} is unknown or never committed at "
                f"{self.root} (committed ids: {self.committed()})"
            )

    def touched(self, after: int = -1, upto: int | None = None) -> set[str]:
        """Partition subpaths a commit in ``(after, upto]`` declared
        (intent ``pre``) or wrote (``post``); the whole log by default."""
        subs: set[str] = set()
        for cid, (intent, post) in self.meta.items():
            in_range = after < cid and (upto is None or cid <= upto)
            if intent is not None and in_range:
                subs.update(intent["pre"], post or ())
        return subs

    def universe(self, depth: int) -> set[str]:
        """Every partition subpath: those the log names plus the live
        ``col=value`` directories ``depth`` levels deep (partitions
        untouched since the initial load have no manifest)."""
        level = [""]
        for _ in range(depth):
            level = [
                f"{base}/{name}" if base else name
                for base in level
                for name, size in self.ls(f"{self.root}/{base}".rstrip("/")).items()
                if size is None and "=" in name and not name.startswith("_")
            ]
        return self.touched() | set(level)

    def _state_at(self, cid: int, sub: str) -> list | None:
        """``sub``'s inventory at ``cid``, ``None`` when never
        manifested: the fold ``lakehouse.read_as_of`` documents."""
        best = None
        for i, (_intent, post) in self.meta.items():
            if i <= cid and post is not None and sub in post:
                best = post[sub]
        if best is not None:
            return best
        for i, (intent, _post) in self.meta.items():
            if i > cid and intent is not None and sub in intent["pre"]:
                return intent["pre"][sub]
        return None

    def resolve(self, cid: int, subs) -> dict[str, list[tuple[str, str]]]:
        """Commit ``cid``'s files, ``{subpath: [(base, file_path)]}``,
        for each of ``subs`` that held any. ``base`` is the ``basePath``
        to read the file under: the table root when the file is live at
        its recorded length, else the EARLIEST later commit's archive
        holding it. Missing bytes (overwritten without ``archive=True``,
        or vacuumed) raise ``ValueError`` naming every such file. Lists
        each subpath once and each later archive it searches once, never
        one call per file."""
        root = self.root
        later = [
            i for i, (intent, _post) in self.meta.items()
            if i > cid and intent is not None
        ]
        out: dict[str, list[tuple[str, str]]] = {}
        missing: list[str] = []
        for sub in sorted(subs):
            state = self._state_at(cid, sub)
            if state == []:
                continue
            live = self.ls(f"{root}/{sub}")
            archived: dict[int, dict] = {}
            files = []
            for name, length in inventory(live) if state is None else state:
                if live.get(name) == int(length):
                    files.append((root, f"{root}/{sub}/{name}"))
                    continue
                for i in later:
                    arch = f"{root}/{COMMITS_DIR}/{i:06d}{ARCHIVE_SUFFIX}"
                    if i not in archived:
                        archived[i] = self.ls(f"{arch}/{sub}")
                    if name in archived[i]:
                        files.append((arch, f"{arch}/{sub}/{name}"))
                        break
                else:
                    missing.append(f"{sub}/{name}")
            if files:
                out[sub] = files
        if missing:
            raise ValueError(
                f"commit {cid}'s files are gone (overwritten without "
                "archive=True, or vacuumed): " + ", ".join(missing)
            )
        return out
