"""On-disk metadata format + atomic commit protocol.

Layout under the table root::

    metadata/v<N>.json        one immutable metadata version per commit
    metadata/version-hint.text  best-effort pointer (readers probe past it)
    manifests/<uuid>.json     immutable lists of data-file entries
    data/...                  parquet data files
    _pending/tc_<uuid>.json   writer->bookkeeper pending-commit handoff

Commit = write new immutable artifacts, then CREATE ``v<N+1>.json``
with O_EXCL. The exclusive create is the compare-and-swap: two
committers racing to the same version — only one wins, the loser
re-reads and rebases (the reference leans on HadoopTables' equivalent
rename-based CAS, Constants.java:23, with
``commit.retry.num-retries=20000``, Writer.java:116).

The publish (``publish_version``), the version resolver
(``resolve_version``) and the retry loop (``retry_commit``) are
directory-generic and written once, here. Table metadata is their
first user (``commit`` / ``try_commit_version``); the multi-table
catalog (catalog.py) is the second, publishing ``catalog/v<N>.json``
through the same CAS and backoff.

A data file's existence on disk means nothing until a manifest in a
committed metadata version references it — so writers can stream files
into ``data/`` with zero coordination and crash safely at any point
(orphans are swept by snapshot expiry's reachability GC).
"""

from __future__ import annotations

import json
import marshal
import os
import threading
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import Any


class CommitConflict(Exception):
    pass


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | delete | expire | create
    manifests: list[str]  # paths relative to table root
    summary: dict[str, Any] = field(default_factory=dict)
    # schema current when this snapshot committed (Iceberg's
    # snapshot->schema-id binding); None on pre-evolution metadata,
    # which readers treat as "current schema".
    schema_id: int | None = None
    # merge-on-read: manifests listing DELETE files (Iceberg v2 row-
    # level deletes). Entries: {"path", "content": "pos"|"eq",
    # "cols", "rows", "seq"}. Empty on v1-style snapshots.
    delete_manifests: list[str] = field(default_factory=list)
    # commit sequence number (Iceberg's data sequence number): data
    # entries are stamped with the sequence of the committing
    # snapshot; an equality delete applies only to data files with a
    # STRICTLY SMALLER sequence, so a key re-inserted after the
    # delete is not wrongly removed. 0 on pre-MOR metadata.
    sequence: int = 0

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifests": self.manifests,
            "summary": self.summary,
            "schema_id": self.schema_id,
            "delete_manifests": self.delete_manifests,
            "sequence": self.sequence,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["timestamp_ms"],
            d["operation"],
            list(d["manifests"]),
            dict(d.get("summary", {})),
            d.get("schema_id"),
            list(d.get("delete_manifests", [])),
            int(d.get("sequence", 0)),
        )


@dataclass
class TableMetadata:
    version: int
    table_uuid: str
    schema_json: dict  # CURRENT schema, Spark StructType.jsonValue()
    partition_spec: dict | None  # TruncateTransform.to_json() or None
    properties: dict[str, str]
    snapshots: list[Snapshot]
    current_snapshot_id: int | None
    # schema evolution log: every schema version ever current, as
    # [{"schema_id": int, "schema": StructType.jsonValue()}]. Immutable
    # once written — time travel resolves a snapshot's schema here.
    schemas: list[dict] = field(default_factory=list)
    current_schema_id: int = 0
    # named snapshot refs: {name: {"snapshot_id": int, "type": "branch"|"tag"}}.
    # Branches move (staged WAP writes); tags are immutable pins. Both
    # protect their snapshot from expiry.
    refs: dict = field(default_factory=dict)
    # partition-spec evolution log (Iceberg partition evolution): every
    # spec ever current, as [{"spec_id": int, "spec": transform json |
    # None}], LAST element = the current spec (mirrors partition_spec).
    # Empty (pre-evolution metadata) derives to [{0, partition_spec}]
    # via specs() — data files written before an evolution keep their
    # old partition values and are pruned under the spec they were
    # written with (manifest entries carry spec_id).
    spec_log: list[dict] = field(default_factory=list)
    # row-lineage high-water mark (Iceberg v3 next-row-id): every
    # entry-adding commit claims [next_row_id, next_row_id + rows) and
    # stamps each added entry's first_row_id from the claimed range, so
    # _row_id = first_row_id + row position is table-unique and stable.
    # Old metadata (and old entries) default to 0 / absent — their rows
    # simply predate lineage.
    next_row_id: int = 0

    def specs(self) -> list[dict]:
        return self.spec_log or [{"spec_id": 0, "spec": self.partition_spec}]

    def current_snapshot(self) -> Snapshot | None:
        for s in self.snapshots:
            if s.snapshot_id == self.current_snapshot_id:
                return s
        return None

    def snapshot(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots:
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"unknown snapshot {snapshot_id}")

    def snapshot_at(self, timestamp_ms: int) -> Snapshot:
        """The snapshot current AS OF a wall-clock instant (Iceberg's
        ``TIMESTAMP AS OF``): the LAST main-lineage snapshot committed
        at or before the cutoff. Walks the parent chain from the
        current head, not the log — a rolled-back-then-rewritten
        history answers with what a reader AT that instant on today's
        lineage would see, and branch-staged commits (which were never
        main-visible) don't answer for main."""
        by_id = {s.snapshot_id: s for s in self.snapshots}
        cur = self.current_snapshot()
        while cur is not None:
            if cur.timestamp_ms <= timestamp_ms:
                return cur
            cur = by_id.get(cur.parent_id)
        raise KeyError(
            f"no snapshot at or before {timestamp_ms} (table created later, "
            "or that history was expired)"
        )

    def schema_for(self, schema_id: int | None) -> dict:
        """Schema json for a schema id; None (pre-evolution snapshot)
        resolves to the current schema."""
        if schema_id is None:
            return self.schema_json
        for s in self.schemas:
            if s["schema_id"] == schema_id:
                return s["schema"]
        raise KeyError(f"unknown schema id {schema_id}")

    def to_json(self) -> dict:
        return {
            "format_version": 1,
            "version": self.version,
            "table_uuid": self.table_uuid,
            "schema": self.schema_json,
            "partition_spec": self.partition_spec,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "current_snapshot_id": self.current_snapshot_id,
            "schemas": self.schemas,
            "current_schema_id": self.current_schema_id,
            "refs": self.refs,
            "spec_log": self.specs(),
            "next_row_id": self.next_row_id,
        }

    @staticmethod
    def from_json(d: dict) -> "TableMetadata":
        schemas = list(d.get("schemas") or [{"schema_id": 0, "schema": d["schema"]}])
        return TableMetadata(
            version=d["version"],
            table_uuid=d["table_uuid"],
            schema_json=d["schema"],
            partition_spec=d.get("partition_spec"),
            properties=dict(d.get("properties", {})),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            current_snapshot_id=d.get("current_snapshot_id"),
            schemas=schemas,
            current_schema_id=int(d.get("current_schema_id", 0)),
            refs=dict(d.get("refs", {})),
            spec_log=list(d.get("spec_log") or []),
            next_row_id=int(d.get("next_row_id", 0)),
        )


def _metadata_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _version_path(root: str, version: int) -> str:
    return os.path.join(_metadata_dir(root), f"v{version}.json")


def _write_fsynced(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


def write_json_atomic(path: str, payload: dict) -> str:
    """Write-temp-then-rename — the same publish idiom as the
    reference's moniker handoff (Writer.java:160-170). Encodes with
    ``json.dumps`` (the C encoder; ``json.dump`` streams through the
    pure-Python one) and returns the text written."""
    text = json.dumps(payload)
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    _write_fsynced(tmp, text)
    os.rename(tmp, path)
    return text


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def resolve_version(vdir: str) -> int:
    """Resolve the latest committed ``v<N>.json`` under ``vdir``: start
    at the hint, probe upward (the hint is best-effort, never
    authoritative)."""
    hint_path = os.path.join(vdir, "version-hint.text")
    v = 0
    if os.path.exists(hint_path):
        try:
            with open(hint_path) as f:
                v = int(f.read().strip())
        except (ValueError, OSError):
            v = 0
    if v < 1 or not os.path.exists(os.path.join(vdir, f"v{v}.json")):
        versions = [
            int(name[1:-5])
            for name in os.listdir(vdir)
            if name.startswith("v") and name.endswith(".json")
        ]
        if not versions:
            raise FileNotFoundError(f"no committed versions under {vdir}")
        return max(versions)
    while os.path.exists(os.path.join(vdir, f"v{v + 1}.json")):
        v += 1
    return v


def load_metadata(root: str) -> TableMetadata:
    v = resolve_version(_metadata_dir(root))
    return TableMetadata.from_json(read_json(_version_path(root, v)))


def publish_version(vdir: str, version: int, payload: dict) -> None:
    """CAS: atomically publish ``<vdir>/v<version>.json``; raise
    CommitConflict if another committer won the race.

    The content is written to a temp file first and PUBLISHED via
    ``os.link`` — link() fails with EEXIST if the version exists (the
    compare-and-swap) and, unlike open(O_EXCL)+write, the target name
    only ever appears with its full content, so concurrent readers can
    never observe a partially-written version file. The hint moves
    after the publish, best-effort."""
    path = os.path.join(vdir, f"v{version}.json")
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    _write_fsynced(tmp, json.dumps(payload))
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        raise CommitConflict(f"{path} already committed") from e
    finally:
        os.unlink(tmp)
    hint = os.path.join(vdir, "version-hint.text")
    htmp = f"{hint}.{uuid.uuid4().hex}.tmp"
    with open(htmp, "w") as f:
        f.write(str(version))
    os.rename(htmp, hint)


def try_commit_version(root: str, meta: TableMetadata) -> None:
    publish_version(_metadata_dir(root), meta.version, meta.to_json())


def retry_commit(load, build, publish, max_retries: int = 1000):
    """Optimistic-retry loop over any versioned state with a
    ``version`` field: ``load()`` reads the current state,
    ``build(current)`` returns the next one (version + 1) or None to
    abort (the current state is returned), ``publish(new)`` is the CAS
    and raises CommitConflict on a lost race. Losers back off
    exponentially (1 ms doubling, capped at 100 ms) and rebase.
    Mirrors the reference's retry budget semantics (Writer.java:116)
    with a bounded default."""
    for attempt in range(max_retries):
        current = load()
        new = build(current)
        if new is None:
            return current
        assert new.version == current.version + 1, "build() must bump version by 1"
        try:
            publish(new)
            return new
        except CommitConflict:
            if attempt == max_retries - 1:
                raise
            time.sleep(min(0.001 * (2 ** min(attempt, 6)), 0.1))
    raise CommitConflict("retries exhausted")


def commit(root: str, build: "callable", max_retries: int = 1000) -> TableMetadata:
    """Table commit: ``retry_commit`` over this root's metadata.
    ``build(current: TableMetadata) -> TableMetadata | None`` is
    rebased on the freshly-read current state each attempt. The steps
    resolve ``load_metadata`` / ``try_commit_version`` at call time,
    so wrappers and patches on this module's attributes see them."""
    return retry_commit(
        lambda: load_metadata(root),
        build,
        lambda new: try_commit_version(root, new),
        max_retries,
    )


class ManifestCache:
    """Parsed manifests, bounded by the total size of their marshalled
    entries, least recently used first out. A manifest's name is a
    fresh uuid and the file is never rewritten, so an entry can never
    go stale. Entries are stored marshalled: every read unmarshals its
    own copy (several times cheaper than parsing the JSON), so a caller
    editing the entries it got cannot change the next read. The bound
    is on bytes, not entries, because one entry can carry a Bloom
    filter of megabytes. Shared by threads."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.bytes = 0
        self._blobs: OrderedDict[str, bytes] = OrderedDict()
        self._lock = threading.Lock()

    def get(self, path: str) -> list[dict] | None:
        with self._lock:
            blob = self._blobs.get(path)
            if blob is None:
                return None
            self._blobs.move_to_end(path)
        return marshal.loads(blob)

    def put(self, path: str, entries: list[dict]) -> None:
        blob = marshal.dumps(entries)
        if len(blob) > self.max_bytes:
            return
        with self._lock:
            if path in self._blobs:
                return
            self._blobs[path] = blob
            self.bytes += len(blob)
            while self.bytes > self.max_bytes:
                self.bytes -= len(self._blobs.popitem(last=False)[1])


# 4 MiB: about 12,000 entries with truncated bounds (~350 bytes each
# marshalled), or about 550 with the full bounds of older manifests.
# Past about as many entries, manifest walks given a SparkSession move
# to executors (Table._distributed): planning, GC, SHOW PARTITIONS,
# DESCRIBE totals. The files table always parses in Spark tasks. Those
# reads pass cached=False and bypass the cache.
_manifests = ManifestCache(4 << 20)


def write_manifest(root: str, entries: list[dict]) -> str:
    """Immutable manifest file; returns path relative to root. The
    manifest cache is filled with the entries as a read of the file
    parses them.

    Entry shape: {path, rows, bytes, partition, columns:{col:{min,max,nulls}}}
    with ``path`` relative to the table root."""
    rel = os.path.join("manifests", f"m-{uuid.uuid4().hex}.json")
    full = os.path.abspath(os.path.join(root, rel))
    os.makedirs(os.path.dirname(full), exist_ok=True)
    text = write_json_atomic(full, {"entries": entries})
    _manifests.put(full, json.loads(text)["entries"])
    return rel


def read_manifest(root: str, rel_path: str, cached: bool = True) -> list[dict]:
    """The entries of one manifest, from the cache when it holds them.
    ``cached=False`` parses the file and leaves the cache alone (for
    one-off readers such as executor tasks, which would each fill a
    cache of their own)."""
    path = os.path.abspath(os.path.join(root, rel_path))
    entries = _manifests.get(path) if cached else None
    if entries is None:
        entries = read_json(path)["entries"]
        if cached:
            _manifests.put(path, entries)
    return entries


def new_snapshot_id() -> int:
    return uuid.uuid4().int & ((1 << 62) - 1)


def now_ms() -> int:
    return int(time.time() * 1000)
