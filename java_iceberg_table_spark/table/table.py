"""The Table API: create / append / scan / delete_where /
expire_snapshots — PySpark-driven, metadata in JSON (format.py).

Scale design:
- scan planning is metadata-only (manifests are small JSON); Spark
  receives an explicit pruned file list, so partition pruning and
  min/max file skipping happen BEFORE any executor starts — the
  equivalent of Iceberg's manifest filtering.
- appends write one new manifest; existing manifests are never
  rewritten (fast append, Writer.java:139-154). Manifest compaction
  merges small manifests past a threshold
  (commit.manifest.min-count-to-merge, Writer.java:120).
- delete_where with a partition-aligned predicate drops whole files
  from metadata — zero data IO at any table size
  (FileBasedBookkeeper.java:182-192).
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from dataclasses import replace
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..session import conf_scope
from . import format as fmt
from .format import Snapshot, TableMetadata
from .stats import file_stats
from .transforms import CompositeTransform, Transform, transform_from_json

DEFAULT_PROPERTIES = {
    # reference table properties (Writer.java:114-124), renamed only
    # where the reference had a typo
    "commit.retry.num-retries": "1000",
    "commit.manifest.min-count-to-merge": "8",
    "history.expire.min-snapshots-to-keep": "1",
}


# Table._commit_snapshot's expected_parent modes besides an exact
# snapshot id (None = the empty table)
_ANY_PARENT = object()  # commit on whatever the head is, empty included
_SOME_PARENT = object()  # commit on the head; refuse an empty table


class RetentionGapError(KeyError):
    """A consumer asked for incremental state that snapshot expiry has
    already garbage-collected (checkpoint older than retention)."""


class DnfFilter:
    """A general row predicate in disjunctive normal form: OR over
    ``branches``, each branch an AND-conjunction of leaves
    ``(col, op, value)`` with op one of < <= > >= = (scalar value),
    ``in`` (tuple of scalars), or ``like_prefix`` (literal string
    prefix). The DML verbs prune candidate files with the UNION of
    each branch's stats-admissible set and rewrite with the full
    residual predicate — the general-predicate form of Iceberg's
    ``deleteFromRowFilter`` expression trees (one instance:
    FileBasedBookkeeper.java:188)."""

    def __init__(self, branches):
        self.branches = [list(b) for b in branches]
        if not self.branches or any(not b for b in self.branches):
            raise ValueError("DnfFilter requires non-empty branches")

    def __repr__(self) -> str:  # loud in error messages
        return f"DnfFilter({self.branches!r})"


def _dnf_branches(filters) -> list[list[tuple]]:
    """Normalize a DML predicate argument: a plain iterable of
    (col, op, value) triples is one AND-conjunction (the historical
    API); a DnfFilter carries explicit OR branches."""
    if isinstance(filters, DnfFilter):
        return filters.branches
    return [list(filters)]


def _dashed(result: dict) -> dict:
    """A DML result dict spelled as snapshot-summary keys
    (``rewritten_files`` -> ``rewritten-files``)."""
    return {k.replace("_", "-"): v for k, v in result.items()}


def _prefix_upper(pfx: str) -> str | None:
    """Smallest string greater than every string with prefix ``pfx``
    (bump the last bumpable code point); None when no such bound
    exists. Python str comparison is by code point, which matches
    parquet's UTF-8 byte ordering on the stats bounds."""
    for i in range(len(pfx) - 1, -1, -1):
        c = ord(pfx[i])
        if c < 0x10FFFF:
            return pfx[:i] + chr(c + 1)
    return None


# Above this much manifest JSON, scan planning / GC reachability moves
# from the driver-side Python loop to a distributed Spark scan of the
# manifests (inspect.py's machinery). ~4 MB is ~10^4 entries — below
# it, session+job overhead exceeds the loop; above it, the driver loop
# becomes the engine's first scale bottleneck (a 100x file-count table
# plans as a parallel JSON scan instead of a million-iteration loop).
DIST_PLAN_MIN_MANIFEST_BYTES = 4 << 20

# Position deletes at or below this many rows are stored as INLINE
# deletion vectors in the manifest entry ({file_key: sorted positions})
# instead of a parquet delete file — the delete commit then writes no
# data files at all and readers build the anti-join input from
# metadata. Sized so a manifest entry stays a few tens of KB.
DV_INLINE_MAX_POSITIONS = 4096

# the physical row-lineage columns a lineage-preserving rewrite writes
_LINEAGE_SCHEMA = StructType(
    [StructField("__row_id", LongType()), StructField("__upd_seq", LongType())]
)


def _file_key_col():
    """Root-relative path of the file being scanned (``data/...``),
    from ``_metadata.file_path``. This is the MOR delete join key —
    matches manifest entry ``path`` values exactly. Basenames are NOT
    usable here: a partitioned write emits the same part-file name
    into every partition directory. Greedy ``.*`` anchors the LAST
    ``/data/`` segment, so a table root that itself contains ``/data/``
    can't shift the key; partition dirs (``col=value``) and batch dirs
    (``b-<hex>``) can never introduce a later bare ``data`` segment."""
    return F.regexp_extract(F.col("_metadata.file_path"), r"^.*/(data/.+)$", 1)


def _renames_of(schema: StructType) -> dict[str, list[str]]:
    """Current field name -> historical physical names, read from the
    ``renamed_from`` entry each rename stamps into the field's
    metadata. Deriving the map from the schema OBJECT (not from table
    state) makes every read path time-travel correct for free: a
    snapshot read passes its vintage schema, whose fields carry only
    the renames that had happened by then."""
    out: dict[str, list[str]] = {}
    for f in schema.fields:
        olds = (f.metadata or {}).get("renamed_from")
        if olds:
            out[f.name] = list(olds)
    return out


def _defaults_of(schema: StructType) -> dict[str, tuple[object, int]]:
    """Current field name -> (initial default value, sequence number of
    the snapshot current when the column was added), from the metadata
    ``add_column(default=...)`` stamps. Iceberg v3 initial-default
    semantics: the default applies ONLY to rows physically written
    before the column existed (entry seq <= default_seq — the column
    is provably absent from those files, since retired names can never
    be re-added); rows written afterwards keep their stored values,
    including explicit NULLs. Derived from the schema OBJECT, so time
    travel is automatic — a vintage schema predating the add has no
    such field at all."""
    out: dict[str, tuple[object, int]] = {}
    for f in schema.fields:
        md = f.metadata or {}
        if "initial_default" in md:
            out[f.name] = (md["initial_default"], int(md.get("default_seq", 0)))
    return out


def _default_sig(entry: dict, defaults: dict[str, tuple[object, int]]) -> frozenset:
    """Which defaulted columns apply to this manifest entry."""
    seq = int(entry.get("seq", 0) or 0)
    return frozenset(c for c, (_, dseq) in defaults.items() if seq <= dseq)


def _physical_schema(schema: StructType, renames: dict[str, list[str]]) -> StructType:
    """The read schema that covers every physical vintage: current
    fields plus one nullable field per historical name (typed as the
    CURRENT type — parquet upcasts narrower physical types natively,
    so this also composes with widen_column)."""
    fields = []
    for f in schema.fields:
        if f.name in renames:
            # a renamed column is vintage-split: any given file holds
            # EITHER the current name or a historic one, so each
            # physical column individually must read as nullable even
            # when the logical column is not (the coalesce projection
            # restores a value for every row)
            fields.append(StructField(f.name, f.dataType, True, f.metadata))
        else:
            fields.append(f)
    have = {f.name for f in fields}
    by_name = {f.name: f for f in schema.fields}
    for new, olds in renames.items():
        for old in olds:
            if old not in have:
                fields.append(StructField(old, by_name[new].dataType, True))
                have.add(old)
    return StructType(fields)


def _current_projection(schema: StructType, renames: dict[str, list[str]]):
    """Column expressions mapping a physical-schema read onto the
    current names: renamed columns coalesce across their name history
    (each file has exactly one vintage populated), others pass
    through."""
    cols = []
    for f in schema.fields:
        olds = renames.get(f.name)
        if olds:
            cols.append(F.coalesce(f.name, *olds).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return cols


def _normalize_stat_value(val):
    """Predicate value -> the rendering footer stats use: datetimes and
    dates become their ISO string (stats.py _plain stores temporal
    bounds as isoformat; ISO lexicographic order == temporal order even
    across mixed fractional precision). The connector's pushed filters
    carry real datetime objects, Table.scan callers often pass ISO
    strings — both must compare against the same stat strings (stats
    render naive-UTC; a tz-aware predicate value converts to match)."""
    import datetime as _dt2

    if isinstance(val, _dt2.datetime):
        if val.tzinfo is not None:
            val = val.astimezone(_dt2.timezone.utc).replace(tzinfo=None)
        return val.isoformat()
    if isinstance(val, _dt2.date):
        return val.isoformat()
    return val


def _stat_value_renderings(val) -> list:
    """Every footer-stat rendering a predicate value may need to
    compare against. A plain DATE is ambiguous: against a DATE
    column's stats it must render 'YYYY-MM-DD', against a TIMESTAMP
    column's 'YYYY-MM-DDT00:00:00' — and 'YYYY-MM-DD' sorts BEFORE
    its own T-suffixed midnight, so picking one rendering mis-prunes
    the other column type at day boundaries. The pruner keeps a file
    if ANY rendering admits it (and is 'certain' only if all are)."""
    import datetime as _dt2

    if isinstance(val, _dt2.datetime):
        return [_normalize_stat_value(val)]
    if isinstance(val, _dt2.date):
        return [val.isoformat(), val.isoformat() + "T00:00:00"]
    return [val]


def _key_bounds(source: DataFrame, key_cols: list[str]):
    """One tiny aggregate: per-key-column min/max of the source side —
    the pruning probe for upsert/merge candidate selection."""
    return source.agg(
        *[F.min(c).alias(f"lo_{c}") for c in key_cols],
        *[F.max(c).alias(f"hi_{c}") for c in key_cols],
    ).collect()[0]


def _key_bound_candidates(
    entries: list[dict], bounds_row, key_cols: list[str]
) -> list[dict]:
    """Manifest entries whose stats range can overlap the source key
    bounds — the shared rewrite/match pruning for upsert and
    merge_into. Bounds normalize to the footer-stat rendering
    (datetimes -> ISO strings) and incomparable stat/bound types keep
    the file: pruning is conservative, never row-losing."""

    def may_hold(e: dict) -> bool:
        for c in key_cols:
            lo = _normalize_stat_value(bounds_row[f"lo_{c}"])
            hi = _normalize_stat_value(bounds_row[f"hi_{c}"])
            if lo is None:
                return False  # empty source: no file matches
            cstats = e.get("columns", {}).get(c)
            if not cstats or cstats.get("min") is None:
                continue  # no stats: must assume overlap
            try:
                if cstats["max"] < lo or cstats["min"] > hi:
                    return False
            except TypeError:
                continue  # incomparable: must assume overlap
        return True

    return [e for e in entries if may_hold(e)]


def _on_bucket_start(t, val, vb: int) -> bool:
    """True when ``val`` is exactly the inclusive lower boundary of
    bucket ``vb`` — the sharpening that lets ``ts < midnight`` drop the
    midnight bucket. Conservative False on any parse trouble."""
    start = getattr(t, "bucket_start_us", None)
    if start is None:
        return False
    try:
        from .transforms import _value_to_epoch_us

        return _value_to_epoch_us(val) <= start(vb)
    except (TypeError, ValueError):
        return False


def _dtype_of(df, column: str) -> str | None:
    """simpleString dtype of one DataFrame column, None if absent —
    transforms branch on it (a temporal transform reads a timestamp
    via unix_micros but a long as epoch-µs directly)."""
    try:
        return df.schema[column].dataType.simpleString()
    except Exception:
        return None


BLOOM_PROBE_CAP = 256


def _arrow_import_compatible(at, st) -> bool:
    """Can a parquet column of arrow type ``at`` be read as Spark type
    ``st`` without rewrite? Exact matches plus the upcasts the parquet
    readers perform natively (narrower signed int -> int/long,
    float -> double, any timestamp unit/tz — Spark reads INT96 and
    int64 micros alike as TimestampType)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(st, T.LongType):
        return pa.types.is_integer(at) and not pa.types.is_unsigned_integer(at)
    if isinstance(st, T.IntegerType):
        return (
            pa.types.is_integer(at)
            and not pa.types.is_unsigned_integer(at)
            and at.bit_width <= 32
        )
    if isinstance(st, T.DoubleType):
        return pa.types.is_floating(at)
    if isinstance(st, T.FloatType):
        return pa.types.is_float32(at)
    if isinstance(st, T.StringType):
        return pa.types.is_string(at) or pa.types.is_large_string(at)
    if isinstance(st, (T.TimestampType, T.TimestampNTZType)):
        return pa.types.is_timestamp(at)
    if isinstance(st, T.DateType):
        return pa.types.is_date(at)
    if isinstance(st, T.BooleanType):
        return pa.types.is_boolean(at)
    if isinstance(st, T.BinaryType):
        return pa.types.is_binary(at) or pa.types.is_large_binary(at)
    if isinstance(st, T.DecimalType):
        return (
            pa.types.is_decimal(at)
            and at.precision <= st.precision
            and at.scale == st.scale
        )
    if isinstance(st, T.ArrayType) and (
        pa.types.is_list(at) or pa.types.is_large_list(at)
    ):
        return _arrow_import_compatible(at.value_type, st.elementType)
    return False


# Engine data/delete files store timestamps as INT64 micros for the
# duration of a write. Spark's default INT96 encoding carries NO footer
# statistics, so a table with a timestamp column would lose file
# skipping on its primary pruning dimension (and eq-delete payload
# slicing on temporal keys); Iceberg's spec likewise mandates int64
# micros and forbids INT96. Session-conf scoped because the parquet
# writer ignores a per-write option for this key (verified empirically
# on Spark 4.1).
_MICROS_TS = {"spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS"}


def _entry_partition_key(e: dict):
    """The entry's partition identity as a HASHABLE value: the scalar
    ``partition`` for single-field specs, a tuple of
    ``partition_fields`` for composite specs, None when unpartitioned.
    Every grouping/matching site (compaction, z-order, dynamic
    overwrite) keys on this so one physical partition never merges
    with another across spec arities."""
    p = e.get("partition")
    if p is not None:
        return p
    pf = e.get("partition_fields")
    return tuple(pf) if pf is not None else None


def _partition_subdir(spec_id, part, fallback: str) -> str:
    """Rewrite output subdirectory for one partition group (z-order /
    compaction): tuples render field-by-field so composite groups
    never collide on disk."""
    if part is None:
        return fallback
    if isinstance(part, tuple):
        inner = "_".join(str(v) for v in part)
        return f"s{spec_id}__pbt={inner}"
    return f"s{spec_id}__pb={part}"


def _stamp_partition(part) -> dict:
    """Inverse of _entry_partition_key: the manifest-entry fragment
    recording a partition identity (tuples land in
    ``partition_fields``, scalars in ``partition``)."""
    if part is None:
        return {"partition": None}
    if isinstance(part, tuple):
        return {"partition_fields": [int(v) for v in part]}
    return {"partition": part}


def prune_entries_by_keys(entries: list[dict], col: str, keys: list) -> list[dict]:
    """Keep only the manifest entries whose stats range can contain at
    least one of ``keys`` (sorted): binary search per file — stronger
    than a global [min,max] filter for scattered key sets — tightened
    by the per-file Bloom when one covers ``col``. Missing stats keep
    the file (pruning is always conservative). Shared by
    Table.scan_runtime_filtered and the connector's IN-list pushdown.

    Driver-cost bounds: the range check is O(log keys) per file; the
    Bloom probe runs only when at most BLOOM_PROBE_CAP keys fall in
    the file's range (a wide range over a huge key set would otherwise
    cost keys x files x k CRC32s on the driver at planning time — and
    a file whose range holds thousands of candidate keys is about to
    be read anyway). Stats whose stored type cannot be compared with
    the key type keep the file — the same conservatism as the
    distributed plan path's try_cast.

    Temporal keys (datetime/date) prune through their footer-stat
    renderings (ISO strings — lexicographic order == temporal order,
    and a plain DATE gets both its date and midnight-timestamp forms,
    so either stat column type prunes correctly). Their Bloom probe is
    SKIPPED: the bloom build hashes Spark's CAST-to-string rendering
    (space separator, trimmed fraction), not isoformat — a mismatched
    probe would prune files that do hold the key."""
    import bisect
    import datetime as _dt

    probe_bloom = True
    if keys and isinstance(keys[0], (_dt.datetime, _dt.date)):
        keys = sorted({r for k in keys for r in _stat_value_renderings(k)})
        probe_bloom = False
    kept = []
    for e in entries:
        st = (e.get("columns") or {}).get(col)
        if not st or st.get("min") is None or st.get("max") is None:
            kept.append(e)
            continue
        try:
            i = bisect.bisect_left(keys, st["min"])
            if i >= len(keys) or keys[i] > st["max"]:
                continue  # no key inside this file's range
            j = bisect.bisect_right(keys, st["max"], lo=i)
        except TypeError:
            kept.append(e)  # incomparable stat type: cannot prune
            continue
        bloom = e.get("bloom")
        if probe_bloom and bloom and bloom.get("column") == col and j - i <= BLOOM_PROBE_CAP:
            from .bloom_index import bloom_may_contain

            if not any(bloom_may_contain(bloom, k) for k in keys[i:j]):
                continue
        kept.append(e)
    return kept


def _all_historic_names(current: "TableMetadata") -> set[str]:
    """Every column name this table has EVER used: all fields of every
    schema in the log plus every rename history. There are no field
    ids in this format — name history is column identity — so a name
    that ever named a column stays reserved forever: data files from
    that era still hold its bytes physically, and a new column reusing
    the name would silently adopt them through the vintage-mapping
    read (rename) or plain projection (re-added dropped column)."""
    used: set[str] = set()
    for s in current.schemas:
        for f in s["schema"]["fields"]:
            used.add(f["name"])
            used.update((f.get("metadata") or {}).get("renamed_from") or [])
    for f in current.schema_json["fields"]:
        used.add(f["name"])
        used.update((f.get("metadata") or {}).get("renamed_from") or [])
    return used


def _parse_stat(s: str | None):
    """Manifest JSON scans read bounds as strings; restore native
    numeric types for parity with the driver-side manifest parse."""
    if s is None:
        return None
    try:
        return int(s)
    except ValueError:
        try:
            return float(s)
        except ValueError:
            return s


# optional manifest-entry keys the driver-side parse never sees unless
# a writer set them: the distributed planner's rows carry every
# MANIFEST_SCHEMA field, so these are dropped when None / falsy
_ENTRY_DROP_IF_NONE = ("partition_fields", "seq", "bloom", "token_bloom", "first_row_id")
_ENTRY_DROP_IF_FALSY = ("spec_id", "row_ids_inline")


def _entry_of_row(e: dict) -> dict:
    """A distributed-plan manifest row (``Row.asDict(recursive=True)``)
    as the entry dict the driver-side manifest parse yields: unset
    optional keys absent, stats bounds back to native types. Row-lineage
    keys must survive: scan_with_lineage plans through here past
    DIST_PLAN_MIN_MANIFEST_BYTES."""
    for k in _ENTRY_DROP_IF_NONE:
        if e[k] is None:
            del e[k]
    for k in _ENTRY_DROP_IF_FALSY:
        if not e[k]:
            del e[k]
    e["columns"] = {
        k: {"min": _parse_stat(v["min"]), "max": _parse_stat(v["max"]), "nulls": v["nulls"]}
        for k, v in (e["columns"] or {}).items()
    }
    return e


class Table:
    def __init__(self, root: str):
        self.root = root

    # ---------- metadata plane ----------

    @property
    def metadata(self) -> TableMetadata:
        return fmt.load_metadata(self.root)

    @property
    def transform(self) -> Transform | None:
        return transform_from_json(self.metadata.partition_spec)

    # ---------- partition spec evolution ----------

    @staticmethod
    def _spec_map(md: TableMetadata) -> dict[int, Transform | None]:
        """spec_id -> transform for every spec the table has ever had
        (pre-evolution metadata derives {0: current spec})."""
        out: dict[int, Transform | None] = {}
        for s in md.specs():
            spec = s.get("spec")
            out[int(s["spec_id"])] = (
                transform_from_json(spec)
            )
        return out

    @staticmethod
    def _entry_transform(
        entry: dict, specs: dict[int, Transform | None]
    ) -> Transform | None:
        """The transform an entry's partition value was written under:
        entries carry spec_id from the commit that wrote them; entries
        predating evolution default to spec 0."""
        return specs.get(int(entry.get("spec_id", 0) or 0))

    def current_spec_id(self, md: TableMetadata | None = None) -> int:
        specs = (md or self.metadata).specs()
        return int(specs[-1]["spec_id"])

    def set_properties(self, updates: dict[str, str]) -> None:
        """Set/overwrite table properties in one optimistic-retry
        commit (a None value removes the key). Write-behavior
        properties (write.sort.order, write.bloom.column,
        write.target-file-size-bytes) take effect on the NEXT write —
        existing files are untouched until a rewrite."""

        def build(current: TableMetadata) -> TableMetadata:
            props = dict(current.properties)
            for k, v in updates.items():
                if v is None:
                    props.pop(k, None)
                else:
                    props[k] = str(v)
            return replace(
                current, version=current.version + 1, properties=props
            )

        fmt.commit(self.root, build)

    def update_partition_spec(self, new: Transform | None) -> int:
        """Iceberg partition evolution: change how FUTURE writes are
        partitioned — metadata-only, no data rewrite. Existing files
        keep the partition values of the spec they were written under
        and every read path prunes them with THAT spec (manifest
        entries carry spec_id); new appends partition and prune under
        the new spec. Returns the new spec id."""
        from .transforms import validate_transform

        validate_transform(new, self.schema())
        result = [0]

        def build(current: TableMetadata) -> TableMetadata:
            log = list(current.specs())
            next_id = int(log[-1]["spec_id"]) + 1
            log.append(
                {"spec_id": next_id, "spec": new.to_json() if new else None}
            )
            result[0] = next_id
            return replace(
                current,
                version=current.version + 1,
                partition_spec=new.to_json() if new else None,
                spec_log=log,
            )

        fmt.commit(self.root, build)
        return result[0]

    def schema(self) -> StructType:
        return StructType.fromJson(self.metadata.schema_json)

    def snapshots(self) -> list[Snapshot]:
        return self.metadata.snapshots

    def current_files(self, metadata: TableMetadata | None = None) -> list[dict]:
        md = metadata or self.metadata
        snap = md.current_snapshot()
        if snap is None:
            return []
        return self.files_of(snap)

    def files_of(self, snap: Snapshot) -> list[dict]:
        entries: list[dict] = []
        for m in snap.manifests:
            entries.extend(fmt.read_manifest(self.root, m))
        return entries

    def delete_files_of(self, snap: Snapshot | None) -> list[dict]:
        """The merge-on-read delete entries live in ``snap`` (none for
        an empty table)."""
        if snap is None:
            return []
        return [e for m in snap.delete_manifests for e in fmt.read_manifest(self.root, m)]

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        return self.metadata.snapshot(snapshot_id)

    def history(self) -> list[dict]:
        """Commit log view: (snapshot_id, parent, ts, operation, summary)."""
        return [s.to_json() | {"manifests": len(s.manifests)} for s in self.metadata.snapshots]

    def snapshot_as_of(self, timestamp_ms: int) -> Snapshot:
        """See TableMetadata.snapshot_at (TIMESTAMP AS OF)."""
        return self.metadata.snapshot_at(timestamp_ms)

    def read_state(
        self,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> tuple[TableMetadata, Snapshot | None, StructType]:
        """Resolve what one read sees: ``(metadata, snapshot, schema)``
        from ONE metadata load. Every table read — scan, count_rows,
        scan_with_lineage, the inspection tables, the connector, the
        catalog's pinned introspection — resolves here once and then
        plans, applies deletes and filters against that same snapshot,
        so a commit landing mid-read is either wholly visible or not
        at all.

        At most one selector: ``snapshot_id``, ``ref`` (branch head or
        tag pin) or ``as_of_ms`` (TIMESTAMP AS OF); none reads the
        head. A head read gets the CURRENT schema (columns added since
        the last commit included; snapshot is None on an empty table).
        A pinned read gets the schema its snapshot committed under."""
        if sum(x is not None for x in (snapshot_id, ref, as_of_ms)) > 1:
            raise ValueError("pass at most one of snapshot_id / ref / as_of_ms")
        md = self.metadata
        if ref is not None:
            if ref not in md.refs:
                raise KeyError(f"no such ref {ref!r}")
            snapshot_id = md.refs[ref]["snapshot_id"]
        if as_of_ms is not None:
            snap = md.snapshot_at(as_of_ms)
        elif snapshot_id is not None:
            snap = md.snapshot(snapshot_id)
        else:
            return md, md.current_snapshot(), StructType.fromJson(md.schema_json)
        return md, snap, StructType.fromJson(md.schema_for(snap.schema_id))

    def added_files(self, snap: Snapshot) -> list[dict]:
        """Manifest entries ADDED by this snapshot relative to its
        parent — the unit a commit-tailing reader consumes
        (Writer.java:143-145: readStream cares only about the files a
        commit added).

        Append commits persist their added manifest in the snapshot
        summary (``added-manifest``), so this is O(added) — no parent
        diff — and keeps working after the parent snapshot has been
        expired. The parent-diff path remains only for pre-upgrade
        metadata; if that parent is gone, the answer is unrecoverable
        and we raise a retention error rather than silently returning
        the full file set (which would double-deliver to a tailing
        stream)."""
        am = snap.summary.get("added-manifest")
        if am is not None:
            return fmt.read_manifest(self.root, am)
        if snap.parent_id is None:
            return self.files_of(snap)
        try:
            parent = self.snapshot_by_id(snap.parent_id)
        except KeyError:
            raise RetentionGapError(
                f"parent snapshot {snap.parent_id} of {snap.snapshot_id} was "
                "expired and the snapshot predates added-manifest tracking; "
                "the added-file set cannot be reconstructed. Restart the "
                "consumer from a full scan."
            ) from None
        parent_paths = {e["path"] for e in self.files_of(parent)}
        return [e for e in self.files_of(snap) if e["path"] not in parent_paths]

    def incremental_entries(
        self, after_snapshot_id: int | None = None
    ) -> tuple[list[dict], int | None]:
        """Files added by append commits AFTER the given snapshot id
        (None = from the beginning). Returns (entries, new_cursor).
        Delete/expire snapshots add no files and are skipped — exactly
        the change-feed a streaming consumer of this table tails."""
        added: list[dict] = []
        cursor = after_snapshot_id
        seen = after_snapshot_id is None
        for s in self.metadata.snapshots:  # snapshots are append-ordered
            if not seen:
                if s.snapshot_id == after_snapshot_id:
                    seen = True
                continue
            if s.operation in ("append",):
                added.extend(self.added_files(s))
            cursor = s.snapshot_id
        return added, cursor

    # ---------- write plane ----------

    def _write_data_files(
        self, df: DataFrame, prefix: str = "b", n_tasks: int | None = None
    ) -> list[dict]:
        """Write ``df`` as parquet under data/ (partitioned by the
        table's transform when one exists) and return manifest entries.
        The files mean nothing until a commit references them.

        ``n_tasks`` bounds the writing parallelism: rows are clustered
        by partition bucket first (one shuffle), so each bucket lands
        in few output files instead of one-per-task — the rewrite
        paths (upsert/delete_rows) use this to write every touched
        bucket in ONE Spark job rather than a driver-serialized
        job-per-bucket loop."""
        batch = uuid.uuid4().hex
        out_dir = os.path.join(self.root, "data", f"{prefix}-{batch}")
        md = self.metadata
        t = transform_from_json(md.partition_spec)
        spec_id = self.current_spec_id(md)
        # Iceberg-style write.target-file-size-bytes: cap output files
        # near the target by translating bytes -> rows with the table's
        # own observed bytes/row (manifest stats of the current
        # snapshot). No extra job: maxRecordsPerFile splits at write
        # time. A table with no history yet has no byte/row estimate
        # and writes uncapped; the second append onward is sized.
        max_records = None
        target = md.properties.get("write.target-file-size-bytes")
        if target:
            cur = self.current_files(md)
            rows = sum(e["rows"] for e in cur)
            if rows > 0:
                bpr = max(1.0, sum(e["bytes"] for e in cur) / rows)
                max_records = max(1, int(int(target) / bpr))
        # write.sort.order: cluster rows inside every output file so
        # its min/max footer stats are TIGHT on the sort columns —
        # plan_files skipping on those columns then approaches the
        # sorted-table ideal for free on every append (Iceberg
        # SortOrder semantics; the z-order rewrite remains the
        # multi-column layout tool).
        sort_order = [
            c.strip()
            for c in md.properties.get("write.sort.order", "").split(",")
            if c.strip()
        ]
        # R5 format toggle: write.format.default=avro routes the append
        # through the distributed stats-carrying OCF sink (one file per
        # task / per (task, bucket)); manifest entries come back from
        # the executors with Arrow-computed stats — no post-write file
        # re-read, same metadata shape as the parquet footer loop.
        from .transforms import CompositeTransform

        if md.properties.get("write.format.default", "parquet") == "avro":
            from ..sources.avro_io import write_avro_manifest_df

            if isinstance(t, CompositeTransform):
                raise ValueError(
                    "write.format.default=avro supports single-field "
                    "partition specs only (the OCF sink buckets on one "
                    "column); use parquet for composite-partitioned "
                    "tables"
                )
            if t is not None:
                bucketed = df.withColumn(
                    "__pb",
                    t.apply_col(t.source_column, _dtype_of(df, t.source_column)),
                )
                if n_tasks is not None:
                    bucketed = bucketed.repartition(n_tasks, "__pb")
                if sort_order:
                    bucketed = bucketed.sortWithinPartitions("__pb", *sort_order)
                files = write_avro_manifest_df(
                    bucketed,
                    out_dir,
                    prefix=prefix,
                    bucket_col="__pb",
                    max_records=max_records,
                )
            else:
                shaped = df
                if sort_order:
                    n_out = n_tasks or df.sparkSession.sparkContext.defaultParallelism
                    shaped = df.repartitionByRange(
                        int(n_out), *sort_order
                    ).sortWithinPartitions(*sort_order)
                elif n_tasks is not None:
                    shaped = df.coalesce(n_tasks)
                files = write_avro_manifest_df(
                    shaped, out_dir, prefix=prefix, max_records=max_records
                )
            return [
                {
                    "path": os.path.relpath(f["path"], self.root),
                    "rows": f["rows"],
                    "bytes": f["bytes"],
                    "partition": f["bucket"],
                    "columns": f["columns"],
                    **({"spec_id": spec_id} if spec_id else {}),
                }
                for f in files
                if f["rows"] > 0
            ]
        if t is not None:
            # composite specs bucket on one __pb{i} column PER FIELD
            # (directory level per field, Hive/Iceberg layout); the
            # single-field spelling keeps its historical __pb name so
            # existing tables' data dirs stay readable
            if isinstance(t, CompositeTransform):
                pb_pairs = [
                    (f"__pb{i}", ft) for i, ft in enumerate(t.fields)
                ]
            else:
                pb_pairs = [("__pb", t)]
            pb_cols = [c for c, _ in pb_pairs]
            bucketed = df
            for c, ft in pb_pairs:
                bucketed = bucketed.withColumn(
                    c,
                    ft.apply_col(
                        ft.source_column, _dtype_of(df, ft.source_column)
                    ),
                )
            if n_tasks is not None:
                bucketed = bucketed.repartition(n_tasks, *pb_cols)
            if sort_order:
                bucketed = bucketed.sortWithinPartitions(
                    *pb_cols, *sort_order
                )
            w = bucketed.write
            if max_records is not None:
                w = w.option("maxRecordsPerFile", max_records)
            with conf_scope(df.sparkSession, _MICROS_TS):
                w.partitionBy(*pb_cols).parquet(out_dir)
        else:
            if sort_order:
                # range-partition + sort: every output file covers a
                # DISJOINT sort-key range (one shuffle per append, the
                # cost of a sorted table); partitioned tables above
                # sort within tasks only — no extra shuffle, ranges
                # may overlap across tasks but stay tight per file
                n_out = n_tasks or df.sparkSession.sparkContext.defaultParallelism
                df = df.repartitionByRange(int(n_out), *sort_order).sortWithinPartitions(
                    *sort_order
                )
            elif n_tasks is not None:
                df = df.coalesce(n_tasks)
            w = df.write
            if max_records is not None:
                w = w.option("maxRecordsPerFile", max_records)
            with conf_scope(df.sparkSession, _MICROS_TS):
                w.parquet(out_dir)
        entries = []
        for path in glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True):
            rel = os.path.relpath(path, self.root)
            st = file_stats(path)
            partition = None
            pfields: dict[int, int] = {}
            if t is not None:
                for part in rel.split(os.sep):
                    if part.startswith("__pb="):
                        partition = int(part.split("=", 1)[1])
                    elif part.startswith("__pb") and "=" in part:
                        k, v = part.split("=", 1)
                        pfields[int(k[4:])] = int(v)
            if st["rows"] == 0:
                os.remove(path)
                continue
            entries.append(
                {
                    "path": rel,
                    "rows": st["rows"],
                    "bytes": st["bytes"],
                    **(
                        {
                            "partition_fields": [
                                pfields[i] for i in range(len(pfields))
                            ]
                        }
                        if pfields
                        else {"partition": partition}
                    ),
                    "columns": st["columns"],
                    # spec 0 stays implicit so pre-evolution manifests
                    # and these stay byte-compatible
                    **({"spec_id": spec_id} if spec_id else {}),
                }
            )
        return entries

    def append(
        self,
        df: DataFrame,
        branch: str | None = None,
        extra_summary: dict | None = None,
    ) -> Snapshot:
        """Write ``df`` as parquet into data/ (partitioned by the
        table's transform when one exists) and commit one fast-append
        snapshot. Files become visible atomically at commit. With
        ``branch``, the commit moves the branch ref instead of the
        table head — the staging half of write-audit-publish.

        With the ``write.bloom.column`` table property set, one extra
        Spark job builds a per-file Bloom filter over that column
        (table/bloom_index.py) and stores it in each manifest entry, so
        later point lookups skip files from manifest metadata alone."""
        entries = self._write_data_files(df)
        self._attach_blooms(df.sparkSession, entries)
        return self.append_entries(entries, branch=branch, extra_summary=extra_summary)

    def add_files(self, paths: list[str], link: bool = True) -> Snapshot:
        """Metadata-only import of EXISTING parquet files (Iceberg's
        ``add_files`` procedure): each file is hardlinked (or copied
        when linking fails — cross-device) under data/ and committed as
        one fast-append snapshot, with manifest stats read from the
        footer alone — O(row groups) per file, zero data rewrite. The
        migration path at 100 TB: adopting a directory of parquet into
        an engine table costs metadata, not a copy of the data.

        Validation before anything is committed:
        - every file column must exist in the current schema with a
          compatible arrow type (exact, or a native parquet upcast:
          narrower int -> long/int, float -> double, any timestamp
          unit); table columns absent from a file must be nullable
          (they read as NULL, or their initial default when one is
          declared);
        - on a partitioned table each file must lie provably inside
          ONE partition bucket (transform of footer min == max for
          monotonic transforms; single-valued column for hash
          buckets) — otherwise partition-aligned operations
          (delete_where, bucket pruning) would be wrong about it."""
        import pyarrow.parquet as _pq

        md = self.metadata
        schema = self.schema()
        by_name = {f.name: f for f in schema.fields}
        defaults = _defaults_of(schema)
        t = self.transform
        spec_id = self.current_spec_id(md)
        staged: list[tuple[str, dict]] = []  # (src, entry-sans-path)
        for src in paths:
            fsch = _pq.read_schema(src)
            for name in fsch.names:
                f = by_name.get(name)
                if f is None:
                    raise ValueError(
                        f"{src}: column {name!r} not in table schema"
                    )
                if not _arrow_import_compatible(fsch.field(name).type, f.dataType):
                    raise ValueError(
                        f"{src}: column {name!r} is {fsch.field(name).type}, "
                        f"incompatible with table type {f.dataType.simpleString()}"
                    )
            for f in schema.fields:
                if f.name not in fsch.names and not f.nullable and f.name not in defaults:
                    raise ValueError(
                        f"{src}: required column {f.name!r} missing"
                    )
            st = file_stats(src)
            partition = None
            if t is not None:
                # composite specs derive one bucket PER FIELD from the
                # same footer stats — the file must lie in exactly one
                # bucket on EVERY field
                fields = (
                    t.fields if isinstance(t, CompositeTransform) else (t,)
                )
                vals = []
                for ft in fields:
                    cst = st["columns"].get(ft.source_column)
                    if not cst or cst.get("min") is None or cst.get("nulls", 0) > 0:
                        raise ValueError(
                            f"{src}: cannot derive a partition value — no "
                            f"usable footer stats on {ft.source_column!r}"
                        )
                    try:
                        lo, hi = ft.apply_py(cst["min"]), ft.apply_py(cst["max"])
                    except (TypeError, ValueError) as exc:
                        raise ValueError(
                            f"{src}: partition source stats not transformable: {exc}"
                        ) from exc
                    ok = (
                        lo == hi
                        if getattr(ft, "monotonic", False)
                        else cst["min"] == cst["max"]
                    )
                    if not ok:
                        raise ValueError(
                            f"{src}: file spans partition buckets {lo}..{hi} "
                            f"on {ft.source_column!r} — import requires one "
                            "bucket per file (rewrite instead)"
                        )
                    vals.append(lo)
                partition = (
                    tuple(vals)
                    if isinstance(t, CompositeTransform)
                    else vals[0]
                )
            staged.append(
                (
                    src,
                    {
                        "rows": st["rows"],
                        "bytes": st["bytes"],
                        **_stamp_partition(partition),
                        "columns": st["columns"],
                        **({"spec_id": spec_id} if spec_id else {}),
                    },
                )
            )
        batch = uuid.uuid4().hex
        out_dir = os.path.join(self.root, "data", f"imp-{batch}")
        os.makedirs(out_dir, exist_ok=True)
        entries = []
        for i, (src, entry) in enumerate(staged):
            dst = os.path.join(out_dir, f"{i:05d}-{os.path.basename(src)}")
            if link:
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copy2(src, dst)  # cross-device: copy
            else:
                shutil.copy2(src, dst)
            entries.append({"path": os.path.relpath(dst, self.root), **entry})
        # driver-only by design (no SparkSession in the signature):
        # with write.bloom.column set the imported files simply carry
        # no bloom — absent blooms never mis-prune, and a later
        # rewrite attaches them
        return self.append_entries(
            entries, extra_summary={"added-files-import": len(entries)}
        )

    def _attach_blooms(self, spark: SparkSession, entries: list[dict]) -> None:
        """Attach per-file Bloom filters to freshly written entries when
        the ``write.bloom.column`` property is set. Called by EVERY
        path that creates data files (append, compaction, z-order
        rewrite) — a rewrite that dropped the blooms would silently
        regress point-lookup pruning on the rewritten files."""
        props = self.metadata.properties
        bloom_col = props.get("write.bloom.column")
        token_col = props.get("write.token.bloom.column")
        parquet = [e for e in entries if not e["path"].endswith(".avro")]
        if not parquet or not (bloom_col or token_col):
            return
        if bloom_col:
            from .bloom_index import build_file_blooms

            file_rows = {
                os.path.join(self.root, e["path"]): e["rows"] for e in parquet
            }
            blooms = build_file_blooms(spark, file_rows, bloom_col)
            for e in parquet:
                e["bloom"] = blooms[os.path.join(self.root, e["path"])]
        if token_col:
            from .bloom_index import build_file_token_blooms

            tblooms = build_file_token_blooms(
                spark,
                [os.path.join(self.root, e["path"]) for e in parquet],
                token_col,
            )
            for e in parquet:
                tb = tblooms.get(os.path.join(self.root, e["path"]))
                if tb is not None:
                    e["token_bloom"] = tb

    def append_entries(
        self,
        entries: list[dict],
        branch: str | None = None,
        extra_summary: dict | None = None,
        dedupe_paths: bool = False,
    ) -> Snapshot | None:
        """Fast-append pre-written files (the bookkeeper path, R12):
        one new manifest, no rewrite of existing ones; optimistic-retry
        commit. Opportunistic manifest merge past the property
        threshold.

        ``extra_summary`` keys land in the snapshot summary of the SAME
        commit — callers that need commit-atomic markers (the streaming
        sink's batch id) must use this instead of a second metadata
        edit, which would leave a crash window between data commit and
        marker.

        ``dedupe_paths=True`` drops entries whose path is already
        referenced by the parent snapshot — the bookkeeper's crash
        idempotence: replaying a batch whose commit was durable but
        whose moniker deletion crashed re-appends nothing. Returns
        None when every entry was a duplicate (no commit made)."""

        def make(current, parent, seq, write_manifest):
            use = entries
            if dedupe_paths and parent is not None:
                existing = {
                    e["path"]
                    for m in parent.manifests
                    for e in fmt.read_manifest(self.root, m)
                }
                use = [e for e in entries if e["path"] not in existing]
                if not use:
                    return None
            # written per attempt: under dedupe the entry list depends
            # on the freshly-read parent, so each retry gets a manifest
            # matching what it actually commits. Entries are stamped
            # with this commit's sequence number (MOR delete
            # applicability — see Snapshot.sequence).
            # row lineage (Iceberg v3): this commit claims the id range
            # [next_row_id, next_row_id + added rows); each entry's
            # first_row_id makes _row_id = first_row_id + row position
            # table-unique and stable. Entries REUSED by cherry-pick
            # get fresh ids here — they are new rows of the target
            # lineage. Rewrite paths carry ids differently (physical
            # __row_id column); this is the ASSIGNMENT point.
            rid = current.next_row_id
            stamped = []
            for e in use:
                stamped.append({**e, "seq": seq, "first_row_id": rid})
                rid += int(e["rows"])
            manifest_rel = write_manifest(stamped)
            manifests = (list(parent.manifests) if parent else []) + [manifest_rel]
            merge_min = int(
                current.properties.get("commit.manifest.min-count-to-merge", "8")
            )
            if len(manifests) > merge_min:
                # Merge into partition-range SHARDS, not one blob: each
                # merged manifest holds <= max-entries, sorted by
                # partition, so (a) no manifest grows unboundedly at
                # scale and (b) partition-pruned planning can skip
                # whole manifest shards by their key range.
                max_entries = int(
                    current.properties.get("commit.manifest.max-entries", "5000")
                )
                merged: list[dict] = []
                for m in manifests:
                    merged.extend(fmt.read_manifest(self.root, m))
                merged.sort(key=lambda e: (e.get("partition") is None, e.get("partition"), e["path"]))
                manifests = [
                    write_manifest(merged[i : i + max_entries])
                    for i in range(0, len(merged), max_entries)
                ]
            summary = {
                "added-files": len(stamped),
                "added-rows": sum(e["rows"] for e in stamped),
                # the exact manifest this commit added: added_files()
                # reads it directly (no parent diff, survives parent
                # expiry), and expire_snapshots treats it as live
                # while this snapshot is retained
                "added-manifest": manifest_rel,
                **(extra_summary or {}),
            }
            deletes = list(parent.delete_manifests) if parent else []
            return manifests, deletes, summary, {"next_row_id": rid}

        retries = int(self.metadata.properties.get("commit.retry.num-retries", "1000"))
        return self._commit_snapshot(
            "append", make, _ANY_PARENT, branch=branch, max_retries=retries
        )

    def _commit_snapshot(
        self,
        operation: str,
        make,
        expected_parent=_SOME_PARENT,
        branch: str | None = None,
        max_retries: int = 1000,
    ) -> Snapshot | None:
        """The one commit that adds a snapshot. Every attempt, rebased
        on freshly-read metadata:

        - unlinks the manifests the previous, LOST attempt wrote
          through ``write_manifest`` — nothing references them, so
          contention must not accumulate orphans (clean() is the
          backstop);
        - resolves the parent (``branch``'s head, else the table head)
          and refuses (returns None) unless it matches
          ``expected_parent``: by default a parent must exist;
          ``_ANY_PARENT`` also commits on an empty table; a snapshot id
          (or None for the empty table) demands exactly that head,
          because the caller planned its rewrite against it;
        - stamps ``seq = parent.sequence + 1`` (0 + 1 with no parent),
          the sequence every entry this commit adds must carry;
        - calls ``make(current, parent, seq, write_manifest)``, which
          returns ``(manifests, delete_manifests, summary)`` plus an
          optional dict of extra metadata fields, or None to abort;
        - builds the snapshot and moves the table head to it, or with
          ``branch`` only that branch's ref.

        Returns the committed snapshot, or None when refused/aborted."""
        written: list[str] = []
        result: list[Snapshot] = []

        def write_manifest(entries: list[dict]) -> str:
            rel = fmt.write_manifest(self.root, entries)
            written.append(rel)
            return rel

        def build(current: TableMetadata) -> TableMetadata | None:
            for rel in written:
                try:
                    os.remove(os.path.join(self.root, rel))
                except OSError:
                    pass
            written.clear()
            result.clear()
            if branch is None:
                parent = current.current_snapshot()
            else:
                ref = current.refs.get(branch)
                if ref is None:
                    raise KeyError(f"unknown branch {branch!r}")
                if ref["type"] != "branch":
                    raise ValueError(f"ref {branch!r} is a tag, not a branch")
                parent = next(
                    s for s in current.snapshots if s.snapshot_id == ref["snapshot_id"]
                )
            parent_id = parent.snapshot_id if parent else None
            if expected_parent is _SOME_PARENT:
                if parent is None:
                    return None
            elif expected_parent is not _ANY_PARENT and parent_id != expected_parent:
                return None
            seq = (parent.sequence if parent else 0) + 1
            made = make(current, parent, seq, write_manifest)
            if made is None:
                return None
            manifests, delete_manifests, summary, *extra = made
            snap = Snapshot(
                snapshot_id=fmt.new_snapshot_id(),
                parent_id=parent_id,
                timestamp_ms=fmt.now_ms(),
                schema_id=current.current_schema_id,
                operation=operation,
                manifests=manifests,
                sequence=seq,
                delete_manifests=delete_manifests,
                summary=summary,
            )
            result.append(snap)
            if branch is None:
                head, refs = snap.snapshot_id, current.refs
            else:
                # advance ONLY the branch's head pointer: created_ms /
                # max_ref_age_ms ride along — a staged write must not
                # reset the branch's age clock; the table head is unmoved
                head = current.current_snapshot_id
                refs = {
                    **current.refs,
                    branch: {**current.refs[branch], "snapshot_id": snap.snapshot_id},
                }
            return replace(
                current,
                version=current.version + 1,
                snapshots=current.snapshots + [snap],
                current_snapshot_id=head,
                refs=refs,
                **(extra[0] if extra else {}),
            )

        fmt.commit(self.root, build, max_retries)
        return result[0] if result else None

    def rollback_to(self, snapshot_id: int) -> None:
        """Metadata-only restore: move the table head back to an
        existing snapshot (Iceberg's rollback). Nothing is rewritten
        and nothing is deleted — the rolled-past snapshots stay in the
        log (still time-travelable, still GC roots) until snapshot
        expiry reaps them, so a rollback is instantly reversible by
        rolling 'back' to the newer snapshot id."""

        def build(current: TableMetadata) -> TableMetadata:
            if not any(s.snapshot_id == snapshot_id for s in current.snapshots):
                raise KeyError(f"unknown snapshot {snapshot_id}")
            if current.current_snapshot_id == snapshot_id:
                raise ValueError("already at the requested snapshot")
            return replace(
                current,
                version=current.version + 1,
                current_snapshot_id=snapshot_id,
            )

        fmt.commit(self.root, build)

    # ---------- refs: branches / tags / write-audit-publish ----------

    def _set_ref(
        self,
        name: str,
        ref_type: str,
        snapshot_id: int | None,
        max_ref_age_ms: int | None = None,
    ) -> None:
        def build(current: TableMetadata) -> TableMetadata:
            sid = snapshot_id if snapshot_id is not None else current.current_snapshot_id
            if sid is None:
                raise ValueError("cannot create a ref on an empty table")
            if not any(s.snapshot_id == sid for s in current.snapshots):
                raise KeyError(f"unknown snapshot {sid}")
            if name in current.refs:
                raise ValueError(f"ref {name!r} already exists")
            ref = {
                "snapshot_id": sid,
                "type": ref_type,
                "created_ms": fmt.now_ms(),
            }
            if max_ref_age_ms is not None:
                ref["max_ref_age_ms"] = int(max_ref_age_ms)
            return replace(
                current,
                version=current.version + 1,
                refs={**current.refs, name: ref},
            )

        fmt.commit(self.root, build)

    def create_branch(
        self,
        name: str,
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
    ) -> None:
        """Branch = movable named ref. Staged writes (append(df,
        branch=...)) advance it without touching the table head —
        readers of the table never see unaudited data. GC roots: a
        branch pins its snapshot against expiry — UNTIL its retention
        lapses (round 14): ``max_ref_age_ms`` (or the table default
        ``history.expire.max-ref-age-ms``) lets expire_snapshots drop
        a forgotten staging branch so it stops pinning history
        forever (Iceberg's per-ref max-ref-age-ms, the Reaper's
        spirit — Reaper.java:17-27 — extended to refs)."""
        self._set_ref(name, "branch", snapshot_id, max_ref_age_ms)

    def create_tag(
        self,
        name: str,
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
    ) -> None:
        """Tag = immutable named pin (e.g. 'the snapshot this model was
        trained on'). scan(ref=name) reproduces it as long as the tag
        lives; the table-default ref age does NOT apply to tags unless
        ``history.expire.ref-age-applies-to-tags`` is 'true' — only an
        EXPLICIT per-tag ``max_ref_age_ms`` ages one out."""
        self._set_ref(name, "tag", snapshot_id, max_ref_age_ms)

    def drop_ref(self, name: str) -> None:
        def build(current: TableMetadata) -> TableMetadata:
            if name not in current.refs:
                raise KeyError(f"no such ref {name!r}")
            refs = {k: v for k, v in current.refs.items() if k != name}
            return replace(current, version=current.version + 1, refs=refs)

        fmt.commit(self.root, build)

    def publish_branch(self, name: str) -> None:
        """The publish half of write-audit-publish: fast-forward the
        table head to the audited branch head. Refuses a non-fast-
        forward publish (head moved off the branch lineage) — that
        needs an explicit merge/rebase decision, not a silent clobber."""

        def build(current: TableMetadata) -> TableMetadata:
            ref = current.refs.get(name)
            if ref is None or ref["type"] != "branch":
                raise KeyError(f"no such branch {name!r}")
            target = ref["snapshot_id"]
            by_id = {s.snapshot_id: s for s in current.snapshots}
            node = by_id.get(target)
            ancestors = set()
            while node is not None:
                ancestors.add(node.snapshot_id)
                node = by_id.get(node.parent_id)
            if (
                current.current_snapshot_id is not None
                and current.current_snapshot_id not in ancestors
            ):
                raise fmt.CommitConflict(
                    f"branch {name!r} does not descend from the current head"
                )
            return replace(
                current,
                version=current.version + 1,
                current_snapshot_id=target,
            )

        fmt.commit(self.root, build)


    def cherry_pick(self, snapshot_id: int) -> Snapshot | None:
        """Apply ONE snapshot's changes onto the current head as a new
        commit (Iceberg cherrypickSnapshot — the WAP primitive when
        main has moved and a fast-forward publish is impossible).

        Only 'append' snapshots are pickable: an append is purely
        additive, so replaying its entries onto any head is
        conflict-free by construction — the data files already exist
        and are reused by reference (zero copy), and append_entries
        restamps their sequence number to the NEW commit, so later
        equality deletes order correctly against the picked rows.
        Delete/overwrite/replace snapshots are refused: their effect
        depends on the table state they were committed against
        (sequence-ordered MOR masks, replaced file sets), and
        replaying that against a different head silently corrupts —
        Iceberg draws the same line.

        Picking a snapshot whose files the head ALREADY references
        (e.g. its branch was published meanwhile) is a no-op returning
        None rather than a double-append."""
        snap = self.snapshot_by_id(snapshot_id)
        if snap.operation != "append":
            raise ValueError(
                f"cherry-pick supports append snapshots only; "
                f"{snapshot_id} is {snap.operation!r}"
            )
        entries = self.added_files(snap)
        return self.append_entries(
            entries,
            dedupe_paths=True,
            extra_summary={"source-snapshot-id": str(snapshot_id)},
        )

    def delete_where(self, column: str, op: str, value: int) -> Snapshot | None:
        """Metadata-only delete: drop whole data files whose partition
        bucket fully satisfies ``column <op> value``.

        v1 contract (exactly the reference's retention path,
        FileBasedBookkeeper.java:182-192): the column must be the
        partition source, op must be '<', and value must be aligned to
        the partition width — the predicate then matches whole
        partitions and no data is rewritten. Anything else raises.

        Under partition evolution the cutoff must satisfy the contract
        for EVERY spec in the log that partitions on ``column`` (each
        file drops under the width it was written with); specs that
        partition on a different column (or not at all) make the
        whole-file guarantee impossible and raise."""
        def _retention_field(tr):
            """(field transform, field index) of ``tr``'s field on
            ``column`` — index None for a single-field spec, (None,
            None) when the spec doesn't partition on the column.
            Composite specs align retention on WHICHEVER field covers
            the cutoff column; the other fields only subdivide files
            further, so whole-file droppability is unaffected."""
            if isinstance(tr, CompositeTransform):
                i, ft = tr.field_for(column)
                return ft, i
            if tr is not None and tr.source_column == column:
                return tr, None
            return None, None

        md = self.metadata  # one load: spec and spec log from one version
        t = transform_from_json(md.partition_spec)
        if _retention_field(t)[0] is None:
            raise ValueError(
                f"metadata-only delete requires a partition field on the "
                f"cutoff column, got {column!r} (spec: "
                f"{t.to_json() if t else None})"
            )
        if op != "<":
            raise ValueError("v1 supports only '<' retention deletes")
        specs = self._spec_map(md)
        for sid, tr in specs.items():
            ft, _ = _retention_field(tr)
            if ft is None:
                raise ValueError(
                    f"metadata-only delete requires every partition spec to "
                    f"partition on {column!r}; spec {sid} is "
                    f"{tr.to_json() if tr else None}"
                )
            if ft.bucket_range(0) is None:
                raise ValueError(
                    f"metadata-only retention delete needs a range-aligned "
                    f"transform (truncate/identity); spec {sid} "
                    f"({ft.to_json()['transform']}) carries no value-domain "
                    f"range — use delete_rows / delete_where_mor"
                )
            if value % ft.width != 0:
                raise ValueError(
                    f"cutoff {value} not aligned to partition width {ft.width} "
                    f"of spec {sid}; align with truncate() first (the "
                    f"bookkeeper floors its cutoff)"
                )

        def make(current, parent, seq, write_manifest):
            kept_manifests: list[str] = []
            dropped = 0
            dropped_rows = 0
            for m in parent.manifests:
                entries = fmt.read_manifest(self.root, m)

                def _keeps(e: dict) -> bool:
                    ft, idx = _retention_field(self._entry_transform(e, specs))
                    if idx is None:
                        pv = e.get("partition")
                    else:
                        pf = e.get("partition_fields")
                        pv = pf[idx] if pf and idx < len(pf) else None
                    return pv is None or not (
                        ft.bucket_range(pv)[1] <= value
                    )

                kept = [e for e in entries if _keeps(e)]
                if len(kept) == len(entries):
                    kept_manifests.append(m)  # untouched manifest reused as-is
                else:
                    dropped += len(entries) - len(kept)
                    dropped_rows += sum(e["rows"] for e in entries) - sum(
                        e["rows"] for e in kept
                    )
                    if kept:
                        kept_manifests.append(write_manifest(kept))
            if dropped == 0:
                return None
            summary = {"deleted-files": dropped, "deleted-rows": dropped_rows}
            return kept_manifests, list(parent.delete_manifests), summary

        return self._commit_snapshot("delete", make)

    _OPS = {
        "<": "__lt__", "<=": "__le__", ">": "__gt__", ">=": "__ge__",
        "=": "__eq__", "==": "__eq__",
    }

    def _leaf_predicate(self, leaf) -> "F.Column":
        col, op, val = leaf
        if op == "in":
            return F.col(col).isin(list(val))
        if op == "like_prefix":
            # the prefix is a LITERAL (the router validated the LIKE
            # pattern), so startswith is exact — no wildcard escaping
            return F.col(col).startswith(val)
        return getattr(F.col(col), self._OPS[op])(F.lit(val))

    def _and_predicate(self, filters) -> "F.Column":
        cond = None
        for leaf in filters:
            e = self._leaf_predicate(leaf)
            cond = e if cond is None else (cond & e)
        return cond

    def _filtered(self, df: DataFrame, filters: list) -> DataFrame:
        """``df`` with ``filters`` re-applied as the residual: file
        pruning is conservative, so every surviving row is re-tested."""
        return df.filter(self._and_predicate(filters)) if filters else df

    def _dnf_predicate(self, branches) -> "F.Column":
        """OR over branches of AND over leaves — the FULL residual
        predicate; every row of every candidate file is re-tested
        against it, so union-of-branches pruning can stay coarse."""
        out = None
        for br in branches:
            cond = self._and_predicate(br)
            out = cond if out is None else (out | cond)
        return out

    def _replan(self, op: str, attempt, operation: str = "overwrite"):
        """The one DML re-plan loop (delete_rows, update_where, upsert,
        merge_into, rewrite_deletes, overwrite_entries). Each attempt
        resolves ``(md, snap, schema)`` with ONE read_state() and calls
        ``attempt(md, snap, schema)``, which plans, validates and writes
        against exactly that state and returns ``(result, make,
        written)``: ``make`` is the _commit_snapshot builder (None for a
        no-op — ``result`` is returned as is) and ``written`` the
        entries of the files the attempt wrote.

        The commit demands the planned head (None: the table must still
        be empty), because the rewrite was computed against it. A
        refused commit means the plan is stale: nothing references the
        attempt's files, so their batch directories are removed before
        the op re-plans on fresh state (Iceberg's snapshot producer
        cleans a failed attempt the same way). Three losses raise."""
        for _ in range(3):
            md, snap, schema = self.read_state()
            result, make, written = attempt(md, snap, schema)
            if make is None:
                return result
            expected = snap.snapshot_id if snap is not None else None
            if self._commit_snapshot(operation, make, expected) is not None:
                return result
            for e in written:
                if e.get("path"):  # inline deletion vectors wrote nothing
                    batch = os.path.join(*os.path.normpath(e["path"]).split(os.sep)[:2])
                    shutil.rmtree(os.path.join(self.root, batch), ignore_errors=True)
        raise fmt.CommitConflict(f"{op} lost the commit race 3 times")

    @staticmethod
    def _overwrite_make(
        carried: list[dict],
        rewritten: list[dict],
        summary: dict,
        drop_deletes: bool = False,
    ):
        """_commit_snapshot builder of an 'overwrite' snapshot.
        ``carried`` entries keep their original sequence stamp (absent
        = pre-MOR = 0); ``rewritten`` (freshly written files) get this
        commit's sequence. Pending MOR delete manifests are carried —
        they still apply to the files carried by reference — unless
        ``drop_deletes`` (static overwrite, or the rewrite_deletes
        materialization, which rewrote every file a delete could
        touch)."""

        def make(current, parent, seq, write_manifest):
            stamped = list(carried) + [{**e, "seq": seq} for e in rewritten]
            deletes = (
                [] if drop_deletes or parent is None
                else list(parent.delete_manifests)
            )
            return [write_manifest(stamped)], deletes, summary

        return make

    @staticmethod
    def _row_delta_make(
        del_entry: dict | None, data_entries: list[dict], summary: dict
    ):
        """_commit_snapshot builder of a 'merge' snapshot adding an
        equality-delete entry AND new data files with the SAME sequence
        number: the delete masks only rows in files at seq < N, so the
        replacement rows it travels with are never masked — the
        row-delta commit shape MERGE needs (Iceberg RowDelta)."""

        def make(current, parent, seq, write_manifest):
            manifests = list(parent.manifests) if parent else []
            delete_manifests = list(parent.delete_manifests) if parent else []
            if data_entries:
                manifests.append(
                    write_manifest([{**e, "seq": seq} for e in data_entries])
                )
            if del_entry is not None:
                delete_manifests.append(write_manifest([{**del_entry, "seq": seq}]))
            return manifests, delete_manifests, summary

        return make

    def _dnf_candidates(
        self, spark: SparkSession, snap: Snapshot | None, branches
    ) -> tuple[list[dict], list[dict]]:
        """``(cands, keep)`` of a copy-on-write rewrite of ``snap``: a
        file is a candidate iff ANY OR-branch's conjunction admits it —
        the union of the scan planner's per-branch admissible sets, so
        past DIST_PLAN_MIN_MANIFEST_BYTES each branch runs as a
        distributed manifest scan and a selective rewrite over millions
        of entries never evaluates pruning predicates in a Python loop.
        Candidates are re-filtered row-wise with the FULL residual
        predicate; everything else is carried by reference."""
        if snap is None:
            return [], []
        paths: set = set()
        for br in branches:
            paths.update(e["path"] for e in self._plan_state(spark, br, snap))
        entries = self.files_of(snap)
        return (
            [e for e in entries if e["path"] in paths],
            [e for e in entries if e["path"] not in paths],
        )

    def delete_rows(
        self, spark: SparkSession, filters
    ) -> dict[str, int]:
        """Copy-on-write row-level delete (Iceberg overwrite semantics;
        the generalization of delete_where beyond partition-aligned
        predicates). ``filters`` is an AND-conjunction of (col, op,
        literal) triples, or a :class:`DnfFilter` for general
        OR-of-conjunction trees (IN lists and prefix LIKE included).

        Scale design: file stats prune the rewrite set BEFORE any data
        IO (_dnf_candidates), so a selective OR never rewrites the
        whole table. Rows where the predicate is NULL are KEPT (SQL
        DELETE semantics). One atomic 'overwrite' snapshot; on a
        concurrent commit the rewrite re-plans against the new state
        (_replan)."""
        branches = _dnf_branches(filters)
        if not any(branches):
            raise ValueError("delete_rows requires at least one predicate")

        def attempt(md, snap, schema):
            cands, keep = self._dnf_candidates(spark, snap, branches)
            if not cands:
                return {"rewritten_files": 0, "deleted_rows": 0}, None, []
            match = F.coalesce(self._dnf_predicate(branches), F.lit(False))
            # ONE job rewrites every candidate file: survivors are
            # re-clustered by partition bucket and written via
            # partitionBy — a delete touching 200 buckets runs one
            # Spark job, not 200 driver-serialized ones
            survivors = self._read_with_deletes(spark, cands, snap, schema).filter(~match)
            new_entries = self._write_data_files(
                survivors, prefix="rw", n_tasks=max(1, len(cands) // 4)
            )
            result = {
                "rewritten_files": len(cands),
                "deleted_rows": sum(e["rows"] for e in cands)
                - sum(e["rows"] for e in new_entries),
            }
            return result, self._overwrite_make(keep, new_entries, _dashed(result)), new_entries

        return self._replan("delete_rows", attempt)

    def update_where(
        self,
        spark: SparkSession,
        filters,
        set_exprs: dict[str, object],
    ) -> dict[str, int]:
        """SQL ``UPDATE … SET … WHERE`` with copy-on-write (Iceberg
        overwrite semantics) — the remaining DML verb next to
        delete_rows / merge_into / INSERT OVERWRITE. ``set_exprs``
        maps column -> SQL expression string (or Column) evaluated
        against the current row; results cast to the column's declared
        type (SQL UPDATE semantics). Rows where the predicate is NULL
        are NOT updated.

        Scale design is delete_rows': file stats prune the rewrite set
        before any data IO, every candidate file rewrites in ONE Spark
        job clustered by partition bucket (updating the partition
        source re-buckets rows automatically — the write path derives
        buckets from row content), untouched files are carried by
        reference, one atomic 'overwrite' snapshot with optimistic
        re-plan on conflict. ``filters`` takes the same shapes as
        ``delete_rows`` (conjunction, or DnfFilter for OR trees)."""
        branches = _dnf_branches(filters)
        if not any(branches):
            raise ValueError("update_where requires at least one predicate")

        def attempt(md, snap, schema):
            by_name = {f.name: f for f in schema.fields}
            for c in set_exprs:
                if c not in by_name:
                    raise ValueError(f"unknown column {c!r}")
            cands, keep = self._dnf_candidates(spark, snap, branches)
            if not cands:
                return {"rewritten_files": 0, "updated_rows": 0}, None, []
            match = F.coalesce(self._dnf_predicate(branches), F.lit(False))
            df = self._read_with_deletes(spark, cands, snap, schema)
            updated_rows = df.filter(match).count()
            # ONE select so every SET expression evaluates against the
            # OLD row (SQL UPDATE semantics) — sequential withColumn
            # would feed one assignment's result into the next
            new_vals = {
                c: (F.expr(e) if isinstance(e, str) else e).cast(
                    by_name[c].dataType
                )
                for c, e in set_exprs.items()
            }
            out = df.select(
                *[
                    F.when(match, new_vals[f.name])
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in new_vals
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            new_entries = self._write_data_files(
                out, prefix="up", n_tasks=max(1, len(cands) // 4)
            )
            result = {"rewritten_files": len(cands), "updated_rows": updated_rows}
            return result, self._overwrite_make(keep, new_entries, _dashed(result)), new_entries

        return self._replan("update_where", attempt)

    def upsert(
        self, spark: SparkSession, updates: DataFrame, key_cols: list[str]
    ) -> dict[str, int]:
        """MERGE (upsert) with copy-on-write: rows whose key appears in
        ``updates`` are replaced; new keys are inserted — one atomic
        'overwrite' snapshot.

        Scale design: the rewrite set is pruned by key-column min/max
        stats against the UPDATES' key bounds (one tiny aggregate on
        the updates side), so an upsert touching one time-bucket
        rewrites one bucket's files, not the table. The updates set is
        broadcast into a left-anti join against each rewritten file
        group — the big side (table files) never shuffles."""

        def attempt(md, snap, schema):
            entries = self.files_of(snap) if snap is not None else []
            cands = _key_bound_candidates(
                entries, _key_bounds(updates, key_cols), key_cols
            )
            cand_paths = {e["path"] for e in cands}
            keep = [e for e in entries if e["path"] not in cand_paths]
            keys = updates.select(*key_cols).dropDuplicates(key_cols)
            new_entries: list[dict] = []
            if cands:
                # ONE job rewrites every candidate file (broadcast
                # anti-join drops replaced keys; the big side never
                # shuffles except the bucket re-cluster): an upsert
                # touching 200 buckets runs one Spark job, not 200
                unreplaced = self._read_with_deletes(spark, cands, snap, schema).join(
                    F.broadcast(keys), key_cols, "left_anti"
                )
                new_entries = self._write_data_files(
                    unreplaced, prefix="mg", n_tasks=max(1, len(cands) // 4)
                )
            inserted = self._write_data_files(updates, prefix="mg")
            result = {
                "rewritten_files": len(cands),
                "replaced_rows": sum(e["rows"] for e in cands)
                - sum(e["rows"] for e in new_entries),
                "upserted_rows": sum(e["rows"] for e in inserted),
            }
            written = new_entries + inserted
            return result, self._overwrite_make(keep, written, _dashed(result)), written

        return self._replan("upsert", attempt)

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        on: list[str],
        *,
        update: dict[str, str] | str | None = "all",
        update_condition: str | None = None,
        delete_condition: str | None = None,
        insert: bool = True,
        delete_not_matched_by_source: bool = False,
        update_not_matched_by_source: dict[str, str] | None = None,
    ) -> dict[str, int]:
        """MERGE INTO (Iceberg/Delta semantics), merge-on-read flavor:

          WHEN MATCHED AND <delete_condition> THEN DELETE
          WHEN MATCHED [AND <update_condition>] THEN UPDATE SET ...
          WHEN NOT MATCHED THEN INSERT *            (``insert=True``)
          WHEN NOT MATCHED BY SOURCE THEN DELETE
              (``delete_not_matched_by_source=True`` — full-sync: target
              rows whose keys are absent from the source are deleted via
              the same equality-delete entry, no data rewrite. This
              clause inherently reads the WHOLE target's keys — the one
              MERGE clause whose cost is O(target), exactly as in
              Delta/SQL:2023 — so at 100 TB reserve it for true
              mirror-sync jobs.)
          WHEN NOT MATCHED BY SOURCE THEN UPDATE SET ...
              (``update_not_matched_by_source={col: expr}`` — the
              flag-stale-rows sync, SQL:2023's last MERGE clause:
              target rows whose keys are ABSENT from the source update
              with expressions over ``t.*`` alone (there is no source
              row to reference). Same MOR shape as matched updates —
              absent rows mask via the eq-delete entry and their
              updated versions travel as new files — and the same
              O(target) inherent cost as BY SOURCE DELETE, plus
              O(absent rows) written: reserve for true sync jobs.
              Mutually exclusive with the DELETE form — both act on
              the same absent-key set.)

        Clause order is DELETE before UPDATE (first match wins, Delta's
        contract). ``update='all'`` replaces the whole row with the
        source row; a dict maps target columns to SQL expressions over
        ``t.*`` (target) and ``s.*`` (source), e.g.
        ``{"qty": "t.qty + s.qty"}``. Conditions are SQL over the same
        aliases.

        Cost is O(changes), not O(table): matched rows come from
        key-bound-pruned candidate files only; the change lands as ONE
        atomic snapshot carrying an equality-delete entry (seq N —
        masks the superseded row versions in files at seq < N) plus
        the replacement/insert data files (stamped seq N, so the
        delete they travel with can never mask them). No existing data
        file is rewritten — at 100 TB a merge touching 0.1%% of keys
        writes 0.1%% of the data and zero rewrites, where
        copy-on-write ``upsert`` rewrites every candidate file."""
        if (
            update is None
            and delete_condition is None
            and not insert
            and not delete_not_matched_by_source
            and not update_not_matched_by_source
        ):
            raise ValueError("merge_into with no clauses would do nothing")
        if delete_not_matched_by_source and update_not_matched_by_source:
            raise ValueError(
                "BY SOURCE DELETE and BY SOURCE UPDATE both act on the "
                "same absent-key set; use one"
            )

        def attempt(md, snap, schema):
            cols = [f.name for f in schema.fields]
            missing = [c for c in on if c not in cols]
            if missing:
                raise ValueError(f"merge keys not in table schema: {missing}")
            if update_not_matched_by_source:
                bad = [c for c in update_not_matched_by_source if c not in cols]
                if bad:
                    raise ValueError(
                        f"BY SOURCE UPDATE targets not in schema: {bad}"
                    )
                keyed = [c for c in update_not_matched_by_source if c in on]
                if keyed:
                    raise ValueError(
                        f"BY SOURCE UPDATE must not assign merge keys {keyed} "
                        "(the masking eq-delete is keyed on the OLD value)"
                    )
            # a merge key carrying an initial default cannot be supported:
            # matching sees the FILLED value but the equality delete masks
            # only PHYSICAL values, so the superseded pre-add row (physical
            # NULL) would survive next to its replacement
            defaulted = [c for c in on if c in _defaults_of(schema)]
            if defaulted:
                raise ValueError(
                    f"merge keys {defaulted} carry an initial default; merge on "
                    "columns without one (or rewrite the table first)"
                )
            if (
                update is not None
                or delete_condition is not None
                or delete_not_matched_by_source
                or update_not_matched_by_source
            ):
                # Delta/Iceberg MERGE contract: multiple source rows
                # matching one target row is an error, not a silent
                # row multiplication (each duplicate would append its own
                # replacement while the single eq-delete key masks only
                # the one superseded version). BY SOURCE full-sync merges
                # get the same refusal even though their anti-join
                # distinct() would mask it: a mirror source is by contract
                # one authoritative row per key, so duplicates mean the
                # caller's extract is broken and silent dup-inserts would
                # corrupt the mirror. The ONE exempt shape is insert-only
                # MERGE (update=None, no delete clauses): unmatched
                # duplicate source rows each insert, matching Delta, which
                # only enforces cardinality on rows that MATCH a target.
                dup = (
                    source.groupBy(*on)
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
                if dup:
                    raise ValueError(
                        "merge source has multiple rows per key; aggregate it "
                        "to one row per key first (MERGE matched-clause "
                        "cardinality violation)"
                    )
            entries = self.files_of(snap) if snap is not None else []
            cands = _key_bound_candidates(entries, _key_bounds(source, on), on)
            src = source.alias("s")

            def aligned(df: DataFrame) -> DataFrame:
                return df.select(
                    [F.col(c).cast(schema[c].dataType).alias(c) for c in cols]
                )

            def target(es: list[dict]) -> DataFrame:
                return self._read_with_deletes(spark, es, snap, schema)

            matched = None
            if cands:
                # explicit t./s. join condition (not USING) so clause
                # expressions can reference both sides of the key
                tgt = target(cands).alias("t")
                cond = None
                for c in on:
                    eq = F.col(f"t.{c}") == F.col(f"s.{c}")
                    cond = eq if cond is None else (cond & eq)
                matched = tgt.join(F.broadcast(src), cond, "inner")
            deletes = updates = None
            del_cond = F.expr(delete_condition) if delete_condition else F.lit(False)
            if matched is not None:
                if delete_condition:
                    deletes = matched.filter(del_cond)
                if update is not None:
                    # NULL-valued delete conditions fall through to the
                    # UPDATE clause (first-match-wins over three-valued
                    # logic: ~NULL is NULL and would drop the row from
                    # BOTH clauses, leaving a stale target row)
                    upd = matched.filter(~F.coalesce(del_cond, F.lit(False)))
                    if update_condition:
                        upd = upd.filter(F.expr(update_condition))
                    if update == "all":
                        updates = aligned(
                            upd.select([F.col(f"s.{c}").alias(c) for c in cols])
                        )
                    else:
                        bad = [c for c in update if c not in cols]
                        if bad:
                            raise ValueError(f"update targets not in schema: {bad}")
                        updates = aligned(
                            upd.select(
                                [
                                    F.expr(update[c]).alias(c)
                                    if c in update
                                    else F.col(f"t.{c}").alias(c)
                                    for c in cols
                                ]
                            )
                        )
            changed_keys = None
            nmbs_updates = None
            n_deleted = n_updated = n_src_deleted = n_src_updated = 0
            if delete_not_matched_by_source and entries:
                # full-sync clause: every live target key absent from
                # the source masks via the same eq-delete entry (no
                # replacement rows travel with these keys)
                drop_keys = (
                    target(entries)
                    .select(*on)
                    .join(src.select(*on).distinct(), on, "left_anti")
                )
                n_src_deleted = drop_keys.count()
                if n_src_deleted:
                    changed_keys = drop_keys
            if update_not_matched_by_source and entries:
                # flag-stale-rows clause (round 14): absent-key target
                # ROWS update with expressions over t.* alone — masked
                # by the eq-delete on their (unchanged) keys, updated
                # versions travel as new files in the same row delta
                absent = (
                    target(entries)
                    .alias("t")
                    .join(
                        F.broadcast(src.select(*on).distinct()),
                        on,
                        "left_anti",
                    )
                    .persist()
                )
                try:
                    n_src_updated = absent.count()
                    if n_src_updated:
                        nmbs_updates = aligned(
                            absent.select(
                                [
                                    F.expr(
                                        update_not_matched_by_source[c]
                                    ).alias(c)
                                    if c in update_not_matched_by_source
                                    else F.col(f"t.{c}").alias(c)
                                    for c in cols
                                ]
                            )
                        ).localCheckpoint(eager=True)
                        upd_keys = absent.select(*on)
                        changed_keys = (
                            upd_keys
                            if changed_keys is None
                            else changed_keys.unionByName(upd_keys)
                        )
                        changed_keys = changed_keys.localCheckpoint(
                            eager=True
                        )
                finally:
                    absent.unpersist()
            for piece, counter in ((deletes, "del"), (updates, "upd")):
                if piece is None:
                    continue
                # superseded row versions are keyed by the TARGET row's
                # key (== source key under the equi-join)
                pk = (
                    piece.select([F.col(f"t.{c}").alias(c) for c in on])
                    if counter == "del"
                    else piece.select(*on)
                )
                n = pk.count()
                if counter == "del":
                    n_deleted = n
                else:
                    n_updated = n
                changed_keys = (
                    pk if changed_keys is None else changed_keys.unionByName(pk)
                )
            inserts = None
            n_inserted = 0
            if insert:
                inserts = src
                if cands:
                    inserts = src.join(target(cands).select(*on), on, "left_anti")
                inserts = aligned(inserts)
                n_inserted = inserts.count()
                if n_inserted == 0:
                    inserts = None
            new_data = None
            for piece in (updates, nmbs_updates, inserts):
                if piece is None:
                    continue
                new_data = piece if new_data is None else new_data.unionByName(piece)
            del_entry, n_del_files = (
                self._build_eq_delete_entry(changed_keys, list(on), schema)
                if changed_keys is not None
                else (None, 0)
            )
            data_entries = (
                self._write_data_files(new_data, prefix="mi")
                if new_data is not None
                else []
            )
            result = {
                "updated_rows": n_updated,
                "deleted_rows": n_deleted,
                "inserted_rows": n_inserted,
                "source_deleted_rows": n_src_deleted,
                "source_updated_rows": n_src_updated,
            }
            if del_entry is None and not data_entries:
                return dict.fromkeys(result, 0), None, []
            summary = {
                "merged-update-rows": n_updated,
                "merged-delete-rows": n_deleted,
                "merged-insert-rows": n_inserted,
                "merged-source-delete-rows": n_src_deleted,
                "merged-source-update-rows": n_src_updated,
                **(
                    {"added-equality-deletes": del_entry["rows"],
                     "added-delete-files": n_del_files}
                    if del_entry is not None
                    else {}
                ),
            }
            written = data_entries + ([del_entry] if del_entry is not None else [])
            return result, self._row_delta_make(del_entry, data_entries, summary), written

        return self._replan("merge_into", attempt, "merge")

    # ---------- merge-on-read row-level deletes (Iceberg v2) ----------

    def _read_with_deletes(
        self,
        spark: SparkSession,
        entries: list[dict],
        snap: Snapshot | None,
        schema: StructType | None = None,
        keep_pos: bool = False,
    ) -> DataFrame:
        schema = schema or self.schema()
        # deletes anti-join on PHYSICAL values first (an equality
        # delete can never match a default-filled row — consistent
        # with the connector's executor-side masking), then the
        # initial-default columns fill per entry group
        return self._apply_default_groups(
            entries,
            schema,
            lambda es: self._read_with_deletes_raw(
                spark, es, snap, schema, keep_pos=keep_pos
            ),
        )

    def _read_with_deletes_raw(
        self,
        spark: SparkSession,
        entries: list[dict],
        snap: Snapshot | None,
        schema: StructType,
        keep_pos: bool = False,
    ) -> DataFrame:
        """Read planned data entries with the snapshot's MOR delete
        files applied.

        Application is pure DataFrame ops, deletes broadcast:
        - POSITION deletes: anti-join on (root-relative file path, row
          position), the (__file, __pos) keys _read_entries_raw
          attaches — no row ids stored in data. The key is the path
          under the table root (never the basename: partitioned writes
          repeat the same part-file name in every partition
          directory), so it survives table moves and clones.
        - EQUALITY deletes: anti-join on the key columns, guarded by
          ``data_seq < delete_seq`` so keys re-inserted after the
          delete survive (Iceberg sequence-number semantics).
        Delete files are queries x small (the point of MOR: deletes are
        tiny relative to data); each anti-join broadcasts them, the
        data side never shuffles."""
        del_entries = self.delete_files_of(snap)
        if not del_entries or not entries:
            return self._read_entries_raw(spark, entries, schema, keep_pos=keep_pos)
        df = self._read_entries_raw(spark, entries, schema, keep_pos=True)
        renames = _renames_of(schema)
        # per-file data sequence (entry-count-bounded, metadata-scale;
        # tables past DIST_PLAN_MIN_MANIFEST_BYTES would route this
        # through the distributed manifest scan like plan_files)
        seq_rows = [(e["path"], int(e.get("seq", 0))) for e in entries]
        seq_df = spark.createDataFrame(seq_rows, "__file string, __seq long")
        # LEFT join + per-row guard, not an inner join: if the
        # _file_key_col() extraction ever disagrees with the manifest
        # path spelling (URI escaping, separator differences), an inner
        # join would silently DROP every row of that file — wrong
        # results. The guard turns the mismatch into a loud error at
        # scan time for zero extra actions.
        df = df.join(F.broadcast(seq_df), "__file", "left").withColumn(
            "__seq",
            F.when(
                F.col("__seq").isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("MOR scan: no manifest entry matches file key "),
                        F.col("__file"),
                        F.lit(" — _file_key_col()/manifest path disagreement"),
                    )
                ),
            ).otherwise(F.col("__seq")),
        )
        pos_dels = [e for e in del_entries if e["content"] == "pos"]
        if pos_dels:
            file_backed = [e for e in pos_dels if e.get("path")]
            inline = [(f, p) for e in pos_dels if e.get("dv")
                      for f, ps in e["dv"].items() for p in ps]
            parts = []
            if file_backed:
                parts.append(
                    spark.read.schema("__file string, __pos long").parquet(
                        *[os.path.join(self.root, e["path"]) for e in file_backed]
                    )
                )
            if inline:
                # inline DVs are metadata — the anti-join input comes
                # straight from the manifest, no delete-file read
                parts.append(
                    spark.createDataFrame(inline, "__file string, __pos long")
                )
            pdf = parts[0]
            for extra in parts[1:]:
                pdf = pdf.unionByName(extra)
            # guard against pre-root-relative (basename) delete keys from
            # older delete files: they would silently stop matching and
            # resurrect deleted rows — fail loudly instead.
            pdf = pdf.withColumn(
                "__file",
                F.when(
                    ~F.col("__file").contains("/"),
                    F.raise_error(
                        F.concat(
                            F.lit("MOR position delete file carries legacy "),
                            F.lit("basename key "),
                            F.col("__file"),
                            F.lit(" — rewrite_deletes() before scanning"),
                        )
                    ),
                ).otherwise(F.col("__file")),
            )
            df = df.join(F.broadcast(pdf), ["__file", "__pos"], "left_anti")
        # Delete entries recorded before a rename carry the key columns
        # under their then-current names; translate to the schema's
        # current names so the anti-join condition binds (the delete
        # FILE also stores old names — aliased while reading it).
        reverse = {old: cur for cur, olds in renames.items() for old in olds}
        eq_by_cols: dict[tuple, list[tuple[dict, tuple]]] = {}
        for e in del_entries:
            if e["content"] == "eq":
                orig = tuple(e["cols"])
                cur = tuple(reverse.get(c, c) for c in orig)
                eq_by_cols.setdefault(cur, []).append((e, orig))
        key_schema = StructType(
            [f for f in schema.fields]
        )  # name->type lookup for inline key reconstruction
        for cols, dels in eq_by_cols.items():
            keys = None
            for e, orig in dels:
                if e.get("keys") is not None:
                    # inline-DV equality keys: typed via the TABLE
                    # schema so the anti-join condition compares
                    # like-typed columns
                    ktypes = StructType(
                        [
                            next(f for f in key_schema.fields if f.name == c)
                            for c in cols
                        ]
                    )
                    kdf = spark.createDataFrame(
                        [tuple(k) for k in e["keys"]], ktypes
                    ).select(*[F.col(c).alias(f"__k_{c}") for c in cols])
                else:
                    kdf = spark.read.parquet(
                        os.path.join(self.root, e["path"])
                    ).select(
                        *[
                            F.col(o).alias(f"__k_{c}")
                            for o, c in zip(orig, cols)
                        ]
                    )
                kdf = kdf.withColumn("__dseq", F.lit(int(e.get("seq", 0))))
                keys = kdf if keys is None else keys.unionByName(kdf)
            cond = F.col("__seq") < F.col("__dseq")
            for c in cols:
                cond = cond & (F.col(c) == F.col(f"__k_{c}"))
            df = df.join(F.broadcast(keys), cond, "left_anti")
        cols = [f.name for f in schema.fields]
        if keep_pos:
            cols += ["__file", "__pos"]
        return df.select(*cols)

    def _write_delete_file(self, df: DataFrame) -> tuple[str, int] | None:
        """Write a delete-content parquet file under data/; returns
        (rel_path, rows) or None when empty. Single file: delete
        batches are small by design (a large delete should be
        delete_rows, the copy-on-write path)."""
        batch = uuid.uuid4().hex
        out_dir = os.path.join(self.root, "data", f"del-{batch}")
        with conf_scope(df.sparkSession, _MICROS_TS):
            df.coalesce(1).write.parquet(out_dir)
        parts = glob.glob(os.path.join(out_dir, "*.parquet"))
        total = sum(file_stats(p)["rows"] for p in parts)
        if total == 0:
            shutil.rmtree(out_dir, ignore_errors=True)
            return None
        return os.path.relpath(parts[0], self.root), total

    def _commit_deletes(self, del_entry: dict, summary: dict) -> Snapshot | None:
        """Commit a 'delete' snapshot that ADDS a MOR delete file: data
        manifests unchanged, one new delete manifest appended. The
        entry's applicability sequence is stamped inside make() (it
        depends on the parent actually committed against)."""

        def make(current, parent, seq, write_manifest):
            m = write_manifest([{**del_entry, "seq": seq}])
            return list(parent.manifests), list(parent.delete_manifests) + [m], summary

        return self._commit_snapshot("delete", make)

    def delete_where_mor(
        self, spark: SparkSession, filters: Iterable[tuple[str, str, object]]
    ) -> Snapshot | None:
        """Merge-on-read row-level delete: write POSITION delete files
        for the matching rows — no data rewrite, cost proportional to
        the matches, applied at read time.

        The flip side of delete_rows (copy-on-write): MOR makes the
        delete cheap and the reads slightly heavier until
        rewrite_deletes() materializes. File stats prune which files
        are even scanned for positions, same as the CoW path."""
        filters = list(filters)
        if not filters:
            raise ValueError("delete_where_mor requires at least one predicate")
        md, snap, schema = self.read_state()
        if snap is None:
            return None
        specs = self._spec_map(md)
        entries = self.files_of(snap)
        cands = [
            e
            for e in entries
            if all(
                self._entry_may_match(e, self._entry_transform(e, specs), f)
                for f in filters
            )
        ]
        if not cands:
            return None
        match = F.coalesce(self._and_predicate(filters), F.lit(False))
        hits = (
            self._read_entries_raw(spark, cands, schema, keep_pos=True)
            .where(match)
            .select("__file", "__pos")
        )
        # Deletion-vector fast path (Iceberg v3 DV spirit): a SMALL
        # position delete is stored INLINE in the manifest entry as
        # {file_key: sorted positions} — the delete commit writes zero
        # data files and the read side builds the anti-join input from
        # metadata alone. Large deletes keep the parquet delete-file
        # form (and truly large ones belong to delete_rows, the
        # copy-on-write path).
        probe = hits.limit(DV_INLINE_MAX_POSITIONS + 1).collect()
        if len(probe) <= DV_INLINE_MAX_POSITIONS:
            if not probe:
                return None
            dv: dict[str, list[int]] = {}
            for r in probe:
                dv.setdefault(r["__file"], []).append(int(r["__pos"]))
            for k in dv:
                dv[k].sort()
            rows = len(probe)
            return self._commit_deletes(
                {
                    "path": None,
                    "content": "pos",
                    "cols": ["__file", "__pos"],
                    "rows": rows,
                    "dv": dv,
                },
                {
                    "added-delete-files": 0,
                    "added-dvs": len(dv),
                    "added-position-deletes": rows,
                },
            )
        written = self._write_delete_file(hits)
        if written is None:
            return None
        rel, rows = written
        return self._commit_deletes(
            {"path": rel, "content": "pos", "cols": ["__file", "__pos"], "rows": rows},
            {"added-delete-files": 1, "added-position-deletes": rows},
        )

    def delete_eq_mor(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key_cols: list[str],
        extra_summary: dict | None = None,
    ) -> Snapshot | None:
        """Merge-on-read EQUALITY delete: register key tuples whose
        rows disappear at read time from every data file with a
        sequence number below this commit's — without reading ANY data
        file now (the cheapest possible delete; Iceberg v2 equality
        deletes, the streaming-CDC workhorse). ``extra_summary`` keys
        land in the SAME commit's summary (commit-atomic markers, e.g.
        a streaming sink's epoch id).

        Keys are typed through the TABLE schema at delete time, with a
        round-trip guard: a key the column type cannot represent
        exactly (3.5 against a long column) can never equal any stored
        value, so it is dropped here rather than written — a mistyped
        key committed raw would poison every subsequent read (the MOR
        key frame is typed through the schema at scan time)."""
        entry, n_files = self._build_eq_delete_entry(keys, key_cols, self.schema())
        if entry is None:
            return None
        return self._commit_deletes(
            entry,
            {
                "added-delete-files": n_files,
                **({"added-dvs": 1} if n_files == 0 else {}),
                "added-equality-deletes": entry["rows"],
                **(extra_summary or {}),
            },
        )

    def _build_eq_delete_entry(
        self, keys: DataFrame, key_cols: list[str], schema: StructType
    ) -> tuple[dict | None, int]:
        """(manifest delete entry, delete-files-written) for an
        equality-delete key set — inline-DV fast path for small
        JSON-representable key sets (the delete writes no files),
        parquet delete file otherwise. None when the key set is empty.
        Keys are typed through the table ``schema`` first (the
        round-trip guard delete_eq_mor describes). Shared by
        delete_eq_mor and merge_into."""
        tbl_types = {f.name: f.dataType for f in schema.fields}
        for c in key_cols:
            tgt = tbl_types.get(c)
            src = keys.schema[c].dataType
            if tgt is not None and src != tgt:
                cast = F.col(c).cast(tgt)
                keys = keys.filter(
                    cast.isNotNull() & (cast.cast(src) == F.col(c))
                ).withColumn(c, cast)
        distinct = keys.select(*key_cols).dropDuplicates(key_cols)
        # inline-DV fast path, same rationale as position deletes: a
        # small key set rides in the manifest entry and the delete
        # writes no files. Only JSON-representable key values inline;
        # anything else (timestamps, binary) keeps the parquet form.
        probe = distinct.limit(DV_INLINE_MAX_POSITIONS + 1).collect()
        inlinable = len(probe) <= DV_INLINE_MAX_POSITIONS and all(
            isinstance(v, (int, str, float, bool, type(None)))
            for r in probe
            for v in r
        )
        if inlinable:
            if not probe:
                return None, 0
            return {
                "path": None,
                "content": "eq",
                "cols": list(key_cols),
                "rows": len(probe),
                "keys": [list(r) for r in probe],
            }, 0
        written = self._write_delete_file(distinct)
        if written is None:
            return None, 0
        rel, rows = written
        return {
            "path": rel,
            "content": "eq",
            "cols": list(key_cols),
            "rows": rows,
        }, 1

    def rewrite_deletes(self, spark: SparkSession) -> dict[str, int]:
        """Materialize pending MOR deletes copy-on-write and drop the
        delete files from metadata (Iceberg's rewrite_position_delete_
        files / major compaction): rewrite exactly the data files a
        delete could still touch, carry the rest by reference."""

        def attempt(md, snap, schema):
            if snap is None or not snap.delete_manifests:
                return {"rewritten_files": 0, "dropped_delete_files": 0}, None, []
            del_entries = self.delete_files_of(snap)
            entries = self.files_of(snap)
            pos_targets = set()
            for e in del_entries:
                if e["content"] == "pos":
                    if e.get("dv"):
                        pos_targets.update(e["dv"].keys())
                        continue
                    for r in (
                        spark.read.schema("__file string, __pos long")
                        .parquet(os.path.join(self.root, e["path"]))
                        .select("__file")
                        .distinct()
                        .collect()
                    ):
                        pos_targets.add(r["__file"])
            max_eq_seq = max(
                (int(e.get("seq", 0)) for e in del_entries if e["content"] == "eq"),
                default=0,
            )
            affected = [
                e
                for e in entries
                if e["path"] in pos_targets
                or int(e.get("seq", 0)) < max_eq_seq
            ]
            carried = [e for e in entries if e not in affected]
            new_entries: list[dict] = []
            if affected:
                clean_df = self._read_with_deletes(spark, affected, snap, schema)
                new_entries = self._write_data_files(
                    clean_df, prefix="md", n_tasks=max(1, len(affected) // 4)
                )
            result = {
                "rewritten_files": len(affected),
                "dropped_delete_files": len(del_entries),
            }
            # visible-row content is unchanged (this rewrite only FOLDS
            # already-committed deletes into the data files); CDC
            # readers step their cursor through marked rewrites instead
            # of raising
            summary = {**_dashed(result), "content-preserving": True}
            make = self._overwrite_make(carried, new_entries, summary, drop_deletes=True)
            return result, make, new_entries

        return self._replan("rewrite_deletes", attempt)

    def overwrite_entries(
        self,
        entries: list[dict],
        partitions: set | None = None,
        extra_summary: dict | None = None,
    ) -> None:
        """INSERT OVERWRITE: atomically replace table content with
        pre-written ``entries``. ``partitions=None`` is STATIC mode —
        the whole table is replaced (empty entries = truncate) and
        pending MOR delete state is dropped with the content it
        applied to. A set of partition values is DYNAMIC mode — only
        current-spec entries whose partition value is in the set are
        replaced; files written under OLDER specs are conservatively
        carried (partition values are not comparable across specs:
        spec evolution leaves old vintages for compaction to migrate),
        and pending deletes are carried with them. One 'overwrite'
        snapshot either way — readers see the old or the new content,
        never a mix. This is the connector's mode('overwrite') commit
        (Spark INSERT OVERWRITE static/dynamic semantics). The caller
        wrote ``entries``, so a lost race re-commits them, never
        removes them."""

        def attempt(md, snap, schema):
            cur = self.files_of(snap) if snap is not None else []
            if partitions is None:
                carried: list[dict] = []
            else:
                cur_sid = self.current_spec_id(md)
                pset = set(partitions)
                carried = [
                    e
                    for e in cur
                    if int(e.get("spec_id", 0) or 0) != cur_sid
                    or _entry_partition_key(e) not in pset
                ]
            summary = {
                "overwrite-mode": "static" if partitions is None else "dynamic",
                "replaced-files": len(cur) - len(carried),
                "added-files": len(entries),
                **(extra_summary or {}),
            }
            make = self._overwrite_make(
                carried, entries, summary, drop_deletes=partitions is None
            )
            return None, make, []

        self._replan("overwrite", attempt)

    def expire_snapshots(
        self,
        older_than_ms: int,
        retain_last: int = 20,
        spark: SparkSession | None = None,
        distributed_threshold_bytes: int | None = None,
        protect_ids: set[int] | None = None,
    ) -> dict[str, int]:
        """Expire snapshots older than the cutoff (keeping at least
        ``retain_last`` most recent + the current), then physically
        delete data files and manifests reachable ONLY from expired
        snapshots (Reaper.java:17-27 semantics).

        Ordering is commit-then-delete: the metadata removal is CAS-
        committed FIRST, and physical deletion runs only against the
        state that actually committed. Deleting inside the build
        closure would destroy files while a retry/conflict (e.g. a
        concurrent create_tag pinning a snapshot we computed as
        expired) could still keep them referenced — committed metadata
        pointing at deleted files. A crash between commit and sweep
        merely leaks unreferenced files, which clean() (the orphan
        reachability sweep) collects; it can never corrupt the table.

        Ref retention (round 14): BEFORE reachability is computed,
        refs past their age limit are dropped in the SAME commit —
        per-ref ``max_ref_age_ms`` first, else the table property
        ``history.expire.max-ref-age-ms`` (branches only; tags join
        the default only under
        ``history.expire.ref-age-applies-to-tags`` = 'true'). A
        forgotten staging branch therefore stops pinning history, and
        its unpublished snapshots age out through the normal expiry
        below (Iceberg per-ref max-ref-age-ms; Reaper.java:17-27
        generalized to refs)."""
        stats = {
            "expired_snapshots": 0, "deleted_files": 0,
            "deleted_manifests": 0, "expired_refs": 0,
        }
        outcome: dict[str, list] = {"expired": [], "dropped_refs": []}
        now_ms = fmt.now_ms()

        def build(current: TableMetadata) -> TableMetadata | None:
            default_age = current.properties.get(
                "history.expire.max-ref-age-ms"
            )
            tags_included = (
                current.properties.get(
                    "history.expire.ref-age-applies-to-tags", "false"
                ).lower()
                == "true"
            )
            by_id = {s.snapshot_id: s for s in current.snapshots}

            def _age_limit(r: dict) -> int | None:
                if "max_ref_age_ms" in r:
                    return int(r["max_ref_age_ms"])
                if default_age is not None and (
                    r["type"] == "branch" or tags_included
                ):
                    return int(default_age)
                return None

            def _created(r: dict) -> int:
                c = r.get("created_ms")
                if c is not None:
                    return int(c)
                s = by_id.get(r["snapshot_id"])  # pre-round-14 refs
                return s.timestamp_ms if s is not None else 0

            live_refs, dropped = {}, []
            for k, r in current.refs.items():
                lim = _age_limit(r)
                if lim is not None and now_ms - _created(r) > lim:
                    dropped.append(k)
                else:
                    live_refs[k] = r
            snaps = sorted(current.snapshots, key=lambda s: s.timestamp_ms)
            keep_ids = {s.snapshot_id for s in snaps[-retain_last:]} if retain_last else set()
            if current.current_snapshot_id is not None:
                keep_ids.add(current.current_snapshot_id)
            for r in live_refs.values():
                keep_ids.add(r["snapshot_id"])  # live branches/tags pin
            # externally-referenced snapshots (e.g. a catalog's
            # PUBLISHED pin, which may lag the head): never expired —
            # GC'ing one would break every reader of that reference
            for pid in protect_ids or ():
                if pid is not None:
                    keep_ids.add(pid)
            kept = [
                s
                for s in snaps
                if s.snapshot_id in keep_ids or s.timestamp_ms >= older_than_ms
            ]
            outcome["expired"] = [s for s in snaps if s not in kept]
            outcome["dropped_refs"] = dropped
            if not outcome["expired"] and not dropped:
                return None
            return replace(
                current,
                version=current.version + 1,
                snapshots=kept,
                refs=live_refs,
            )

        committed = fmt.commit(self.root, build)
        expired = outcome["expired"]
        stats["expired_refs"] = len(outcome["dropped_refs"])
        if not expired:
            return stats
        stats["expired_snapshots"] = len(expired)
        # Sweep AFTER the durable commit, computing liveness from the
        # committed state (no snapshot added later can resurrect a
        # reference to these files — new commits build on `committed`,
        # which no longer knows them). A kept snapshot's added-manifest
        # (summary) is live even when manifest merging dropped it from
        # the manifests list: added_files() still reads it.
        live_manifests = {
            m for s in committed.snapshots for m in s.manifests + s.delete_manifests
        }
        for s in committed.snapshots:
            am = s.summary.get("added-manifest")
            if am is not None:
                live_manifests.add(am)
        dead_manifests = set()
        for s in expired:
            dead_manifests.update(s.manifests)
            dead_manifests.update(s.delete_manifests)
            am = s.summary.get("added-manifest")
            if am is not None:
                dead_manifests.add(am)
        dead_only = [
            m
            for m in sorted(dead_manifests - live_manifests)
            if os.path.exists(os.path.join(self.root, m))
        ]
        if not dead_only:
            return stats
        threshold = (
            DIST_PLAN_MIN_MANIFEST_BYTES
            if distributed_threshold_bytes is None
            else distributed_threshold_bytes
        )
        if (
            spark is not None
            and self._manifest_bytes(live_manifests) + self._manifest_bytes(dead_only)
            >= threshold
        ):
            # Distributed reachability: dead-entry paths anti-joined
            # against live-entry paths — only the files actually being
            # deleted come back to the driver, never the full live set.
            doomed = self._dead_paths_distributed(spark, dead_only, sorted(live_manifests))
        else:
            live_files = set()
            for m in live_manifests:
                for e in fmt.read_manifest(self.root, m):
                    live_files.add(e.get("path"))
            doomed, seen = [], set()
            for m in dead_only:
                for e in fmt.read_manifest(self.root, m):
                    p = e.get("path")  # None = inline DV, nothing on disk
                    if p and p not in live_files and p not in seen:
                        seen.add(p)
                        doomed.append(p)
        for rel in doomed:
            fpath = os.path.join(self.root, rel)
            if os.path.exists(fpath):
                os.remove(fpath)
                stats["deleted_files"] += 1
                # local-FS checksum sidecar, if any
                d, b = os.path.split(fpath)
                crc = os.path.join(d, f".{b}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
        for m in dead_only:
            os.remove(os.path.join(self.root, m))
            stats["deleted_manifests"] += 1
        return stats

    def _dead_paths_distributed(
        self, spark: SparkSession, dead_manifests: list[str], live_manifests: list[str]
    ) -> list[str]:
        """Paths referenced by dead manifests and NO live manifest —
        the GC victim set, computed as a distributed manifest scan +
        left-anti join so the driver never holds the live-file set."""
        dead = (
            self._manifest_entries_df(spark, dead_manifests)
            .select("path")
            # inline-DV delete entries reference no file (path null)
            .filter(F.col("path").isNotNull())
            .distinct()
        )
        if live_manifests:
            live = self._manifest_entries_df(spark, live_manifests).select("path")
            dead = dead.join(live, "path", "left_anti")
        return [r["path"] for r in dead.collect()]

    def clean(
        self,
        older_than_ms: int = 3 * 24 * 3600 * 1000,
        now_ms: int | None = None,
        spark: SparkSession | None = None,
        distributed_threshold_bytes: int | None = None,
    ) -> dict[str, int]:
        """Orphan-file GC (R19): delete files under data/ and
        manifests/ that are unreachable from EVERY snapshot of the
        current metadata — leftovers of crashed writers, commits that
        lost their CAS race, or an expire_snapshots that crashed
        between commit and sweep.

        ``older_than_ms`` is the safety grace window (Iceberg's
        remove_orphan_files semantics): an in-flight commit writes its
        data files and manifest BEFORE its CAS publishes, so only
        files whose mtime is older than ``now - older_than_ms`` are
        eligible. Reachability is computed from the metadata loaded
        AFTER listing, so any file published by a commit racing the
        listing is seen as live."""
        now_ms = now_ms if now_ms is not None else fmt.now_ms()
        cutoff_s = (now_ms - older_than_ms) / 1000.0
        stats = {"deleted_files": 0, "deleted_manifests": 0}
        candidates: list[str] = []  # rel paths, listed BEFORE metadata load
        for sub in ("data", "manifests"):
            base = os.path.join(self.root, sub)
            for path in glob.glob(os.path.join(base, "**", "*"), recursive=True):
                if os.path.isfile(path):
                    try:
                        if os.path.getmtime(path) <= cutoff_s:
                            candidates.append(os.path.relpath(path, self.root))
                    except OSError:
                        continue
        md = self.metadata  # fresh load: supersedes every listed candidate
        live_manifests = {
            m for s in md.snapshots for m in s.manifests + s.delete_manifests
        }
        for s in md.snapshots:
            am = s.summary.get("added-manifest")
            if am is not None:
                live_manifests.add(am)
        threshold = (
            DIST_PLAN_MIN_MANIFEST_BYTES
            if distributed_threshold_bytes is None
            else distributed_threshold_bytes
        )
        live_sorted = sorted(live_manifests)
        data_candidates = [
            rel
            for rel in candidates
            if not rel.startswith("manifests")
            and not os.path.basename(rel).startswith((".", "_"))
        ]
        if (
            spark is not None
            and live_sorted
            and self._manifest_bytes(live_sorted) >= threshold
        ):
            # Distributed reachability: candidates anti-joined against
            # the live-entry scan — driver memory holds the listing and
            # the orphans, never the live-file set.
            cand_df = spark.createDataFrame(
                [(p,) for p in data_candidates], "path string"
            )
            live_df = self._manifest_entries_df(spark, live_sorted).select("path")
            orphan_data = {
                r["path"] for r in cand_df.join(live_df, "path", "left_anti").collect()
            }
        else:
            live_files: set[str] = set()
            for m in live_sorted:
                for e in fmt.read_manifest(self.root, m):
                    if e.get("path"):
                        live_files.add(e["path"])
            orphan_data = {p for p in data_candidates if p not in live_files}
        for rel in candidates:
            if rel.startswith("manifests"):
                if rel in live_manifests:
                    continue
                key = "deleted_manifests"
            else:
                if rel not in orphan_data:
                    continue  # live data / .crc sidecars / _SUCCESS markers
                key = "deleted_files"
            try:
                os.remove(os.path.join(self.root, rel))
                stats[key] += 1
                d, b = os.path.split(os.path.join(self.root, rel))
                crc = os.path.join(d, f".{b}.crc")
                if os.path.exists(crc):
                    os.remove(crc)
            except OSError:
                pass
        return stats

    def rewrite_clustered(
        self,
        spark: SparkSession,
        cluster_by: list[str],
        n_files: int = 8,
    ) -> dict[str, int]:
        """Z-order layout rewrite: re-arrange the CURRENT snapshot's
        rows so each output file covers a small hyper-rectangle of the
        ``cluster_by`` key space, then commit one atomic 'replace'
        snapshot. Row content is identical before/after; what changes
        is that per-file min/max footer stats become tight on EVERY
        cluster column, so plan_files() skips files for predicates on
        any of them (a linear sort — compact_data_files(sort_by=…) —
        helps exactly one column; this helps all, which is the layout
        a multi-predicate 100 TB workload needs).

        MOR deletes are applied during the rewrite (same as
        compaction), so the new snapshot carries no delete manifests.
        Partition-aware: rows are clustered WITHIN their partition
        bucket so transform pruning stays exact."""
        from .zorder import zorder_frame

        md = self.metadata
        snap = md.current_snapshot()
        if snap is None:
            return {"rewritten": 0, "new_files": 0}
        entries = self.files_of(snap)
        if not entries:
            return {"rewritten": 0, "new_files": 0}
        import uuid as uuid_mod

        batch = uuid_mod.uuid4().hex
        # group by (spec_id, partition), not partition value alone:
        # after partition evolution the same numeric bucket under two
        # specs covers DIFFERENT value ranges, and the rewritten file
        # must keep its own spec stamp or every read path would
        # interpret its bucket under the wrong width.
        by_partition: dict[tuple, list[dict]] = {}
        for e in entries:
            key = (int(e.get("spec_id", 0) or 0), _entry_partition_key(e))
            by_partition.setdefault(key, []).append(e)
        new_entries: list[dict] = []
        # row.lineage=preserve: carry (__row_id, __upd_seq) through the
        # layout rewrite exactly as compact_data_files does
        preserve = md.properties.get("row.lineage") == "preserve"
        for (spec_id, part), es in by_partition.items():
            df = (
                self._read_with_lineage(spark, es, snap)
                if preserve
                else self._read_with_deletes(spark, es, snap)
            )
            sub = _partition_subdir(spec_id, part, "clustered")
            out_dir = os.path.join(self.root, "data", f"z-{batch}", sub)
            with conf_scope(spark, _MICROS_TS):
                zorder_frame(df, cluster_by, n_files).write.parquet(out_dir)
            for path in glob.glob(os.path.join(out_dir, "*.parquet")):
                rel = os.path.relpath(path, self.root)
                st = file_stats(path)
                st["columns"].pop("__row_id", None)
                st["columns"].pop("__upd_seq", None)
                new_entries.append(
                    {
                        "path": rel,
                        **({"row_ids_inline": True} if preserve else {}),
                        "rows": st["rows"],
                        "bytes": st["bytes"],
                        **_stamp_partition(part),
                        "columns": st["columns"],
                        **({"spec_id": spec_id} if spec_id else {}),
                    }
                )

        self._attach_blooms(spark, new_entries)

        def make(current, parent, seq, write_manifest):
            manifest = write_manifest([{**e, "seq": seq} for e in new_entries])
            summary = {
                "rewritten-files": len(entries),
                "new-files": len(new_entries),
                "cluster-by": ",".join(cluster_by),
            }
            return [manifest], [], summary  # deletes applied during the rewrite

        if self._commit_snapshot("replace", make, snap.snapshot_id) is None:
            # the head moved during the rewrite: nothing committed
            shutil.rmtree(os.path.join(self.root, "data", f"z-{batch}"), ignore_errors=True)
            return {"rewritten": 0, "new_files": 0}
        return {"rewritten": len(entries), "new_files": len(new_entries)}

    def compact_data_files(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        sort_by: list[str] | None = None,
        partitions: set | None = None,
    ) -> dict[str, int]:
        """Bin-packing compaction: rewrite small data files into
        ~target-size files, one atomic 'replace' snapshot. Row content
        is identical before/after; only file layout changes. The cure
        for the small-files problem the reference's high-frequency
        writers create by design (one file per createDataFile call,
        Writer.java:74-108).

        Partition-aware: files are rewritten within their partition
        bucket so pruning metadata stays exact. ``partitions`` scopes
        the pass to CURRENT-spec files whose partition value is in the
        set (Iceberg/Delta ``OPTIMIZE ... WHERE``): at 100 TB you
        compact the partition your writers just churned, not the
        table; older-spec files are conservatively left alone
        (partition values are not comparable across specs — a full
        pass migrates them)."""
        md = self.metadata
        snap = md.current_snapshot()
        if snap is None:
            return {"rewritten": 0, "new_files": 0}
        entries = self.files_of(snap)
        small = [e for e in entries if e["bytes"] < target_file_bytes // 2]
        if partitions is not None:
            cur_sid = self.current_spec_id(md)
            small = [
                e
                for e in small
                if int(e.get("spec_id", 0) or 0) == cur_sid
                and _entry_partition_key(e) in partitions
            ]
        if len(small) < 2:
            return {"rewritten": 0, "new_files": 0}
        keep = [e for e in entries if e not in small]
        t = self.transform
        new_entries: list[dict] = []
        import uuid as uuid_mod

        batch = uuid_mod.uuid4().hex
        # (spec_id, partition) grouping — see rewrite_clustered: a
        # bucket value is only meaningful under the spec that wrote it.
        by_partition: dict[tuple, list[dict]] = {}
        for e in small:
            key = (int(e.get("spec_id", 0) or 0), _entry_partition_key(e))
            by_partition.setdefault(key, []).append(e)
        # row.lineage=preserve: the rewrite materializes each row's
        # (__row_id, __upd_seq) as physical columns in the compacted
        # files, so scan_with_lineage keeps answering the SAME ids
        # across maintenance — the Iceberg-v3 rewrite contract. Costs
        # 2 int64 columns only in rewritten files; plain scans read
        # with an explicit schema and never see them.
        preserve = md.properties.get("row.lineage") == "preserve"
        for (spec_id, part), es in by_partition.items():
            # deletes-applied read: compacted rows carry THIS commit's
            # sequence, so pending equality deletes stop applying to
            # them — they must already be filtered out here
            df = (
                self._read_with_lineage(spark, es, snap)
                if preserve
                else self._read_with_deletes(spark, es, snap)
            )
            total = sum(e["bytes"] for e in es)
            n_out = max(1, total // target_file_bytes)
            sub = _partition_subdir(spec_id, part, "compacted")
            out_dir = os.path.join(self.root, "data", f"c-{batch}", sub)
            if sort_by:
                # range-partition + sort: every output file covers a
                # DISJOINT key range, so its min/max stats are tight
                # and plan_files skipping becomes surgical — the
                # cluster-by/z-order analogue for 1-d keys.
                with conf_scope(spark, _MICROS_TS):
                    (
                        df.repartitionByRange(int(n_out), *sort_by)
                        .sortWithinPartitions(*sort_by)
                        .write.parquet(out_dir)
                    )
            else:
                with conf_scope(spark, _MICROS_TS):
                    df.coalesce(int(n_out)).write.parquet(out_dir)
            for path in glob.glob(os.path.join(out_dir, "*.parquet")):
                rel = os.path.relpath(path, self.root)
                st = file_stats(path)
                st["columns"].pop("__row_id", None)  # lineage carry, not data
                st["columns"].pop("__upd_seq", None)
                new_entries.append(
                    {
                        "path": rel,
                        "rows": st["rows"],
                        "bytes": st["bytes"],
                        **_stamp_partition(part),
                        "columns": st["columns"],
                        **({"row_ids_inline": True} if preserve else {}),
                        **({"spec_id": spec_id} if spec_id else {}),
                    }
                )

        self._attach_blooms(spark, new_entries)

        def make(current, parent, seq, write_manifest):
            manifest = write_manifest(keep + [{**e, "seq": seq} for e in new_entries])
            summary = {"compacted-files": len(small), "new-files": len(new_entries)}
            return [manifest], list(parent.delete_manifests), summary

        if self._commit_snapshot("replace", make, snap.snapshot_id) is None:
            # the head moved during the compaction: nothing committed
            shutil.rmtree(os.path.join(self.root, "data", f"c-{batch}"), ignore_errors=True)
            return {"rewritten": 0, "new_files": 0}
        return {"rewritten": len(small), "new_files": len(new_entries)}

    # ---------- read plane ----------

    def plan_files(
        self,
        filters: Iterable[tuple[str, str, object]] = (),
        snapshot_id: int | None = None,
        spark: SparkSession | None = None,
        distributed_threshold_bytes: int | None = None,
    ) -> list[dict]:
        """Metadata-only scan planning: partition pruning (on the
        transform source column) + per-file min/max skipping for any
        column with footer stats. Returns surviving manifest entries.
        ``snapshot_id`` pins the plan to a historical snapshot (time
        travel).

        With a ``spark`` handle and enough manifest volume
        (DIST_PLAN_MIN_MANIFEST_BYTES), planning runs as a distributed
        JSON scan of the manifests with the pruning predicate compiled
        to Spark expressions — only survivors return to the driver, so
        a heavily-pruned plan over millions of entries never
        materializes the full entry list in driver memory."""
        md, snap, _ = self.read_state(snapshot_id=snapshot_id)
        if snap is None:
            return []
        specs = self._spec_map(md)
        threshold = (
            DIST_PLAN_MIN_MANIFEST_BYTES
            if distributed_threshold_bytes is None
            else distributed_threshold_bytes
        )
        if spark is not None and self._manifest_bytes(snap.manifests) >= threshold:
            return self._plan_files_distributed(spark, snap, specs, filters)
        out = []
        for e in self.files_of(snap):
            t_e = self._entry_transform(e, specs)
            if all(self._entry_may_match(e, t_e, f) for f in filters):
                out.append(e)
        return out

    @staticmethod
    def _entry_certainly_matches(
        entry: dict, t: Transform | None, flt: tuple[str, str, object]
    ) -> bool:
        """True when EVERY row of the file provably satisfies the
        predicate from metadata alone: the file's value range (footer
        min/max intersected with the partition bucket range under the
        entry's own spec) lies entirely inside the predicate region and
        the column has zero nulls (a null row fails any comparison).
        Conservative by construction — False just means 'must scan'."""
        col, op, val = flt
        if isinstance(t, CompositeTransform):
            # certainty holds if ANY field's view proves it: the true
            # value region is a subset of each field's bucket range
            pf = entry.get("partition_fields") or []
            return any(
                Table._entry_certainly_matches(
                    {**entry, "partition": pf[i] if i < len(pf) else None},
                    ft,
                    flt,
                )
                for i, ft in enumerate(t.fields)
            )
        cands = _stat_value_renderings(val)
        if len(cands) > 1:  # certain only when EVERY rendering is
            return all(
                Table._entry_certainly_matches(entry, t, (col, op, v))
                for v in cands
            )
        val = _normalize_stat_value(val)
        lo = hi = None
        if t is not None and col == t.source_column and entry.get("partition") is not None:
            rng = t.bucket_range(entry["partition"])
            if rng is not None:  # hash buckets carry no range info
                lo, hi = rng
                hi = hi - 1
        cstats = entry.get("columns", {}).get(col)
        if cstats and cstats.get("min") is not None:
            lo = cstats["min"] if lo is None else max(lo, cstats["min"])
            hi = cstats["max"] if hi is None else min(hi, cstats["max"])
        nulls = (cstats or {}).get("nulls")
        if lo is None or hi is None or nulls is None or nulls > 0:
            return False
        try:
            if op == "<":
                return hi < val
            if op == "<=":
                return hi <= val
            if op == ">":
                return lo > val
            if op == ">=":
                return lo >= val
            if op in ("=", "=="):
                return lo == val == hi
        except TypeError:
            return False  # incomparable types: not provably certain
        return False

    def count_rows(
        self,
        spark: SparkSession | None = None,
        filters: Iterable[tuple[str, str, object]] = (),
        snapshot_id: int | None = None,
    ) -> dict:
        """COUNT(*) with aggregate pushdown into table metadata
        (Iceberg-style): files the predicate provably fully matches
        contribute their manifest row count without being read; only
        boundary files — pruned-in but not certain — are scanned with
        the residual predicate. A retention-style partition-aligned
        predicate therefore counts 100 TB from manifests alone.

        Returns {"rows", "metadata_files", "scanned_files"} so callers
        (and tests) can assert how much data the count actually read.
        Tables with merge-on-read delete files fall back to a full
        counting scan — manifest row counts predate the deletes."""
        filters = list(filters)
        md, snap, schema = self.read_state(snapshot_id=snapshot_id)
        if snap is None:
            return {"rows": 0, "metadata_files": 0, "scanned_files": 0}
        entries = self._plan_state(spark, filters, snap)
        if self.delete_files_of(snap):
            if spark is None:
                raise ValueError("MOR deletes present: counting needs spark")
            n = self._filtered(
                self._read_with_deletes(spark, entries, snap, schema), filters
            ).count()
            return {"rows": n, "metadata_files": 0, "scanned_files": len(entries)}
        if not filters:
            return {
                "rows": sum(e["rows"] for e in entries),
                "metadata_files": len(entries),
                "scanned_files": 0,
            }
        specs = self._spec_map(md)
        certain, maybe = [], []
        for e in entries:
            t_e = self._entry_transform(e, specs)
            if all(
                self._entry_certainly_matches(e, t_e, f) for f in filters
            ):
                certain.append(e)
            else:
                maybe.append(e)
        rows = sum(e["rows"] for e in certain)
        if maybe:
            if spark is None:
                raise ValueError(
                    f"{len(maybe)} boundary files need scanning: pass spark"
                )
            rows += self._filtered(
                self.read_entries(spark, maybe, schema), filters
            ).count()
        return {
            "rows": rows,
            "metadata_files": len(certain),
            "scanned_files": len(maybe),
        }

    def _manifest_bytes(self, manifests: Iterable[str]) -> int:
        total = 0
        for m in manifests:
            try:
                total += os.path.getsize(os.path.join(self.root, m))
            except OSError:
                pass
        return total

    def _manifest_entries_df(
        self, spark: SparkSession, manifests: list[str]
    ) -> DataFrame:
        """Distributed manifest read: one row per entry (the same
        machinery as the ``files`` inspection table)."""
        from .inspect import MANIFEST_SCHEMA

        paths = [os.path.join(self.root, m) for m in manifests]
        return (
            spark.read.schema(MANIFEST_SCHEMA)
            .option("multiLine", "true")
            .json(paths)
            .select(F.explode("entries").alias("e"))
            .select("e.*")
        )

    def _plan_files_distributed(
        self,
        spark: SparkSession,
        snap: Snapshot,
        specs: dict[int, Transform | None],
        filters: Iterable[tuple[str, str, object]],
    ) -> list[dict]:
        df = self._manifest_entries_df(spark, snap.manifests)
        for flt in filters:
            df = df.filter(self._entry_may_match_expr(specs, flt))
        return [_entry_of_row(r.asDict(recursive=True)) for r in df.collect()]

    @staticmethod
    def _entry_may_match_expr(
        specs: dict[int, Transform | None],
        flt: tuple[str, str, object],
    ) -> "F.Column":
        """_entry_may_match compiled to a Spark expression over manifest
        entry rows (path, partition, spec_id, columns: map<struct>).

        Bounds arrive as JSON strings; ``try_cast`` keeps pruning
        conservative — an uncastable bound reads as NULL, NULL bounds
        keep the file. Numeric comparisons go through decimal(38,9) so
        int64 bounds never round through double. Partition-range bounds
        resolve per-entry under the spec the entry was written with
        (spec_id, evolution-aware) — a CASE chain over the spec log,
        which is metadata-scale (a handful of literals)."""
        col, op, val = flt
        # set/prefix leaves decompose exactly like _entry_may_match
        # (round 14): every refinement the scalar expression carries
        # (partition CASE chains, temporal projection, Bloom probes)
        # applies to them for free on the distributed path too
        if op == "in":
            out = F.lit(False)
            for v in val:
                out = out | Table._entry_may_match_expr(specs, (col, "=", v))
            return out
        if op == "like_prefix":
            out = Table._entry_may_match_expr(specs, (col, ">=", val))
            nxt = _prefix_upper(val)
            if nxt is not None:
                out = out & Table._entry_may_match_expr(
                    specs, (col, "<", nxt)
                )
            return out
        # datetime predicates compare against ISO-string stat bounds —
        # F.lit(datetime).cast("string") would render with a space
        # separator and mis-order against the 'T'-separated stats. A
        # plain DATE is rendering-ambiguous (see _stat_value_renderings);
        # the distributed path skips pruning on it entirely rather than
        # compiling the two-rendering disjunction
        if len(_stat_value_renderings(val)) > 1:
            return F.lit(True)
        val = _normalize_stat_value(val)
        numeric = isinstance(val, (int, float)) and not isinstance(val, bool)
        typ = "decimal(38,9)" if numeric else "string"
        stats = F.col("columns").getItem(col)
        smin = stats.getField("min").try_cast(typ)
        smax = stats.getField("max").try_cast(typ)
        plo = F.lit(None).cast(typ)
        phi = F.lit(None).cast(typ)
        sid = F.coalesce(F.col("spec_id"), F.lit(0))
        bucket_keep = F.lit(True)
        for spec_id, t_spec in specs.items():
            if t_spec is None:
                continue
            # composite specs resolve per-field: each field whose
            # source column is the predicate column contributes its
            # own bucket constraint, read from partition_fields[i]
            if isinstance(t_spec, CompositeTransform):
                matches = [
                    (
                        ft,
                        F.element_at(F.col("partition_fields"), i + 1),
                        F.col("partition_fields").isNotNull(),
                    )
                    for i, ft in enumerate(t_spec.fields)
                    if ft.source_column == col
                ]
            elif col == t_spec.source_column:
                matches = [
                    (
                        t_spec,
                        F.col("partition"),
                        F.col("partition").isNotNull(),
                    )
                ]
            else:
                matches = []
            for t, part_expr, part_present in matches:
                hit = (sid == F.lit(spec_id)) & part_present
                if t.bucket_range(0) is None:
                    # no value-domain range info. An equality predicate
                    # still maps to exactly one bucket — computed
                    # driver-side as a literal (hash parity via CRC32
                    # for bucket[N]; UTC calendar math for temporal).
                    # Same type guard as may_contain: only int/str
                    # values render identically to the stored column.
                    # MONOTONIC bucketless transforms (year/month/day/
                    # hour) additionally project range predicates into
                    # bucket space, mirroring _entry_may_match.
                    vb = None
                    if isinstance(val, (int, str)) and not isinstance(val, bool):
                        try:
                            vb = t.apply_py(val)
                        except (TypeError, ValueError):
                            vb = None
                    if vb is not None:
                        if op in ("=", "=="):
                            bucket_keep = bucket_keep & ~(
                                hit & (part_expr != F.lit(vb))
                            )
                        elif getattr(t, "monotonic", False):
                            if op in ("<", "<="):
                                # boundary sharpening mirrors
                                # _entry_may_match: ts < V with V on
                                # the bucket start drops that bucket
                                lim = (
                                    vb - 1
                                    if op == "<" and _on_bucket_start(t, val, vb)
                                    else vb
                                )
                                bucket_keep = bucket_keep & ~(
                                    hit & (part_expr > F.lit(lim))
                                )
                            elif op in (">", ">="):
                                bucket_keep = bucket_keep & ~(
                                    hit & (part_expr < F.lit(vb))
                                )
                    continue
                plo = F.when(hit, part_expr.cast(typ)).otherwise(plo)
                phi = F.when(
                    hit, (part_expr + F.lit(t.width - 1)).cast(typ)
                ).otherwise(phi)
        # greatest/least skip NULLs: bounds merge exactly like the
        # Python loop (partition range ∩ footer stats, either optional)
        lo = F.greatest(plo, smin)
        hi = F.least(phi, smax)
        v = F.lit(val).cast(typ)
        if op == "<":
            keep, used = lo < v, lo
        elif op == "<=":
            keep, used = lo <= v, lo
        elif op == ">":
            keep, used = hi > v, hi
        elif op == ">=":
            keep, used = hi >= v, hi
        elif op in ("=", "=="):
            keep, used = (lo <= v) & (v <= hi), F.when(lo.isNull() | hi.isNull(), F.lit(None).cast(typ)).otherwise(lo)
        else:
            return F.lit(True)  # unknown op -> no pruning
        # a NULL bound on the side the comparison needs = no stats ->
        # cannot prune (same conservatism as the Python loop)
        out = F.when(used.isNull(), F.lit(True)).otherwise(keep) & bucket_keep
        if op in ("=", "=="):
            # Bloom probe, same semantics as the Python loop: the k
            # CRC32 hashes are literals (computed on the driver with
            # zlib — hash parity with the build side), only the
            # per-file modulo/bit-test runs in the expression, so the
            # probe costs k element_at's per entry row.
            import zlib as _zlib

            from .bloom_index import NUM_HASHES, _SEED_FMT

            conds = []
            for i in range(NUM_HASHES):
                h = _zlib.crc32((_SEED_FMT.format(i=i) + str(val)).encode("utf-8"))
                conds.append(
                    F.expr(
                        f"(element_at(bloom.words, CAST(pmod({h}, bloom.bits) / 64 AS INT) + 1)"
                        f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod({h}, bloom.bits) % 64 AS INT))) != 0"
                    )
                )
            all_set = conds[0]
            for c in conds[1:]:
                all_set = all_set & c
            no_bloom = F.col("bloom").isNull() | (F.col("bloom.column") != F.lit(col))
            out = out & F.when(no_bloom, F.lit(True)).otherwise(all_set)
        return out

    @staticmethod
    def _entry_may_match(
        entry: dict, t: Transform | None, flt: tuple[str, str, object]
    ) -> bool:
        col, op, val = flt
        # set/prefix leaves decompose onto the scalar machinery so
        # every pruning refinement (partition ranges, temporal
        # projection, Bloom probes) applies to them for free:
        #   col IN (v1..vn)  -> may match iff ANY col = vi may match
        #   col LIKE 'pfx%'  -> pfx <= col < next(pfx)
        if op == "in":
            return any(
                Table._entry_may_match(entry, t, (col, "=", v)) for v in val
            )
        if op == "like_prefix":
            if not Table._entry_may_match(entry, t, (col, ">=", val)):
                return False
            nxt = _prefix_upper(val)
            return nxt is None or Table._entry_may_match(
                entry, t, (col, "<", nxt)
            )
        if isinstance(t, CompositeTransform):
            # per-field resolution: the file's true value region is
            # the INTERSECTION of its per-field buckets, so it may
            # match only if EVERY field's view (that field's bucket ∩
            # footer stats) admits the predicate
            pf = entry.get("partition_fields") or []
            return all(
                Table._entry_may_match(
                    {**entry, "partition": pf[i] if i < len(pf) else None},
                    ft,
                    flt,
                )
                for i, ft in enumerate(t.fields)
            )
        # a DATE predicate compares under BOTH stat renderings (date
        # vs timestamp column); keep the file if either admits it
        cands = _stat_value_renderings(val)
        if len(cands) > 1:
            return any(
                Table._entry_may_match(entry, t, (col, op, v)) for v in cands
            )
        val = _normalize_stat_value(val)
        lo = hi = None
        if t is not None and col == t.source_column and entry.get("partition") is not None:
            # equality pruning works for EVERY transform (a hash
            # bucket included: the predicate value maps to exactly one
            # bucket — the point-lookup path a bucket table exists for)
            if op in ("=", "==") and not t.may_contain(entry["partition"], val):
                return False
            rng = t.bucket_range(entry["partition"])  # [lo, hi)
            if rng is not None:  # hash buckets carry no range info
                lo, hi = rng
                hi = hi - 1  # inclusive bound
            elif getattr(t, "monotonic", False):
                # temporal buckets: not value-range-expressible (months
                # vary in width) but MONOTONIC, so project the predicate
                # value into bucket space and prune ordinally — Iceberg's
                # transform projection. bucket(v) < bucket(V) implies
                # v < V (and symmetrically), so a file whose bucket lies
                # strictly on the wrong side can hold no matching row.
                try:
                    vb = t.apply_py(val)
                except (TypeError, ValueError):
                    vb = None
                if vb is not None:
                    b = entry["partition"]
                    if op in ("<", "<=") and b > vb:
                        return False
                    if op in (">", ">=") and b < vb:
                        return False
                    # boundary sharpening: ts < V with V exactly ON the
                    # bucket's lower boundary (the canonical [start,
                    # end) range query) prunes the end bucket as well —
                    # it holds no value strictly below its own start
                    if op == "<" and b == vb and _on_bucket_start(t, val, vb):
                        return False
        cstats = entry.get("columns", {}).get(col)
        if cstats and cstats.get("min") is not None:
            lo = cstats["min"] if lo is None else max(lo, cstats["min"])
            hi = cstats["max"] if hi is None else min(hi, cstats["max"])
        if lo != lo or hi != hi:  # legacy NaN bounds: every comparison
            return True  # below would read False and wrongly prune
        if lo is None:
            return True  # no stats -> cannot prune
        try:
            if op == "<":
                return lo < val
            if op == "<=":
                return lo <= val
            if op == ">":
                return hi > val
            if op == ">=":
                return hi >= val
        except TypeError:
            return True  # incomparable predicate/stat types: keep
        if op in ("=", "=="):
            try:
                inside = lo <= val <= hi
            except TypeError:
                return True
            if not inside:
                return False
            # manifest-level Bloom probe: min/max admits the file, but
            # the per-file filter can still prove the key absent —
            # the point-lookup pruning min/max can't do on columns
            # whose values are spread across every file's range
            bloom = entry.get("bloom")
            if bloom and bloom.get("column") == col:
                from .bloom_index import bloom_may_contain

                return bloom_may_contain(bloom, val)
            return True
        return True  # unknown op -> no pruning

    # ---------- schema evolution (Iceberg UpdateSchema semantics) ----------

    def set_schema(self, new_schema) -> None:
        """Full schema swap (the table half of CREATE OR REPLACE
        TABLE): unlike the incremental evolution verbs (add / rename /
        widen / drop), the new definition need not relate to the old
        one at all. Safe because (a) the schema log keeps every prior
        vintage, so time travel reads each snapshot under ITS OWN
        schema, and (b) the caller replaces the CONTENT in the same
        user-visible publish (RTAS), so no live file is ever projected
        onto an incompatible schema. Metadata-only, one commit; no-op
        when the schema is unchanged."""

        def build(current: fmt.TableMetadata) -> fmt.TableMetadata | None:
            new_json = (
                new_schema.jsonValue()
                if hasattr(new_schema, "jsonValue")
                else new_schema
            )
            if new_json == current.schema_json:
                return None
            new_id = max(s["schema_id"] for s in current.schemas) + 1
            return replace(
                current,
                version=current.version + 1,
                schema_json=new_json,
                schemas=current.schemas
                + [{"schema_id": new_id, "schema": new_json}],
                current_schema_id=new_id,
            )

        fmt.commit(self.root, build)

    def add_column(
        self, name: str, dtype: str | dict, default: object = None
    ) -> None:
        """Add a nullable column — metadata-only commit, no data
        rewrite. Files written before the evolution read as NULL for
        the column (name-based projection at scan time) — or as
        ``default`` when one is given (Iceberg v3 initial-default):
        the default applies ONLY to pre-existing rows, selected by
        entry sequence number (entry seq <= the sequence current at
        this add — the column is provably absent from those files
        because retired names can never be re-added), so explicit
        NULLs written after the add stay NULL. The schema log keeps
        every prior schema so time travel reads a snapshot with the
        schema it was committed under.

        The reference inherits this from Iceberg's UpdateSchema; here
        it is one optimistic-retry commit appending to the schema log."""
        if default is not None and not isinstance(default, (int, float, str)):
            raise ValueError(
                "initial default must be a JSON scalar (int/float/str/bool)"
            )
        if isinstance(dtype, str):
            # accept Spark simpleString spellings alongside the schema-
            # JSON names (StructType.fromJson knows "long", not "bigint")
            dtype = {
                "bigint": "long",
                "int": "integer",
                "smallint": "short",
                "tinyint": "byte",
            }.get(dtype, dtype)

        def build(current: fmt.TableMetadata) -> fmt.TableMetadata:
            fields = list(current.schema_json["fields"])
            if any(f["name"] == name for f in fields):
                raise ValueError(f"column {name!r} already exists")
            # any name EVER used is reserved (dropped columns keep their
            # bytes in old files; renamed columns map old names at read
            # time) — reusing one silently adopts stale data
            if name in _all_historic_names(current):
                raise ValueError(
                    f"column name {name!r} is retired (used earlier in "
                    "this table's schema history); pick a fresh name"
                )
            md: dict = {}
            if default is not None:
                snap = current.current_snapshot()
                md = {
                    "initial_default": default,
                    "default_seq": snap.sequence if snap is not None else 0,
                }
            new_schema = dict(current.schema_json)
            new_schema["fields"] = fields + [
                {"name": name, "type": dtype, "nullable": True, "metadata": md}
            ]
            new_id = max(s["schema_id"] for s in current.schemas) + 1
            return replace(
                current,
                version=current.version + 1,
                schema_json=new_schema,
                schemas=current.schemas + [{"schema_id": new_id, "schema": new_schema}],
                current_schema_id=new_id,
            )

        fmt.commit(self.root, build)

    def rename_column(self, old: str, new: str) -> None:
        """Rename a column — metadata-only commit, no data rewrite
        (Iceberg UpdateSchema.renameColumn). The field keeps its full
        name history in ``metadata.renamed_from``; every read path
        projects old-vintage files onto the current name with one
        coalesce (each file has exactly one vintage populated), and
        equality-delete entries recorded under the old name keep
        applying. Time travel reads a snapshot under the names of its
        day — the mapping is derived from the vintage schema itself."""

        def build(current: fmt.TableMetadata) -> fmt.TableMetadata:
            t = transform_from_json(current.partition_spec)
            srcs = (
                t.source_columns
                if isinstance(t, CompositeTransform)
                else ((t.source_column,) if t is not None else ())
            )
            if old in srcs:
                raise ValueError(
                    f"cannot rename partition source column {old!r}"
                )
            for prop in ("write.sort.order", "write.bloom.column"):
                cols = [
                    c.strip()
                    for c in current.properties.get(prop, "").split(",")
                    if c.strip()
                ]
                if old in cols:
                    raise ValueError(
                        f"column {old!r} is referenced by table property "
                        f"{prop!r}; update the property first"
                    )
            fields = [dict(f) for f in current.schema_json["fields"]]
            names = {f["name"] for f in fields}
            if old not in names:
                raise ValueError(f"no such column {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            if new in _all_historic_names(current):
                raise ValueError(
                    f"column name {new!r} is retired (used earlier in "
                    "this table's schema history); pick a fresh name"
                )
            for f in fields:
                if f["name"] == old:
                    meta = dict(f.get("metadata") or {})
                    meta["renamed_from"] = list(meta.get("renamed_from") or []) + [old]
                    f["name"] = new
                    f["metadata"] = meta
            new_schema = dict(current.schema_json)
            new_schema["fields"] = fields
            new_id = max(s["schema_id"] for s in current.schemas) + 1
            return replace(
                current,
                version=current.version + 1,
                schema_json=new_schema,
                schemas=current.schemas + [{"schema_id": new_id, "schema": new_schema}],
                current_schema_id=new_id,
            )

        fmt.commit(self.root, build)

    # Iceberg-safe type promotions (UpdateSchema.updateColumn): the
    # physical bytes stay valid under the wider read type — parquet's
    # vectorized reader upcasts int32->int64 and float->double natively,
    # and the avro decode path re-types through Arrow.
    _WIDENINGS = {
        "byte": {"short", "integer", "long"},
        "short": {"integer", "long"},
        "integer": {"long"},
        "float": {"double"},
    }

    def widen_column(self, name: str, new_type: str) -> None:
        """Widen a column's type — metadata-only commit, no data
        rewrite. Only information-preserving promotions are allowed
        (int family upward, float->double); old files read natively
        under the wider schema on both file formats."""

        def build(current: fmt.TableMetadata) -> fmt.TableMetadata:
            fields = [dict(f) for f in current.schema_json["fields"]]
            hit = next((f for f in fields if f["name"] == name), None)
            if hit is None:
                raise ValueError(f"no such column {name!r}")
            cur_type = hit["type"]
            if not isinstance(cur_type, str):
                raise ValueError(
                    f"cannot widen complex-typed column {name!r} ({cur_type!r})"
                )
            if new_type == cur_type:
                return None  # no-op abort; no schema version burned
            if new_type not in self._WIDENINGS.get(cur_type, set()):
                raise ValueError(
                    f"unsafe type change {cur_type!r} -> {new_type!r} for "
                    f"{name!r}; only widening promotions are metadata-only "
                    "(rewrite the table for anything else)"
                )
            hit["type"] = new_type
            new_schema = dict(current.schema_json)
            new_schema["fields"] = fields
            new_id = max(s["schema_id"] for s in current.schemas) + 1
            return replace(
                current,
                version=current.version + 1,
                schema_json=new_schema,
                schemas=current.schemas + [{"schema_id": new_id, "schema": new_schema}],
                current_schema_id=new_id,
            )

        fmt.commit(self.root, build)

    def drop_column(self, name: str) -> None:
        """Drop a column — metadata-only; data files keep the bytes
        (unreferenced columns are simply not projected) and time travel
        still surfaces them via the schema log."""

        def build(current: fmt.TableMetadata) -> fmt.TableMetadata:
            t = self.transform
            srcs = (
                t.source_columns
                if isinstance(t, CompositeTransform)
                else ((t.source_column,) if t is not None else ())
            )
            if name in srcs:
                raise ValueError(f"cannot drop partition source column {name!r}")
            fields = [f for f in current.schema_json["fields"] if f["name"] != name]
            if len(fields) == len(current.schema_json["fields"]):
                raise ValueError(f"no such column {name!r}")
            if not fields:
                raise ValueError("cannot drop the last column")
            new_schema = dict(current.schema_json)
            new_schema["fields"] = fields
            new_id = max(s["schema_id"] for s in current.schemas) + 1
            return replace(
                current,
                version=current.version + 1,
                schema_json=new_schema,
                schemas=current.schemas + [{"schema_id": new_id, "schema": new_schema}],
                current_schema_id=new_id,
            )

        fmt.commit(self.root, build)

    def read_entries(
        self,
        spark: SparkSession,
        entries: list[dict],
        schema: StructType | None = None,
    ) -> DataFrame:
        """Materialize a planned entry list as a DataFrame. Parquet and
        avro files (the R5 format toggle) can coexist in one table:
        each format scans with its own distributed reader and the
        branches union. Initial-default columns are applied per entry
        GROUP (see _apply_default_groups)."""
        schema = schema or self.schema()
        return self._apply_default_groups(
            entries, schema, lambda es: self._read_entries_raw(spark, es, schema)
        )

    def _apply_default_groups(self, entries, schema, read_group):
        """Split ``entries`` by which initial-default columns apply
        (entry seq <= the column's add sequence), read each group with
        ``read_group``, fill the applicable columns with their literal
        default (wholesale: those files provably lack the column, so
        every physical value is null), and union. One group — the
        universal no-defaults case — costs nothing extra."""
        defaults = _defaults_of(schema)
        if not defaults or not entries:
            return read_group(entries)
        groups: dict[frozenset, list[dict]] = {}
        for e in entries:
            groups.setdefault(_default_sig(e, defaults), []).append(e)
        parts = []
        for sig, es in groups.items():
            df = read_group(es)
            for c in sig:
                df = df.withColumn(
                    c, F.lit(defaults[c][0]).cast(schema[c].dataType)
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _read_entries_raw(
        self,
        spark: SparkSession,
        entries: list[dict],
        schema: StructType,
        keep_pos: bool = False,
    ) -> DataFrame:
        """THE data-file reader: every table read of planned entries
        lands here. Parquet and avro files (the R5 format toggle) each
        scan with their own distributed reader over the PHYSICAL schema
        (current columns plus every name they ever had), the branches
        union, and one projection maps every vintage onto the current
        names. ``keep_pos`` carries the (__file, __pos) keys through —
        root-relative path and row position, the MOR delete join keys
        and the row-lineage derivation input; parquet takes them from
        the ``_metadata`` columns, avro from its position-aware decode."""
        if not entries:
            pos = [StructField("__file", StringType()), StructField("__pos", LongType())]
            return spark.createDataFrame(
                [], StructType(schema.fields + (pos if keep_pos else []))
            )
        renames = _renames_of(schema)
        phys = _physical_schema(schema, renames) if renames else schema
        paths = [os.path.join(self.root, e["path"]) for e in entries]
        avro = [p for p in paths if p.endswith(".avro")]
        parquet = [p for p in paths if not p.endswith(".avro")]
        parts: list[DataFrame] = []
        if parquet:
            df = spark.read.schema(phys).parquet(*parquet)
            if keep_pos:
                df = df.select(
                    "*",
                    _file_key_col().alias("__file"),
                    F.col("_metadata.row_index").alias("__pos"),
                )
            parts.append(df)
        if avro:
            from ..sources.avro_io import read_avro_df

            parts.append(read_avro_df(spark, avro, phys, with_pos=keep_pos))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if renames:
            pos_cols = ["__file", "__pos"] if keep_pos else []
            df = df.select(*_current_projection(schema, renames), *pos_cols)
        return df

    # ---------- NDV statistics (ANALYZE TABLE / Puffin analogue) ----------

    def analyze(
        self, spark: SparkSession, columns: list[str], k: int | None = None
    ) -> dict:
        """ANALYZE TABLE: compute per-(file, column) KMV distinct-count
        sketches with one distributed job per column and attach them to
        table metadata (``stats.file`` property — the Puffin statistics
        file analogue; see table/ndv.py for the estimator and the scale
        shape). Hashing runs with ``xxhash64`` inside codegen; only one
        row PER FILE is ever collected."""
        from . import ndv as _ndv

        k = k or _ndv.DEFAULT_K
        _, snap, schema = self.read_state()
        missing = [c for c in columns if c not in {f.name for f in schema.fields}]
        if missing:
            raise ValueError(f"analyze columns not in schema: {missing}")
        if snap is None:
            raise ValueError("cannot analyze an empty table")
        entries = self.files_of(snap)
        df = self._read_entries_raw(spark, entries, schema, keep_pos=True)
        sketches = _ndv.compute_file_sketches(df, columns, k)
        rel = _ndv.write_stats_file(self.root, snap.snapshot_id, k, sketches)
        self.set_properties(
            {"stats.file": rel, "stats.snapshot-id": str(snap.snapshot_id)}
        )
        return {
            "stats_file": rel,
            "columns": columns,
            "files": len(entries),
            "k": k,
        }

    def approx_ndv(
        self,
        column: str,
        filters: Iterable[tuple[str, str, object]] = (),
    ) -> dict:
        """Approximate COUNT(DISTINCT column) from the analyzed
        sketches — METADATA-ONLY, no data read. ``filters`` first prune
        the file set exactly like a scan would (partition buckets +
        footer stats), then the surviving files' sketches merge
        driver-side: the NDV of one day's partition costs a JSON read,
        not a scan. Files added after the last ANALYZE have no sketch
        and are reported so callers know the estimate's coverage."""
        from . import ndv as _ndv

        rel = self.metadata.properties.get("stats.file")
        if rel is None:
            raise ValueError("no statistics: run analyze() first")
        stats = _ndv.load_stats_file(self.root, rel)
        per_file = stats["columns"].get(column)
        if per_file is None:
            raise ValueError(f"column {column!r} was not analyzed")
        k = int(stats["k"])
        entries = self.plan_files(list(filters))
        covered = [e["path"] for e in entries if e["path"] in per_file]
        merged = _ndv.merge_sketches([per_file[p] for p in covered], k)
        return {
            "ndv": _ndv.kmv_estimate(merged, k),
            "exact": len(merged) < k,
            "files_considered": len(entries),
            "files_covered": len(covered),
        }

    def scan_runtime_filtered(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        key_col: str,
        max_keys: int = 100_000,
    ) -> tuple[DataFrame, dict]:
        """Runtime-filtered scan (Iceberg runtime filtering / dynamic
        partition pruning spirit): prune this table's files by the
        ACTUAL key set of a (small) join side before scanning, instead
        of only by static predicates.

        The key set is collected driver-side — the same smallness
        precondition as broadcasting that side of the join, and the
        reason this beats a plain scan: file stats can rule a file out
        when NO dim key falls inside its [min, max] (binary search per
        file over the sorted key list), which global min/max bounds
        cannot do for scattered key sets. Per-file Bloom filters
        (write.bloom.column) tighten "=" membership further when
        present. Returns (df, info) where info reports files_total /
        files_scanned; rows outside the key bounds cannot join, so the
        result is safe to use directly as the probe side.

        At 100 TB: a selective dim filter turns a full fact scan into
        reading only the files that can contain matching keys — the
        scan-side analogue of Spark's DPP, expressed against the
        engine's own manifests."""
        rows = (
            keys_df.select(key_col).distinct().limit(max_keys + 1).collect()
        )
        _, snap, schema = self.read_state()
        total = len(self.files_of(snap)) if snap else 0
        keys = sorted(r[0] for r in rows if r[0] is not None)
        if not keys:
            return spark.createDataFrame([], schema), {
                "files_total": total,
                "files_scanned": 0,
            }
        if len(rows) > max_keys:
            # key set too large to enumerate: bounds-only pruning. The
            # bounds come from an EXACT min/max aggregate — the sampled
            # limit() subset above must not be used for them, or fact
            # rows whose keys fall outside the sample's range (but
            # inside the true key set) would be silently filtered out
            # by scan()'s residual and the join would lose matches.
            lo, hi = keys_df.agg(
                F.min(key_col), F.max(key_col)
            ).collect()[0]
            bounds = [(key_col, ">=", lo), (key_col, "<=", hi)]
            df = self._scan_state(spark, bounds, snap, schema)
            return df, {"files_total": total, "files_scanned": None}
        entries = self._plan_state(
            spark, [(key_col, ">=", keys[0]), (key_col, "<=", keys[-1])], snap
        )
        kept = prune_entries_by_keys(entries, key_col, keys)
        df = self._read_with_deletes(spark, kept, snap, schema)
        return df, {"files_total": total, "files_scanned": len(kept)}

    def incremental_scan(
        self, spark: SparkSession, after_snapshot_id: int | None = None
    ) -> tuple[DataFrame, int | None]:
        """Change-feed read: rows appended after the cursor snapshot;
        returns (df, new_cursor). Feed new_cursor back to tail the
        table — the batch primitive under a streaming source."""
        entries, cursor = self.incremental_entries(after_snapshot_id)
        return self.read_entries(spark, entries), cursor

    def changes_between(
        self,
        spark: SparkSession,
        after_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level change feed (CDC) between two snapshots: the table
        rows with a ``_change_type`` column ('insert' | 'delete') such
        that  scan(from) + inserts − deletes == scan(to). An update
        surfaces as delete+insert (no before/after pairing — the
        consumer contract of an upsert-merge sink).

        Cost model, not one-size-fits-all:
        - append/delete-only windows run on the MANIFEST diff: inserts
          read only files added in the window, removed-file deletes
          read only the removed files, and common files are re-read
          only when the window added MOR delete files (the exceptAll
          there preserves equality-delete sequence semantics exactly).
        - windows containing a rewrite ('replace' compaction/z-order or
          'overwrite' row-level ops) fall back to a full content diff
          (exceptAll both ways): a rewrite moves rows between files, so
          file identity stops meaning row identity. CDC consumers that
          need cheap tailing should cursor BETWEEN maintenance commits
          (the bookkeeper runs maintenance; readers tail the append
          gaps — same discipline Delta/Iceberg CDC asks for)."""
        md, to_snap, schema = self.read_state(snapshot_id=to_snapshot_id)
        from_snap = md.snapshot(after_snapshot_id)
        ins_t = F.lit("insert").alias("_change_type")
        del_t = F.lit("delete").alias("_change_type")
        if to_snap.snapshot_id == from_snap.snapshot_id:
            return spark.createDataFrame([], schema).select("*", ins_t).limit(0)
        chain: list[Snapshot] = []
        seen = False
        for s in md.snapshots:
            if s.snapshot_id == from_snap.snapshot_id:
                seen = True
                continue
            if seen:
                chain.append(s)
            if s.snapshot_id == to_snap.snapshot_id:
                break
        ops = {s.operation for s in chain}
        if ops & {"overwrite", "replace"}:
            # both sides read under the TO-side schema (not each side's
            # own vintage): a rename inside the window would otherwise
            # diff frames with different column names. The name-history
            # mapping projects the from-side's older files correctly.
            df_from = self._read_with_deletes(
                spark, self.files_of(from_snap), from_snap, schema=schema
            )
            df_to = self._read_with_deletes(
                spark, self.files_of(to_snap), to_snap, schema=schema
            )
            return df_to.exceptAll(df_from).select("*", ins_t).unionByName(
                df_from.exceptAll(df_to).select("*", del_t)
            )
        from_entries = {e["path"]: e for e in self.files_of(from_snap)}
        to_entries = {e["path"]: e for e in self.files_of(to_snap)}
        added = [e for p, e in to_entries.items() if p not in from_entries]
        removed = [e for p, e in from_entries.items() if p not in to_entries]
        inserts = self._read_with_deletes(spark, added, to_snap, schema=schema)
        deletes = self._read_with_deletes(
            spark, removed, from_snap, schema=schema
        )
        if from_snap.delete_manifests != to_snap.delete_manifests:
            common = [
                e for p, e in from_entries.items() if p in to_entries
            ]
            if common:
                vis_from = self._read_with_deletes(
                    spark, common, from_snap, schema=schema
                )
                vis_to = self._read_with_deletes(
                    spark, common, to_snap, schema=schema
                )
                deletes = deletes.unionByName(vis_from.exceptAll(vis_to))
        return inserts.select("*", ins_t).unionByName(
            deletes.select("*", del_t)
        )

    def scan(
        self,
        spark: SparkSession,
        filters: Iterable[tuple[str, str, object]] = (),
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read: plan files from the current (or
        time-travel / ref'd) snapshot, hand Spark the explicit pruned
        list, re-apply the filters as residuals (pruning is
        conservative). ``ref`` reads a branch head or tag pin;
        ``as_of_ms`` reads the snapshot current at that wall-clock
        instant (TIMESTAMP AS OF).

        One snapshot per read: the snapshot and schema resolve once
        (read_state), and planning, MOR deletes, initial defaults and
        the residual all come from that snapshot — a commit landing
        mid-call is not half-visible. A head read returns the current
        schema; a pinned read (id, ref or instant) the schema its
        snapshot committed under."""
        _, snap, schema = self.read_state(snapshot_id, ref, as_of_ms)
        return self._scan_state(spark, list(filters), snap, schema)

    def _plan_state(
        self, spark: SparkSession, filters: list, snap: Snapshot | None
    ) -> list[dict]:
        """plan_files pinned to an already-resolved snapshot (nothing
        for an empty table)."""
        if snap is None:
            return []
        return self.plan_files(filters, snapshot_id=snap.snapshot_id, spark=spark)

    def _scan_state(
        self,
        spark: SparkSession,
        filters: list,
        snap: Snapshot | None,
        schema: StructType,
    ) -> DataFrame:
        entries = self._plan_state(spark, filters, snap)
        df = self._read_with_deletes(spark, entries, snap, schema=schema)
        return self._filtered(df, filters)

    def scan_token_search(
        self,
        spark: SparkSession,
        tokens: list[str],
        column: str | None = None,
    ) -> tuple[DataFrame, dict]:
        """Keyword search with manifest-level file skipping: return the
        rows whose ``column`` contains ALL of ``tokens`` (whitespace
        token membership), reading only the files whose per-file token
        Bloom (``write.token.bloom.column``) cannot rule the tokens
        out. Min/max stats are useless for text-contains predicates —
        this index is what turns a corpus-wide keyword probe from a
        full scan into O(matching files) at 100 TB. Files without a
        token bloom (avro, pre-index appends) are conservatively
        scanned; the residual filter makes the result exact either
        way. Returns (df, {files_total, files_scanned})."""
        from .bloom_index import bloom_may_contain

        md, snap, schema = self.read_state()
        column = column or md.properties.get("write.token.bloom.column")
        if not column:
            raise ValueError(
                "no column given and write.token.bloom.column unset"
            )
        if not tokens:
            raise ValueError("scan_token_search requires at least one token")
        entries = self.files_of(snap) if snap else []
        kept = []
        for e in entries:
            tb = e.get("token_bloom")
            if tb is None or tb.get("column") != column:
                kept.append(e)  # unindexed file: cannot prune
                continue
            if all(bloom_may_contain(tb, t) for t in tokens):
                kept.append(e)
        df = self._read_with_deletes(spark, kept, snap, schema)
        cond = F.lit(True)
        for t in tokens:
            cond = cond & F.array_contains(
                F.split(F.col(column), "\\s+"), t
            )
        return df.filter(cond), {
            "files_total": len(entries),
            "files_scanned": len(kept),
        }

    def scan_with_lineage(
        self,
        spark: SparkSession,
        filters: Iterable[tuple[str, str, object]] = (),
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Snapshot read plus two row-lineage columns (Iceberg v3):
        ``_row_id`` — table-unique stable id, ``first_row_id + row
        position`` for files in their original commit, or the PHYSICAL
        __row_id column for files rewritten by a lineage-preserving
        compaction; ``_last_updated_seq`` — the sequence number of the
        commit that last added/updated the row (original entry seq, or
        the carried __upd_seq through a preserving rewrite).

        Derivation, not storage: ordinary appends pay ZERO bytes for
        lineage (ids are arithmetic over the manifest's first_row_id
        and the reader's row position, __pos); only
        lineage-preserving rewrites materialize the two columns, read
        back here by a column-pruned side read joined on (file, pos).
        Rows whose entries predate lineage (old tables) or came
        through a non-preserving rewrite read NULL — loudly unknown,
        never wrong. At 100 TB this is what lets incremental consumers
        (SCD2 sinks, dedup ledgers) identify rows across compactions
        without a key column."""
        filters = list(filters)
        _, snap, schema = self.read_state(snapshot_id=snapshot_id)
        entries = self._plan_state(spark, filters, snap)
        df = self._filtered(
            self._read_with_lineage(spark, entries, snap, schema), filters
        )
        return df.select(
            *[f.name for f in schema.fields],
            F.col("__row_id").alias("_row_id"),
            F.col("__upd_seq").alias("_last_updated_seq"),
        )

    def _read_with_lineage(
        self,
        spark: SparkSession,
        entries: list[dict],
        snap: Snapshot | None,
        schema: StructType | None = None,
    ) -> DataFrame:
        """Entry-subset read carrying physical-named lineage columns
        (__row_id, __upd_seq) — shared by scan_with_lineage and the
        lineage-preserving compaction rewrite (which writes these two
        columns into the rewritten files verbatim)."""
        schema = schema or self.schema()
        df = self._read_with_deletes(spark, entries, snap, schema, keep_pos=True)
        frid_rows = [
            (
                e["path"],
                e.get("first_row_id"),
                int(e.get("seq", 0)),
                bool(e.get("row_ids_inline")),
            )
            for e in entries
        ]
        frid = spark.createDataFrame(
            frid_rows, "__file string, __frid long, __eseq long, __inline boolean"
        )
        df = df.join(F.broadcast(frid), "__file", "left")
        carried = [e for e in entries if e.get("row_ids_inline")]
        if carried:
            # column-pruned side read: ONLY the two lineage columns +
            # file/pos come off disk for the rewritten files
            lin = self._read_entries_raw(
                spark, carried, _LINEAGE_SCHEMA, keep_pos=True
            ).select(
                F.col("__row_id").alias("__crid"),
                F.col("__upd_seq").alias("__cseq"),
                "__file",
                "__pos",
            )
            df = df.join(F.broadcast(lin), ["__file", "__pos"], "left")
        else:
            df = df.withColumn("__crid", F.lit(None).cast("long")).withColumn(
                "__cseq", F.lit(None).cast("long")
            )
        row_id = F.when(F.col("__inline"), F.col("__crid")).otherwise(
            F.col("__frid") + F.col("__pos")
        )
        upd_seq = F.when(F.col("__inline"), F.col("__cseq")).otherwise(
            F.when(F.col("__frid").isNotNull(), F.col("__eseq"))
        )
        return df.select(
            *[f.name for f in schema.fields],
            row_id.alias("__row_id"),
            upd_seq.alias("__upd_seq"),
        )

    # ---------- metadata inspection tables (table/inspect.py) ----------

    def inspect(self, spark: SparkSession, kind: str, **kw) -> DataFrame:
        """System tables as DataFrames: ``files`` / ``partitions`` /
        ``manifests`` (distributed manifest-JSON scan; accept
        snapshot_id= / ref=), ``snapshots``, ``refs``. The operator's
        SQL window into table health — no data file is opened."""
        from . import inspect as insp

        fns = {
            "files": insp.files_df,
            "partitions": insp.partitions_df,
            "manifests": insp.manifests_df,
            "snapshots": insp.snapshots_df,
            "refs": insp.refs_df,
        }
        if kind not in fns:
            raise KeyError(f"unknown inspection table {kind!r} (have {sorted(fns)})")
        return fns[kind](self, spark, **kw)

    def maintain(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_threshold: int = 8,
        delete_file_threshold: int = 4,
        expire_older_than_ms: int | None = None,
        retain_last: int = 20,
        orphan_grace_ms: int = 3 * 24 * 3600 * 1000,
    ) -> dict[str, dict]:
        """One maintenance pass — the loop a table operator (or the
        bookkeeper, SURVEY 4) runs continuously, as a single
        policy-driven call. Order matters and is deliberate:

        1. rewrite_deletes when pending MOR delete FILES exceed the
           threshold (folding deletes first means the compaction that
           follows bin-packs the already-clean survivors once, not
           twice);
        2. compact_data_files when enough small files accumulated
           (skipped otherwise: a rewrite that moves little data still
           costs a full read-write of the touched partitions);
        3. expire_snapshots when a cutoff is given (after the rewrites
           so the rewrite parents age out with everything else);
        4. clean() orphan GC with the grace window.

        Each step commits content-preserving snapshots ('replace', or
        the content-preserving-marked 'overwrite' of rewrite_deletes),
        so standing CDC streams and materialized views ride through a
        maintain() untouched — the property the segmented CDC planner
        exists for. Returns per-step stats; steps skipped by policy
        report {"skipped": reason}."""
        report: dict[str, dict] = {}
        snap = self.metadata.current_snapshot()
        if snap is None:
            return {"empty": {"skipped": "no snapshots"}}
        n_dels = sum(
            len(fmt.read_manifest(self.root, m)) for m in snap.delete_manifests
        )
        if n_dels >= delete_file_threshold:
            report["rewrite_deletes"] = self.rewrite_deletes(spark)
        else:
            report["rewrite_deletes"] = {"skipped": f"{n_dels} pending delete files"}
        snap = self.metadata.current_snapshot()
        small = [
            e for e in self.files_of(snap) if e["bytes"] < target_file_bytes // 2
        ]
        if len(small) >= small_file_threshold:
            report["compact"] = self.compact_data_files(
                spark, target_file_bytes=target_file_bytes
            )
        else:
            report["compact"] = {"skipped": f"{len(small)} small files"}
        if expire_older_than_ms is not None:
            report["expire"] = self.expire_snapshots(
                expire_older_than_ms, retain_last=retain_last, spark=spark
            )
        else:
            report["expire"] = {"skipped": "no cutoff"}
        report["clean"] = self.clean(older_than_ms=orphan_grace_ms, spark=spark)
        return report


    def drop(self) -> None:
        shutil.rmtree(self.root)


def create_table(
    root: str,
    schema: StructType,
    partition: Transform | None = None,
    properties: dict[str, str] | None = None,
) -> Table:
    """R1: create a partitioned table with tuned properties
    (Writer.java:114-124)."""
    from .transforms import validate_transform

    validate_transform(partition, schema)
    os.makedirs(os.path.join(root, "metadata"), exist_ok=False)
    for sub in ("manifests", "data", "_pending"):
        os.makedirs(os.path.join(root, sub), exist_ok=True)
    props = dict(DEFAULT_PROPERTIES)
    props.update(properties or {})
    meta = TableMetadata(
        version=1,
        table_uuid=uuid.uuid4().hex,
        schema_json=schema.jsonValue(),
        partition_spec=partition.to_json() if partition else None,
        properties=props,
        snapshots=[],
        current_snapshot_id=None,
        schemas=[{"schema_id": 0, "schema": schema.jsonValue()}],
        current_schema_id=0,
    )
    fmt.try_commit_version(root, meta)
    return Table(root)


def load_table(root: str) -> Table:
    fmt.load_metadata(root)  # validate existence
    return Table(root)
