"""The engine table as a first-class Spark data source (Python Data
Source API, Spark 4): ``spark.read.format("engine_table")``,
``df.write.format("engine_table")``, ``spark.readStream`` /
``writeStream`` all work against a table root.

This is the connector story the reference leaves to Iceberg's Spark
runtime (its tables are only reachable through Iceberg APIs,
Writer.java:84-96); here the engine speaks Spark's own source/sink
protocol, so the table composes with everything else in a Spark job —
joins against parquet, streaming into memory sinks, SQL over
``spark.read`` — with no engine-specific reader code at the call site.

Scale design:
- **Planning is metadata-only, execution is per-file.** The driver
  plans one input partition per live data file (manifest pruning with
  pushed-down filters first); executors read their file via pyarrow
  and hand Spark Arrow record batches — no row-at-a-time Python, no
  driver collect.
- **Distributed writes, single atomic commit.** Each write task
  streams its Arrow batches straight into ``data/`` (a file on disk
  means nothing until committed — crash-safe with zero coordination,
  the writer/bookkeeper decoupling of the reference) and sends footer
  stats back as its commit message; the driver commits ONE fast-append
  snapshot from all messages. Aborts delete the orphans eagerly
  (expiry GC would also sweep them).
- **Streaming reads tail the commit log.** Offsets are snapshot ids;
  ``partitions(start, end]`` are exactly the files appended by the
  commits between them — the change feed, replayable as long as the
  snapshots are retained (standard retention caveat: a checkpoint
  older than snapshot expiry cannot resume).
- **Streaming writes are exactly-once.** The epoch commit stamps
  Spark's batch id into the snapshot summary; a replayed epoch is
  detected by the batch-id high-watermark and skipped.

KNOWN SPARK LIMITATION (pinned in
tests/test_datasource.py::test_reused_dataframe_filter_order): Spark's
Python-DataSource integration caches the planned read (read function +
partitions) on the loaded relation, keyed per ``.load()`` call, and
re-plans it ONLY when a query pushes filters. Reusing one loaded
DataFrame for a FILTERED action and then an UNFILTERED one therefore
replays the filtered plan's partitions for the unfiltered query. Call
``.load()`` per query (cheap — planning is metadata-only), or run the
unfiltered materialization first. This reader resets and consumes its
pushed-filter state defensively so no PYTHON-side state survives a
query, but the JVM-side plan cache is out of a source's reach.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


@dataclass
class FilePartition(InputPartition):
    path: str  # absolute
    filters: list | None = None  # row-level pushdown (parquet only)
    fill: list | None = None  # initial-default (col, value) pairs
    lineage: tuple | None = None  # (first_row_id, entry_seq, row_ids_inline)


@dataclass
class MaskedFilePartition(InputPartition):
    """A data file read under merge-on-read delete state: the file's
    (small, by MOR design) delete payload rides in the partition —
    inline/folded positions plus sequence-guarded equality keys — and
    is applied executor-side, so the connector's batch scan returns
    exactly what Table.scan returns."""

    path: str  # absolute
    file_key: str  # root-relative (data/...)
    seq: int
    mask_pos: list
    mask_eq: list
    filters: list | None = None  # row-level pushdown (parquet only)
    fill: list | None = None  # initial-default (col, value) pairs
    lineage: tuple | None = None  # (first_row_id, entry_seq, row_ids_inline)


@dataclass
class FilesCommit(WriterCommitMessage):
    entries: list  # manifest entries (paths relative to table root)


_FILTER_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _lineage_window(md, a, b) -> list:
    """Snapshots in (a, b] on the MAIN parent-chain lineage of ``b``,
    oldest first. The snapshot LOG is append-ordered across refs, so a
    branch-staged commit (write-audit-publish) lands between two main
    commits in log order while belonging to neither's lineage — a
    stream that walked the log would deliver unpublished branch rows
    to main-table consumers. Walking parent_id back from ``b`` keeps
    the window exactly the commits a main reader can see; it also
    refuses a start offset that was rolled past (its rows were
    retracted — resuming would replay phantoms)."""
    by_id = {s.snapshot_id: s for s in md.snapshots}
    if b not in by_id:
        raise ValueError(
            f"end snapshot {b} not in the retained snapshot log "
            "(expired under a running stream?)"
        )
    chain = []
    cur = by_id[b]
    while True:
        chain.append(cur)
        p = cur.parent_id
        if p == a or (p is None and a is None):
            break
        cur = by_id.get(p)
        if cur is None:
            if a is None:
                # from-the-beginning walk on a table whose oldest
                # snapshots were EXPIRED: expiry drops log entries
                # without rewriting parent_id, so the oldest retained
                # snapshot's parent dangles — that snapshot IS the
                # effective root. (A concrete start offset dangling is
                # different: those rows were delivered or retracted.)
                break
            raise ValueError(
                f"start offset {a} is not an ancestor of {b}: the "
                "checkpoint predates snapshot expiry, or the table was "
                "rolled back past it — restart the stream from scratch"
            )
    chain.reverse()
    return chain


def _ref_head(tbl, ref: str | None):
    """Head snapshot id for a stream: the table head, or a BRANCH head
    when option("ref") is set — tailing a write-audit-publish branch
    means offsets walk the branch lineage (which shares the main
    ancestry below the fork), so audit pipelines can stream staged
    commits before publish."""
    _, snap, _ = tbl.read_state(ref=ref or None)
    return None if snap is None else snap.snapshot_id


def _paced_head(tbl, cursor, head, max_files: int | None):
    """Cap the stream's end offset: advance from ``cursor`` toward
    ``head`` only until ~max_files appended files are covered (always
    at least one snapshot). Offsets are snapshot ids, so the cap
    rounds up to a commit boundary."""
    if (
        head is None
        or max_files is None
        or cursor is _CURSOR_UNSET
        or cursor == head
    ):
        return head
    n = 0
    end = cursor
    for s in _lineage_window(tbl.metadata, cursor, head):
        if s.operation == "append":
            n += len(tbl.added_files(s))
        end = s.snapshot_id
        if n >= max_files:
            break
    return end


def _arrow_schema_for(schema: StructType):
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schema)


def _physical_names(schema: StructType) -> dict[str, list[str]]:
    """Per current field name, the physical names to try in file
    order: the current name first, then the rename history (stamped by
    Table.rename_column into field metadata). Each file holds exactly
    one vintage."""
    out = {}
    for f in schema.fields:
        out[f.name] = [f.name] + list((f.metadata or {}).get("renamed_from") or [])
    return out


def _translate_filters(filters, names, arrow_schema):
    """Pushed predicates -> pyarrow DNF terms under THIS file's
    physical column names (rename vintages). Dropped conservatively —
    Spark re-applies every filter after the scan, so partial
    application only saves I/O, never changes results — when the
    column is physically absent from the file (added later: reads
    all-null, fails every comparison) or when the physical column is
    FLOATING-POINT: Spark orders NaN above everything and NaN = NaN
    true, Arrow uses IEEE semantics, so a pushed comparison would drop
    NaN rows Spark's re-applied filter would keep (a dropped row can
    never be resurrected)."""
    import pyarrow as pa

    out = []
    for col, op, val in filters or []:
        phys = next(
            (n for n in names.get(col, ()) if n in arrow_schema.names), None
        )
        if phys is None:
            continue
        if pa.types.is_floating(arrow_schema.field(phys).type):
            continue
        out.append((phys, op, val))
    return out or None


def _fill_of(schema: StructType, entry: dict) -> list | None:
    """Planner-side: the (col, value) initial-default pairs that apply
    to this manifest entry — non-empty only for files written before a
    defaulted column was added (entry seq <= the column's add seq)."""
    from ..table.table import _default_sig, _defaults_of

    defaults = _defaults_of(schema)
    if not defaults:
        return None
    sig = _default_sig(entry, defaults)
    return [(c, defaults[c][0]) for c in sorted(sig)] or None


def _aligned_parquet_arrow(path: str, schema: StructType, filters=None, fill=None):
    """One parquet file -> Arrow table aligned to ``schema``: missing
    columns null-filled, dropped columns pruned, renamed columns
    resolved through their name history, widened types upcast,
    physical order normalized. ``filters`` (engine (col, op, val)
    triples) push into the parquet read itself — row-group statistics
    skip whole groups and surviving rows are filtered before they ever
    reach Arrow, so a selective connector scan reads a slice of each
    file, not the file. ``fill`` ((col, value) pairs) fills PHYSICALLY
    ABSENT columns with an initial-default constant instead of null —
    the planner passes it only for files that provably predate the
    column (see table._defaults_of)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fills = dict(fill or [])
    target = _arrow_schema_for(schema)
    names = _physical_names(schema)
    tbl = None
    if filters:
        # pq.read_schema is a footer-only metadata read; translating
        # first means the ONE full read below is the only data pass
        file_schema = pq.read_schema(path)
        dnf = _translate_filters(filters, names, file_schema)
        if dnf is not None:
            try:
                tbl = pq.read_table(path, filters=dnf)
            except (pa.ArrowInvalid, pa.ArrowNotImplementedError, TypeError):
                tbl = None  # incomparable literal/type: read unfiltered
    if tbl is None:
        tbl = pq.read_table(path, columns=None)
    cols = []
    for fld in target:
        hit = next((n for n in names[fld.name] if n in tbl.column_names), None)
        if hit is not None:
            cols.append(tbl.column(hit).cast(fld.type))
        elif fld.name in fills:
            cols.append(
                pa.nulls(len(tbl), fld.type).fill_null(
                    pa.scalar(fills[fld.name]).cast(fld.type)
                )
            )
        else:
            cols.append(pa.nulls(len(tbl), fld.type))
    return pa.Table.from_arrays(cols, schema=target)


def _read_file_batches(path: str, schema: StructType, filters=None, fill=None):
    """Executor-side: one data file (parquet or avro — the R5 format
    toggle) -> Arrow batches aligned to the table schema. ``filters``
    push into the parquet read (avro reads stay unfiltered — OCF has
    no row-group statistics); ``fill`` carries initial-default
    constants for provably-absent columns."""
    import pyarrow as pa

    if path.endswith(".avro"):
        df, _ = _cdc_load_pandas(path, schema, fill=fill)
        if len(df):
            yield from pa.Table.from_pandas(
                df, schema=_arrow_schema_for(schema), preserve_index=False
            ).to_batches()
        return
    yield from _aligned_parquet_arrow(
        path, schema, filters=filters, fill=fill
    ).to_batches()


_LINEAGE_COLS = ("_row_id", "_last_updated_seq")


def _strip_lineage(schema: StructType) -> StructType:
    return StructType([f for f in schema.fields if f.name not in _LINEAGE_COLS])


def _attach_lineage(df, pos, path: str, lineage):
    """Add _row_id/_last_updated_seq columns to a loaded data frame:
    derived (first_row_id + position) for files in their original
    commit, read from the physical carry columns for files rewritten
    by a lineage-preserving compaction, NULL when the entry predates
    lineage."""
    import pandas as pd
    import pyarrow.parquet as pq

    frid, eseq, inline = lineage
    if inline:
        t = pq.read_table(path, columns=["__row_id", "__upd_seq"])
        # null-safe: a preserve-mode rewrite carries NULL ids for rows
        # whose entries predate lineage; to_numpy() would degrade the
        # column to float64/NaN (precision + NA loss)
        rid = pd.array(t["__row_id"].to_pylist(), dtype="Int64")
        useq = pd.array(t["__upd_seq"].to_pylist(), dtype="Int64")
        df["_row_id"] = rid[pos]
        df["_last_updated_seq"] = useq[pos]
    elif frid is not None:
        df["_row_id"] = pd.array(int(frid) + pos, dtype="Int64")
        df["_last_updated_seq"] = pd.array([int(eseq)] * len(df), dtype="Int64")
    else:
        df["_row_id"] = pd.array([None] * len(df), dtype="Int64")
        df["_last_updated_seq"] = pd.array([None] * len(df), dtype="Int64")
    return df


def _write_task_files(batch_iter, root: str, schema: StructType, spec: dict | None):
    """Executor-side: stream this task's Arrow batches into data/ —
    one file per partition bucket per task when the table is
    partitioned — and return manifest entries with footer stats."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from ..table.stats import file_stats
    from ..table.transforms import transform_from_json

    target = _arrow_schema_for(schema)
    t = transform_from_json(spec)
    task_id = uuid.uuid4().hex
    out_dir = os.path.join(root, "data", f"ds-{task_id[:8]}")
    os.makedirs(out_dir, exist_ok=True)
    writers: dict[object, pq.ParquetWriter] = {}
    paths: dict[object, str] = {}
    # pyarrow's parquet writer records NaN-STRIPPED min/max — clean-
    # looking bounds even when the column holds NaN — while Spark
    # orders NaN above every value, so both our manifest pruning AND
    # Spark's own row-group pushdown (reading the same footer) would
    # silently drop NaN rows that match. parquet-mr's answer is to
    # write no float stats when NaN is present; a streaming writer
    # can't know in advance, so float columns get NO footer stats at
    # all (missing stats are never pruned, by every consumer). The
    # trade is float-range file-skipping on connector-written files —
    # correctness over pruning.
    stats_cols = [f.name for f in target if not pa.types.is_floating(f.type)]

    def sink_for(bucket):
        if bucket not in writers:
            if bucket is None:
                suffix = ""
            elif isinstance(bucket, tuple):
                suffix = "-p" + "_".join(str(v) for v in bucket)
            else:
                suffix = f"-p{bucket}"
            paths[bucket] = os.path.join(out_dir, f"f-{task_id}{suffix}.parquet")
            writers[bucket] = pq.ParquetWriter(
                paths[bucket], target, write_statistics=stats_cols
            )
        return writers[bucket]

    from ..table.transforms import CompositeTransform

    tf_fields = (
        t.fields if isinstance(t, CompositeTransform) else (t,)
    ) if t is not None else ()
    try:
        for batch in batch_iter:
            at = pa.Table.from_batches([batch]).cast(target)
            if t is None:
                sink_for(None).write_table(at)
                continue
            # per-transform Arrow bucketing (transforms.apply_arrow):
            # truncate = exact integer floor-mod, identity = the value,
            # bucket[N] = CRC32-of-string — the same buckets apply_py /
            # apply_col produce, so planning-time pruning agrees with
            # what the executors wrote. Composite specs bucket on the
            # TUPLE of per-field values (one sink per distinct tuple).
            bcols = []
            for i, ft in enumerate(tf_fields):
                arr = ft.apply_arrow(at.column(ft.source_column))
                if isinstance(arr, pa.ChunkedArray):
                    arr = arr.combine_chunks()
                at = at.append_column(f"__b{i}", arr)
                bcols.append(f"__b{i}")
            # distinct tuples computed ARROW-SIDE (group_by on the
            # bucket columns): no per-row Python dict materialization
            # on the executor write path — only the (small) distinct
            # set crosses into Python
            distinct = (
                at.select(bcols).group_by(bcols).aggregate([]).to_pylist()
            )
            for key in (tuple(d[c] for c in bcols) for d in distinct):
                mask = None
                for c, v in zip(bcols, key):
                    m = pc.equal(at.column(c), v)
                    mask = m if mask is None else pc.and_(mask, m)
                part = at.filter(mask).drop(bcols)
                bucket = key if len(key) > 1 else key[0]
                sink_for(bucket).write_table(part)
    finally:
        for w in writers.values():
            w.close()
    entries = []
    for bucket, p in paths.items():
        st = file_stats(p)
        if st["rows"] == 0:
            os.remove(p)
            continue
        entries.append(
            {
                "path": os.path.relpath(p, root),
                "rows": st["rows"],
                "bytes": st["bytes"],
                **(
                    {"partition_fields": [int(v) for v in bucket]}
                    if isinstance(bucket, tuple)
                    else {
                        "partition": None if bucket is None else int(bucket)
                    }
                ),
                "columns": st["columns"],
            }
        )
    return entries


class EngineBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, options):
        self.root = root
        self.schema = schema
        self.snapshot_id = (
            int(options["snapshot_id"]) if "snapshot_id" in options else None
        )
        self.ref = options.get("ref")
        self.as_of_ms = (
            int(options["as_of_timestamp_ms"])
            if "as_of_timestamp_ms" in options
            else None
        )
        self.engine_filters: list[tuple[str, str, object]] = []
        self.in_filters: list[tuple[str, list]] = []
        # a catalog read whose pin is None (table registered, nothing
        # published yet) scans EMPTY — the table head must stay
        # invisible, so this cannot fall through to a head scan
        self.empty_scan = str(
            (options or {}).get("empty_scan", "")
        ).lower() in ("true", "1")
        # option("withLineage","true"): rows carry _row_id /
        # _last_updated_seq (Iceberg v3), parity with scan_with_lineage
        self.lineage_on = str(
            (options or {}).get("withlineage", "")
        ).lower() in ("true", "1")

    def pushFilters(self, filters):
        """Use every stats-expressible filter for manifest pruning but
        report ALL filters unsupported: Spark re-applies them after the
        scan, so pruning is a pure win and residual evaluation stays in
        the JVM (the engine's own scan() makes the same split).

        IN-lists (including the literal lists Spark's own rewrites
        produce) prune with the key-set check: a file survives only if
        its stats range contains at least one listed value — far
        stronger than the [min,max]-of-the-list bound for scattered
        sets.

        State RESETS on every call: Spark reuses ONE reader instance
        across all queries planned from the same loaded DataFrame, and
        pushFilters runs per query — accumulating across calls would
        leak one query's filters into the next (df.filter(p).count()
        then df.count() silently dropped the rows p excluded; caught
        by the a4d scenario's connector-parity check)."""
        self.engine_filters = []
        self.in_filters = []
        for f in filters:
            if isinstance(f, In) and len(f.attribute) == 1:
                vals = sorted(v for v in f.value if v is not None)
                if vals:
                    self.in_filters.append((f.attribute[0], vals))
                    self.engine_filters.append((f.attribute[0], ">=", vals[0]))
                    self.engine_filters.append((f.attribute[0], "<=", vals[-1]))
                yield f
                continue
            op = _FILTER_OPS.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.engine_filters.append((f.attribute[0], op, f.value))
            yield f

    def partitions(self):
        from ..table import load_table
        from ..table.table import _renames_of, prune_entries_by_keys

        if self.empty_scan:
            return []
        tbl = load_table(self.root)
        _, snap, _ = tbl.read_state(self.snapshot_id, self.ref or None, self.as_of_ms)
        # CONSUME the pushed filters: Spark reuses one reader instance
        # across every query planned from the same loaded DataFrame,
        # and pushFilters is NOT invoked for filterless plans — a
        # leftover filter set from a previous action would silently
        # prune rows the current query wants (df.filter(p).count()
        # then df.count()). Clearing here means a plan that pushed
        # nothing scans everything; a re-entered partitions() after a
        # clear only loses pruning, never rows, because Spark
        # re-applies every filter above the scan.
        engine_filters, self.engine_filters = self.engine_filters, []
        in_filters, self.in_filters = self.in_filters, []
        entries = (
            tbl.plan_files(engine_filters, snapshot_id=snap.snapshot_id)
            if snap is not None
            else []
        )
        for col, vals in in_filters:
            entries = prune_entries_by_keys(entries, col, vals)
        # merge-on-read delete state of the SCANNED snapshot rides in
        # the partitions so the connector returns exactly what
        # Table.scan returns (deleted rows must not resurrect)
        dels = tbl.delete_files_of(snap)
        # row-level pushdown into the parquet read itself: every
        # stats-expressible filter plus exact IN-lists. Spark
        # re-applies all filters after the scan (pushFilters reports
        # them unsupported), so this only cuts I/O/decode.
        rg = list(engine_filters) + [
            (col, "in", vals) for col, vals in in_filters
        ]
        rg = rg or None
        if self.lineage_on:
            # lineage derives _row_id from row POSITION — a filtered
            # read renumbers rows, so row-group pushdown is disabled
            # (Spark re-applies every filter above the scan anyway)
            rg = None

        def _lin(e):
            if not self.lineage_on:
                return None
            return (
                e.get("first_row_id"),
                int(e.get("seq", 0)),
                bool(e.get("row_ids_inline")),
            )

        if not dels:
            return [
                FilePartition(
                    os.path.join(self.root, e["path"]),
                    filters=rg,
                    fill=_fill_of(self.schema, e),
                    lineage=_lin(e),
                )
                for e in entries
            ]
        pos_inline, _, eq = _split_delete_payloads(
            self.root, dels, _renames_of(self.schema)
        )

        def masked(e):
            mask_pos = pos_inline.get(e["path"], [])
            return MaskedFilePartition(
                path=os.path.join(self.root, e["path"]),
                file_key=e["path"],
                seq=int(e.get("seq", 0)),
                mask_pos=mask_pos,
                # per-file slice: each partition carries only payloads
                # whose sequence and key range can touch THIS file
                mask_eq=_slice_eq_payloads(e, int(e.get("seq", 0)), eq),
                # position deletes key on row position WITHIN the
                # unfiltered file: a filtered read renumbers rows, so
                # files with pending position deletes read whole
                filters=None if mask_pos else rg,
                fill=_fill_of(self.schema, e),
                lineage=_lin(e),
            )

        return [masked(e) for e in entries]

    def read(self, partition):
        if partition is None:
            return  # empty plan: Spark calls read(None) once
        if isinstance(partition, MaskedFilePartition):
            yield from _read_masked_batches(partition, self.schema)
            return
        if partition.lineage is not None:
            import pyarrow as pa

            df, pos = _cdc_load_pandas(
                partition.path, _strip_lineage(self.schema)
            )
            if len(df) == 0:
                return
            df = _attach_lineage(df, pos, partition.path, partition.lineage)
            out = _apply_fill(df, partition.fill)
            yield from pa.Table.from_pandas(
                out, schema=_arrow_schema_for(self.schema), preserve_index=False
            ).to_batches()
            return
        yield from _read_file_batches(
            partition.path,
            self.schema,
            filters=partition.filters,
            fill=partition.fill,
        )


_CURSOR_UNSET = object()  # restart: true cursor lives in the checkpoint


class EngineStreamReader(DataSourceStreamReader):
    """Commit-log tail: offset = snapshot id (log position, not data
    position — ids are random but the log is append-ordered). This is
    the APPEND tail: each batch delivers the rows of files appended in
    the window, as written — later row-level deletes are not replayed
    against earlier batches (a stream cannot retract delivered rows).
    Consumers that need delete-aware output use option("cdc","true"),
    whose batches carry _change_type rows instead.

    ``option("maxFilesPerTrigger", N)`` rate-limits catch-up:
    latestOffset advances the end snapshot only far enough to cover ~N
    appended files, so a stream starting against a month of history
    (or resuming after downtime) processes bounded micro-batches
    instead of one giant one — Iceberg/Delta's max-files-per-trigger.
    The cap needs the reader's last end offset, and the Python stream
    API gives latestOffset no view of it (the JVM calls latestOffset
    BEFORE initialOffset on the first trigger — traced empirically);
    guessing would risk a reversed window after restart, i.e. silent
    redelivery. So the FIRST batch after (re)start is uncapped and
    every subsequent batch honors the cap — pacing is a steady-state
    guarantee, the same place Spark's own sources put it when a
    checkpoint predates their limit options."""

    def __init__(self, root: str, schema: StructType, options=None):
        self.root = root
        self.schema = schema
        opts = options or {}
        mft = int(opts.get("maxFilesPerTrigger", 0) or 0)
        self.max_files = mft if mft > 0 else None
        self.ref = opts.get("ref")  # tail a branch instead of main
        self._cursor = _CURSOR_UNSET

    def _table(self):
        from ..table import load_table

        return load_table(self.root)

    def initialOffset(self) -> dict:
        self._cursor = None  # fresh start: pace from the very beginning
        return {"snapshot_id": None}

    def latestOffset(self) -> dict:
        tbl = self._table()
        head = _ref_head(tbl, self.ref)
        return {"snapshot_id": _paced_head(tbl, self._cursor, head, self.max_files)}

    def partitions(self, start: dict, end: dict):
        a, b = start.get("snapshot_id"), end.get("snapshot_id")
        self._cursor = b  # pacing resumes from this batch's end
        if b is None or a == b:
            return []
        tbl = self._table()
        entries: list[dict] = []
        # main-lineage walk, not the log: a branch-staged append (WAP)
        # between two main commits must not leak into a main window
        for s in _lineage_window(tbl.metadata, a, b):
            if s.operation == "append":
                entries.extend(tbl.added_files(s))
        return [
            FilePartition(
                os.path.join(self.root, e["path"]),
                fill=_fill_of(self.schema, e),
            )
            for e in entries
        ]

    def read(self, partition: FilePartition):
        if partition is None:
            return  # empty window: Spark calls read(None) once
        yield from _read_file_batches(
            partition.path, self.schema, fill=partition.fill
        )

    def commit(self, end: dict) -> None:
        pass  # retention is the table's expiry policy, not the stream's

    def stop(self) -> None:
        pass


@dataclass
class CDCPartition(InputPartition):
    """One data file's contribution to a CDC micro-batch. All delete
    state rides IN the partition object: inline DVs are already
    metadata, file-backed MOR deletes are small by design (the large
    ones belong to copy-on-write), so the payload stays task-message
    sized while the data file itself is only ever read executor-side."""

    path: str  # absolute data file path
    file_key: str  # root-relative (data/...) — MOR position key
    change: str  # "insert" | "delete"
    mode: str  # "survivors" (emit rows passing masks) | "hits" (emit rows hit by emit_* payloads)
    seq: int  # the data file's sequence number
    mask_pos: list  # positions already deleted (inline)
    mask_pos_paths: list  # file-backed position-delete parquet paths
    mask_eq: list  # [(orig_cols, cur_cols, inline_keys|None, path|None, dseq)]
    emit_pos: list
    emit_pos_paths: list
    emit_eq: list
    fill: list | None = None  # initial-default (col, value) pairs


def _cdc_load_pandas(path: str, schema: StructType, filters=None, fill=None):
    """Executor-side: one data file (parquet or avro) -> pandas frame
    aligned to ``schema`` (rename history resolved, widened types
    upcast), plus the 0-based row-position array. ``filters`` (parquet
    only) push into the read — POSITIONS ARE THEN RENUMBERED, so
    callers may only pass filters when no position-delete state
    applies to the file. ``fill`` carries initial-default constants
    for provably-absent columns; MOR callers pass it separately to
    _apply_fill AFTER delete masking (deletes match physical values)."""
    import numpy as np

    if path.endswith(".avro"):
        import pandas as pd

        from .avro_io import read_ocf

        fills = dict(fill or [])
        names = _physical_names(schema)
        _, rows = read_ocf(path)
        raw = pd.DataFrame(rows)
        df = pd.DataFrame(index=range(len(raw)))
        for f in schema.fields:
            hit = next((n for n in names[f.name] if n in raw.columns), None)
            if hit is None:
                v = fills.get(f.name)
                df[f.name] = pd.Series([v] * len(raw), dtype="object")
            elif f.dataType.simpleString().startswith("timestamp"):
                df[f.name] = pd.to_datetime(raw[hit], unit="us")
            else:
                df[f.name] = raw[hit]
    else:
        df = _aligned_parquet_arrow(path, schema, filters=filters, fill=fill).to_pandas()
    return df, np.arange(len(df))


def _apply_fill(df, fill):
    """Fill initial-default columns on a pandas frame AFTER delete
    masking: the file provably lacks these columns (every physical
    value is null), so the constant replaces the whole column."""
    for c, v in fill or []:
        df = df.assign(**{c: v})
    return df


def _split_delete_payloads(root: str, del_entries, renames):
    """Split a snapshot's delete entries into a per-file-key position
    map and equality payloads (key columns translated through the
    rename history). File-backed position deletes are folded into the
    per-file map ONCE here, driver-side: MOR delete files are small by
    design (large deletes belong to copy-on-write), and shipping each
    partition only ITS slice avoids every data-file task re-reading
    every delete file (O(files x delete-files) executor I/O). Shared
    by the batch reader (MOR-aware scans) and the CDC stream."""
    reverse = {old: cur for cur, olds in renames.items() for old in olds}
    pos_inline: dict[str, list[int]] = {}
    eq: list[tuple] = []
    for e in del_entries:
        if e["content"] == "pos":
            if e.get("dv"):
                for k, ps in e["dv"].items():
                    pos_inline.setdefault(k, []).extend(int(p) for p in ps)
            elif e.get("path"):
                import pyarrow.parquet as _pq

                t = _pq.read_table(os.path.join(root, e["path"]))
                for fk, p in zip(
                    t.column("__file").to_pylist(),
                    t.column("__pos").to_pylist(),
                ):
                    pos_inline.setdefault(fk, []).append(int(p))
        else:
            orig = tuple(e["cols"])
            cur = tuple(reverse.get(c, c) for c in orig)
            eq.append(
                (
                    orig,
                    cur,
                    e.get("keys"),
                    os.path.join(root, e["path"]) if e.get("path") else None,
                    int(e.get("seq", 0)),
                )
            )
    return pos_inline, [], eq


def _slice_eq_payloads(entry: dict, seq: int, eq_payloads) -> list:
    """The subset of equality-delete payloads that can possibly touch
    one data file: later-sequence only (earlier deletes never apply),
    and for single-column inline payloads, only when the file's stats
    range can hold at least one delete key (the same key-set check the
    scan's IN-list pruning uses). File-backed / multi-column payloads
    stay conservatively. Shipping sliced payloads keeps the partition
    message O(file's own deletes), not O(table's deletes) — at 10^4
    files x 10^2 payloads the unsliced broadcast is the planning
    bottleneck."""
    from ..table.table import prune_entries_by_keys

    out = []
    for pl in eq_payloads or []:
        _, cur, inline_keys, _, dseq = pl
        if int(dseq) <= int(seq):
            continue  # sequence semantics: the delete predates the file
        if inline_keys is None or len(cur) != 1:
            out.append(pl)
            continue
        keys = sorted({k[0] for k in inline_keys if k and k[0] is not None})
        if keys and prune_entries_by_keys([entry], cur[0], keys):
            out.append(pl)
    return out


def _eq_delete_hits(df, seq: int, payloads) -> "object":
    """Boolean row mask: which rows of ``df`` match any equality-delete
    payload with a LATER sequence than the data file's (Iceberg
    sequence semantics). Vectorized pandas hash-merge per payload; a
    NULL delete key matches nothing (the batch anti-join's == never
    matches null; pandas merge would match NaN == NaN, so null-keyed
    delete rows are dropped first)."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    n = len(df)
    m = np.zeros(n, dtype=bool)
    for orig_cols, cur_cols, inline_keys, path, dseq in payloads or []:
        if int(dseq) <= int(seq):
            continue  # sequence semantics: delete precedes this file
        if inline_keys is not None:
            kdf = pd.DataFrame(
                [tuple(k) for k in inline_keys], columns=list(cur_cols)
            ).infer_objects()  # mixed int/float keys -> float64, so the
            # numeric round-trip guard below sees them as numeric
        else:
            kdf = pq.read_table(path).to_pandas()
            kdf = kdf[list(orig_cols)]
            kdf.columns = list(cur_cols)
        kdf = kdf.dropna()
        # type keys through the DATA frame's dtypes (df is aligned to
        # the table schema): inline JSON keys arrive as python objects
        # (timestamps as ISO strings) and parquet-backed keys may be
        # narrower ints — an untyped merge would silently never match.
        # Numeric narrowing must round-trip exactly: astype(int64) on
        # a float key 3.5 would TRUNCATE to 3 and delete the wrong
        # row, so non-round-tripping key rows are dropped instead
        # (a key no data value can equal deletes nothing).
        for c in cur_cols:
            if kdf[c].dtype == df[c].dtype:
                continue
            try:
                if pd.api.types.is_datetime64_any_dtype(df[c].dtype):
                    kdf[c] = pd.to_datetime(kdf[c]).astype(df[c].dtype)
                    continue
                conv = kdf[c].astype(df[c].dtype)
                if pd.api.types.is_numeric_dtype(
                    kdf[c].dtype
                ) and pd.api.types.is_numeric_dtype(df[c].dtype):
                    exact = conv.astype(kdf[c].dtype) == kdf[c]
                    if not exact.all():
                        kdf = kdf[exact]
                        conv = conv[exact]
                kdf[c] = conv
            except (ValueError, TypeError):
                pass  # incomparable: merge matches nothing, rows kept
        merged = df[list(cur_cols)].merge(
            kdf.drop_duplicates(), on=list(cur_cols), how="left", indicator=True
        )
        m |= (merged["_merge"] == "both").to_numpy()
    return m


def _read_masked_batches(partition: MaskedFilePartition, schema: StructType):
    """Executor-side: one data file under MOR delete state -> Arrow
    batches of the SURVIVING rows (positions masked, sequence-guarded
    equality keys anti-joined) aligned to the table schema."""
    import numpy as np
    import pyarrow as pa

    # filters only ever arrive when mask_pos is empty (positions of a
    # filtered read would be renumbered — the planner guards this)
    data_schema = (
        _strip_lineage(schema) if partition.lineage is not None else schema
    )
    df, pos = _cdc_load_pandas(partition.path, data_schema, filters=partition.filters)
    if len(df) == 0:
        return
    keep = np.ones(len(df), dtype=bool)
    if partition.mask_pos:
        keep &= ~np.isin(pos, np.fromiter(set(partition.mask_pos), dtype="int64"))
    keep &= ~_eq_delete_hits(df, partition.seq, partition.mask_eq)
    if partition.lineage is not None:
        # attach BEFORE masking: ids key on the file's original row
        # positions, and surviving rows must keep theirs
        df = _attach_lineage(df, pos, partition.path, partition.lineage)
    out = _apply_fill(df[keep], partition.fill)
    if len(out) == 0:
        return
    yield from pa.Table.from_pandas(
        out, schema=_arrow_schema_for(schema), preserve_index=False
    ).to_batches()


def _cdc_read(partition: CDCPartition, data_schema: StructType, out_schema: StructType):
    """Executor-side CDC materialization for one data file: apply the
    pre-existing delete masks, then either emit the survivors (added /
    removed files) or the rows hit by the window's NEW deletes (common
    files) — vectorized pandas/Arrow throughout, no row loops."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    df, pos = _cdc_load_pandas(partition.path, data_schema)
    n = len(df)
    if n == 0:
        return

    def pos_set(inline, paths) -> set:
        s = set(inline or [])
        for p in paths or []:
            pdf = pq.read_table(p).to_pandas()
            s.update(
                int(x)
                for x in pdf.loc[pdf["__file"] == partition.file_key, "__pos"]
            )
        return s

    def eq_hits(payloads):
        return _eq_delete_hits(df, partition.seq, payloads)

    keep = np.ones(n, dtype=bool)
    masked = pos_set(partition.mask_pos, partition.mask_pos_paths)
    if masked:
        keep &= ~np.isin(pos, np.fromiter(masked, dtype="int64"))
    keep &= ~eq_hits(partition.mask_eq)
    if partition.mode == "survivors":
        out = df[keep]
    else:
        hits = np.zeros(n, dtype=bool)
        emit = pos_set(partition.emit_pos, partition.emit_pos_paths)
        if emit:
            hits |= np.isin(pos, np.fromiter(emit, dtype="int64"))
        hits |= eq_hits(partition.emit_eq)
        out = df[keep & hits]
    if len(out) == 0:
        return
    out = _apply_fill(out, partition.fill).assign(_change_type=partition.change)
    target = _arrow_schema_for(out_schema)
    yield from pa.Table.from_pandas(
        out, schema=target, preserve_index=False
    ).to_batches()


class EngineCDCStreamReader(DataSourceStreamReader):
    """Row-level CDC tail (option("cdc", "true")): each micro-batch is
    ``changes_between(start, end]`` — inserts from files added in the
    window (window-end delete state applied, so dead-on-arrival rows
    never surface), deletes from removed files and from rows of COMMON
    files hit by the window's new MOR deletes. Planning is a manifest
    diff on the driver; every partition is one data file read
    executor-side with its (small) delete payload — the same per-file
    fan-out as the batch reader, CDC at scan cost O(changed files).

    Windows containing a rewrite ('replace'/'overwrite') raise: a
    rewrite moves rows between files, so file identity stops meaning
    row identity — cursor between maintenance commits, the same
    discipline the batch changes_between documents."""

    def __init__(self, root: str, schema: StructType, options=None):
        self.root = root
        self.out_schema = schema  # table schema + _change_type
        self.data_schema = StructType(
            [f for f in schema.fields if f.name != "_change_type"]
        )
        opts = options or {}
        mft = int(opts.get("maxFilesPerTrigger", 0) or 0)
        self.max_files = mft if mft > 0 else None  # same contract as the tail
        self.ref = opts.get("ref")
        self._cursor = _CURSOR_UNSET

    def _table(self):
        from ..table import load_table

        return load_table(self.root)

    def initialOffset(self) -> dict:
        self._cursor = None
        return {"snapshot_id": None}

    def latestOffset(self) -> dict:
        tbl = self._table()
        head = _ref_head(tbl, self.ref)
        return {"snapshot_id": _paced_head(tbl, self._cursor, head, self.max_files)}

    def _payloads(self, tbl, del_entries, renames):
        return _split_delete_payloads(self.root, del_entries, renames)

    def partitions(self, start: dict, end: dict):
        from ..table.table import _renames_of

        a, b = start.get("snapshot_id"), end.get("snapshot_id")
        self._cursor = b  # pacing resumes from this batch's end
        if b is None or a == b:
            return []
        tbl = self._table()
        md = tbl.metadata
        renames = _renames_of(self.data_schema)
        if a is None:
            # Initial batch: emit the CURRENT state as inserts — the
            # from-side is empty, so file identity is irrelevant and
            # neither historical maintenance commits nor expired early
            # history may block stream startup (no lineage walk here).
            return self._diff_segment(tbl, None, md.snapshot(b), renames)
        # main-lineage walk (oldest first); raises when the offset was
        # expired or rolled past — same contract as the append tail
        chain = _lineage_window(md, a, b)

        def preserves(s) -> bool:
            # 'replace' (compaction / z-order / manifest rewrite) never
            # changes the visible-row multiset; 'overwrite' only when
            # the committer stamped it (rewrite_deletes folds already-
            # committed deletes — the deltas were emitted when the
            # delete commits landed)
            return s.operation == "replace" or (
                s.operation == "overwrite"
                and bool(s.summary.get("content-preserving"))
            )

        for s in chain:
            if s.operation == "overwrite" and not preserves(s):
                raise ValueError(
                    "CDC window contains a row-level rewrite "
                    "(delete_rows/upsert overwrite): the rewrite is not "
                    "content-preserving and file identity stops meaning "
                    "row identity — use Table.changes_between's "
                    "content-diff fallback for this window."
                )
        # Segment the window AT content-preserving rewrites: inside a
        # segment file identity is stable, so the endpoint manifest
        # diff is exact; the rewrite itself contributes zero changes
        # (its visible-row multiset is unchanged by definition), so
        #   scan(a) + sum(ins) - sum(del) == scan(b)
        # composes across segments. This is how a standing CDC
        # consumer (the i21 materialized view) survives the
        # bookkeeper's continuous compaction.
        parts: list[CDCPartition] = []
        seg_from = md.snapshot(a)
        prev = seg_from
        for s in chain:
            if preserves(s):
                if prev is not seg_from:
                    parts.extend(self._diff_segment(tbl, seg_from, prev, renames))
                seg_from = prev = s
            else:
                prev = s
        if prev is not seg_from:
            parts.extend(self._diff_segment(tbl, seg_from, prev, renames))
        return parts

    def _diff_segment(self, tbl, from_snap, to_snap, renames) -> list:
        """Endpoint manifest diff over a rewrite-free window: inserts
        from files added (to-side delete state applied, so
        dead-on-arrival rows never surface), deletes from files removed
        (from-side visible rows), and delete hits on common files from
        the window's NEW delete files. All payloads are sliced per
        file (sequence + key-range check) before riding the partition
        message."""
        from ..table import format as fmt

        from_entries = (
            {e["path"]: e for e in tbl.files_of(from_snap)} if from_snap else {}
        )
        to_entries = {e["path"]: e for e in tbl.files_of(to_snap)}
        from_del_manifests = set(from_snap.delete_manifests) if from_snap else set()
        to_dels = tbl.delete_files_of(to_snap)
        new_dels = [
            e
            for m in to_snap.delete_manifests
            if m not in from_del_manifests
            for e in fmt.read_manifest(self.root, m)
        ]
        from_dels = tbl.delete_files_of(from_snap)
        to_pi, to_pp, to_eq = self._payloads(tbl, to_dels, renames)
        fr_pi, fr_pp, fr_eq = self._payloads(tbl, from_dels, renames)
        nw_pi, nw_pp, nw_eq = self._payloads(tbl, new_dels, renames)
        parts: list[CDCPartition] = []
        for p, e in to_entries.items():
            if p in from_entries:
                continue  # common — handled below
            seq = int(e.get("seq", 0))
            parts.append(
                CDCPartition(
                    path=os.path.join(self.root, p),
                    file_key=p,
                    change="insert",
                    mode="survivors",
                    seq=seq,
                    mask_pos=to_pi.get(p, []),
                    mask_pos_paths=to_pp,
                    mask_eq=_slice_eq_payloads(e, seq, to_eq),
                    emit_pos=[],
                    emit_pos_paths=[],
                    emit_eq=[],
                    fill=_fill_of(self.data_schema, e),
                )
            )
        for p, e in from_entries.items():
            if p in to_entries:
                continue
            seq = int(e.get("seq", 0))
            parts.append(
                CDCPartition(
                    path=os.path.join(self.root, p),
                    file_key=p,
                    change="delete",
                    mode="survivors",
                    seq=seq,
                    mask_pos=fr_pi.get(p, []),
                    mask_pos_paths=fr_pp,
                    mask_eq=_slice_eq_payloads(e, seq, fr_eq),
                    emit_pos=[],
                    emit_pos_paths=[],
                    emit_eq=[],
                    fill=_fill_of(self.data_schema, e),
                )
            )
        if new_dels:
            for p, e in to_entries.items():
                if p not in from_entries:
                    continue  # added files already reflect deletes
                seq = int(e.get("seq", 0))
                emit_eq = _slice_eq_payloads(e, seq, nw_eq)
                if not (p in nw_pi or bool(nw_pp) or emit_eq):
                    continue
                parts.append(
                    CDCPartition(
                        path=os.path.join(self.root, p),
                        file_key=p,
                        change="delete",
                        mode="hits",
                        seq=seq,
                        mask_pos=fr_pi.get(p, []),
                        mask_pos_paths=fr_pp,
                        mask_eq=_slice_eq_payloads(e, seq, fr_eq),
                        emit_pos=nw_pi.get(p, []),
                        emit_pos_paths=nw_pp,
                        emit_eq=emit_eq,
                        fill=_fill_of(self.data_schema, e),
                    )
                )
        return parts

    def read(self, partition: CDCPartition):
        if partition is None:
            return  # empty window: Spark calls read(None) once
        yield from _cdc_read(partition, self.data_schema, self.out_schema)

    def commit(self, end: dict) -> None:
        pass

    def stop(self) -> None:
        pass


@dataclass
class MetaRowsPartition(InputPartition):
    rows: list  # metadata-scale row tuples, computed driver-side


def _meta_schema(kind: str) -> StructType:
    """Iceberg-style metadata tables (db.table.snapshots / .files /
    ...) through the connector: option("table", <kind>). Built without
    DDL parsing — DataSource.schema() runs where no SparkSession is
    active."""
    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StringType,
        StructField,
    )

    def st(*fields):
        return StructType([StructField(n, t) for n, t in fields])

    schemas = {
        "snapshots": st(
            ("snapshot_id", LongType()),
            ("parent_id", LongType()),
            ("committed_at_ms", LongType()),
            ("operation", StringType()),
            ("sequence", LongType()),
            ("manifest_count", IntegerType()),
            ("is_current", BooleanType()),
            ("summary", StringType()),
        ),
        "refs": st(
            ("name", StringType()),
            ("type", StringType()),
            ("snapshot_id", LongType()),
        ),
        "files": st(
            ("file_path", StringType()),
            ("partition", LongType()),
            ("record_count", LongType()),
            ("file_size_bytes", LongType()),
            ("seq", LongType()),
            ("spec_id", IntegerType()),
        ),
        "partitions": st(
            ("partition", LongType()),
            ("file_count", LongType()),
            ("record_count", LongType()),
            ("total_bytes", LongType()),
        ),
    }
    if kind not in schemas:
        raise ValueError(
            f"unknown metadata table {kind!r} (have {sorted(schemas)})"
        )
    return schemas[kind]


def _meta_rows(root: str, kind: str, options) -> list[tuple]:
    """Rows of one metadata table, computed from table metadata on the
    driver (manifest JSON at most — commit-log scale, not data scale;
    the distributed variant for million-file tables is
    Table.inspect('files'), which scans manifests as a Spark job)."""
    import json as _json

    from ..table import load_table

    tbl = load_table(root)
    sid = options.get("snapshot_id")
    md, snap, _ = tbl.read_state(
        snapshot_id=None if sid is None else int(sid), ref=options.get("ref") or None
    )
    if kind == "snapshots":
        cur = md.current_snapshot_id
        return [
            (
                s.snapshot_id,
                s.parent_id,
                s.timestamp_ms,
                s.operation,
                s.sequence,
                len(s.manifests),
                s.snapshot_id == cur,
                _json.dumps(s.summary, sort_keys=True),
            )
            for s in md.snapshots
        ]
    if kind == "refs":
        return [
            (k, v["type"], v["snapshot_id"]) for k, v in sorted(md.refs.items())
        ]
    entries = tbl.files_of(snap) if snap is not None else []
    if kind == "files":
        return [
            (
                e["path"],
                e.get("partition"),
                int(e["rows"]),
                int(e["bytes"]),
                int(e.get("seq", 0)),
                int(e.get("spec_id", 0) or 0),
            )
            for e in entries
        ]
    if kind == "partitions":
        agg: dict = {}
        for e in entries:
            k = e.get("partition")
            c, r, b = agg.get(k, (0, 0, 0))
            agg[k] = (c + 1, r + int(e["rows"]), b + int(e["bytes"]))
        return [
            (k, c, r, b)
            for k, (c, r, b) in sorted(
                agg.items(), key=lambda kv: (kv[0] is None, kv[0])
            )
        ]
    raise ValueError(f"unknown metadata table {kind!r}")


class EngineMetaReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, kind: str, options):
        self.schema = schema
        # rows computed at plan time on the driver; the single
        # partition carries them (metadata-scale payload, same pattern
        # as the CDC delete payloads)
        self.rows = _meta_rows(root, kind, options)

    def partitions(self):
        return [MetaRowsPartition(self.rows)] if self.rows else []

    def read(self, partition):
        if partition is None:
            return
        import pandas as pd
        import pyarrow as pa

        df = pd.DataFrame(partition.rows, columns=[f.name for f in self.schema.fields])
        yield from pa.Table.from_pandas(
            df, schema=_arrow_schema_for(self.schema), preserve_index=False
        ).to_batches()


class _WriterBase:
    def __init__(self, root: str, schema: StructType, branch: str | None = None):
        from ..table import load_table

        self.root = root
        self.schema = schema
        self.branch = branch
        # capture the partition spec driver-side; executors get plain data
        tbl = load_table(root)
        self.spec = tbl.metadata.partition_spec
        # the spec-evolution invariant: every entry-writing path stamps
        # the spec its partition values were computed under. Unstamped
        # entries resolve as spec 0 at plan time — after a spec
        # evolution that silently mis-prunes every connector-written
        # file (a hash-bucket value read as a truncate range start).
        self.spec_id = tbl.current_spec_id()

    def write(self, iterator):
        return FilesCommit(_write_task_files(iterator, self.root, self.schema, self.spec))

    def _all_entries(self, messages):
        stamp = {"spec_id": self.spec_id} if self.spec_id else {}
        return [
            {**e, **stamp} for m in messages if m is not None for e in m.entries
        ]

    def _delete_files(self, messages):
        for e in self._all_entries(messages):
            try:
                os.remove(os.path.join(self.root, e["path"]))
            except FileNotFoundError:
                pass


class EngineBatchWriter(_WriterBase, DataSourceArrowWriter):
    def __init__(
        self,
        root: str,
        schema: StructType,
        branch: str | None = None,
        overwrite_mode: str | None = None,
    ):
        super().__init__(root, schema, branch)
        self.overwrite_mode = overwrite_mode

    def commit(self, messages) -> None:
        from ..table import load_table

        entries = self._all_entries(messages)
        tbl = load_table(self.root)
        if self.overwrite_mode is None:
            if entries:
                # option("branch", ...): write-audit-publish through the
                # connector — the commit moves the branch ref, main stays
                # untouched until fast-forward publish
                tbl.append_entries(entries, branch=self.branch)
            return
        # mode("overwrite"): Spark INSERT OVERWRITE. Static replaces
        # the whole table (an empty frame truncates); dynamic replaces
        # only the partitions the written data touches (Spark's
        # partitionOverwriteMode=dynamic semantics; an empty frame
        # replaces nothing).
        if self.overwrite_mode == "dynamic" and self.spec is not None:
            if not entries:
                return
            from ..table.table import _entry_partition_key

            parts = {_entry_partition_key(e) for e in entries}
            tbl.overwrite_entries(entries, partitions=parts)
            return
        tbl.overwrite_entries(entries)

    def abort(self, messages) -> None:
        self._delete_files(messages)


class EngineStreamWriter(_WriterBase, DataSourceStreamArrowWriter):
    def commit(self, messages, batchId: int) -> None:
        from ..table import load_table

        entries = self._all_entries(messages)
        tbl = load_table(self.root)
        last = -1
        for s in tbl.metadata.snapshots:
            bid = s.summary.get("streaming-batch-id")
            if bid is not None:
                last = max(last, int(bid))
        if batchId <= last:  # replayed epoch — already durably committed
            self._delete_files(messages)
            return
        if not entries:
            return
        # batch id rides in the SAME commit as the data (extra_summary):
        # stamping it in a second metadata edit would leave a crash
        # window where the data is durable but unstamped, and the
        # replayed epoch above would double-append.
        tbl.append_entries(entries, extra_summary={"streaming-batch-id": int(batchId)})

    def abort(self, messages, batchId: int) -> None:
        self._delete_files(messages)


class EngineTableDataSource(DataSource):
    """format("engine_table").option("root", <table root>); readers
    also accept option("snapshot_id") / option("ref") for time travel.

    CATALOG reads (round 10): .option("catalog", <catalog root>) +
    .option("name", <table>) resolve the table THROUGH the catalog and
    pin the batch scan to the catalog state's published snapshot —
    plain spark.read sees exactly what Catalog.read serves, including
    none of a direct writer's unpublished head motion. Adding
    .option("catalog_version", N) pins to the state as of catalog
    version N instead (catalog-level time travel: one version number
    names a cross-table-consistent world, so several reads with the
    same catalog_version line up the way a3y/a4i's state_at() reads
    do). Batch-read semantics only: streams tail the commit log at
    head, and writers commit to the table head (publish moves pins)."""

    @classmethod
    def name(cls) -> str:
        return "engine_table"

    def _root(self) -> str:
        cat = self.options.get("catalog")
        if cat:
            name = self.options.get("name")
            if not name:
                raise ValueError(
                    'catalog reads need .option("name", <table name>)'
                )
            if "/" in name or name.startswith("."):
                raise ValueError(f"bad table name {name!r}")
            root = os.path.join(cat, "tables", name)
            if not os.path.isdir(root):
                raise KeyError(f"no table {name!r} in catalog {cat!r}")
            return root
        root = self.options.get("root")
        if not root:
            raise ValueError(
                'engine_table requires .option("root", <table root>) or '
                '.option("catalog", <catalog root>) + .option("name", ...)'
            )
        for o in ("catalog_version", "name"):
            if o in self.options:
                # silently ignoring these would hand back a HEAD scan a
                # user believes is catalog-pinned/time-traveled
                raise ValueError(
                    f'option({o!r}) is a catalog-read option — it needs '
                    '.option("catalog", <catalog root>), not option("root")'
                )
        return root

    def _pinned_options(self) -> dict:
        """Resolve the catalog options to a snapshot-pinned option set
        for the batch reader: the pin comes from the PUBLISHED catalog
        state (current, or state_at(catalog_version)), never the table
        head. A never-published (empty-pinned) table scans empty."""
        from ..table.catalog import Catalog

        for o in ("snapshot_id", "ref", "as_of_timestamp_ms"):
            if o in self.options:
                raise ValueError(
                    "catalog reads pin the snapshot from the catalog "
                    f"state — don't combine with option({o!r})"
                )
        cat = Catalog(self.options["catalog"])
        v = self.options.get("catalog_version")
        st = cat.state_at(int(v)) if v is not None else cat.state()
        name = self.options["name"]
        if name not in st.pins:
            raise KeyError(
                f"no table {name!r} in catalog version {st.version}"
            )
        pin = st.pins[name]
        opts = dict(self.options)
        if pin is None:
            opts["empty_scan"] = "true"
        else:
            opts["snapshot_id"] = str(int(pin))
        return opts

    def _cdc(self) -> bool:
        return str(self.options.get("cdc", "")).lower() in ("true", "1")

    def _lineage(self) -> bool:
        return str(self.options.get("withlineage", "")).lower() in ("true", "1")

    def _meta(self) -> str | None:
        return self.options.get("table")

    def schema(self) -> StructType:
        from pyspark.sql.types import LongType, StringType, StructField

        from ..table import load_table

        if self._meta():
            return _meta_schema(self._meta())
        s = load_table(self._root()).schema()
        if self._cdc():
            s = StructType(
                list(s.fields) + [StructField("_change_type", StringType())]
            )
        elif self._lineage():
            s = StructType(
                list(s.fields)
                + [
                    StructField("_row_id", LongType()),
                    StructField("_last_updated_seq", LongType()),
                ]
            )
        return s

    def reader(self, schema: StructType) -> DataSourceReader:
        if self._meta():
            return EngineMetaReader(self._root(), schema, self._meta(), self.options)
        opts = (
            self._pinned_options() if self.options.get("catalog") else self.options
        )
        return EngineBatchReader(self._root(), schema, opts)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        if self._meta():
            raise ValueError("metadata tables are batch-only")
        if self._lineage():
            raise ValueError("withLineage is batch-only (CDC streams key rows by content)")
        if self._cdc():
            return EngineCDCStreamReader(self._root(), schema, self.options)
        return EngineStreamReader(self._root(), schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        if self._meta():
            raise ValueError("metadata tables are read-only")
        if overwrite and self.options.get("branch"):
            raise ValueError(
                "overwrite through a branch is not supported — stage an "
                "append on the branch (write-audit-publish) instead"
            )
        mode = None
        if overwrite:
            # INSERT OVERWRITE: option("overwriteMode", "dynamic")
            # replaces only the partitions the written data touches
            # (Spark's partitionOverwriteMode=dynamic); default static
            # replaces the whole table, empty frame = truncate
            mode = str(self.options.get("overwritemode", "static")).lower()
            if mode not in ("static", "dynamic"):
                raise ValueError(f"unknown overwriteMode {mode!r}")
        return EngineBatchWriter(
            self._root(), schema, self.options.get("branch"), overwrite_mode=mode
        )

    def streamWriter(self, schema: StructType, overwrite: bool):
        return EngineStreamWriter(self._root(), schema)


def register_engine_datasource(spark) -> None:
    # EngineBatchReader implements pushFilters(); Spark 4 rejects such
    # readers outright (not merely skipping pushdown) unless this conf
    # is on. It is runtime-settable, so registration turns it on.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(EngineTableDataSource)
