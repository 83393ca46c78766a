"""Per-file column statistics from Parquet footers.

The reference captures DataFile metrics at write time (Writer.java:107)
and recovers them from footers when it didn't write the file itself
(StorageQueueBasedBookkeeper.java:63-66, ParquetUtil.fileMetrics). This
module is the footer path: pyarrow reads only footer metadata — no data
pages — so stats collection is O(row groups), not O(rows).

Bounds follow Iceberg's default metrics mode, ``truncate(16)``
(https://iceberg.apache.org/docs/latest/configuration/#write-properties):
``column_bounds`` is the one place a manifest bound is rendered, for
the footer path here and the in-memory path (avro_io.arrow_stats).
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any

import pyarrow.parquet as pq

# string and binary bounds keep this many characters of their rendering
TRUNCATE_LENGTH = 16


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


def _plain(v: Any) -> Any:
    """JSON-safe exact representation of a footer min/max value.
    Temporal values render as NAIVE-UTC isoformat: pyarrow hands back
    tz-aware datetimes for UTC-adjusted int64 timestamps, and a
    '+00:00' suffix would break boundary equality against
    predicate/key renderings (naive '…T11:15:00' sorts BEFORE
    '…T11:15:00+00:00', so a key equal to a file's min would prune the
    file that holds it)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


def column_bounds(mn: Any, mx: Any) -> dict:
    """The manifest bounds ``{min, max}`` of one column from its raw
    minimum and maximum value. Numbers and the ISO renderings of dates
    and timestamps are exact. String bounds keep TRUNCATE_LENGTH
    characters: the lower bound is the prefix, the upper bound the
    prefix with its last character incremented (absent when none can
    be), so both stay conservative. A column with a truncated bound is
    marked ``truncated``. Binary columns get no bounds: a str bound
    cannot stand for bytes in every literal's order (a string literal
    compares as its UTF-8 bytes, a bytes literal not at all)."""
    if mn is None or isinstance(mn, bytes):
        return {"min": None, "max": None}
    if not isinstance(mn, str):
        return {"min": _plain(mn), "max": _plain(mx)}
    out = {"min": mn[:TRUNCATE_LENGTH], "max": mx}
    if len(mx) > TRUNCATE_LENGTH:
        out["max"] = _prefix_upper(mx[:TRUNCATE_LENGTH])
    if len(mn) > TRUNCATE_LENGTH or len(mx) > TRUNCATE_LENGTH:
        out["truncated"] = True
    return out


def metadata_stats(md: "pq.FileMetaData", nbytes: int) -> dict:
    """{rows, bytes, columns: {name: {min, max, nulls}}} of one parquet
    file from its footer ``md`` (opened from the file, or the one its
    writer returned) and its size, with the footer's raw minimum and
    maximum (None when absent), for callers that derive values from
    them instead of pruning with them. ``bounded`` renders them as
    manifest bounds."""
    cols: dict[str, dict] = {}
    poisoned: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None:
                continue
            name = col.path_in_schema
            acc = cols.setdefault(name, {"min": None, "max": None, "nulls": 0})
            if st.has_min_max:
                mn, mx = st.min, st.max
                # NaN poisons every bound comparison (NaN < x and
                # NaN > x are both False, so a NaN max silently prunes
                # files that DO match — Spark/DuckDB order NaN above
                # all values). A row group containing NaN gets no
                # usable bound: drop the column's stats entirely for
                # this file (absent stats = never pruned).
                if mn != mn or mx != mx:
                    acc["min"] = acc["max"] = None
                    poisoned.add(name)
                elif name not in poisoned:
                    if acc["min"] is None or mn < acc["min"]:
                        acc["min"] = mn
                    if acc["max"] is None or mx > acc["max"]:
                        acc["max"] = mx
            acc["nulls"] += st.null_count or 0
    return {
        "rows": md.num_rows,
        "bytes": nbytes,
        "columns": cols,
    }


def bounded(stats: dict) -> dict:
    """``metadata_stats`` output with every column's bounds rendered by
    ``column_bounds``: the manifest entry's statistics."""
    return {
        **stats,
        "columns": {
            name: {**column_bounds(c["min"], c["max"]), "nulls": c["nulls"]}
            for name, c in stats["columns"].items()
        },
    }


def file_stats(path: str) -> dict:
    """{rows, bytes, columns: {name: {min, max, nulls}}} for one file,
    its footer read from the file."""
    return bounded(metadata_stats(pq.read_metadata(path), os.path.getsize(path)))
