"""Differential fuzz of metadata pruning: random files under random
partition specs, with footer stats rendered the way the write path
renders them, against random predicates. The row-level truth is a plain
Python evaluation of each predicate over each file's rows.

Properties:
- ``Table._entry_may_match`` never rejects a file that holds a matching
  row (pruning is conservative);
- every file ``Table._entry_certainly_matches`` accepts holds only
  non-null rows that match (the count pushdown is exact).

Distributed planning runs the same ``_entry_may_match`` on executors,
so the driver predicate is the only one to fuzz, on the filters
``plan_files`` hands it (``_pruning_filters``). Bounds are rendered by
``stats.column_bounds``, the one bound function of both stats
producers: strings longer than its 16 characters that share long
prefixes get truncated bounds, and binary columns none. Some files
instead carry the full per-value bounds of manifests written before
truncation, binary ones as UTF-8 text or hex. Binary columns take both
bytes and string literals (Spark compares a string as its UTF-8
bytes). Some files carry a Bloom filter over one column, built from
their values as a connector write builds it
(``bloom_index.rendered_keys`` / ``bloom_of_keys``), so the ``=`` and
IN-list probes are fuzzed too. Integer columns also take a NaN
literal, which Spark orders above every value.
"""

from __future__ import annotations

import datetime as dt
import json

import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import (
    BinaryType,
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from java_iceberg_table_spark.table import (
    bucket,
    composite,
    day,
    hour,
    identity,
    month,
    truncate,
    year,
)
from java_iceberg_table_spark.table.bloom_index import bloom_of_keys, rendered_keys
from java_iceberg_table_spark.table.stats import _plain, column_bounds
from java_iceberg_table_spark.table.table import Table, _pruning_filters
from java_iceberg_table_spark.table.transforms import CompositeTransform

COLUMNS = ("n", "s", "ts", "d", "b")
SCHEMA = StructType(
    [
        StructField(c, ty)
        for c, ty in zip(COLUMNS, (LongType(), StringType(), TimestampType(), DateType(), BinaryType()))
    ]
)
T0 = dt.datetime(2023, 12, 30)
PLUS_ONE = dt.timezone(dt.timedelta(hours=1))
TOP = "\U0010ffff"  # the code point a truncated upper bound cannot bump

ints = st.integers(-20, 20)
strs = st.text(alphabet="07ae_n", max_size=4)
# around the 16-character truncation: long shared prefixes, and one of
# 16 top code points, which leaves no upper bound at all
long_strs = st.builds(
    lambda p, s: p + s,
    st.sampled_from(["a" * 15, "a" * 16, "a" * 17, "0" * 14 + "7a", "a" * 15 + TOP, TOP * 16]),
    st.text(alphabet="07ae_n" + TOP, max_size=4),
)
# binary values that do and do not decode as UTF-8 (the two renderings
# of older manifests), some whose hex sorts against their text unlike
# the bytes do
binaries = st.builds(
    lambda p, s: p + s,
    st.sampled_from([b"", b"hello", b"g", b"\xff", b"a\xc3"]),
    st.sampled_from([b"", b"\x00", b"a", b"\xa9", b"\xff"]),
)
# instants clustered around month/day/hour boundaries, some fractional
timestamps = st.builds(
    lambda days, hours, minutes, micros: T0
    + dt.timedelta(days=days, hours=hours, minutes=minutes, microseconds=micros),
    st.integers(0, 40),
    st.sampled_from([0, 1, 23]),
    st.sampled_from([0, 30, 59]),
    st.sampled_from([0, 500_000]),
)
dates = st.builds(lambda days: T0.date() + dt.timedelta(days=days), st.integers(0, 40))
VALUES = {"n": ints, "s": strs | long_strs, "ts": timestamps, "d": dates, "b": binaries}
# per bloomable column: the rendering a bloom records, the Arrow type
BLOOMS = {
    "n": ({"type": "bigint"}, pa.int64()),
    "s": ({"type": "string"}, pa.string()),
    "ts": ({"type": "timestamp", "tz": "UTC"}, pa.timestamp("us", "UTC")),
    "d": ({"type": "date"}, pa.date32()),
}

rows_st = st.lists(
    st.fixed_dictionaries({c: st.none() | v for c, v in VALUES.items()}),
    min_size=1,
    max_size=24,
)

single_specs = st.one_of(
    st.just(identity("n")),
    st.builds(truncate, st.just("n"), st.sampled_from([1, 3, 10])),
    st.builds(bucket, st.sampled_from(["n", "s"]), st.sampled_from([2, 4])),
    st.builds(lambda f, c: f(c), st.sampled_from([day, month, year]), st.sampled_from(["ts", "d"])),
    st.just(hour("ts")),
)
specs_st = st.one_of(
    st.none(),
    single_specs,
    st.builds(composite, single_specs, single_specs),
)


def _part(t, row):
    """The partition value a writer stamps for one row (None when the
    source value is null)."""
    v = row[t.source_column]
    return None if v is None else t.apply_py(v)


def _entry(path, t, part, rows, drop, legacy, bloom_col):
    """A manifest entry as the driver parse yields it: bounds rendered
    by stats.column_bounds (``legacy``: the min and max of each value's
    full rendering, as manifests written before truncation hold them),
    the columns in ``drop`` without stats, a Bloom filter over
    ``bloom_col`` (if any), JSON round-tripped."""
    cols = {}
    for c in COLUMNS:
        if c in drop:
            continue
        vals = [r[c] for r in rows if r[c] is not None]
        nulls = len(rows) - len(vals)
        if not vals:
            cols[c] = {"min": None, "max": None, "nulls": nulls}
        elif legacy:
            plain = [_plain(v) for v in vals]
            cols[c] = {"min": min(plain), "max": max(plain), "nulls": nulls}
        else:
            cols[c] = {**column_bounds(min(vals), max(vals)), "nulls": nulls}
    e = {"path": path, "rows": len(rows), "bytes": 1, "columns": cols}
    if bloom_col is not None:
        rendering, ty = BLOOMS[bloom_col]
        rendering = {"column": bloom_col, **rendering}
        keys = rendered_keys(rendering, pa.array([r[bloom_col] for r in rows], ty))
        e["bloom"] = bloom_of_keys(rendering, keys, len(rows))
    if isinstance(t, CompositeTransform):
        e["partition_fields"] = list(part)
    else:
        e["partition"] = part
    return json.loads(json.dumps(e))


def _literals(col, rows):
    """Literals drawn from, or next to, the rows' values of ``col``,
    including cross-type ones (float and NaN against int, DATE and ISO
    strings, with either separator or a zone, against timestamps,
    midnight and off-midnight datetimes and strings against dates)."""
    seen = [r[col] for r in rows if r[col] is not None]
    near = []
    for v in seen:
        if col == "n":
            near += [v, v - 1, v + 1, v + 0.5, v - 0.5, float(v), float("nan")]
        elif col == "s":
            near += [v, v[:1], v[:-1] or "0", v + "a", v[:16], v[:16] + TOP, v[:17]]
        elif col == "b":
            near += [v, v[:-1], v + b"\x00", v.hex(), v.decode("utf-8", "replace"), "g"]
        elif col == "ts":
            floor_h = v.replace(minute=0, second=0, microsecond=0)
            near += [
                v,
                v.date(),
                v.isoformat(),
                v.isoformat(sep=" "),
                v.date().isoformat(),
                v.replace(tzinfo=dt.timezone.utc).astimezone(PLUS_ONE).isoformat(),
                floor_h,
                floor_h + dt.timedelta(hours=1),
                v + dt.timedelta(microseconds=1),
                v - dt.timedelta(microseconds=1),
            ]
        else:
            midnight = dt.datetime.combine(v, dt.time())
            near += [
                v,
                v - dt.timedelta(days=1),
                v + dt.timedelta(days=1),
                midnight,
                midnight + dt.timedelta(hours=5, microseconds=1),
                midnight - dt.timedelta(microseconds=1),
                v.isoformat(),
                (midnight + dt.timedelta(hours=5)).isoformat(sep=" "),
            ]
    return st.sampled_from(near) if near else VALUES[col]


def _coerce(v, lit):
    """``v`` and ``lit`` in one domain, as Spark compares them: a DATE
    row against a datetime literal is midnight of its day, a DATE or an
    ISO string against a timestamp means that instant, and a string
    against a DATE its date part."""
    if isinstance(lit, str) and isinstance(v, dt.date):
        if not isinstance(v, dt.datetime):
            return v, dt.date.fromisoformat(lit[:10])
        p = dt.datetime.fromisoformat(lit)
        if p.tzinfo is not None:
            p = p.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v, p
    if isinstance(lit, dt.datetime) and not isinstance(v, dt.datetime):
        v = dt.datetime.combine(v, dt.time())
    if isinstance(v, dt.datetime) and not isinstance(lit, dt.datetime):
        return v, dt.datetime.combine(lit, dt.time())
    return v, lit


def _row_matches(v, op, lit) -> bool:
    if v is None:
        return False
    if op == "in":
        return any(_row_matches(v, "=", x) for x in lit)
    if op == "like_prefix":
        return v.startswith(lit)
    if isinstance(v, bytes) and isinstance(lit, str):
        lit = lit.encode("utf-8")
    v, lit = _coerce(v, lit)
    if lit != lit:  # NaN: Spark orders it above every value
        return op in ("<", "<=")
    return {
        "=": v == lit,
        "<": v < lit,
        "<=": v <= lit,
        ">": v > lit,
        ">=": v >= lit,
    }[op]


@st.composite
def predicates(draw, rows):
    col = draw(st.sampled_from(COLUMNS))
    ops = ["=", "<", "<=", ">", ">=", "in"] + (["like_prefix"] if col == "s" else [])
    op = draw(st.sampled_from(ops))
    lit = _literals(col, rows)
    if op == "like_prefix":
        lit = lit | strs
    if op == "in":
        return col, op, tuple(draw(st.lists(lit, min_size=1, max_size=3)))
    return col, op, draw(lit)


@given(data=st.data(), t=specs_st, rows=rows_st)
@settings(
    max_examples=1000,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
def test_pruning_is_conservative_and_certainty_exact(data, t, rows):
    fields = t.fields if isinstance(t, CompositeTransform) else ([t] if t else [])
    groups: dict = {}
    for r in rows:
        key = tuple(_part(f, r) for f in fields)
        groups.setdefault(key, []).append(r)
    files = []
    for i, (key, grp) in enumerate(groups.items()):
        cut = data.draw(st.integers(1, len(grp)), label="split")
        for j, chunk in enumerate((grp[:cut], grp[cut:])):
            if not chunk:
                continue
            drop = data.draw(st.sets(st.sampled_from(COLUMNS), max_size=2), label="drop")
            legacy = data.draw(st.booleans(), label="legacy")
            bloom_col = data.draw(st.sampled_from((None, *BLOOMS)), label="bloom")
            part = key if isinstance(t, CompositeTransform) else (key[0] if key else None)
            files.append((_entry(f"f{i}_{j}", t, part, chunk, drop, legacy, bloom_col), chunk))

    for flt in data.draw(st.lists(predicates(rows), min_size=1, max_size=6), label="filters"):
        col, op, lit = flt
        (pruned,) = _pruning_filters([flt], SCHEMA)
        for e, chunk in files:
            hits = [_row_matches(r[col], op, lit) for r in chunk]
            if any(hits):
                assert Table._entry_may_match(e, t, pruned), (flt, e, chunk)
            if Table._entry_certainly_matches(e, t, pruned):
                assert all(hits), (flt, e, chunk)
