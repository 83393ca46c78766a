"""The read path resolves ONE snapshot per read.

Every table read picks its snapshot and schema once (Table.read_state)
and plans, applies merge-on-read deletes and filters against that same
snapshot. These tests commit a rival change in the middle of a read and
check that the result is the content of a single snapshot; they also
pin the residual filter to the same leaf vocabulary planning accepts,
and guard that the read decisions stay written once.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.table import create_table, load_table

SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
    ]
)


def _rows(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.concat(F.lit("a"), F.col("id").cast("string")).alias("v")
    )


def _keys(df) -> list[int]:
    return sorted(r["k"] for r in df.select("k").collect())


def _rewrite_deletes(spark, root):
    """Fold the pending MOR deletes into the data files."""
    assert load_table(root).rewrite_deletes(spark)["rewritten_files"] > 0


def _delete_then_append(spark, root):
    """An equality delete of one key, then an append of 10 new keys."""
    rival = load_table(root)
    rival.delete_eq_mor(spark, spark.createDataFrame([(3,)], "k long"), ["k"])
    rival.append(_rows(spark, 100, 110))


# (read, rival, when): the rival lands right before or right after the
# read plans its files
_CASES = {
    "scan": (_rewrite_deletes, "after"),
    "count_rows": (_delete_then_append, "before"),
    "scan_with_lineage": (_rewrite_deletes, "after"),
    "scan_runtime_filtered": (_delete_then_append, "before"),
}


@pytest.mark.parametrize("read", sorted(_CASES))
def test_read_sees_one_snapshot(spark, tmp_path, read):
    """A rival commit racing the read's planning must leave the result
    equal to ONE snapshot's content. Mixing them shows as a folded
    delete coming back (planned before a rewrite_deletes, masked after
    it: 40 rows where both snapshots hold 39) or as a count of files
    planned after a delete + append with the deletes of before (50 rows
    where the snapshots hold 40 and 49)."""
    rival, when = _CASES[read]
    root = str(tmp_path / "t")
    tbl = create_table(root, SCHEMA)
    tbl.append(_rows(spark, 0, 40))
    if rival is _rewrite_deletes:
        tbl.delete_where_mor(spark, [("k", "=", 7)])
    before = tbl.metadata.current_snapshot().snapshot_id

    plan_files = tbl.plan_files
    fired = []

    def racing_plan_files(*args, **kwargs):
        if when == "before" and not fired:
            fired.append(rival(spark, root))
        out = plan_files(*args, **kwargs)
        if when == "after" and not fired:
            fired.append(rival(spark, root))
        return out

    tbl.plan_files = racing_plan_files
    if read == "count_rows":
        got = tbl.count_rows(spark)["rows"]
    elif read == "scan_runtime_filtered":
        keys = spark.range(0, 200).select(F.col("id").alias("k"))
        got = _keys(tbl.scan_runtime_filtered(spark, keys, "k")[0])
    else:
        got = _keys(getattr(tbl, read)(spark))
    assert fired, "the rival change never landed"
    del tbl.plan_files

    after = tbl.metadata.current_snapshot().snapshot_id
    assert after != before
    contents = [_keys(tbl.scan(spark, snapshot_id=s)) for s in (before, after)]
    if read == "count_rows":
        assert got in [len(c) for c in contents], (got, [len(c) for c in contents])
    else:
        assert got in contents, (got, contents)


_LEAVES = {
    "in": ("v", "in", ["a3", "a7", "a17", "zz"]),
    "like_prefix": ("v", "like_prefix", "a1"),
}


def _brute_force(leaf, rows) -> list[int]:
    col, op, val = leaf
    if op == "in":
        return sorted(r["k"] for r in rows if r[col] in val)
    return sorted(r["k"] for r in rows if r[col].startswith(val))


@pytest.mark.parametrize(
    "read,leaf",
    [
        ("scan", "in"),
        ("scan", "like_prefix"),
        ("scan_with_lineage", "in"),
        ("scan_with_lineage", "like_prefix"),
        ("count_rows", "in"),
    ],
)
def test_residual_accepts_every_planned_leaf(spark, tmp_path, read, leaf):
    """The residual filter takes the same leaves plan_files prunes with
    (``in`` lists and ``like_prefix``), including on a table with MOR
    deletes, where count_rows counts by scanning."""
    root = str(tmp_path / "t")
    tbl = create_table(root, SCHEMA)
    tbl.append(_rows(spark, 0, 40))
    tbl.delete_where_mor(spark, [("k", "=", 7)])
    flt = _LEAVES[leaf]
    expect = _brute_force(flt, tbl.scan(spark).collect())
    assert 7 not in expect and expect
    if read == "count_rows":
        assert tbl.count_rows(spark, [flt])["rows"] == len(expect)
    else:
        assert _keys(getattr(tbl, read)(spark, [flt])) == expect


def _src(*parts) -> str:
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "java_iceberg_table_spark",
    )
    with open(os.path.join(pkg, *parts)) as f:
        return f.read()


def test_one_read_path():
    """The read decisions are written once: table.py has one mixed
    parquet/avro file reader and one comparison-operator table, and
    the inspection tables, the catalog and the connector pick their
    snapshot through Table.read_state."""
    table_py = _src("table", "table.py")
    assert table_py.count("read_avro_df(") == 1
    assert table_py.count("_metadata.row_index") == 1
    assert table_py.count('"__lt__"') == 1
    assert re.search(r'_OPS = \{\s*"<": "__lt__"', table_py)
    for parts in (
        ("table", "inspect.py"),
        ("table", "catalog.py"),
        ("sources", "engine_datasource.py"),
    ):
        src = _src(*parts)
        for call in ("snapshot_by_id(", "snapshot_as_of("):
            assert call not in src, f"{parts[-1]} calls {call}: use Table.read_state"
