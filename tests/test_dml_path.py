"""The DML rewrite path re-plans a lost commit race and leaves no orphans.

delete_rows, update_where, upsert, merge_into, rewrite_deletes and
overwrite_entries plan against one snapshot and commit only if the
table head is still that snapshot. These tests land a rival append
between an op's planning and its commit, then check that the op was
re-planned and applied to the post-rival snapshot, and that no data or
delete file written by the refused attempt is left unreferenced.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.table import create_table, truncate
from java_iceberg_table_spark.table.format import CommitConflict
from java_iceberg_table_spark.table.table import Table

SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
        StructField("ts", LongType(), True),
    ]
)
HIT = [("k", ">=", 195)]  # rows 195..199 before the rival, 195..209 after
KEYS = range(195, 205)  # half before the rival's keys, half inside them


def _df(spark, keys, v):
    return spark.range(keys.start, keys.stop).select(
        F.col("id").alias("k"), F.lit(v).alias("v"), F.col("id").alias("ts")
    )


def _table(spark, root, op):
    tbl = create_table(root, SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, range(0, 100), "x"))
    tbl.append(_df(spark, range(100, 200), "x"))
    if op == "rewrite_deletes":
        tbl.delete_where_mor(spark, [("k", "<", 5)])
    return tbl


def _content(tbl, spark, snapshot_id=None):
    return sorted(
        tuple(r) for r in tbl.scan(spark, snapshot_id=snapshot_id).select("k", "v", "ts").collect()
    )


def _replaced(rows, keys, v):
    return [r for r in rows if r[0] not in keys] + [(k, v, k) for k in keys]


def _pos_delete_targets(tbl, snap):
    return {f for e in tbl.delete_files_of(snap) for f in e["dv"]}


# op -> (run, rows after the op given the rows it saw, expected result
# given the table, the snapshot it saw and that snapshot's rows)
_CASES = {
    "delete_rows": (
        lambda spark, tbl: tbl.delete_rows(spark, HIT),
        lambda rows: [r for r in rows if r[0] < 195],
        lambda tbl, snap, rows: {
            "rewritten_files": len(tbl.plan_files(HIT, snapshot_id=snap.snapshot_id)),
            "deleted_rows": sum(r[0] >= 195 for r in rows),
        },
    ),
    "update_where": (
        lambda spark, tbl: tbl.update_where(spark, HIT, {"v": "'u'"}),
        lambda rows: [(k, "u" if k >= 195 else v, ts) for k, v, ts in rows],
        lambda tbl, snap, rows: {
            "rewritten_files": len(tbl.plan_files(HIT, snapshot_id=snap.snapshot_id)),
            "updated_rows": sum(r[0] >= 195 for r in rows),
        },
    ),
    "upsert": (
        lambda spark, tbl: tbl.upsert(spark, _df(spark, KEYS, "u"), ["k"]),
        lambda rows: _replaced(rows, KEYS, "u"),
        lambda tbl, snap, rows: {
            "rewritten_files": len(
                tbl.plan_files(
                    [("k", ">=", KEYS[0]), ("k", "<=", KEYS[-1])],
                    snapshot_id=snap.snapshot_id,
                )
            ),
            "replaced_rows": sum(r[0] in KEYS for r in rows),
            "upserted_rows": len(KEYS),
        },
    ),
    "merge_into": (
        lambda spark, tbl: tbl.merge_into(spark, _df(spark, KEYS, "m"), ["k"]),
        lambda rows: _replaced(rows, KEYS, "m"),
        lambda tbl, snap, rows: {
            "updated_rows": sum(r[0] in KEYS for r in rows),
            "deleted_rows": 0,
            "inserted_rows": len(KEYS) - sum(r[0] in KEYS for r in rows),
            "source_deleted_rows": 0,
            "source_updated_rows": 0,
        },
    ),
    "rewrite_deletes": (
        lambda spark, tbl: tbl.rewrite_deletes(spark),
        lambda rows: rows,
        lambda tbl, snap, rows: {
            "rewritten_files": len(_pos_delete_targets(tbl, snap)),
            "dropped_delete_files": len(tbl.delete_files_of(snap)),
        },
    ),
    "overwrite_entries": (
        lambda spark, tbl: tbl.overwrite_entries(
            tbl._write_data_files(_df(spark, range(100, 110), "o")), partitions={100}
        ),
        lambda rows: [r for r in rows if not 100 <= r[2] < 200]
        + [(k, "o", k) for k in range(100, 110)],
        lambda tbl, snap, rows: None,
    ),
}


def _race(monkeypatch, spark, rivals):
    """Before each of the op's first ``rivals`` commits, land a rival
    append of 10 new keys (200.., then 210.., ...) with v = 'r'."""
    real = Table._commit_snapshot
    state = {"landed": 0, "busy": False}

    def racing(self, *a, **kw):
        if not state["busy"] and state["landed"] < rivals:
            state["busy"] = True  # the rival's own commit passes through
            lo = 200 + 10 * state["landed"]
            self.append(_df(spark, range(lo, lo + 10), "r"))
            state["busy"] = False
            state["landed"] += 1
        return real(self, *a, **kw)

    monkeypatch.setattr(Table, "_commit_snapshot", racing)
    return state


def _orphans(tbl) -> set[str]:
    """Parquet files under data/ that no snapshot's data or delete
    entries reference."""
    live = set()
    for s in tbl.metadata.snapshots:
        live.update(e["path"] for e in tbl.files_of(s) + tbl.delete_files_of(s) if e.get("path"))
    on_disk = {
        os.path.relpath(p, tbl.root)
        for p in glob.glob(os.path.join(tbl.root, "data", "**", "*.parquet"), recursive=True)
    }
    return on_disk - live


@pytest.mark.parametrize("op", sorted(_CASES))
def test_dml_replans_on_lost_race(spark, tmp_path, monkeypatch, op):
    run, after, expected = _CASES[op]
    tbl = _table(spark, str(tmp_path / "t"), op)
    n_snaps = len(tbl.metadata.snapshots)
    state = _race(monkeypatch, spark, rivals=1)
    result = run(spark, tbl)
    monkeypatch.undo()
    md = tbl.metadata
    assert state["landed"] == 1
    assert len(md.snapshots) == n_snaps + 2  # the rival, then the op once
    post = md.snapshot(md.current_snapshot().parent_id)
    assert post.operation == "append" and post.summary["added-rows"] == 10
    seen = _content(tbl, spark, post.snapshot_id)
    assert result == expected(tbl, post, seen)
    assert _content(tbl, spark) == sorted(after(seen))
    assert not _orphans(tbl)


def test_dml_three_lost_races_raise(spark, tmp_path, monkeypatch):
    """Every attempt loses: the op names itself in CommitConflict,
    commits nothing and removes what each attempt wrote."""
    run = _CASES["upsert"][0]
    tbl = _table(spark, str(tmp_path / "t"), "upsert")
    before = _content(tbl, spark)
    state = _race(monkeypatch, spark, rivals=3)
    with pytest.raises(CommitConflict, match="upsert lost the commit race 3 times"):
        run(spark, tbl)
    monkeypatch.undo()
    assert state["landed"] == 3
    assert tbl.metadata.current_snapshot().operation == "append"
    rivals = [(k, "r", k) for k in range(200, 230)]
    assert _content(tbl, spark) == sorted(before + rivals)
    assert not _orphans(tbl)
