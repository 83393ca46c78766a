"""Row-level copy-on-write ops: delete_rows (arbitrary predicate) and
upsert (MERGE). Stats must prune the rewrite set — untouched files are
carried by reference, byte-identical paths — and commits are single
atomic 'overwrite' snapshots (time travel sees the pre-image)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from java_iceberg_table_spark.table import create_table, truncate


def _mk_partitioned(spark, tmp_path):
    tbl = create_table(
        str(tmp_path / "t"),
        spark.createDataFrame([(1, 10, "x")], "id long, bucket long, v string").schema,
        partition=truncate("bucket", 100),
    )
    rows = [(i, (i % 3) * 100 + i % 50, f"v{i}") for i in range(300)]
    tbl.append(spark.createDataFrame(rows, "id long, bucket long, v string"))
    return tbl, rows


def test_delete_rows_arbitrary_predicate(spark, tmp_path):
    tbl, rows = _mk_partitioned(spark, tmp_path)
    stats = tbl.delete_rows(spark, [("id", "<", 100), ("bucket", ">=", 100)])
    expect_deleted = sum(1 for (i, b, _) in rows if i < 100 and b >= 100)
    assert stats["deleted_rows"] == expect_deleted
    got = {r["id"] for r in tbl.scan(spark).collect()}
    want = {i for (i, b, _) in rows if not (i < 100 and b >= 100)}
    assert got == want
    assert tbl.metadata.current_snapshot().operation == "overwrite"


def test_delete_rows_prunes_rewrite_set(spark, tmp_path):
    tbl, rows = _mk_partitioned(spark, tmp_path)
    before = {e["path"]: e for e in tbl.current_files()}
    # bucket >= 200 touches only partition bucket 200
    tbl.delete_rows(spark, [("bucket", ">=", 200)])
    after = {e["path"]: e for e in tbl.current_files()}
    untouched_before = {p for p, e in before.items() if e["partition"] != 200}
    assert untouched_before <= set(after)  # carried by reference, not rewritten
    assert all(e["partition"] != 200 for e in after.values())


def test_delete_rows_null_predicate_keeps_row(spark, tmp_path):
    tbl = create_table(
        str(tmp_path / "tn"),
        spark.createDataFrame([(1, 5)], "id long, x long").schema,
    )
    tbl.append(
        spark.createDataFrame([(1, 5), (2, None), (3, 50)], "id long, x long")
    )
    tbl.delete_rows(spark, [("x", ">", 10)])
    got = sorted(r["id"] for r in tbl.scan(spark).collect())
    assert got == [1, 2]  # NULL predicate -> row kept (SQL DELETE semantics)


def test_upsert_updates_and_inserts(spark, tmp_path):
    tbl, rows = _mk_partitioned(spark, tmp_path)
    pre_snap = tbl.metadata.current_snapshot().snapshot_id
    updates = spark.createDataFrame(
        [(5, 105, "NEW5"), (7, 107, "NEW7"), (1000, 100, "INS")],
        "id long, bucket long, v string",
    )
    stats = tbl.upsert(spark, updates, ["id"])
    assert stats["upserted_rows"] == 3
    assert stats["replaced_rows"] == 2  # ids 5 and 7 existed
    vals = {r["id"]: r["v"] for r in tbl.scan(spark).collect()}
    assert vals[5] == "NEW5" and vals[7] == "NEW7" and vals[1000] == "INS"
    assert len(vals) == len(rows) + 1
    # time travel: the pre-upsert image is intact
    old = {r["id"]: r["v"] for r in tbl.scan(spark, snapshot_id=pre_snap).collect()}
    assert old[5] == "v5" and 1000 not in old


def test_upsert_prunes_by_key_bounds(spark, tmp_path):
    tbl = create_table(
        str(tmp_path / "tk"),
        spark.createDataFrame([(1, "a")], "id long, v string").schema,
    )
    tbl.append(spark.createDataFrame([(i, f"v{i}") for i in range(100)], "id long, v string"))
    tbl.append(spark.createDataFrame([(i, f"v{i}") for i in range(1000, 1100)], "id long, v string"))
    before = {e["path"] for e in tbl.current_files()}
    low_files = {
        e["path"] for e in tbl.current_files() if e["columns"]["id"]["max"] < 1000
    }
    stats = tbl.upsert(
        spark,
        spark.createDataFrame([(1050, "UP")], "id long, v string"),
        ["id"],
    )
    after = {e["path"] for e in tbl.current_files()}
    assert low_files <= after  # files outside the key bounds untouched
    vals = {r["id"]: r["v"] for r in tbl.scan(spark).collect()}
    assert vals[1050] == "UP" and len(vals) == 200


def test_upsert_into_empty_table(spark, tmp_path):
    tbl = create_table(
        str(tmp_path / "te"),
        spark.createDataFrame([(1, "a")], "id long, v string").schema,
    )
    stats = tbl.upsert(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), ["id"]
    )
    assert stats["upserted_rows"] == 2 and stats["rewritten_files"] == 0
    assert tbl.scan(spark).count() == 2


def test_sorted_compaction_tightens_stats(spark, tmp_path):
    """compact(sort_by=...) range-partitions the rewrite: output files
    cover disjoint key ranges, so min/max skipping prunes to one file
    for a point lookup (the cluster-by analogue)."""
    tbl = create_table(
        str(tmp_path / "ts"),
        spark.createDataFrame([(1, "a")], "id long, v string").schema,
    )
    # shuffled appends: every file's id range spans ~the whole domain
    import random

    rng = random.Random(7)
    ids = list(range(4000))
    rng.shuffle(ids)
    for i in range(8):
        chunk = ids[i * 500 : (i + 1) * 500]
        tbl.append(
            spark.createDataFrame([(x, f"v{x}") for x in chunk], "id long, v string").coalesce(1)
        )
    wide = tbl.plan_files([("id", "=", 123)])
    assert len(wide) == 8  # every unsorted file may hold id=123
    stats = tbl.compact_data_files(spark, target_file_bytes=16 * 1024, sort_by=["id"])
    assert stats["new_files"] >= 2
    entries = tbl.current_files()
    ranges = sorted(
        (e["columns"]["id"]["min"], e["columns"]["id"]["max"]) for e in entries
    )
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint
    assert len(tbl.plan_files([("id", "=", 123)])) == 1
    assert tbl.scan(spark).count() == 4000


def test_upsert_multi_bucket_single_write_job(spark, tmp_path):
    """A multi-bucket upsert must rewrite all touched buckets in ONE
    partitioned write job, not a driver-serialized job-per-bucket loop
    (at 200 touched buckets the loop shape runs 200 Spark jobs)."""
    tbl = create_table(
        str(tmp_path / "tw"),
        spark.createDataFrame([(1, 10, "x")], "id long, bucket long, v string").schema,
        partition=truncate("bucket", 100),
    )
    n_buckets = 12
    rows = [(i, (i % n_buckets) * 100, f"v{i}") for i in range(600)]
    tbl.append(spark.createDataFrame(rows, "id long, bucket long, v string"))
    touched = {e["partition"] for e in tbl.current_files()}
    assert len(touched) == n_buckets
    updates = spark.createDataFrame(
        [(i, (i % n_buckets) * 100, "UP") for i in range(0, 600, 7)],
        "id long, bucket long, v string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("upsert-single-job", "multi-bucket upsert", False)
    try:
        tbl.upsert(spark, updates, ["id"])
    finally:
        sc.setJobGroup(None, None, False)
    jobs = sc.statusTracker().getJobIdsForGroup("upsert-single-job")
    # budget: updates-bounds agg + rewrite write + insert write + a
    # few broadcast/AQE helper jobs — but NOT O(n_buckets): the old
    # per-bucket loop ran 12 write jobs here before the fixed costs
    assert len(jobs) <= 10, f"expected O(1) jobs, got {len(jobs)}"
    got = {(r["id"], r["v"]) for r in tbl.scan(spark).collect()}
    for i in range(600):
        expect_v = "UP" if i % 7 == 0 else f"v{i}"
        assert (i, expect_v) in got


def test_merge_into_clauses(spark, tmp_path):
    """MERGE INTO, merge-on-read row-delta: DELETE clause first, then
    conditional UPDATE SET (expressions over t./s.), then INSERT for
    unmatched — all landing as ONE atomic 'merge' snapshot whose
    eq-delete (seq N) masks superseded versions in files at seq < N
    while the replacement rows (also seq N) survive."""
    root = str(tmp_path / "mi")
    df = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(100)], "k long, v string, x double"
    )
    tbl = create_table(root, df.schema, partition=truncate("k", 25))
    tbl.append(df)
    src = spark.createDataFrame(
        [
            (i, f"s{i}", float(i) + 1000)
            for i in [*range(10, 20), *range(90, 95), *range(200, 205)]
        ],
        "k long, v string, x double",
    )
    res = tbl.merge_into(
        spark,
        src,
        ["k"],
        update={"x": "s.x", "v": "s.v"},
        delete_condition="s.k >= 90",
        insert=True,
    )
    assert res == {"updated_rows": 10, "deleted_rows": 5, "inserted_rows": 5, "source_deleted_rows": 0, "source_updated_rows": 0}
    out = {r["k"]: (r["v"], r["x"]) for r in tbl.scan(spark).collect()}
    assert len(out) == 100
    assert out[10] == ("s10", 1010.0)  # updated
    assert 90 not in out  # deleted
    assert out[95] == ("v95", 95.0)  # matched rows failing both clauses kept
    assert out[200] == ("s200", 1200.0)  # inserted
    assert out[5] == ("v5", 5.0)  # untouched
    # ONE snapshot; no data file rewritten (MOR: old files carried)
    assert [s.operation for s in tbl.snapshots()] == ["append", "merge"]
    # time travel sees the pre-merge image
    pre = tbl.snapshots()[0].snapshot_id
    assert tbl.scan(spark, snapshot_id=pre).count() == 100
    assert {
        r["k"]: r["x"] for r in tbl.scan(spark, snapshot_id=pre).collect()
    }[10] == 10.0


def test_merge_into_update_expressions_both_sides(spark, tmp_path):
    """Partial UPDATE SET with arithmetic over both sides; unlisted
    columns keep the target value."""
    root = str(tmp_path / "mi2")
    df = spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k long, v string, x double")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    src = spark.createDataFrame([(1, "zzz", 2.5)], "k long, v string, x double")
    res = tbl.merge_into(spark, src, ["k"], update={"x": "t.x + s.x"}, insert=False)
    assert res == {"updated_rows": 1, "deleted_rows": 0, "inserted_rows": 0, "source_deleted_rows": 0, "source_updated_rows": 0}
    out = {r["k"]: (r["v"], r["x"]) for r in tbl.scan(spark).collect()}
    assert out[1] == ("a", 3.5)  # v kept from target
    assert out[2] == ("b", 2.0)


def test_merge_into_cdc_window(spark, tmp_path):
    """changes_between across a merge commit runs on the CHEAP
    manifest-diff path (no full-content diff): inserts are the merge's
    new rows, deletes the superseded versions — and
    scan(pre) + ins - del == scan(post)."""
    root = str(tmp_path / "mi3")
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "k long, x double"
    )
    tbl = create_table(root, df.schema)
    s1 = tbl.append(df)
    src = spark.createDataFrame(
        [(5, 500.0), (6, 600.0), (100, 1.0)], "k long, x double"
    )
    tbl.merge_into(spark, src, ["k"], update="all", insert=True)
    ch = tbl.changes_between(spark, s1.snapshot_id).toPandas()
    ins = {(r.k, r.x) for r in ch.itertuples() if r._3 == "insert"}
    dels = {(r.k, r.x) for r in ch.itertuples() if r._3 == "delete"}
    assert ins == {(5, 500.0), (6, 600.0), (100, 1.0)}
    assert dels == {(5, 5.0), (6, 6.0)}


def test_merge_into_empty_and_conflicting(spark, tmp_path):
    """Empty source is a no-op (no snapshot); merges refuse clause-less
    calls; a later eq-delete composes with the merge's row versions."""
    root = str(tmp_path / "mi4")
    df = spark.createDataFrame([(1, 1.0)], "k long, x double")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    res = tbl.merge_into(spark, df.filter("k < 0"), ["k"])
    assert res == {"updated_rows": 0, "deleted_rows": 0, "inserted_rows": 0, "source_deleted_rows": 0, "source_updated_rows": 0}
    assert len(tbl.snapshots()) == 1
    with pytest.raises(ValueError, match="no clauses"):
        tbl.merge_into(spark, df, ["k"], update=None, insert=False)
    with pytest.raises(ValueError, match="not in table schema"):
        tbl.merge_into(spark, df, ["nope"])
    # merge then eq-delete the merged key: later sequence wins
    tbl.merge_into(
        spark,
        spark.createDataFrame([(1, 9.0), (2, 2.0)], "k long, x double"),
        ["k"],
        update="all",
    )
    tbl.delete_eq_mor(spark, spark.createDataFrame([(1,)], "k long"), ["k"])
    assert {r["k"] for r in tbl.scan(spark).collect()} == {2}


def test_merge_into_null_delete_condition_falls_to_update(spark, tmp_path):
    """A matched row whose delete_condition evaluates to NULL is NOT
    deleted AND still reaches the UPDATE clause (first-match-wins over
    three-valued logic; ~NULL would silently drop it from both)."""
    root = str(tmp_path / "mn")
    tbl = create_table(
        root, spark.createDataFrame([(1, 1.0)], "k long, x double").schema
    )
    tbl.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, x double"))
    src = spark.createDataFrame(
        [(1, None), (2, 50.0)], "k long, x double"
    )  # s.x NULL for k=1
    res = tbl.merge_into(
        spark, src, ["k"], update={"x": "t.x + 100"},
        delete_condition="s.x > 10", insert=False,
    )
    assert res == {"updated_rows": 1, "deleted_rows": 1, "inserted_rows": 0, "source_deleted_rows": 0, "source_updated_rows": 0}
    out = {r["k"]: r["x"] for r in tbl.scan(spark).collect()}
    assert out == {1: 101.0}  # k=1 updated (NULL cond), k=2 deleted


def test_merge_into_timestamp_key(spark, tmp_path):
    """Candidate pruning with a timestamp merge key: source bounds are
    datetimes, footer stats ISO strings — normalized, not TypeError."""
    import datetime as dt

    root = str(tmp_path / "mt")
    base = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(base + dt.timedelta(hours=i), float(i)) for i in range(10)],
        "ts timestamp, x double",
    )
    tbl = create_table(root, df.schema)
    tbl.append(df)
    src = spark.createDataFrame(
        [(base + dt.timedelta(hours=3), 999.0)], "ts timestamp, x double"
    )
    res = tbl.merge_into(spark, src, ["ts"], update="all", insert=False)
    assert res["updated_rows"] == 1
    got = {r["ts"]: r["x"] for r in tbl.scan(spark).collect()}
    assert got[base + dt.timedelta(hours=3)] == 999.0


@pytest.mark.parametrize("op", ["merge_into", "upsert"])
def test_midnight_timestamp_key_matches_date_key(spark, tmp_path, op):
    """A source key TIMESTAMP '2024-01-03 00:00:00' equals the DATE key
    2024-01-03 in Spark's join. The file whose upper bound is that date
    must stay a candidate: the midnight renders as its date too, so the
    row updates in place instead of being inserted a second time."""
    import datetime as dt

    root = str(tmp_path / "md")
    df = spark.createDataFrame(
        [(dt.date(2024, 1, d), float(d)) for d in (1, 2, 3)], "d date, x double"
    )
    tbl = create_table(root, df.schema)
    tbl.append(df.coalesce(1))
    src = spark.createDataFrame([(dt.datetime(2024, 1, 3), 99.0)], "d timestamp, x double")
    if op == "merge_into":
        res = tbl.merge_into(spark, src, ["d"], update="all")
        assert (res["updated_rows"], res["inserted_rows"]) == (1, 0)
    else:
        res = tbl.upsert(spark, src, ["d"])
        assert (res["rewritten_files"], res["replaced_rows"]) == (1, 1)
    got = sorted((r["d"], r["x"]) for r in tbl.scan(spark).collect())
    assert got == [(dt.date(2024, 1, 1), 1.0), (dt.date(2024, 1, 2), 2.0), (dt.date(2024, 1, 3), 99.0)]


def test_upsert_nan_key_bound_keeps_candidates(spark, tmp_path):
    """A NaN source key makes max(k) NaN, which Spark orders above
    every value. The candidate plan leaves that bound out rather than
    prune every file on ``k <= NaN``, so k = 1.0 is still replaced."""
    root = str(tmp_path / "nan")
    df = spark.createDataFrame([(1.0, 1), (2.0, 2)], "k double, x long")
    tbl = create_table(root, df.schema)
    tbl.append(df.coalesce(1))
    src = spark.createDataFrame([(1.0, 10), (float("nan"), 20)], "k double, x long")
    assert tbl.upsert(spark, src, ["k"])["rewritten_files"] == 1
    got = sorted((r["k"], r["x"]) for r in tbl.scan(spark).collect() if r["k"] == r["k"])
    assert got == [(1.0, 10), (2.0, 2)]


def test_merge_into_guards(spark, tmp_path):
    """Cardinality violation (multiple source rows per key) and
    initial-defaulted merge keys are refused loudly — both would
    silently corrupt the table (row multiplication / surviving
    superseded rows)."""
    root = str(tmp_path / "mg")
    tbl = create_table(
        root, spark.createDataFrame([(1, 1.0)], "k long, x double").schema
    )
    tbl.append(spark.createDataFrame([(1, 1.0)], "k long, x double"))
    dup = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k long, x double")
    with pytest.raises(ValueError, match="multiple rows per key"):
        tbl.merge_into(spark, dup, ["k"], update="all")
    tbl.add_column("g", "long", default=5)
    with pytest.raises(ValueError, match="initial default"):
        tbl.merge_into(
            spark,
            spark.createDataFrame([(5, 1.0, 5)], "g long, x double, k long"),
            ["g"],
        )


def test_delete_rows_dnf_union_pruning(spark, tmp_path):
    """DnfFilter (round 14): candidates = UNION of each OR-branch's
    stats-admissible files; residual = the full tree."""
    from java_iceberg_table_spark.table.table import DnfFilter

    tbl, rows = _mk_partitioned(spark, tmp_path)
    before = {e["path"]: e for e in tbl.current_files()}
    stats = tbl.delete_rows(
        spark,
        DnfFilter([
            [("bucket", ">=", 200)],
            [("bucket", "<", 100), ("id", "<", 10)],
        ]),
    )
    expect = sum(
        1 for (i, b, _) in rows if b >= 200 or (b < 100 and i < 10)
    )
    assert stats["deleted_rows"] == expect
    after = {e["path"]: e for e in tbl.current_files()}
    # bucket-100 partition sits in NEITHER branch: carried by reference
    untouched = {p for p, e in before.items() if e["partition"] == 100}
    assert untouched <= set(after)
    got = {r["id"] for r in tbl.scan(spark).collect()}
    want = {i for (i, b, _) in rows if not (b >= 200 or (b < 100 and i < 10))}
    assert got == want


def test_update_where_dnf(spark, tmp_path):
    from java_iceberg_table_spark.table.table import DnfFilter

    tbl, rows = _mk_partitioned(spark, tmp_path)
    stats = tbl.update_where(
        spark,
        DnfFilter([[("id", "in", (1, 2, 3))], [("v", "like_prefix", "v29")]]),
        {"v": "concat(v, '!')"},
    )
    expect = sum(
        1 for (i, _, v) in rows if i in (1, 2, 3) or v.startswith("v29")
    )
    assert stats["updated_rows"] == expect
    got = {r["id"]: r["v"] for r in tbl.scan(spark).collect()}
    for i, _, v in rows:
        want = v + "!" if (i in (1, 2, 3) or v.startswith("v29")) else v
        assert got[i] == want


def test_entry_may_match_in_and_like_prefix():
    """Pure-metadata pruning semantics of the two set leaves."""
    from java_iceberg_table_spark.table.table import Table, _prefix_upper

    e = {
        "path": "data/f.parquet",
        "partition": None,
        "columns": {
            "x": {"min": 100, "max": 200},
            "s": {"min": "apple", "max": "cherry"},
        },
    }
    mm = Table._entry_may_match
    assert mm(e, None, ("x", "in", (150, 999)))
    assert not mm(e, None, ("x", "in", (5, 999)))
    assert mm(e, None, ("s", "like_prefix", "ba"))     # banana-range
    assert mm(e, None, ("s", "like_prefix", "apple"))  # equals min
    assert not mm(e, None, ("s", "like_prefix", "zeb"))
    # 'aa%' spans ['aa','ab'), entirely below min='apple' -> pruned
    assert not mm(e, None, ("s", "like_prefix", "aa"))
    assert not mm(e, None, ("s", "like_prefix", "d"))
    # no stats -> cannot prune
    e2 = {"path": "p", "partition": None, "columns": {}}
    assert mm(e2, None, ("x", "in", (1,)))
    assert mm(e2, None, ("s", "like_prefix", "zz"))
    # prefix bump carries through trailing max code points
    assert _prefix_upper("ab") == "ac"
    assert _prefix_upper("a" + chr(0x10FFFF)) == "b"
    assert _prefix_upper(chr(0x10FFFF)) is None
