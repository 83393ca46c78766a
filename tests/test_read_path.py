"""The read path resolves ONE snapshot per read.

Every table read picks its snapshot and schema once (Table.read_state)
and plans, applies merge-on-read deletes and filters against that same
snapshot. These tests commit a rival change in the middle of a read and
check that the result is the content of a single snapshot; they also
pin the residual filter to the same leaf vocabulary planning accepts,
check that building a planned read starts no file-listing job, and
guard that the read decisions stay written once.
"""

from __future__ import annotations

import contextlib
import os
import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from java_iceberg_table_spark import session
from java_iceberg_table_spark.table import create_table, inspect, load_table, truncate
from java_iceberg_table_spark.table import table as table_mod

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


def _truncated(spark, root):
    """Keys 0..39 under truncate(k, 10): four files, one per partition
    (one writing task, whatever the core count)."""
    tbl = create_table(root, SCHEMA, partition=truncate("k", 10))
    tbl.append(_rows(spark, 0, 40).coalesce(1))
    assert len(tbl.plan_files()) == 4
    return tbl


def _filters(df) -> bool:
    """Whether the physical plan of ``df`` holds a Filter node."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.search(r"^[\s|+\-*()\d]*Filter ", plan, re.M) is not None


def test_aligned_range_plans_no_filter(spark, tmp_path):
    """Every planned file's partition and bounds prove both leaves of a
    partition-aligned range, so the read plans ColumnarToRow over the
    FileScan with no Filter, and returns the rows Spark's own filter
    does."""
    tbl = _truncated(spark, str(tmp_path / "t"))
    flt = [("k", ">=", 10), ("k", "<", 20)]
    df = tbl.scan(spark, flt)
    assert not _filters(df)
    expect = tbl.scan(spark).filter((F.col("k") >= 10) & (F.col("k") < 20))
    assert sorted(df.collect()) == sorted(expect.collect())
    assert _keys(df) == list(range(10, 20))
    assert _keys(tbl.scan_with_lineage(spark, flt)) == list(range(10, 20))


def test_aligned_reads_share_generated_code(spark, tmp_path):
    """No read literal reaches whole-stage codegen: after one aligned
    read, an aligned read of another partition compiles no new code."""
    tbl = _truncated(spark, str(tmp_path / "t"))
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled(lo):
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        assert tbl.scan(spark, [("k", ">=", lo), ("k", "<", lo + 10)]).count() == 10
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiled(10)
    assert compiled(20) == 0


def test_range_cutting_a_partition_keeps_filter(spark, tmp_path):
    """A range that cuts a partition keeps the leaves no planned file
    proves; count_rows scans those files with the same residual."""
    tbl = _truncated(spark, str(tmp_path / "t"))
    flt = [("k", ">=", 15), ("k", "<", 25)]
    df = tbl.scan(spark, flt)
    assert _filters(df)
    assert _keys(df) == list(range(15, 25))
    assert tbl.count_rows(spark, flt) == {"rows": 10, "metadata_files": 0, "scanned_files": 2}


def test_empty_plan_applies_no_residual(spark, tmp_path):
    """A read that plans no file has no rows to re-test: no leaf is
    applied."""
    tbl = _truncated(spark, str(tmp_path / "t"))
    df = tbl.scan(spark, [("k", ">=", 100)])
    assert "Filter" not in df._jdf.queryExecution().analyzed().toString()
    assert df.count() == 0


def test_nan_literal_keeps_every_file(spark, tmp_path):
    """Spark orders NaN above every value, so ``x < NaN`` and ``x <=
    NaN`` hold for every row with a number: pruning keeps the files."""
    tbl = create_table(str(tmp_path / "t"), StructType([StructField("x", DoubleType(), True)]))
    df = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    tbl.append(df)
    nan = float("nan")
    for op, col in (("<", F.col("x") < nan), ("<=", F.col("x") <= nan), (">", F.col("x") > nan)):
        assert tbl.scan(spark, [("x", op, nan)]).count() == df.filter(col).count(), op


def test_adopted_float_bounds_prove_nothing(spark, tmp_path):
    """pyarrow writes float bounds with NaN stripped: a file of {1.0,
    NaN} reads [1.0, 1.0]. add_files so keeps no float bounds, and a
    leaf those bounds would prove still filters out the NaN row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "ext.parquet")
    pq.write_table(pa.table({"x": [1.0, float("nan")]}), src)
    tbl = create_table(str(tmp_path / "t"), StructType([StructField("x", DoubleType(), True)]))
    tbl.add_files([src])
    truth = spark.createDataFrame([(1.0,), (float("nan"),)], "x double")
    for op, col in (("<", F.col("x") < 2.0), ("<=", F.col("x") <= 1.0), ("=", F.col("x") == 1.0)):
        leaf = [("x", op, 2.0 if op == "<" else 1.0)]
        expect = truth.filter(col).count()
        assert tbl.scan(spark, leaf).count() == expect == 1, op
        assert tbl.count_rows(spark, leaf)["rows"] == expect, op


def test_string_literal_on_temporal_column_prunes_as_parsed(spark, tmp_path):
    """Spark compares a string literal against a DATE or TIMESTAMP as
    the value it parses to. Pruning and proofs read the same value:
    '2024-03-04 00:00:01' keeps the file whose bound is
    '2024-03-04T00:00:00' (as text, ' ' sorts below 'T'), a DATE takes
    the literal's date part, and a form not parsed here keeps every
    file and proves none."""
    import datetime as dt

    schema = StructType(
        [StructField("ts", TimestampType(), False), StructField("d", DateType(), False)]
    )
    tbl = create_table(str(tmp_path / "t"), schema)
    df = spark.createDataFrame([(dt.datetime(2024, 3, 4), dt.date(2024, 3, 4))] * 2, schema)
    tbl.append(df.coalesce(1))
    cases = [
        ("ts", ">", "2024-03-04"),
        ("ts", ">", "2024-03-04 00:00:00"),
        ("ts", "<", "2024-03-04 00:00:01"),
        ("ts", "=", "2024-03-04T01:00:00+01:00"),
        ("ts", ">=", "2024-03-04"),
        ("ts", "=", "2024-3-4"),
        ("d", "<", "2024-03-04 12:00:00"),
        ("d", "=", "2024-03-04 12:00"),
        ("d", "<", "2024-03-05"),
    ]
    for leaf in cases:
        col, op, lit = leaf
        expect = df.filter(f"{col} {op} '{lit}'").count()
        assert tbl.scan(spark, [leaf]).count() == expect, leaf
        assert tbl.count_rows(spark, [leaf])["rows"] == expect, leaf
    assert tbl.count_rows(spark, [("ts", ">=", "2024-03-04")])["metadata_files"] == 1
    assert tbl.count_rows(spark, [("ts", "=", "2024-3-4")])["scanned_files"] == 1


def _call_args(src: str, call: str) -> list[list[str]]:
    """The top-level arguments of every ``call`` in ``src``."""
    out = []
    for m in re.finditer(re.escape(call), src):
        depth, args, cur = 1, [], ""
        for ch in src[m.end():]:
            depth += ch in "([{"
            depth -= ch in ")]}"
            if depth == 0:
                break
            if ch == "," and depth == 1:
                args.append(cur.strip())
                cur = ""
            else:
                cur += ch
        out.append([a for a in args + [cur.strip()] if a])
    return out


def test_one_residual():
    """The residual is decided once: one ``_filtered`` applies the
    leaves ``_proofs`` leaves unproven, count_rows splits certain from
    boundary files with the same ``_proofs``, and every ``_filtered(``
    call passes the entries it planned."""
    table_py = _src("table", "table.py")
    assert table_py.count("def _filtered(") == 1
    assert table_py.count("df.filter(self._and_predicate(") == 1
    assert table_py.count("self._entry_certainly_matches(e,") == 1
    calls = _call_args(table_py, "self._filtered(")
    assert len(calls) == 4
    for args in calls:
        assert len(args) == 5 and args[3:] == ["md", "schema"], args
    assert sorted(a[2] for a in calls) == ["entries", "entries", "entries", "maybe"]


N_FILES = 40  # past Spark's default parallelPartitionDiscovery.threshold of 32
_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _parquet_scan(spark, root, monkeypatch):
    tbl = create_table(root, SCHEMA)
    tbl.append(_rows(spark, 0, 10 * N_FILES).repartition(N_FILES))
    assert len(tbl.plan_files()) >= N_FILES
    return lambda: tbl.scan(spark)


def _avro_scan(spark, root, monkeypatch):
    tbl = create_table(root, SCHEMA, properties={"write.format.default": "avro"})
    tbl.append(_rows(spark, 0, 10 * N_FILES).repartition(N_FILES))
    files = tbl.plan_files()
    assert len(files) >= N_FILES and all(e["path"].endswith(".avro") for e in files)
    return lambda: tbl.scan(spark)


def _mor_scan(spark, root, monkeypatch):
    monkeypatch.setattr(table_mod, "DV_INLINE_MAX_POSITIONS", 0)  # delete files, not DVs
    tbl = create_table(root, SCHEMA)
    tbl.append(_rows(spark, 0, 10 * N_FILES).repartition(4))
    for k in range(N_FILES):
        tbl.delete_where_mor(spark, [("k", "=", k)])
    dels = tbl.delete_files_of(tbl.metadata.current_snapshot())
    assert len(dels) == N_FILES and all(e["path"] for e in dels)
    return lambda: tbl.scan(spark)


_PLANNED_READS = {
    "parquet_scan": _parquet_scan,
    "avro_scan": _avro_scan,
    "mor_scan": _mor_scan,
}


@pytest.mark.parametrize("read", sorted(_PLANNED_READS))
def test_planned_read_lists_nothing(spark, tmp_path, monkeypatch, jobs_started, read):
    """Building a read of 40 manifest-known files starts no Spark job:
    Spark's distributed file listing is skipped because the manifest
    already names every file. The result equals the same read built at
    the default listing threshold, which does start the listing job, and
    the threshold conf is unset again after the build."""
    build = _PLANNED_READS[read](spark, str(tmp_path / "t"), monkeypatch)
    assert spark.conf.get(_THRESHOLD, None) is None
    jobs, df = jobs_started(build)
    assert jobs == 0, f"building the {read} read started {jobs} job(s)"
    assert spark.conf.get(_THRESHOLD, None) is None
    with monkeypatch.context() as m:
        # the reader's conf_scope made inert: the build at the default
        # threshold, with Spark's listing job
        m.setattr(session, "conf_scope", lambda spark, overrides: contextlib.nullcontext())
        listing_jobs, listed = jobs_started(build)
    assert listing_jobs >= 1, "the default-threshold build listed nothing: the probe is blind"
    assert sorted(map(repr, df.collect())) == sorted(map(repr, listed.collect()))


def test_inspect_files_starts_no_job(spark, tmp_path, jobs_started):
    """Building the files table of 40 manifests starts no Spark job: its
    rows come from tasks that parse the manifests, so nothing is listed
    or read until the table is queried, and then it holds one row per
    manifest entry."""
    tbl = create_table(
        str(tmp_path / "t"), SCHEMA, properties={"commit.manifest.min-count-to-merge": "1000"}
    )
    for e in tbl._write_data_files(_rows(spark, 0, 10 * N_FILES).repartition(N_FILES)):
        tbl.append_entries([e])
    assert len(tbl.metadata.current_snapshot().manifests) >= N_FILES
    jobs, df = jobs_started(lambda: inspect.files_df(tbl, spark))
    assert jobs == 0, f"building the files table started {jobs} job(s)"
    assert sorted(r["file_path"] for r in df.collect()) == sorted(
        e["path"] for e in tbl.plan_files()
    )


def test_one_planned_reader():
    """Files a manifest names are read through session.read_paths only:
    no module under table/, nor the avro reader, builds a spark.read."""
    builds_read = re.compile(r"\bspark\.read\b|\.read\.(?:schema|format|option|parquet|json|load)\(")
    tdir = os.path.dirname(os.path.abspath(table_mod.__file__))
    sources = [("table", f) for f in sorted(os.listdir(tdir)) if f.endswith(".py")]
    for parts in sources + [("sources", "avro_io.py")]:
        assert not builds_read.search(_src(*parts)), (
            f"{parts[-1]} builds spark.read: use session.read_paths"
        )
    assert _src("session.py").count("spark.read.") == 1
