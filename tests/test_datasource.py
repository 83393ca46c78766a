"""EngineTableDataSource (Python Data Source API): batch read/write,
filter-driven partition pruning, time travel, streaming tail and
exactly-once streaming write — the connector surface end to end."""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from java_iceberg_table_spark.fixtures import load_table
from java_iceberg_table_spark.sources import register_engine_datasource
from java_iceberg_table_spark.table import create_table
from java_iceberg_table_spark.table import load_table as open_table


@pytest.fixture(scope="module")
def ds(spark):
    register_engine_datasource(spark)
    return spark


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="ds_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_batch_write_then_read_roundtrip(ds, sf_dir, base_dir):
    spark = ds
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    root = base_dir + "/t"
    create_table(root, cust.schema)
    cust.write.format("engine_table").option("root", root).mode("append").save()
    df = spark.read.format("engine_table").option("root", root).load()
    assert df.count() == cust.count()
    got = df.filter(F.col("c_acctbal") > 1000).count()
    assert got == cust.filter(F.col("c_acctbal") > 1000).count()
    # connector write committed one snapshot readable by the table API
    assert open_table(root).scan(spark).count() == cust.count()


def test_filter_prunes_connector_partitions(ds, sf_dir, base_dir):
    spark = ds
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineBatchReader,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    root = base_dir + "/t"
    tbl = create_table(root, li.schema)
    tbl.append(li)
    tbl.rewrite_clustered(spark, ["l_partkey", "l_suppkey"], n_files=8)
    mx = li.agg(F.max("l_partkey")).collect()[0][0]
    thr = (int(mx) + 1) // 10
    reader = EngineBatchReader(root, tbl.schema(), {})
    n_all = len(reader.partitions())
    from pyspark.sql.datasource import LessThan

    unsupported = list(reader.pushFilters([LessThan(("l_partkey",), thr)]))
    assert len(unsupported) == 1  # reported back for JVM re-evaluation
    n_pruned = len(reader.partitions())
    assert n_pruned < n_all  # manifest pruning reached the connector
    # and the end-to-end result is still exact
    df = spark.read.format("engine_table").option("root", root).load()
    assert (
        df.filter(F.col("l_partkey") < thr).count()
        == li.filter(F.col("l_partkey") < thr).count()
    )


def test_time_travel_option(ds, sf_dir, base_dir):
    spark = ds
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    root = base_dir + "/t"
    tbl = create_table(root, cust.schema)
    s1 = tbl.append(cust.limit(100))
    tbl.append(cust)
    old = (
        spark.read.format("engine_table")
        .option("root", root)
        .option("snapshot_id", str(s1.snapshot_id))
        .load()
    )
    assert old.count() == 100


def test_overwrite_mode_rejected(ds, sf_dir, base_dir):
    """mode('overwrite') is supported (test_connector_overwrite_modes);
    an UNKNOWN overwriteMode value is still refused loudly."""
    spark = ds
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    root = base_dir + "/t"
    create_table(root, cust.schema)
    with pytest.raises(Exception, match="unknown overwriteMode"):
        cust.write.format("engine_table").option("root", root).option(
            "overwriteMode", "replace"
        ).mode("overwrite").save()


def test_stream_read_tails_commits(ds, sf_dir, base_dir):
    spark = ds
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    root = base_dir + "/t"
    tbl = create_table(root, cust.schema)
    tbl.append(cust.filter(F.col("c_custkey") % 2 == 0))
    tbl.append(cust.filter(F.col("c_custkey") % 2 == 1))
    name = "m_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="ckpt_dsr_")
    try:
        q = (
            spark.readStream.format("engine_table")
            .option("root", root)
            .load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.table(name).count() == cust.count()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_write_exactly_once(ds, sf_dir, base_dir):
    spark = ds
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    src_root = base_dir + "/src"
    dst_root = base_dir + "/dst"
    src = create_table(src_root, cust.schema)
    src.append(cust)
    create_table(dst_root, cust.schema)
    ckpt = tempfile.mkdtemp(prefix="ckpt_dsw_")
    try:
        q = (
            spark.readStream.format("engine_table")
            .option("root", src_root)
            .load()
            .writeStream.format("engine_table")
            .option("root", dst_root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dst = open_table(dst_root)
        assert dst.scan(spark).count() == cust.count()
        # epoch high-watermark stamped into the snapshot summary
        assert any(
            "streaming-batch-id" in s.summary for s in dst.snapshots()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _run_cdc_batch(spark, root, ckpt, out_dir):
    """One availableNow pass of the CDC stream into a parquet sink
    (memory sinks can't resume a checkpoint); returns ALL rows sunk so
    far — callers diff against the previous phase."""
    q = (
        spark.readStream.format("engine_table")
        .option("root", root)
        .option("cdc", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.schema(
        spark.readStream.format("engine_table")
        .option("root", root)
        .option("cdc", "true")
        .load()
        .schema
    ).parquet(out_dir)


def test_cdc_stream_tails_changes(ds, base_dir):
    """option("cdc","true"): micro-batches carry _change_type rows —
    first batch = initial state as inserts; after an append + MOR
    equality delete, the next batch holds the surviving new rows as
    inserts, the delete-hit old rows as deletes, and dead-on-arrival
    rows (inserted AND deleted inside the window) not at all."""
    spark = ds
    root = base_dir + "/cdc"
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, v string"
    )
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("id") % 2 == 0))  # evens
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdc_")
    sink = tempfile.mkdtemp(prefix="cdc_sink_") + "/out"
    try:
        r1 = _run_cdc_batch(spark, root, ckpt, sink).collect()
        assert {r["_change_type"] for r in r1} == {"insert"}
        assert sorted(r["id"] for r in r1) == list(range(0, 20, 2))
        # window 2: append odds, then eq-delete multiples of 5
        tbl.append(df.filter(F.col("id") % 2 == 1))
        tbl.delete_eq_mor(
            spark, df.filter(F.col("id") % 5 == 0).select("id"), ["id"]
        )
        seen = {(r["id"], r["_change_type"]) for r in r1}
        r2 = [
            r
            for r in _run_cdc_batch(spark, root, ckpt, sink).collect()
            if (r["id"], r["_change_type"]) not in seen
        ]
        ins = sorted(r["id"] for r in r2 if r["_change_type"] == "insert")
        dels = sorted(r["id"] for r in r2 if r["_change_type"] == "delete")
        # odds surviving the delete (5 and 15 are dead-on-arrival)
        assert ins == [1, 3, 7, 9, 11, 13, 17, 19]
        # evens hit by the new delete
        assert dels == [0, 10]
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_cdc_stream_metadata_delete_window(ds, base_dir):
    """A metadata (partition-aligned) delete removes whole files: the
    CDC batch emits their rows as deletes."""
    spark = ds
    from java_iceberg_table_spark.table import truncate

    root = base_dir + "/cdcd"
    df = spark.createDataFrame([(i, i % 7) for i in range(30)], "k long, g long")
    tbl = create_table(root, df.schema, partition=truncate("k", 10))
    tbl.append(df)
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdcd_")
    sink = tempfile.mkdtemp(prefix="cdcd_sink_") + "/out"
    try:
        r1 = _run_cdc_batch(spark, root, ckpt, sink).collect()
        seen = {(r["k"], r["_change_type"]) for r in r1}
        tbl.delete_where("k", "<", 10)  # drops the first bucket's files
        rows = [
            r
            for r in _run_cdc_batch(spark, root, ckpt, sink).collect()
            if (r["k"], r["_change_type"]) not in seen
        ]
        assert {r["_change_type"] for r in rows} == {"delete"}
        assert sorted(r["k"] for r in rows) == list(range(10))
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_cdc_stream_rejects_rewrite_window(ds, base_dir):
    spark = ds
    root = base_dir + "/cdcr"
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdcr_")
    sink = tempfile.mkdtemp(prefix="cdcr_sink_") + "/out"
    try:
        _run_cdc_batch(spark, root, ckpt, sink)
        tbl.delete_rows(spark, [("k", "<", 3)])  # overwrite commit
        with pytest.raises(Exception, match="[Rr]ewrite|maintenance"):
            _run_cdc_batch(spark, root, ckpt, sink)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_in_list_pushdown_prunes_partitions(ds, base_dir):
    """WHERE key IN (...) through the connector: the IN-list prunes
    input partitions with the key-set stats check — files whose range
    holds no listed value never become partitions."""
    spark = ds
    root = base_dir + "/inlist"
    src = (
        spark.range(10_000)
        .select(
            F.col("id").alias("k"),
            F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("ts"),
        )
        .repartition(8)
    )
    tbl = create_table(
        root, src.schema, properties={"write.sort.order": "ts"}
    )
    tbl.append(src)
    n_files = len(tbl.current_files())
    assert n_files > 1
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineBatchReader,
    )
    from pyspark.sql.datasource import In

    # values inside ONE sorted file's ts range: the other files' ranges
    # are disjoint from it, so they must be pruned at any core count
    # (the file count follows the writer's parallelism)
    ts = tbl.current_files()[0]["columns"]["ts"]
    lo, hi = int(ts["min"]), int(ts["max"])
    vals = sorted({lo + (hi - lo) * i // 5 for i in range(6)})
    reader = EngineBatchReader(root, tbl.schema(), {"root": root})
    list(reader.pushFilters([In(("ts",), tuple(vals))]))
    assert len(reader.partitions()) < n_files
    # and the query result through the connector is exact
    df = (
        spark.read.format("engine_table")
        .option("root", root)
        .load()
        .filter(F.col("ts").isin(vals))
    )
    assert sorted(r["ts"] for r in df.collect()) == sorted(vals)


def test_in_list_pushdown_plans_like_plan_files(ds, base_dir):
    """The connector plans an IN-list exactly as plan_files plans the
    same ``in`` leaf, bucket pruning included: on a bucket("k", 16)
    table a file whose bucket holds no listed key is not read, though
    its [min, max] spans every key."""
    from pyspark.sql.datasource import In

    from java_iceberg_table_spark.sources.engine_datasource import EngineBatchReader
    from java_iceberg_table_spark.table import bucket

    spark = ds
    root = base_dir + "/inbucket"
    src = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    tbl = create_table(root, src.schema, partition=bucket("k", 16))
    tbl.append(src)
    vals = [3, 7]
    reader = EngineBatchReader(root, tbl.schema(), {"root": root})
    list(reader.pushFilters([In(("k",), tuple(vals))]))
    planned = sorted(p.file_key for p in reader.partitions())
    assert planned == sorted(e["path"] for e in tbl.plan_files([("k", "in", vals)]))
    assert len(planned) < len(tbl.current_files())
    df = spark.read.format("engine_table").option("root", root).load().filter(F.col("k").isin(vals))
    assert sorted(r["k"] for r in df.collect()) == vals


def test_branch_write_through_connector(ds, base_dir):
    """option("branch"): write-audit-publish through the connector —
    the connector write moves the branch ref, main stays untouched
    until publish, and option("ref") reads the staged state."""
    spark = ds
    root = base_dir + "/wap"
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("k") < 5))
    tbl.create_branch("audit")
    extra = spark.createDataFrame([(i,) for i in range(5, 10)], "k long")
    extra.write.format("engine_table").option("root", root).option(
        "branch", "audit"
    ).mode("append").save()
    main = spark.read.format("engine_table").option("root", root).load()
    assert main.count() == 5  # main untouched
    staged = (
        spark.read.format("engine_table")
        .option("root", root)
        .option("ref", "audit")
        .load()
    )
    assert sorted(r["k"] for r in staged.collect()) == list(range(10))


def test_connector_applies_mor_deletes(ds, base_dir):
    """The batch connector must return exactly what Table.scan
    returns on a table with pending merge-on-read deletes — deleted
    rows must not resurrect, and a key re-inserted after an equality
    delete must survive (sequence semantics through the connector)."""
    spark = ds
    root = base_dir + "/mor"
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    tbl.delete_eq_mor(spark, spark.createDataFrame([(3,), (7,)], "k long"), ["k"])
    tbl.delete_where_mor(spark, [("k", ">=", 9)])
    conn = spark.read.format("engine_table").option("root", root).load()
    assert sorted(r["k"] for r in conn.collect()) == [0, 1, 2, 4, 5, 6, 8]
    tbl.append(spark.createDataFrame([(3,)], "k long"))  # re-insert
    conn2 = spark.read.format("engine_table").option("root", root).load()
    assert sorted(r["k"] for r in conn2.collect()) == [0, 1, 2, 3, 4, 5, 6, 8]
    # pushed filters still compose with the masked read
    assert (
        spark.read.format("engine_table")
        .option("root", root)
        .load()
        .filter(F.col("k") < 5)
        .count()
        == 5  # 0,1,2,4 plus the re-inserted 3
    )


@pytest.mark.parametrize("fmt", ["parquet", "avro"])
def test_connector_parity_through_mor_and_evolution(ds, base_dir, fmt):
    """spark.read.format("engine_table") returns exactly what
    Table.scan returns at every step of one table's life — plain,
    equality delete (on a timestamp key), position delete, rename,
    defaulted add, append — for both data-file formats; a filtered
    read and withLineage (against scan_with_lineage) agree too."""
    spark = ds
    root = base_dir + "/parity"
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )
    tbl = create_table(root, df.schema, properties={"write.format.default": fmt})
    tbl.append(df.repartition(2))

    def rows(d):
        return sorted(tuple(r) for r in d.collect())

    def conn(lineage="false"):
        return (
            spark.read.format("engine_table")
            .option("root", root)
            .option("withLineage", lineage)
            .load()
        )

    def check(step):
        assert rows(conn()) == rows(tbl.scan(spark)), step

    check("plain")
    tbl.delete_eq_mor(spark, df.filter(F.col("k").isin(3, 17)).select("ts"), ["ts"])
    check("eq-delete")
    tbl.delete_where_mor(spark, [("k", ">=", 36)])
    check("pos-delete")
    tbl.rename_column("v", "w")
    check("rename")
    tbl.add_column("z", "long", default=5)
    check("add-default")
    ts = df.first()["ts"]
    tbl.append(
        spark.createDataFrame(
            [(100, "n", ts, 7), (101, "m", ts, None)], tbl.schema()
        )
    )
    check("append")
    assert len(rows(tbl.scan(spark))) == 34 + 2
    assert rows(conn().filter(F.col("k") < 10)) == rows(
        tbl.scan(spark, [("k", "<", 10)])
    )
    lin = ("k", "_row_id", "_last_updated_seq")
    assert rows(conn("true").select(*lin)) == rows(
        tbl.scan_with_lineage(spark).select(*lin)
    )


def test_connector_reads_empty_table(ds, base_dir):
    """An empty plan (empty table / everything deleted): Spark calls
    read(None) when partitions() returns [] — must yield zero rows,
    not crash."""
    spark = ds
    root = base_dir + "/empty"
    df = spark.createDataFrame([(1,)], "k long")
    tbl = create_table(root, df.schema)
    conn = spark.read.format("engine_table").option("root", root).load()
    assert conn.count() == 0
    tbl.append(df)
    tbl.delete_rows(spark, [("k", "<", 100)])  # back to empty
    conn2 = spark.read.format("engine_table").option("root", root).load()
    assert conn2.count() == 0


def _fold(rows, key="id"):
    """Multiset fold of CDC output: +1 per insert, -1 per delete."""
    from collections import Counter

    c: Counter = Counter()
    for r in rows:
        c[r[key]] += 1 if r["_change_type"] == "insert" else -1
    return {k: v for k, v in c.items() if v}


def test_cdc_stream_steps_through_compaction(ds, base_dir):
    """The standing-consumer contract: a window containing a
    compaction ('replace') must NOT kill the stream — the rewrite is
    content-preserving, so the segmented diff steps the cursor through
    it and the fold of all emitted changes still equals the table
    scan."""
    spark = ds
    root = base_dir + "/cdccomp"
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "id long, v string"
    )
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("id") % 2 == 0))
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdcc_")
    sink = tempfile.mkdtemp(prefix="cdcc_sink_") + "/out"
    try:
        _run_cdc_batch(spark, root, ckpt, sink)
        # window 2: append odds, COMPACT (replace), eq-delete %5,
        # append a late batch — all before the next trigger
        tbl.append(df.filter(F.col("id") % 2 == 1))
        stats = tbl.compact_data_files(spark, target_file_bytes=1 << 30)
        assert stats["rewritten"] >= 2  # the rewrite really ran
        tbl.delete_eq_mor(
            spark, df.filter(F.col("id") % 5 == 0).select("id"), ["id"]
        )
        tbl.append(spark.createDataFrame([(100, "late")], "id long, v string"))
        rows = _run_cdc_batch(spark, root, ckpt, sink).collect()
        want = {
            r["id"]: 1 for r in open_table(root).scan(spark).collect()
        }
        assert _fold(rows) == want
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_cdc_stream_steps_through_rewrite_deletes(ds, base_dir):
    """rewrite_deletes commits a content-preserving 'overwrite'
    (it only folds already-committed deletes); the CDC stream steps
    through it — the deltas were emitted when the delete commits
    landed."""
    spark = ds
    root = base_dir + "/cdcrd"
    df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id long, g long")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdcrd_")
    sink = tempfile.mkdtemp(prefix="cdcrd_sink_") + "/out"
    try:
        _run_cdc_batch(spark, root, ckpt, sink)
        # window 2: eq-delete, MATERIALIZE the deletes, then append
        tbl.delete_eq_mor(
            spark, df.filter(F.col("id") < 10).select("id"), ["id"]
        )
        tbl.rewrite_deletes(spark)
        tbl.append(spark.createDataFrame([(200, 0)], "id long, g long"))
        rows = _run_cdc_batch(spark, root, ckpt, sink).collect()
        want = {r["id"]: 1 for r in open_table(root).scan(spark).collect()}
        assert _fold(rows) == want
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_streams_skip_branch_staged_commits(ds, base_dir):
    """A write-audit-publish branch append lands in the snapshot LOG
    between two main commits but is not on the main lineage: neither
    the append tail nor the CDC stream may deliver its unpublished
    rows to main-table consumers."""
    spark = ds
    root = base_dir + "/wapstream"
    df = spark.createDataFrame([(i,) for i in range(4)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("k") == 0))  # main A
    tbl.create_branch("audit")
    ckpt = tempfile.mkdtemp(prefix="ckpt_wap_")
    sink = tempfile.mkdtemp(prefix="wap_sink_") + "/out"
    try:
        # staged between two main appends
        spark.createDataFrame([(99,)], "k long").write.format(
            "engine_table"
        ).option("root", root).option("branch", "audit").mode("append").save()
        tbl.append(df.filter(F.col("k") == 1))  # main B
        q = (
            spark.readStream.format("engine_table")
            .option("root", root)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            r["k"]
            for r in spark.read.schema(tbl.schema()).parquet(sink).collect()
        )
        assert got == [0, 1]  # staged 99 must not leak
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_batch_connector_slices_eq_payloads(ds, base_dir):
    """Each MaskedFilePartition carries only the equality-delete
    payloads whose key range can touch ITS file — not the table's
    whole delete state."""
    spark = ds
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineBatchReader,
        FilePartition,
    )

    root = base_dir + "/slice"
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("k") < 50).coalesce(1))  # file A: [0,49]
    tbl.append(df.filter(F.col("k") >= 50).coalesce(1))  # file B: [50,99]
    tbl.delete_eq_mor(
        spark, spark.createDataFrame([(3,), (7,)], "k long"), ["k"]
    )
    reader = EngineBatchReader(root, tbl.schema(), {})
    parts = reader.partitions()
    assert all(isinstance(p, FilePartition) for p in parts)
    by_payloads = sorted(len(p.mask_eq) for p in parts)
    assert by_payloads == [0, 1]  # only file A ships the payload
    # and the read is still exact
    conn = spark.read.format("engine_table").option("root", root).load()
    assert conn.count() == 98


def _mv_setup(spark, base_dir):
    src_root, view_root = base_dir + "/mvsrc", base_dir + "/mvview"
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(50)],
        "event_id long, user_id long, value double",
    )
    create_table(src_root, df.schema)
    create_table(
        view_root,
        spark.createDataFrame([], "user_id long, cnt long, sv double").schema,
    )
    return src_root, view_root, df


def _mv_equals_recompute(spark, src_root, view_root) -> bool:
    src, vt = open_table(src_root), open_table(view_root)
    mv = vt.scan(spark).select("user_id", "cnt", F.round("sv", 6).alias("sv"))
    rec = (
        src.scan(spark)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sv"))
    )
    return mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()


def _mv_drain(spark, src_root, ckpt, merge):
    q = (
        spark.readStream.format("engine_table")
        .option("root", src_root)
        .option("cdc", "true")
        .load()
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_materialized_view_replay_idempotent(ds, base_dir):
    """foreachBatch is at-least-once: re-invoking the fold with an
    already-applied batch id must be a no-op (the delta would
    double-count otherwise)."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import maintained_view_merge

    src_root, view_root, df = _mv_setup(spark, base_dir)
    merge = maintained_view_merge(view_root)
    cdc = df.withColumn("_change_type", F.lit("insert"))
    open_table(src_root).append(df)
    merge(cdc, 0)
    assert _mv_equals_recompute(spark, src_root, view_root)
    merge(cdc, 0)  # replayed epoch — must not double-count
    assert _mv_equals_recompute(spark, src_root, view_root)


def test_materialized_view_partial_crash_recovery(ds, base_dir):
    """Crash window between the fold's two commits: the replay finds
    its own delete stamp without the append stamp, rolls the view back
    and re-folds — the view still equals the recompute."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import maintained_view_merge

    src_root, view_root, df = _mv_setup(spark, base_dir)
    merge = maintained_view_merge(view_root)
    cdc = df.withColumn("_change_type", F.lit("insert"))
    open_table(src_root).append(df)
    merge(cdc, 0)
    # simulate the crash: batch 1's delete lands, its append does not
    vt = open_table(view_root)
    more = spark.createDataFrame(
        [(1000 + i, i % 5, 1.0) for i in range(10)],
        "event_id long, user_id long, value double",
    )
    open_table(src_root).append(more)
    cdc1 = more.withColumn("_change_type", F.lit("insert"))
    vt.delete_eq_mor(
        spark,
        cdc1.select("user_id").dropDuplicates(),
        ["user_id"],
        extra_summary={"mv-batch-del": 1},
    )
    merge(cdc1, 1)  # the replay after the simulated crash
    assert _mv_equals_recompute(spark, src_root, view_root)


def test_materialized_view_restart_across_compaction(ds, base_dir):
    """i21 composed with i19's checkpoint restart AND a maintenance
    commit: the stream stops at a checkpoint, commits (including a
    compaction) land while it is down, and the resumed stream brings
    the view exactly current — the standing-view lifecycle a real
    table runs weekly."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import maintained_view_merge

    src_root, view_root, df = _mv_setup(spark, base_dir)
    src = open_table(src_root)
    merge = maintained_view_merge(view_root)
    ckpt = tempfile.mkdtemp(prefix="ckpt_mvr_")
    try:
        src.append(df.filter(F.col("event_id") % 2 == 0))
        _mv_drain(spark, src_root, ckpt, merge)
        assert _mv_equals_recompute(spark, src_root, view_root)
        # while the stream is down: append, compact, delete, append
        src.append(df.filter(F.col("event_id") % 2 == 1))
        src.compact_data_files(spark, target_file_bytes=1 << 30)
        src.delete_eq_mor(
            spark,
            df.filter(F.col("event_id") % 7 == 0).select("event_id"),
            ["event_id"],
        )
        src.append(
            spark.createDataFrame(
                [(999, 2, 9.5)], "event_id long, user_id long, value double"
            )
        )
        # resume from the SAME checkpoint (i19's restart recipe)
        _mv_drain(spark, src_root, ckpt, merge)
        assert _mv_equals_recompute(spark, src_root, view_root)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_connector_writes_bucket_partitioned(ds, base_dir):
    """The connector's executor write path buckets rows with the
    table's transform (CRC32 hash parity with planning): a point
    lookup through the connector afterwards prunes to one bucket."""
    spark = ds
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineBatchReader,
    )
    from java_iceberg_table_spark.table import bucket
    from java_iceberg_table_spark.table.transforms import _crc_bucket

    root = base_dir + "/bktw"
    df = spark.createDataFrame([(i, float(i)) for i in range(300)], "k long, v double")
    create_table(root, df.schema, partition=bucket("k", 4))
    df.write.format("engine_table").option("root", root).mode("append").save()
    tbl = open_table(root)
    entries = tbl.plan_files()
    assert {e["partition"] for e in entries} == set(range(4))
    hit = tbl.plan_files([("k", "=", 77)])
    assert {e["partition"] for e in hit} == {_crc_bucket(77, 4)}
    # pushdown through the connector reaches the same pruning
    reader = EngineBatchReader(root, tbl.schema(), {})
    n_all = len(reader.partitions())
    from pyspark.sql.datasource import EqualTo

    list(reader.pushFilters([EqualTo(("k",), 77)]))
    assert len(reader.partitions()) < n_all
    got = (
        spark.read.format("engine_table").option("root", root).load()
        .filter(F.col("k") == 77).collect()
    )
    assert [(r["k"], r["v"]) for r in got] == [(77, 77.0)]


def test_connector_metadata_tables(ds, base_dir):
    """option("table", snapshots|refs|files|partitions): Iceberg-style
    metadata tables through plain spark.read — commit log, refs, live
    files, partition balance — with no data file opened."""
    spark = ds
    from java_iceberg_table_spark.table import truncate

    root = base_dir + "/meta"
    df = spark.createDataFrame([(i,) for i in range(40)], "k long")
    tbl = create_table(root, df.schema, partition=truncate("k", 10))
    s1 = tbl.append(df)
    tbl.create_branch("audit")
    tbl.create_tag("v1")
    tbl.delete_eq_mor(spark, spark.createDataFrame([(3,)], "k long"), ["k"])

    def meta(kind):
        return (
            spark.read.format("engine_table")
            .option("root", root)
            .option("table", kind)
            .load()
        )

    snaps = meta("snapshots").collect()
    assert [r["operation"] for r in snaps] == ["append", "delete"]
    assert [r["is_current"] for r in snaps] == [False, True]
    refs = {r["name"]: (r["type"], r["snapshot_id"]) for r in meta("refs").collect()}
    assert refs == {"audit": ("branch", s1.snapshot_id), "v1": ("tag", s1.snapshot_id)}
    files = meta("files").collect()
    assert sum(r["record_count"] for r in files) == 40
    parts = {r["partition"]: r["record_count"] for r in meta("partitions").collect()}
    assert parts == {0: 10, 10: 10, 20: 10, 30: 10}
    # time travel into metadata: the files table of a pinned ref
    tbl.append(spark.createDataFrame([(100,)], "k long"))
    old_files = (
        spark.read.format("engine_table")
        .option("root", root)
        .option("table", "files")
        .option("ref", "v1")
        .load()
    )
    assert sum(r["record_count"] for r in old_files.collect()) == 40
    with pytest.raises(Exception, match="read-only"):
        df.write.format("engine_table").option("root", root).option(
            "table", "files"
        ).mode("append").save()
    # a composite spec: one partitions row per partition tuple and the
    # files' tuples, as the inspection tables show them (meta() reads
    # the new root)
    from java_iceberg_table_spark.table import bucket, composite

    root = base_dir + "/meta_composite"
    cdf = spark.createDataFrame(
        [(i % 3, f"g{i % 4}") for i in range(40)], "k long, g string"
    )
    ct = create_table(
        root, cdf.schema, partition=composite(truncate("k", 1), bucket("g", 2))
    )
    ct.append(cdf)

    def rows(df, cols):
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    part_cols = ["partition", "partition_fields", "file_count", "record_count", "total_bytes"]
    parts = rows(meta("partitions"), part_cols)
    assert parts == rows(ct.inspect(spark, "partitions"), part_cols)
    assert len(parts) > 1 and all(p[0] is None and len(p[1]) == 2 for p in parts)
    assert sum(p[3] for p in parts) == 40
    file_cols = ["file_path", "partition", "partition_fields", "record_count"]
    assert rows(meta("files"), file_cols) == rows(ct.inspect(spark, "files"), file_cols)


def test_stream_max_files_per_trigger(ds, base_dir):
    """option("maxFilesPerTrigger", N): the append tail paces catch-up
    — each planned batch covers at most ~N appended files (rounded up
    to a commit boundary). The FIRST batch after (re)start is uncapped:
    the JVM calls latestOffset before initialOffset (traced), so the
    cursor is unknown there and capping blind would risk reversed
    windows (silent redelivery) after restart."""
    spark = ds
    import time as _time

    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineStreamReader,
    )

    root = base_dir + "/paced"
    df = spark.createDataFrame([(i,) for i in range(12)], "k long")
    tbl = create_table(root, df.schema)
    for i in range(6):  # 6 commits x 1 file
        tbl.append(df.filter(F.col("k") % 6 == i).coalesce(1))
    # unit-level: pacing walk caps each window at 2 files
    r = EngineStreamReader(root, tbl.schema(), {"maxFilesPerTrigger": "2"})
    start = r.initialOffset()
    batches = []
    for _ in range(10):
        end = r.latestOffset()
        if end == start:
            break
        parts = r.partitions(start, end)
        batches.append(len(parts))
        start = end
    assert batches == [2, 2, 2]  # 6 files drained in paced batches
    # uncapped reader drains everything at once
    r2 = EngineStreamReader(root, tbl.schema(), {})
    s0 = r2.initialOffset()
    assert len(r2.partitions(s0, r2.latestOffset())) == 6
    # end-to-end: batch 0 = whole backlog (uncapped by contract); then
    # 6 single-file commits land between long triggers and must drain
    # in >= 3 paced batches of <= 2 files
    ckpt = tempfile.mkdtemp(prefix="ckpt_mft_")
    sink = tempfile.mkdtemp(prefix="mft_sink_") + "/out"
    q = (
        spark.readStream.format("engine_table")
        .option("root", root)
        .option("maxFilesPerTrigger", "2")
        .load()
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="4 seconds")
        .start()
    )
    try:
        def sunk():
            try:
                return spark.read.schema(tbl.schema()).parquet(sink).count()
            except Exception:
                return 0

        deadline = _time.time() + 60
        while sunk() < 12 and _time.time() < deadline:
            _time.sleep(0.5)
        assert sunk() == 12
        for i in range(6):
            tbl.append(
                spark.createDataFrame([(100 + i,)], "k long").coalesce(1)
            )
        deadline = _time.time() + 120
        while sunk() < 18 and _time.time() < deadline:
            _time.sleep(0.5)
        assert sunk() == 18
        sizes = [
            int(p["numInputRows"]) for p in q.recentProgress if p["numInputRows"]
        ]
        assert all(s <= 2 for s in sizes[1:])  # paced after batch 0
        assert len(sizes) >= 4
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_streams_start_on_expired_history(ds, base_dir):
    """A table whose oldest snapshots were EXPIRED has a dangling
    parent_id at its retained root: fresh stream starts (append tail
    and CDC, start offset None) must walk from the retained root, not
    fail lineage validation — only a CONCRETE expired start offset is
    refused."""
    spark = ds
    root = base_dir + "/exp"
    df = spark.createDataFrame([(i,) for i in range(9)], "k long")
    tbl = create_table(root, df.schema)
    snaps = [tbl.append(df.filter(F.col("k") % 3 == i).coalesce(1)) for i in range(3)]
    tbl.expire_snapshots(older_than_ms=10**18, retain_last=2)  # drops s0
    assert tbl.metadata.snapshots[0].parent_id is not None  # dangling
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineCDCStreamReader,
        EngineStreamReader,
    )

    r = EngineStreamReader(root, tbl.schema(), {})
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    # only files appended by RETAINED commits stream (expired history
    # is gone; the CDC initial batch below delivers full state)
    assert len(parts) == 2
    cdc_schema = spark.readStream.format("engine_table").option(
        "root", root
    ).option("cdc", "true").load().schema
    rc = EngineCDCStreamReader(root, cdc_schema)
    cparts = rc.partitions(rc.initialOffset(), rc.latestOffset())
    assert len(cparts) == 3  # initial batch: ALL live files as inserts
    # an offset AT the expiry boundary is still resumable: (a, b]
    # needs only the boundary id, and s1/s2's files are retained
    assert len(r.partitions({"snapshot_id": snaps[0].snapshot_id}, r.latestOffset())) == 2
    # a concrete offset expired DEEPER than the boundary is refused
    tbl.expire_snapshots(older_than_ms=10**18, retain_last=1)  # drops s1
    with pytest.raises(Exception, match="not an ancestor|not in the retained"):
        r.partitions({"snapshot_id": snaps[0].snapshot_id}, r.latestOffset())


def test_bucket_float_predicate_conservative(ds, base_dir, dist_threshold):
    """A float equality predicate on a bucket[N]-partitioned long
    column must NOT prune by hash (str(42.0) != str(42) — the hash
    would prune the matching file); the residual filter still answers
    exactly."""
    spark = ds
    from java_iceberg_table_spark.table import bucket

    root = base_dir + "/bktf"
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    tbl = create_table(root, df.schema, partition=bucket("k", 8))
    tbl.append(df)
    assert [r["k"] for r in tbl.scan(spark, [("k", "=", 42.0)]).collect()] == [42]
    # driver loop and distributed plan path agree
    hit = tbl.plan_files([("k", "=", 42.0)])
    dist_threshold(0)
    hit_dist = tbl.plan_files([("k", "=", 42.0)], spark=spark)
    dist_threshold(None)
    assert sorted(e["path"] for e in hit) == sorted(e["path"] for e in hit_dist)
    # the int-predicate (hash-pruned) plan is a subset of the
    # conservative float-predicate plan — hash pruning never engaged
    # for the float, stats alone did the narrowing
    assert {e["path"] for e in tbl.plan_files([("k", "=", 42)])} <= {
        e["path"] for e in hit
    }


def test_eq_delete_float_keys_never_truncate(ds, base_dir):
    """Float equality-delete keys against a long column: 3.5 can match
    no long value — the connector's dtype coercion must drop the key,
    not truncate it to 3 and delete the wrong row. An integral float
    key (7.0) must still match 7."""
    spark = ds
    root = base_dir + "/fkeys"
    df = spark.createDataFrame([(i,) for i in range(10)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    tbl.delete_eq_mor(
        spark, spark.createDataFrame([(3.5,), (7.0,)], "k double"), ["k"]
    )
    got = sorted(
        r["k"]
        for r in spark.read.format("engine_table")
        .option("root", root)
        .load()
        .collect()
    )
    assert got == [0, 1, 2, 3, 4, 5, 6, 8, 9]  # 7 gone, 3 SURVIVES
    # connector equals the table API under the same delete state
    assert got == sorted(r["k"] for r in tbl.scan(spark).collect())


def test_materialized_view_stream_id_namespace(ds, base_dir):
    """Recreating a checkpoint restarts batch ids at 0: under the SAME
    stream_id the fold would silently skip (watermark), so a fresh
    checkpoint must come with a fresh stream_id — and with one, the
    fold applies."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import maintained_view_merge

    src_root, view_root, df = _mv_setup(spark, base_dir)
    open_table(src_root).append(df)
    cdc = df.withColumn("_change_type", F.lit("insert"))
    m1 = maintained_view_merge(view_root, stream_id="q1")
    m1(cdc, 0)
    m1(cdc.limit(0), 5)  # advance q1's watermark
    more = spark.createDataFrame(
        [(1000, 1, 2.0)], "event_id long, user_id long, value double"
    )
    open_table(src_root).append(more)
    cdc2 = more.withColumn("_change_type", F.lit("insert"))
    # same view, FRESH checkpoint: batch ids restart at 0
    m2 = maintained_view_merge(view_root, stream_id="q2")
    m2(cdc2, 0)  # would be skipped under q1's watermark
    assert _mv_equals_recompute(spark, src_root, view_root)


def test_rowgroup_pushdown_cuts_rows_read(ds, base_dir):
    """Pushed filters reach the parquet READ itself (pyarrow DNF):
    a selective connector scan materializes only matching rows
    executor-side, across plain, MOR-masked, renamed-vintage, and
    incomparable-literal cases — results always equal Spark's own
    re-applied filter."""
    spark = ds
    from java_iceberg_table_spark.sources.engine_datasource import (
        _aligned_parquet_arrow,
        _read_file_batches,
    )

    root = base_dir + "/rg"
    df = spark.createDataFrame([(i, f"v{i}") for i in range(1000)], "k long, v string")
    tbl = create_table(root, df.schema)
    tbl.append(df.coalesce(1))
    path = tbl.plan_files()[0]["path"]
    import os as _os

    full = _aligned_parquet_arrow(_os.path.join(root, path), tbl.schema())
    sliced = _aligned_parquet_arrow(
        _os.path.join(root, path), tbl.schema(), filters=[("k", "<", 10)]
    )
    assert len(full) == 1000 and len(sliced) == 10  # rows cut at read
    # end to end through spark.read with a filter
    got = (
        spark.read.format("engine_table").option("root", root).load()
        .filter(F.col("k") < 10).count()
    )
    assert got == 10
    # incomparable literal: falls back to unfiltered read, result exact
    bad = _aligned_parquet_arrow(
        _os.path.join(root, path), tbl.schema(), filters=[("k", "<", "zzz")]
    )
    assert len(bad) == 1000
    # renamed vintage: filter on the NEW name applies to the OLD bytes
    tbl.rename_column("k", "kk")
    sliced2 = _aligned_parquet_arrow(
        _os.path.join(root, path), tbl.schema(), filters=[("kk", "<", 5)]
    )
    assert len(sliced2) == 5
    # MOR eq-deletes + pushdown compose; pos deletes suppress pushdown
    tbl2_root = base_dir + "/rg2"
    tbl2 = create_table(tbl2_root, df.schema)
    tbl2.append(df.coalesce(1))
    tbl2.delete_eq_mor(spark, spark.createDataFrame([(3,)], "k long"), ["k"])
    got2 = sorted(
        r["k"]
        for r in spark.read.format("engine_table").option("root", tbl2_root)
        .load().filter(F.col("k") < 6).collect()
    )
    assert got2 == [0, 1, 2, 4, 5]
    tbl2.delete_where_mor(spark, [("k", ">=", 998)])  # position delete
    got3 = (
        spark.read.format("engine_table").option("root", tbl2_root)
        .load().filter(F.col("k") >= 990).count()
    )
    assert got3 == 8  # 990-997 (998,999 pos-deleted; pushdown suppressed)


def test_stream_tails_branch_ref(ds, base_dir):
    """option("ref", branch) on a stream: the tail follows the BRANCH
    lineage — staged write-audit-publish commits stream to the audit
    consumer while main consumers see none of them."""
    spark = ds
    root = base_dir + "/reftail"
    df = spark.createDataFrame([(i,) for i in range(6)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("k") < 2).coalesce(1))  # main base
    tbl.create_branch("audit")
    extra = spark.createDataFrame([(10,), (11,)], "k long")
    extra.write.format("engine_table").option("root", root).option(
        "branch", "audit"
    ).mode("append").save()
    tbl.append(df.filter((F.col("k") >= 2) & (F.col("k") < 4)).coalesce(1))
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineCDCStreamReader,
        EngineStreamReader,
    )

    # branch tail sees base + staged (fork ancestry), not post-fork main
    rb = EngineStreamReader(root, tbl.schema(), {"ref": "audit"})
    parts_b = rb.partitions(rb.initialOffset(), rb.latestOffset())
    # main tail sees base + post-fork main, not the staged commit
    rm = EngineStreamReader(root, tbl.schema(), {})
    parts_m = rm.partitions(rm.initialOffset(), rm.latestOffset())
    import pyarrow as pa

    def rows(reader, parts):
        out = []
        for p in parts:
            for b in reader.read(p):
                out.extend(b.to_pydict()["k"] if hasattr(b, "to_pydict") else [])
        return sorted(out)

    assert rows(rb, parts_b) == [0, 1, 10, 11]
    assert rows(rm, parts_m) == [0, 1, 2, 3]
    # CDC initial batch under the ref: staged state as inserts
    cdc_schema = spark.readStream.format("engine_table").option(
        "root", root
    ).option("cdc", "true").load().schema
    rc = EngineCDCStreamReader(root, cdc_schema, {"ref": "audit"})
    cparts = rc.partitions(rc.initialOffset(), rc.latestOffset())
    got = sorted(
        v
        for p in cparts
        for b in rc.read(p)
        for v in b.to_pydict()["k"]
    )
    assert got == [0, 1, 10, 11]


def test_cdc_stream_paced(ds, base_dir):
    """maxFilesPerTrigger paces the CDC stream the same way as the
    append tail: windows chain at commit boundaries, each covering
    ~N appended files."""
    spark = ds
    from java_iceberg_table_spark.sources.engine_datasource import (
        EngineCDCStreamReader,
    )

    root = base_dir + "/cdcpaced"
    df = spark.createDataFrame([(i,) for i in range(12)], "k long")
    tbl = create_table(root, df.schema)
    for i in range(6):
        tbl.append(df.filter(F.col("k") % 6 == i).coalesce(1))
    cdc_schema = spark.readStream.format("engine_table").option(
        "root", root
    ).option("cdc", "true").load().schema
    r = EngineCDCStreamReader(root, cdc_schema, {"maxFilesPerTrigger": "2"})
    start = r.initialOffset()
    sizes = []
    for _ in range(10):
        end = r.latestOffset()
        if end == start:
            break
        sizes.append(len(r.partitions(start, end)))
        start = end
    # batch 0: initial state = files at first capped head (2), then 2+2
    assert sizes == [2, 2, 2]


def test_connector_as_of_timestamp(ds, base_dir):
    """option("as_of_timestamp_ms"): TIMESTAMP AS OF through the
    connector — the scan plans under the snapshot current at that
    instant."""
    spark = ds
    import time as _time

    root = base_dir + "/asof"
    df = spark.createDataFrame([(i,) for i in range(20)], "k long")
    tbl = create_table(root, df.schema)
    tbl.append(df.filter(F.col("k") < 10))
    _time.sleep(0.02)
    t_mid = tbl.metadata.current_snapshot().timestamp_ms
    _time.sleep(0.02)
    tbl.append(df.filter(F.col("k") >= 10))
    old = (
        spark.read.format("engine_table")
        .option("root", root)
        .option("as_of_timestamp_ms", str(t_mid))
        .load()
    )
    assert old.count() == 10
    assert (
        spark.read.format("engine_table").option("root", root).load().count()
        == 20
    )


def test_pushdown_skips_float_columns_nan(ds, base_dir):
    """Spark orders NaN above everything; Arrow uses IEEE semantics.
    Pushdown must skip floating-point columns entirely or a pushed
    x > 5.0 would drop the NaN rows Spark's re-applied filter keeps."""
    spark = ds
    root = base_dir + "/nan"
    df = spark.createDataFrame(
        [(1, 1.0), (2, 10.0), (3, float("nan"))], "k long, x double"
    )
    tbl = create_table(root, df.schema)
    tbl.append(df.coalesce(1))
    got = sorted(
        r["k"]
        for r in spark.read.format("engine_table").option("root", root)
        .load().filter(F.col("x") > 5.0).collect()
    )
    assert got == [2, 3]  # NaN > 5.0 under Spark semantics
    # and int-column pushdown still engages on the same table
    assert (
        spark.read.format("engine_table").option("root", root)
        .load().filter(F.col("k") < 3).count()
        == 2
    )


def test_connector_time_travel_options_exclusive(ds, base_dir):
    """The connector refuses combined time-travel options the same way
    Table.scan does — silently preferring one would return wrong data."""
    spark = ds
    root = base_dir + "/excl"
    df = spark.createDataFrame([(1,)], "k long")
    tbl = create_table(root, df.schema)
    s1 = tbl.append(df)
    tbl.create_tag("v1")
    with pytest.raises(Exception, match="at most one"):
        (
            spark.read.format("engine_table")
            .option("root", root)
            .option("ref", "v1")
            .option("as_of_timestamp_ms", str(s1.timestamp_ms))
            .load()
            .count()
        )


def test_connector_writes_day_partitioned(ds, base_dir):
    """The connector's executor write path buckets rows with a
    temporal transform (UTC calendar parity with planning): a
    time-range read through the connector afterwards prunes to the
    matching day partitions."""
    import datetime as dt

    spark = ds
    from java_iceberg_table_spark.table import day

    root = base_dir + "/dayw"
    base = dt.datetime(2024, 3, 1)
    df = spark.createDataFrame(
        [(i, base + dt.timedelta(hours=6 * i)) for i in range(40)],
        "k long, ts timestamp",
    )
    create_table(root, df.schema, partition=day("ts"))
    df.write.format("engine_table").option("root", root).mode("append").save()
    tbl = open_table(root)
    day0 = (dt.date(2024, 3, 1) - dt.date(1970, 1, 1)).days
    assert {e["partition"] for e in tbl.plan_files()} == set(
        range(day0, day0 + 10)
    )
    hit = tbl.plan_files(
        [("ts", ">=", "2024-03-04T00:00:00"), ("ts", "<", "2024-03-05T00:00:00")]
    )
    assert {e["partition"] for e in hit} == {day0 + 3}
    got = sorted(
        r["k"]
        for r in spark.read.format("engine_table").option("root", root).load()
        .filter(
            (F.col("ts") >= "2024-03-04 00:00:00")
            & (F.col("ts") < "2024-03-05 00:00:00")
        )
        .collect()
    )
    assert got == [12, 13, 14, 15]


def test_cdc_stream_across_merge_commit(ds, base_dir):
    """A MERGE INTO row-delta commit flows through the streaming CDC
    source's cheap endpoint diff (it is neither 'replace' nor
    'overwrite'): the window emits the merge's inserts/updated rows as
    inserts and the superseded versions as deletes — and
    scan(pre) + ins - del == scan(post)."""
    spark = ds
    root = base_dir + "/cdcm"
    df = spark.createDataFrame([(i, float(i)) for i in range(20)], "k long, x double")
    tbl = create_table(root, df.schema)
    tbl.append(df)
    ckpt = tempfile.mkdtemp(prefix="ckpt_cdcm_")
    sink = tempfile.mkdtemp(prefix="cdcm_sink_") + "/out"
    try:
        r1 = _run_cdc_batch(spark, root, ckpt, sink).collect()
        seen = {(r["k"], r["x"], r["_change_type"]) for r in r1}
        tbl.merge_into(
            spark,
            spark.createDataFrame(
                [(3, 300.0), (4, 400.0), (50, 1.0)], "k long, x double"
            ),
            ["k"],
            update="all",
            insert=True,
        )
        r2 = [
            r
            for r in _run_cdc_batch(spark, root, ckpt, sink).collect()
            if (r["k"], r["x"], r["_change_type"]) not in seen
        ]
        ins = sorted((r["k"], r["x"]) for r in r2 if r["_change_type"] == "insert")
        dels = sorted((r["k"], r["x"]) for r in r2 if r["_change_type"] == "delete")
        assert ins == [(3, 300.0), (4, 400.0), (50, 1.0)]
        assert dels == [(3, 3.0), (4, 4.0)]
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)


def test_reused_dataframe_filter_order(ds, base_dir):
    """Spark's Python-DataSource integration caches the planned read
    per .load() and re-plans ONLY when a query pushes filters — so a
    loaded DataFrame reused for a filtered action then an unfiltered
    one replays the filtered partitions (upstream behavior, out of a
    source's reach). Pin the SAFE patterns: a fresh load per query is
    always exact, and filtered queries on a reused frame are each
    correct for their own predicate."""
    spark = ds
    root = base_dir + "/reuse"
    df = spark.createDataFrame([(i, i % 3) for i in range(90)], "k long, g long")
    tbl = create_table(root, df.schema)
    tbl.append(df)

    def fresh():
        return spark.read.format("engine_table").option("root", root).load()

    assert fresh().filter(F.col("g") == 0).count() == 30
    assert fresh().count() == 90  # fresh load: exact after a filtered query
    assert fresh().filter(F.col("k") < 10).count() == 10
    assert fresh().count() == 90
    conn = fresh()
    assert conn.count() == 90  # unfiltered-first reuse is safe:
    assert conn.filter(F.col("g") == 1).count() == 30  # filters re-applied
    # each FILTERED query on a reused frame re-plans with its own
    # predicate (pushFilters resets state per call)
    conn2 = fresh()
    assert conn2.filter(F.col("g") == 2).count() == 30
    assert conn2.filter(F.col("k") >= 45).count() == 45


def test_connector_write_after_spec_evolution(ds, base_dir):
    """Connector-written entries stamp the spec id their partition
    values were computed under. Unstamped entries resolve as spec 0 at
    plan time — after a truncate->bucket evolution that read hash
    buckets as truncate range starts and SILENTLY pruned every
    connector-written file out of point lookups (found round 6)."""
    spark = ds
    from java_iceberg_table_spark.table import bucket, truncate

    root = base_dir + "/specw"
    df = spark.createDataFrame([(i,) for i in range(100)], "k long")
    tbl = create_table(root, df.schema, partition=truncate("k", 50))
    tbl.append(df.filter(F.col("k") < 50))
    tbl.update_partition_spec(bucket("k", 4))
    df.filter(F.col("k") >= 50).write.format("engine_table").option(
        "root", root
    ).mode("append").save()
    tbl = open_table(root)
    new = [e for e in tbl.plan_files() if int(e.get("spec_id", 0) or 0) == 1]
    assert new and all(0 <= e["partition"] < 4 for e in new)
    assert sorted(
        r["k"] for r in tbl.scan(spark, [("k", "=", 60)]).collect()
    ) == [60]
    assert tbl.scan(spark).count() == 100


def test_connector_overwrite_modes(ds, base_dir):
    """mode('overwrite'): static replaces the whole table atomically
    (one 'overwrite' snapshot, old content time-travelable, empty
    frame truncates, pending MOR deletes dropped with the content);
    option('overwriteMode','dynamic') replaces only the partitions the
    written data touches, carrying other partitions and older-spec
    vintages by reference."""
    spark = ds
    from java_iceberg_table_spark.table import truncate

    root = base_dir + "/ovw"
    df = spark.createDataFrame(
        [(i, i % 4) for i in range(80)], "k long, g long"
    )
    tbl = create_table(root, df.schema, partition=truncate("g", 1))
    tbl.append(df)
    s1 = tbl.metadata.current_snapshot()
    # dynamic: rewrite only partitions 0 and 1 with new values
    repl = spark.createDataFrame(
        [(1000 + i, i % 2) for i in range(10)], "k long, g long"
    )
    repl.write.format("engine_table").option("root", root).option(
        "overwriteMode", "dynamic"
    ).mode("overwrite").save()
    tbl = open_table(root)
    got = {r["g"]: set() for r in tbl.scan(spark).collect()}
    for r in tbl.scan(spark).collect():
        got[r["g"]].add(r["k"])
    assert got[0] == {1000 + i for i in range(10) if i % 2 == 0}
    assert got[1] == {1000 + i for i in range(10) if i % 2 == 1}
    assert got[2] == {i for i in range(80) if i % 4 == 2}  # untouched
    assert got[3] == {i for i in range(80) if i % 4 == 3}
    assert tbl.metadata.current_snapshot().operation == "overwrite"
    # static: whole-table replace
    spark.createDataFrame([(1, 9)], "k long, g long").write.format(
        "engine_table"
    ).option("root", root).mode("overwrite").save()
    tbl = open_table(root)
    assert [(r["k"], r["g"]) for r in tbl.scan(spark).collect()] == [(1, 9)]
    # the pre-overwrite content is still time-travelable
    assert tbl.scan(spark, snapshot_id=s1.snapshot_id).count() == 80
    # branch + overwrite refused
    tbl.create_branch("b1")
    with pytest.raises(Exception, match="branch"):
        repl.write.format("engine_table").option("root", root).option(
            "branch", "b1"
        ).mode("overwrite").save()


def test_connector_row_lineage_parity(ds, base_dir):
    """option("withLineage","true"): the connector's _row_id /
    _last_updated_seq equal scan_with_lineage exactly — through
    appends, a MOR equality delete, and a lineage-preserving
    compaction (physical carry columns). Streaming refuses the
    option by contract."""
    spark = ds
    root = base_dir + "/t"
    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    )
    tbl = create_table(root, df.schema, properties={"row.lineage": "preserve"})
    tbl.append(df.filter(F.col("k") < 120).repartition(3))
    tbl.append(df.filter(F.col("k") >= 120))
    tbl.delete_eq_mor(
        spark, spark.range(5).select((F.col("id") * 10).alias("k")), ["k"]
    )

    def conn():
        return (
            spark.read.format("engine_table")
            .option("root", root)
            .option("withLineage", "true")
            .load()
            .select("k", "_row_id", "_last_updated_seq")
        )

    def api():
        return tbl.scan_with_lineage(spark).select(
            "k", "_row_id", "_last_updated_seq"
        )

    before = {r["k"]: (r["_row_id"], r["_last_updated_seq"]) for r in api().collect()}
    got = {r["k"]: (r["_row_id"], r["_last_updated_seq"]) for r in conn().collect()}
    assert got == before and len(got) == 195
    # compaction: ids stable, connector still agrees (inline carry path)
    tbl.compact_data_files(spark, target_file_bytes=10**9)
    after_api = {r["k"]: (r["_row_id"], r["_last_updated_seq"]) for r in api().collect()}
    after_conn = {r["k"]: (r["_row_id"], r["_last_updated_seq"]) for r in conn().collect()}
    assert after_conn == after_api
    assert {k: v[0] for k, v in after_conn.items()} == {
        k: v[0] for k, v in before.items()
    }
    # filters still correct with lineage on (row-group pushdown is
    # disabled, Spark re-applies residuals)
    assert conn().filter(F.col("k") >= 120).count() == 80
    q = (
        spark.readStream.format("engine_table")
        .option("root", root)
        .option("withLineage", "true")
        .load()
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="batch-only"):
        q.awaitTermination()


def test_connector_lineage_null_carry_after_merge(ds, base_dir):
    """Rows written by a MERGE rewrite have no assigned ids (lineage
    is assignment-point scoped); a preserve-mode compaction carries
    those NULLs physically, and the connector's lineage read returns
    NULL for them while keeping every other row's id — never a wrong
    id, never a crash on the nullable carry column."""
    spark = ds
    root = base_dir + "/t"
    df = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    tbl = create_table(root, df.schema, properties={"row.lineage": "preserve"})
    tbl.append(df)
    before = {
        r["k"]: r["_row_id"]
        for r in tbl.scan_with_lineage(spark).select("k", "_row_id").collect()
    }
    upd = spark.range(10).select(
        (F.col("id") * 3).alias("k"), F.lit(99).alias("v")
    )
    tbl.merge_into(spark, upd, ["k"], update="all", insert=True)
    tbl.compact_data_files(spark, target_file_bytes=10**9)
    got = (
        spark.read.format("engine_table")
        .option("root", root)
        .option("withLineage", "true")
        .load()
        .select("k", "v", "_row_id")
        .collect()
    )
    assert len(got) == 100
    for r in got:
        if r["v"] == 99:  # merge-rewritten: id unknown, loudly NULL
            assert r["_row_id"] is None
        else:  # untouched rows keep their exact ids through compaction
            assert r["_row_id"] == before[r["k"]]


# ---------- ingest_dedup_sink (i27's fold) ----------


def _idd_setup(spark, base_dir, tag):
    cur_root = base_dir + f"/idd_cur_{tag}"
    log_root = base_dir + f"/idd_log_{tag}"
    create_table(
        cur_root,
        spark.createDataFrame([], "doc_id long, text string, fp string").schema,
    )
    create_table(
        log_root, spark.createDataFrame([], "doc_id long, kept_doc long").schema
    )
    return cur_root, log_root


def _idd_state(spark, cur_root, log_root):
    cur = {
        r["doc_id"]
        for r in open_table(cur_root).scan(spark).select("doc_id").collect()
    }
    log = {
        (r["doc_id"], r["kept_doc"])
        for r in open_table(log_root).scan(spark).collect()
    }
    return cur, log


def test_ingest_dedup_replay_idempotent(ds, base_dir):
    """Re-invoking the fold with an applied batch id is a no-op; the
    within-batch and vs-curated paths both resolve to first-seen."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import ingest_dedup_sink

    cur_root, log_root = _idd_setup(spark, base_dir, "a")
    fold = ingest_dedup_sink(cur_root, log_root)
    b0 = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c d")], "doc_id long, text string"
    )
    fold(b0, 0)
    assert _idd_state(spark, cur_root, log_root) == ({1, 3}, {(2, 1)})
    fold(b0, 0)  # replay: nothing moves
    assert _idd_state(spark, cur_root, log_root) == ({1, 3}, {(2, 1)})
    b1 = spark.createDataFrame(
        [(4, "b a"), (5, "e f")], "doc_id long, text string"
    )
    fold(b1, 1)  # "b a" == token set {a,b}: cross-batch dup of doc 1
    assert _idd_state(spark, cur_root, log_root) == ({1, 3, 5}, {(2, 1), (4, 1)})
    fold(b1, 1)
    assert _idd_state(spark, cur_root, log_root) == ({1, 3, 5}, {(2, 1), (4, 1)})


def test_ingest_dedup_no_dup_batch_advances_watermark(ds, base_dir):
    """A batch with zero duplicates stamps the watermark with a
    data-less log commit — its replay must not re-append curated."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import ingest_dedup_sink

    cur_root, log_root = _idd_setup(spark, base_dir, "b")
    fold = ingest_dedup_sink(cur_root, log_root)
    b0 = spark.createDataFrame([(1, "x y"), (2, "p q")], "doc_id long, text string")
    fold(b0, 0)
    assert _idd_state(spark, cur_root, log_root) == ({1, 2}, set())
    n_snaps = len(open_table(cur_root).metadata.snapshots)
    fold(b0, 0)  # replay skipped via the data-less watermark commit
    assert _idd_state(spark, cur_root, log_root) == ({1, 2}, set())
    assert len(open_table(cur_root).metadata.snapshots) == n_snaps


def test_ingest_dedup_partial_crash_recovery(ds, base_dir):
    """Crash window between the curated append and the log commit: the
    replay finds its own curated stamp without the watermark, rolls
    curated back and refolds against intact state."""
    spark = ds
    from java_iceberg_table_spark.streaming.jobs import ingest_dedup_sink

    cur_root, log_root = _idd_setup(spark, base_dir, "c")
    fold = ingest_dedup_sink(cur_root, log_root)
    fold(
        spark.createDataFrame([(1, "a b"), (3, "c d")], "doc_id long, text string"),
        0,
    )
    # simulate batch 1's crash: curated append landed, log commit did not
    ct = open_table(cur_root)
    ct.append(
        spark.createDataFrame(
            [(5, "e f", "deadbeef")], "doc_id long, text string, fp string"
        ),
        extra_summary={"idd-batch-cur": 1, "idd-stream-id": "ingest-dedup"},
    )
    b1 = spark.createDataFrame(
        [(5, "e f"), (6, "a b")], "doc_id long, text string"
    )
    fold(b1, 1)  # replay after the crash: rollback + refold
    cur, log = _idd_state(spark, cur_root, log_root)
    assert cur == {1, 3, 5} and log == {(6, 1)}
    # the half-applied row must carry the REFOLDED fp, not "deadbeef"
    fps = {
        r["fp"]
        for r in open_table(cur_root).scan(spark).filter("doc_id = 5").collect()
    }
    assert fps != {"deadbeef"} and len(fps) == 1


def test_ingest_dedup_sink_crash_schedules(spark, tmp_path):
    """Chaos replays for the two-table ingest-dedup protocol: lost log
    commits (crash between curated and log) and lost log+curated
    rollbacks, each followed by replays. Exactly-once invariant:
    curated = first-seen-wins winners, log = one verdict per loser."""
    from java_iceberg_table_spark.streaming.jobs import ingest_dedup_sink
    from java_iceberg_table_spark.table import create_table, load_table

    schema = "doc_id long, text string"
    cur_root = str(tmp_path / "cur")
    log_root = str(tmp_path / "log")
    create_table(
        cur_root, spark.createDataFrame([], schema + ", fp string").schema
    )
    create_table(
        log_root, spark.createDataFrame([], "doc_id long, kept_doc long").schema
    )
    fold = ingest_dedup_sink(cur_root, log_root)
    batches = [
        [(1, "a b c"), (2, "a b c"), (3, "x y")],      # 2 dups 1
        [(4, "x y"), (5, "new one")],                   # 4 dups 3
        [(6, "a b c"), (7, "q r"), (8, "q r")],         # 6 dups 1, 8 dups 7
    ]
    expected_cur = {1, 3, 5, 7}
    expected_log = {(2, 1), (4, 3), (6, 1), (8, 7)}

    def crash_lose_log(b):
        lt = load_table(log_root)
        snap = lt.metadata.current_snapshot()
        mine = [
            s for s in lt.metadata.snapshots
            if s.summary.get("idd-batch-id") == b
        ]
        assert mine and snap.snapshot_id == mine[-1].snapshot_id
        if snap.parent_id is not None:
            lt.rollback_to(snap.parent_id)
            return True
        return False

    for b, rows_b in enumerate(batches):
        df = spark.createDataFrame(rows_b, schema)
        fold(df, b)
        if b == 0:
            # crash window: log commit lost -> replay must roll curated
            # back (idd-batch-cur marker) and refold
            if crash_lose_log(b):
                fold(df, b)
        if b == 1:
            # deeper crash: log lost AND a repair attempt rolled curated
            # back before dying -> replay must not wedge
            if crash_lose_log(b):
                ct = load_table(cur_root)
                partial = [
                    s for s in ct.metadata.snapshots
                    if s.summary.get("idd-batch-cur") == b
                ][-1]
                if ct.metadata.current_snapshot_id == partial.snapshot_id:
                    ct.rollback_to(partial.parent_id)
                fold(df, b)
        fold(df, b)  # unconditional at-least-once replay
    got_cur = {
        r["doc_id"] for r in load_table(cur_root).scan(spark).collect()
    }
    got_log = {
        (r["doc_id"], r["kept_doc"])
        for r in load_table(log_root).scan(spark).collect()
    }
    assert got_cur == expected_cur
    assert got_log == expected_log


def test_materialized_view_crash_schedules(ds, base_dir):
    """Chaos replays for the mv fold (round 8, mirrors the dedup/fanout
    chaos tests): per batch a seeded scenario — clean, crash between
    the delete and append commits, external rollback onto the delete
    commit, external rollback past BOTH commits — each followed by
    replays. Invariant: view == recompute after every batch."""
    import random

    from java_iceberg_table_spark.streaming.jobs import maintained_view_merge

    spark = ds
    src_root, view_root, df = _mv_setup(spark, base_dir)
    merge = maintained_view_merge(view_root)
    open_table(src_root).append(df)
    merge(df.withColumn("_change_type", F.lit("insert")), 0)
    rng = random.Random(99)
    for b in range(1, 9):
        more = spark.createDataFrame(
            [(b * 1000 + i, (b + i) % 7, float(i)) for i in range(8)],
            "event_id long, user_id long, value double",
        )
        open_table(src_root).append(more)
        cdc = more.withColumn("_change_type", F.lit("insert"))
        scenario = rng.choice(["clean", "del_only", "rb_to_del", "rb_past"])
        if scenario == "del_only":
            # crash window: delete lands, append does not
            open_table(view_root).delete_eq_mor(
                spark,
                cdc.select("user_id").dropDuplicates(),
                ["user_id"],
                extra_summary={"mv-batch-del": b},
            )
        elif scenario in ("rb_to_del", "rb_past"):
            merge(cdc, b)  # fully applied...
            vt = open_table(view_root)
            snaps = vt.metadata.snapshots
            head = vt.metadata.current_snapshot()
            assert head.summary.get("mv-batch-id") == b
            if scenario == "rb_to_del":
                vt.rollback_to(head.parent_id)  # head = the delete commit
            else:
                by_id = {s.snapshot_id: s for s in snaps}
                delete_snap = by_id[head.parent_id]
                vt.rollback_to(delete_snap.parent_id)  # before both
        merge(cdc, b)  # the replay that must repair everything
        if rng.random() < 0.5:
            merge(cdc, b)
        assert _mv_equals_recompute(spark, src_root, view_root), (b, scenario)


def _topk_setup(spark, base_dir):
    src_root, view_root = base_dir + "/tksrc", base_dir + "/tkview"
    df = spark.createDataFrame(
        [(i, i % 5, float((i * 37) % 100)) for i in range(40)],
        "event_id long, user_id long, value double",
    )
    create_table(src_root, df.schema)
    create_table(
        view_root,
        spark.createDataFrame(
            [], "event_id long, user_id long, value double, rn int"
        ).schema,
    )
    return src_root, view_root, df


def _topk_equals_recompute(spark, src_root, view_root, k=3) -> bool:
    from java_iceberg_table_spark.operators.topk_view import topk_frame

    src, vt = open_table(src_root), open_table(view_root)
    mv = vt.scan(spark)
    rec = topk_frame(
        src.scan(spark), "user_id", ["value", "event_id"], k
    ).select(mv.columns)
    return mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()


def test_topk_view_sink_crash_schedules(ds, base_dir):
    """Chaos replays for the streaming top-k fold (round 9, mirrors
    the mv/dedup/fanout chaos tests): per batch a seeded scenario —
    clean, crash between the delete and append commits, external
    rollback onto the delete commit, external rollback past both —
    each followed by replays. Invariant: view == top-k recompute over
    all source rows after every batch."""
    import random

    from java_iceberg_table_spark.streaming.jobs import topk_view_sink

    spark = ds
    src_root, view_root, df = _topk_setup(spark, base_dir)
    fold = topk_view_sink(
        view_root, "user_id", ["value", "event_id"], 3, stream_id="chaos"
    )
    open_table(src_root).append(df)
    fold(df, 0)
    assert _topk_equals_recompute(spark, src_root, view_root)
    rng = random.Random(41)
    for b in range(1, 9):
        more = spark.createDataFrame(
            [
                (b * 1000 + i, (b + i) % 7, float((b * 13 + i * 7) % 50))
                for i in range(8)
            ],
            "event_id long, user_id long, value double",
        )
        open_table(src_root).append(more)
        scenario = rng.choice(["clean", "del_only", "rb_to_del", "rb_past"])
        if scenario == "del_only":
            open_table(view_root).delete_eq_mor(
                spark,
                more.select("user_id").dropDuplicates(),
                ["user_id"],
                extra_summary={"mv-batch-del": b, "mv-stream-id": "chaos"},
            )
        elif scenario in ("rb_to_del", "rb_past"):
            fold(more, b)  # fully applied...
            vt = open_table(view_root)
            head = vt.metadata.current_snapshot()
            assert head.summary.get("mv-batch-id") == b
            if scenario == "rb_to_del":
                vt.rollback_to(head.parent_id)
            else:
                by_id = {s.snapshot_id: s for s in vt.metadata.snapshots}
                vt.rollback_to(by_id[head.parent_id].parent_id)
        fold(more, b)  # the replay that must repair everything
        if rng.random() < 0.5:
            fold(more, b)
        assert _topk_equals_recompute(spark, src_root, view_root), (
            b,
            scenario,
        )


def _agg_equals_recompute(spark, src_root, view_root) -> bool:
    src, vt = open_table(src_root), open_table(view_root)
    mv = vt.scan(spark)
    rec = (
        src.scan(spark)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("double")).alias("sv"),
        )
        .select(mv.columns)
    )
    return mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()


def test_agg_view_sink_crash_schedules(ds, base_dir):
    """Chaos replays for the streaming ADDITIVE fold (round 10,
    mirrors the topk/mv/dedup/fanout chaos tests) with DELETES in the
    change feed — the agg sink's distinctive path: delete rows enter
    the per-batch aggregate with sign -1, so insert/delete mixes fold
    without source access. Per batch a seeded scenario — clean, crash
    between the delete and append commits, external rollback onto the
    delete commit, external rollback past both — each followed by
    replays. Invariant: view == per-user (cnt, sum) recompute over the
    SURVIVING source rows after every batch; fully-deleted users leave
    the view."""
    import random

    from java_iceberg_table_spark.streaming.jobs import agg_view_sink

    spark = ds
    src_root, view_root = base_dir + "/agsrc", base_dir + "/agview"
    schema = "event_id long, user_id long, value double"
    rows = [(i, i % 5, float((i * 37) % 100)) for i in range(40)]
    df = spark.createDataFrame(rows, schema)
    create_table(src_root, df.schema)
    create_table(
        view_root,
        spark.createDataFrame([], "user_id long, cnt long, sv double").schema,
    )
    fold = agg_view_sink(view_root, ["user_id"], "value", stream_id="chaos")
    open_table(src_root).append(df)
    fold(df.withColumn("_change_type", F.lit("insert")), 0)
    assert _agg_equals_recompute(spark, src_root, view_root)
    live = list(rows)
    rng = random.Random(17)
    for b in range(1, 9):
        new = [
            (b * 1000 + i, (b + i) % 7, float((b * 13 + i * 7) % 50))
            for i in range(8)
        ]
        dels = [
            live.pop(rng.randrange(len(live)))
            for _ in range(min(3, len(live)))
        ]
        more = spark.createDataFrame(new, schema)
        del_df = spark.createDataFrame(dels, schema)
        live.extend(new)
        src = open_table(src_root)
        src.append(more)
        src.delete_eq_mor(spark, del_df.select("event_id"), ["event_id"])
        cdc = more.withColumn("_change_type", F.lit("insert")).unionByName(
            del_df.withColumn("_change_type", F.lit("delete"))
        )
        scenario = rng.choice(["clean", "del_only", "rb_to_del", "rb_past"])
        if scenario == "del_only":
            open_table(view_root).delete_eq_mor(
                spark,
                cdc.select("user_id").dropDuplicates(),
                ["user_id"],
                extra_summary={"mv-batch-del": b, "mv-stream-id": "chaos"},
            )
        elif scenario in ("rb_to_del", "rb_past"):
            fold(cdc, b)  # fully applied...
            vt = open_table(view_root)
            head = vt.metadata.current_snapshot()
            assert head.summary.get("mv-batch-id") == b
            if scenario == "rb_to_del":
                vt.rollback_to(head.parent_id)
            else:
                by_id = {s.snapshot_id: s for s in vt.metadata.snapshots}
                vt.rollback_to(by_id[head.parent_id].parent_id)
        fold(cdc, b)  # the replay that must repair everything
        if rng.random() < 0.5:
            fold(cdc, b)
        assert _agg_equals_recompute(spark, src_root, view_root), (
            b,
            scenario,
        )


def test_agg_view_sink_refuses_unknown_change_type(ds, base_dir):
    from java_iceberg_table_spark.streaming.jobs import agg_view_sink

    spark = ds
    view_root = base_dir + "/agview2"
    create_table(
        view_root,
        spark.createDataFrame([], "user_id long, cnt long, sv double").schema,
    )
    fold = agg_view_sink(view_root, ["user_id"], "value")
    df = spark.createDataFrame(
        [(1, 1, 1.0)], "event_id long, user_id long, value double"
    )
    with pytest.raises(ValueError, match="unknown _change_type"):
        fold(df.withColumn("_change_type", F.lit("update_post")), 0)


def test_topk_view_sink_delete_crash_schedules(ds, base_dir):
    """Chaos replays for the streaming top-k fold with DELETES in the
    change feed (round 12 — the lifted insert-only contract): with
    source_root set, delete-touched keys rebuild their exact top-k
    from the source table (runtime-filter-pruned — promotions of rows
    the view never held must come back), untouched keys' inserts merge
    as usual; fully-deleted keys leave the view. Deletes are biased
    toward each user's CURRENT TOP ROWS so the promotion path (not the
    trivial below-k delete) is what's under test. Per batch a seeded
    scenario — clean, crash between the delete and append commits,
    external rollback onto the delete commit, external rollback past
    both — each followed by replays. Invariant: view == top-k
    recompute over the SURVIVING source rows after every batch."""
    import random

    from java_iceberg_table_spark.streaming.jobs import topk_view_sink

    spark = ds
    src_root, view_root = base_dir + "/tkdsrc", base_dir + "/tkdview"
    schema = "event_id long, user_id long, value double"
    rows = [(i, i % 5, float((i * 37) % 100)) for i in range(40)]
    df = spark.createDataFrame(rows, schema)
    create_table(src_root, df.schema)
    create_table(
        view_root,
        spark.createDataFrame(
            [], "event_id long, user_id long, value double, rn int"
        ).schema,
    )
    fold = topk_view_sink(
        view_root, "user_id", ["value", "event_id"], 3,
        stream_id="chaos", source_root=src_root,
    )
    open_table(src_root).append(df)
    fold(df.withColumn("_change_type", F.lit("insert")), 0)
    assert _topk_equals_recompute(spark, src_root, view_root)
    live = list(rows)
    rng = random.Random(31)
    for b in range(1, 9):
        new = [
            (b * 1000 + i, (b + i) % 7, float((b * 13 + i * 7) % 50))
            for i in range(8)
        ]
        by_user: dict = {}
        for r in live:
            by_user.setdefault(r[1], []).append(r)
        dels = []
        for u in list(by_user)[:3]:
            # the user's current BEST row by (value, event_id): its
            # delete must promote a row the view does not hold
            band = sorted(by_user[u], key=lambda r: (r[2], r[0]))
            pick = band[0] if rng.random() < 0.7 else band[-1]
            dels.append(pick)
            live.remove(pick)
        more = spark.createDataFrame(new, schema)
        del_df = spark.createDataFrame(dels, schema)
        live.extend(new)
        src = open_table(src_root)
        src.append(more)
        src.delete_eq_mor(spark, del_df.select("event_id"), ["event_id"])
        cdc = more.withColumn("_change_type", F.lit("insert")).unionByName(
            del_df.withColumn("_change_type", F.lit("delete"))
        )
        scenario = rng.choice(["clean", "del_only", "rb_to_del", "rb_past"])
        if scenario == "del_only":
            open_table(view_root).delete_eq_mor(
                spark,
                cdc.select("user_id").dropDuplicates(),
                ["user_id"],
                extra_summary={"mv-batch-del": b, "mv-stream-id": "chaos"},
            )
        elif scenario in ("rb_to_del", "rb_past"):
            fold(cdc, b)  # fully applied...
            vt = open_table(view_root)
            head = vt.metadata.current_snapshot()
            assert head.summary.get("mv-batch-id") == b
            if scenario == "rb_to_del":
                vt.rollback_to(head.parent_id)
            else:
                by_id = {s.snapshot_id: s for s in vt.metadata.snapshots}
                vt.rollback_to(by_id[head.parent_id].parent_id)
        fold(cdc, b)  # the replay that must repair everything
        if rng.random() < 0.5:
            fold(cdc, b)
        assert _topk_equals_recompute(spark, src_root, view_root), (
            b,
            scenario,
        )
    # deleting EVERY remaining row of one user drops the user entirely
    victim = live[0][1]
    gone = [r for r in live if r[1] == victim]
    live = [r for r in live if r[1] != victim]
    del_df = spark.createDataFrame(gone, schema)
    src = open_table(src_root)
    src.delete_eq_mor(spark, del_df.select("event_id"), ["event_id"])
    fold(del_df.withColumn("_change_type", F.lit("delete")), 9)
    mv = open_table(view_root).scan(spark)
    assert mv.filter(F.col("user_id") == victim).isEmpty()
    assert _topk_equals_recompute(spark, src_root, view_root)


def test_topk_view_sink_cdc_insert_unpersists_batch(ds, base_dir):
    """Round-12 ADVICE (medium): the CDC insert path rebound
    ``batch_df`` to the insert-filtered child, so the finally-block
    unpersist targeted the derived plan and the PERSISTED micro-batch
    leaked in the CacheManager — one cached batch per epoch for the
    session's life. The fold must leave no cached plan behind."""
    from java_iceberg_table_spark.streaming.jobs import topk_view_sink

    spark = ds
    view_root = base_dir + "/tkleak"
    schema = "event_id long, user_id long, value double"
    create_table(
        view_root,
        spark.createDataFrame([], schema + ", rn int").schema,
    )
    fold = topk_view_sink(
        view_root, "user_id", ["value", "event_id"], 2, stream_id="leak"
    )
    spark.catalog.clearCache()
    for b in range(3):
        batch = spark.createDataFrame(
            [(b * 10 + i, i % 2, float(i)) for i in range(6)], schema
        ).withColumn("_change_type", F.lit("insert"))
        fold(batch, b)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _extrema_equals_recompute(spark, src_root, view_root) -> bool:
    src, vt = open_table(src_root), open_table(view_root)
    mv = vt.scan(spark)
    rec = (
        src.scan(spark)
        .groupBy("user_id")
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .select(mv.columns)
    )
    return mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()


def test_extrema_view_sink_crash_schedules(ds, base_dir):
    """Chaos replays for the streaming MIN/MAX fold with DELETES in
    the change feed (round 12 — the lifted i31 contract): with
    source_root set, delete-touched keys rebuild their extrema from
    the source table (runtime-filter-pruned, the a4z refresh shape)
    while untouched keys merge insert-only; fully-deleted keys leave
    the view. Per batch a seeded scenario — clean, crash between the
    delete and append commits, external rollback onto the delete
    commit, external rollback past both — each followed by replays.
    Invariant: view == per-user (min, max) recompute over the
    SURVIVING source rows after every batch, including batches whose
    delete removes the current min or max."""
    import random

    from java_iceberg_table_spark.streaming.jobs import extrema_view_sink

    spark = ds
    src_root, view_root = base_dir + "/exsrc", base_dir + "/exview"
    schema = "event_id long, user_id long, value long"
    rows = [(i, i % 5, (i * 37) % 100) for i in range(40)]
    df = spark.createDataFrame(rows, schema)
    create_table(src_root, df.schema)
    create_table(
        view_root,
        spark.createDataFrame([], "user_id long, mn long, mx long").schema,
    )
    fold = extrema_view_sink(
        view_root, "user_id", "value",
        stream_id="chaos", source_root=src_root,
    )
    open_table(src_root).append(df)
    fold(df.withColumn("_change_type", F.lit("insert")), 0)
    assert _extrema_equals_recompute(spark, src_root, view_root)
    live = list(rows)
    rng = random.Random(23)
    for b in range(1, 9):
        new = [
            (b * 1000 + i, (b + i) % 7, (b * 13 + i * 7) % 50)
            for i in range(8)
        ]
        # bias deletions toward each user's current extremes so the
        # bounded rebuild path (not the trivial merge) is what's
        # actually under test
        by_user: dict = {}
        for r in live:
            by_user.setdefault(r[1], []).append(r)
        dels = []
        for u in list(by_user)[:3]:
            band = sorted(by_user[u], key=lambda r: r[2])
            pick = band[0] if rng.random() < 0.5 else band[-1]
            dels.append(pick)
            live.remove(pick)
        more = spark.createDataFrame(new, schema)
        del_df = spark.createDataFrame(dels, schema)
        live.extend(new)
        src = open_table(src_root)
        src.append(more)
        src.delete_eq_mor(spark, del_df.select("event_id"), ["event_id"])
        cdc = more.withColumn("_change_type", F.lit("insert")).unionByName(
            del_df.withColumn("_change_type", F.lit("delete"))
        )
        scenario = rng.choice(["clean", "del_only", "rb_to_del", "rb_past"])
        if scenario == "del_only":
            open_table(view_root).delete_eq_mor(
                spark,
                cdc.select("user_id").dropDuplicates(),
                ["user_id"],
                extra_summary={"mv-batch-del": b, "mv-stream-id": "chaos"},
            )
        elif scenario in ("rb_to_del", "rb_past"):
            fold(cdc, b)  # fully applied...
            vt = open_table(view_root)
            head = vt.metadata.current_snapshot()
            assert head.summary.get("mv-batch-id") == b
            if scenario == "rb_to_del":
                vt.rollback_to(head.parent_id)
            else:
                by_id = {s.snapshot_id: s for s in vt.metadata.snapshots}
                vt.rollback_to(by_id[head.parent_id].parent_id)
        fold(cdc, b)  # the replay that must repair everything
        if rng.random() < 0.5:
            fold(cdc, b)
        assert _extrema_equals_recompute(spark, src_root, view_root), (
            b,
            scenario,
        )
    # a batch that deletes EVERY remaining row of one user drops the
    # user from the view entirely
    victim = live[0][1]
    gone = [r for r in live if r[1] == victim]
    live = [r for r in live if r[1] != victim]
    del_df = spark.createDataFrame(gone, schema)
    src = open_table(src_root)
    src.delete_eq_mor(spark, del_df.select("event_id"), ["event_id"])
    fold(del_df.withColumn("_change_type", F.lit("delete")), 9)
    mv = open_table(view_root).scan(spark)
    assert mv.filter(F.col("user_id") == victim).isEmpty()
    assert _extrema_equals_recompute(spark, src_root, view_root)


def test_extrema_view_sink_refuses_without_source(ds, base_dir):
    """Without source_root the INSERT-ONLY contract stays: a
    delete-bearing batch refuses loudly (no source to rebuild from),
    and unknown _change_type values refuse rather than silently
    dropping rows."""
    from java_iceberg_table_spark.streaming.jobs import extrema_view_sink

    spark = ds
    view_root = base_dir + "/exview2"
    create_table(
        view_root,
        spark.createDataFrame([], "user_id long, mn long, mx long").schema,
    )
    fold = extrema_view_sink(view_root, "user_id", "value")
    df = spark.createDataFrame(
        [(1, 1, 10), (2, 1, 20)], "event_id long, user_id long, value long"
    )
    with pytest.raises(ValueError, match="INSERT-ONLY"):
        fold(
            df.withColumn(
                "_change_type",
                F.when(F.col("event_id") == 1, "delete").otherwise("insert"),
            ),
            0,
        )
    with pytest.raises(ValueError, match="unknown _change_type"):
        fold(df.withColumn("_change_type", F.lit("update_post")), 0)
    # pure-insert CDC still folds
    fold(df.withColumn("_change_type", F.lit("insert")), 0)
    mv = {
        r["user_id"]: (r["mn"], r["mx"])
        for r in open_table(view_root).scan(spark).collect()
    }
    assert mv == {1: (10, 20)}


def test_topk_view_sink_refuses_cdc_deletes(ds, base_dir):
    from java_iceberg_table_spark.streaming.jobs import topk_view_sink

    spark = ds
    src_root, view_root, df = _topk_setup(spark, base_dir)
    fold = topk_view_sink(view_root, "user_id", ["value", "event_id"], 3)
    cdc = df.withColumn(
        "_change_type",
        F.when(F.col("event_id") % 10 == 0, "delete").otherwise("insert"),
    )
    with pytest.raises(ValueError, match="insert-only"):
        fold(cdc, 0)
    # pure-insert CDC batches fold fine (the _change_type column drops)
    fold(df.withColumn("_change_type", F.lit("insert")), 0)
    open_table(src_root).append(df)
    assert _topk_equals_recompute(spark, src_root, view_root)


def test_ann_index_sink_crash_schedules(ds, base_dir):
    """Chaos replays for the streaming ANN index fold (round 10): per
    batch a seeded scenario — clean, crash between the delete and
    append commits, external rollback onto the delete commit, external
    rollback past both — each followed by replays, with DELETES in the
    feed and same-batch insert+delete cancellation. Invariant after
    every batch: the index equals a frozen-model encode of exactly the
    surviving vectors."""
    import random

    from java_iceberg_table_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_write_table,
    )
    from java_iceberg_table_spark.streaming.jobs import ann_index_sink

    spark = ds

    def vec(i):
        return [float((i * 7 + d * 3) % 11) / 11.0 + 0.1 for d in range(8)]

    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame([(i, vec(i)) for i in range(40)], schema)
    root = base_dir + "/annidx"
    _tbl, cents, books = ivfpq_write_table(
        root, base, n_centroids=4, m=4, n_codes=4,
        kmeans_iters=1, pq_iters=1,
    )
    fold = ann_index_sink(root, cents, books, stream_id="chaos")
    live = {i: vec(i) for i in range(40)}

    def equals_encode():
        idx = open_table(root).scan(spark).select("id", "cluster", "code")
        surv = spark.createDataFrame(
            [(i, v) for i, v in live.items()], schema
        )
        enc = ivfpq_encode(surv, cents, books).select(
            "id", "cluster", "code"
        )
        return idx.exceptAll(enc).isEmpty() and enc.exceptAll(idx).isEmpty()

    assert equals_encode()
    rng = random.Random(23)
    for b in range(1, 7):
        new = {b * 100 + i: vec(b * 100 + i) for i in range(6)}
        dels = [
            k for k in rng.sample(sorted(live), min(2, len(live)))
        ]
        # one same-batch cancel (insert then delete of the same vec)
        # and one same-batch REPLACE (delete old vec + insert new vec
        # of an EXISTING id — must keep the new vector)
        cancel_id = b * 100 + 99
        rep_id = sorted(live)[0]
        rep_old, rep_new = live[rep_id], vec(rep_id + 5000 * b)
        # and a delete+reinsert of a standing row with the IDENTICAL
        # vector — nets to a no-op, the row must survive
        touch_id = sorted(live)[1]
        cdc = spark.createDataFrame(
            [(k, v, "insert") for k, v in new.items()]
            + [(cancel_id, vec(cancel_id), "insert")]
            + [(k, live[k], "delete") for k in dels]
            + [(cancel_id, vec(cancel_id), "delete")]
            + [(rep_id, rep_old, "delete"), (rep_id, rep_new, "insert")]
            + [
                (touch_id, live[touch_id], "delete"),
                (touch_id, live[touch_id], "insert"),
            ],
            schema + ", _change_type string",
        )
        for k in dels:
            live.pop(k)
        live.update(new)
        live[rep_id] = rep_new
        scenario = rng.choice(["clean", "del_only", "rb_to_del", "rb_past"])
        if scenario == "del_only":
            open_table(root).delete_eq_mor(
                spark,
                cdc.filter(F.col("_change_type") == "delete")
                .select(F.col("vec_id").alias("id")).distinct(),
                ["id"],
                extra_summary={"mv-batch-del": b, "mv-stream-id": "chaos"},
            )
        elif scenario in ("rb_to_del", "rb_past"):
            fold(cdc, b)  # fully applied...
            it = open_table(root)
            head = it.metadata.current_snapshot()
            assert head.summary.get("mv-batch-id") == b
            if scenario == "rb_to_del":
                it.rollback_to(head.parent_id)
            else:
                by_id = {s.snapshot_id: s for s in it.metadata.snapshots}
                parent = by_id[head.parent_id]
                # all-insert batches have no delete commit to roll past
                it.rollback_to(
                    parent.parent_id
                    if parent.summary.get("mv-batch-del") == b
                    else head.parent_id
                )
        fold(cdc, b)  # the replay that must repair everything
        if rng.random() < 0.5:
            fold(cdc, b)
        assert equals_encode(), (b, scenario)


def test_catalog_read_pinned_and_time_travel(ds, base_dir):
    """Connector catalog reads (round 10): option("catalog")+option
    ("name") pin the scan to the PUBLISHED catalog state — parity with
    Catalog.read — and option("catalog_version", N) time-travels the
    whole catalog; unpublished head motion stays invisible; a
    registered-but-never-published table scans empty; combining with
    table-level time-travel options is refused."""
    from java_iceberg_table_spark.table import Catalog

    spark = ds
    croot = base_dir + "/cat"
    cat = Catalog.create(croot)
    t = cat.create_table(
        "t", spark.createDataFrame([], "k long, v string").schema
    )
    v_none = cat.state().version  # pin is None: registered, unpublished

    def rd(**opts):
        r = (
            spark.read.format("engine_table")
            .option("catalog", croot)
            .option("name", "t")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    assert rd().count() == 0  # empty pin != head scan
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    v_a = cat.state().version
    t.append(spark.createDataFrame([(3, "c")], "k long, v string"))
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    v_b = cat.state().version
    t.append(spark.createDataFrame([(4, "d")], "k long, v string"))  # NOT published
    # current state: published rows only, head motion invisible
    assert {r["k"] for r in rd().collect()} == {1, 2, 3}
    # catalog-version time travel + parity with Catalog.read(state_at)
    for v in (v_a, v_b):
        via_connector = {r["k"] for r in rd(catalog_version=str(v)).collect()}
        via_catalog = {
            r["k"]
            for r in cat.read(spark, "t", state=cat.state_at(v)).collect()
        }
        assert via_connector == via_catalog
    assert {r["k"] for r in rd(catalog_version=str(v_a)).collect()} == {1, 2}
    assert rd(catalog_version=str(v_none)).count() == 0
    # pushed filters still prune through the pinned scan
    assert rd().filter(F.col("k") >= 2).count() == 2
    # refusals: combining with table-level time travel; unknown table
    with pytest.raises(Exception, match="don't combine"):
        rd(snapshot_id="1").collect()
    with pytest.raises(Exception, match="no table"):
        (
            spark.read.format("engine_table")
            .option("catalog", croot)
            .option("name", "zzz")
            .load()
            .collect()
        )


def test_orphan_catalog_options_refused(ds, base_dir):
    """catalog_version / name without option("catalog") must refuse
    loudly — silently ignoring them would hand back a head scan the
    user believes is catalog-pinned."""
    root = base_dir + "/t"
    df = ds.createDataFrame([(1, "a")], "k long, v string")
    create_table(root, df.schema)
    for orphan in ({"catalog_version": "3"}, {"name": "t"}):
        r = ds.read.format("engine_table").option("root", root)
        for k, v in orphan.items():
            r = r.option(k, v)
        with pytest.raises(Exception, match="catalog-read option"):
            r.load().collect()
