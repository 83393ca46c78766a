"""Manifest-level Bloom index: no false negatives, useful FP rate,
plan_files integration, manifest round trip."""

from __future__ import annotations

import datetime
import tempfile

import pytest
from pyspark.sql import functions as F

from java_iceberg_table_spark.table import bloom_index, create_table
from java_iceberg_table_spark.table import load_table as open_table
from java_iceberg_table_spark.table.bloom_index import (
    bloom_may_contain,
    build_file_blooms,
    sized_bits,
)


@pytest.fixture(scope="module")
def bloom_table(spark, sf_dir):
    from java_iceberg_table_spark.fixtures import load_table

    base = tempfile.mkdtemp(prefix="bloom_test_")
    root = base + "/t"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tbl = create_table(
        root, orders.schema, properties={"write.bloom.column": "o_orderkey"}
    )
    tbl.append(orders.repartition(4))
    keys = {r[0] for r in orders.select("o_orderkey").collect()}
    yield tbl, keys
    import shutil

    shutil.rmtree(base, ignore_errors=True)


def test_sized_bits_pow2_and_floor():
    assert sized_bits(1) == 1024
    assert sized_bits(500) == 8192  # 500*10 -> next pow2
    assert sized_bits(0) == 1024


def test_no_false_negatives(spark, bloom_table):
    tbl, keys = bloom_table
    entries = tbl.plan_files()
    assert all("bloom" in e for e in entries)
    # every present key must survive planning (bloom can't drop it)
    sample = sorted(keys)[:: max(1, len(keys) // 50)][:50]
    for k in sample:
        hit = tbl.plan_files([("o_orderkey", "=", int(k))])
        assert hit, f"present key {k} pruned away"
        # and the scan returns its rows
    k = sample[0]
    expect = len([x for x in keys if x == k])
    assert tbl.scan(spark, [("o_orderkey", "=", int(k))]).count() >= 1


def test_absent_keys_prune_most_files(spark, sf_dir):
    # fixture orderkeys are dense, so build over a SPARSE derived key
    # (2*o_orderkey): every odd value is an in-range absent key that
    # min/max CANNOT prune — only the bloom can. ~1% FP per file ->
    # matched-file rate across 200 probes well under 10%.
    from java_iceberg_table_spark.fixtures import load_table

    base = tempfile.mkdtemp(prefix="bloom_sparse_")
    root = base + "/t"
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            (F.col("o_orderkey") * 2).alias("k"), "o_totalprice"
        )
        tbl = create_table(
            root, orders.schema, properties={"write.bloom.column": "k"}
        )
        tbl.append(orders.repartition(4))
        n_all = len(tbl.plan_files())
        lo = min(r[0] for r in tbl.scan(spark).agg(F.min("k")).collect())
        absent = [int(lo) + 1 + 2 * i for i in range(200)]  # odd = absent
        matched = sum(len(tbl.plan_files([("k", "=", v)])) for v in absent)
        assert matched <= 0.1 * len(absent) * n_all
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def test_present_key_prunes_other_files(bloom_table):
    tbl, keys = bloom_table
    n_all = len(tbl.plan_files())
    assert n_all >= 2
    k = int(min(keys))
    n_hit = len(tbl.plan_files([("o_orderkey", "=", k)]))
    assert 1 <= n_hit < n_all


def test_bloom_survives_manifest_roundtrip(bloom_table):
    tbl, keys = bloom_table
    # reopen from disk: the bloom must come back from the manifest JSON
    reopened = open_table(tbl.root)
    e = reopened.plan_files()[0]
    b = e["bloom"]
    assert b["column"] == "o_orderkey" and len(b["words"]) == b["bits"] // 64
    # probe parity after JSON round trip
    k = next(iter(keys))
    assert bloom_may_contain(b, int(k)) in (True, False)


def test_build_probe_hash_parity(spark):
    # the Spark build side and the Python probe side must agree on
    # every inserted value (CRC32 string parity)
    import os

    base = tempfile.mkdtemp(prefix="bloom_parity_")
    path = os.path.join(base, "f.parquet")
    vals = list(range(0, 5000, 7)) + [10**12 + 3]
    spark.createDataFrame([(v,) for v in vals], "k long").coalesce(
        1
    ).write.parquet(path)
    import glob

    f = glob.glob(os.path.join(path, "*.parquet"))[0]
    blooms = build_file_blooms(spark, {f: len(vals)}, "k")
    b = blooms[f]
    assert all(bloom_may_contain(b, v) for v in vals)
    import shutil

    shutil.rmtree(base, ignore_errors=True)


def test_root_containing_data_segment(spark, sf_dir):
    # A table rooted under a path that itself contains a /data/
    # component (e.g. <tmp>/data/warehouse/t) must still key its
    # blooms by the LAST data/ segment — the one the scan side
    # extracts. A first-segment anchor would build keys like
    # "data/warehouse/t/data/part-..." while the Spark mirror and
    # table._file_key_col extract "data/part-...": every probe would
    # then see an all-zero bloom and present keys would be pruned
    # away (silent missing rows).
    import os

    from java_iceberg_table_spark.fixtures import load_table
    from java_iceberg_table_spark.table.bloom_index import _rel_key

    assert _rel_key("/x/data/warehouse/t/data/f.parquet") == "data/f.parquet"

    base = tempfile.mkdtemp(prefix="bloom_dataroot_")
    root = os.path.join(base, "data", "warehouse", "t")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = create_table(
            root, orders.schema, properties={"write.bloom.column": "o_orderkey"}
        )
        tbl.append(orders.repartition(4))
        entries = tbl.plan_files()
        assert entries and all("bloom" in e for e in entries)
        # blooms must be non-trivial (a key mismatch yields all-zero words)
        assert any(any(w != 0 for w in e["bloom"]["words"]) for e in entries)
        keys = sorted(r[0] for r in orders.select("o_orderkey").collect())
        for k in keys[:: max(1, len(keys) // 25)][:25]:
            assert tbl.plan_files([("o_orderkey", "=", int(k))]), (
                f"present key {k} pruned away under /data/-containing root"
            )
        # absent keys must still prune (the bloom is real, not a
        # survive-everything fallback)
        n_all = len(entries)
        absent = [int(keys[-1]) + 10**9 + i for i in range(50)]
        matched = sum(
            len(tbl.plan_files([("o_orderkey", "=", v)])) for v in absent
        )
        assert matched <= 0.1 * len(absent) * n_all
    finally:
        import shutil

        shutil.rmtree(base, ignore_errors=True)


def test_distributed_plan_path_honors_bloom(spark, bloom_table, dist_threshold):
    tbl, keys = bloom_table
    k = int(min(keys))
    # force the distributed manifest scan and compare with the driver
    # loop: identical survivor sets for present AND absent probes
    def both(filters):
        drv = {e["path"] for e in tbl.plan_files(filters)}
        dist = {e["path"] for e in tbl.plan_files(filters, spark=spark)}
        return drv, dist

    dist_threshold(0)

    for filters in ([("o_orderkey", "=", k)], [("o_orderkey", ">", k)]):
        drv, dist = both(filters)
        assert drv == dist, f"driver/distributed divergence for {filters}"
    n_all = len(tbl.plan_files())
    _, dist_hit = both([("o_orderkey", "=", k)])
    assert 1 <= len(dist_hit) < n_all  # bloom pruned in the dist path too


def test_blooms_survive_rewrites(spark, sf_dir):
    # every path that writes data files — z-order, SQL INSERT
    # OVERWRITE (static and dynamic), update_where, upsert — must
    # attach blooms to the new files; otherwise it silently regresses
    # point-lookup pruning
    from java_iceberg_table_spark.fixtures import load_table
    from java_iceberg_table_spark.table import bucket
    from java_iceberg_table_spark.table.sql_dml import run_dml

    base = tempfile.mkdtemp(prefix="bloom_rw_")
    root = base + "/t"
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = create_table(
            root,
            orders.schema,
            partition=bucket("o_custkey", 4),
            properties={"write.bloom.column": "o_orderkey"},
        )
        tbl.append(orders.repartition(4))
        orders.createOrReplaceTempView("bloom_rw_src")
        k = int(orders.agg(F.min("o_orderkey")).collect()[0][0])
        steps = {
            "zorder": lambda: tbl.rewrite_clustered(
                spark, ["o_orderkey", "o_custkey"], n_files=4
            ),
            "sql static overwrite": lambda: run_dml(
                spark, "INSERT OVERWRITE t SELECT * FROM bloom_rw_src", lambda _: tbl
            ),
            "sql dynamic overwrite": lambda: run_dml(
                spark,
                "INSERT OVERWRITE t PARTITION (o_custkey) SELECT * FROM bloom_rw_src",
                lambda _: tbl,
            ),
            "update_where": lambda: tbl.update_where(
                spark, [("o_orderkey", "=", k)], {"o_totalprice": "o_totalprice + 1"}
            ),
            "upsert": lambda: tbl.upsert(
                spark, orders.filter(F.col("o_orderkey") == k), ["o_orderkey"]
            ),
        }
        for step, rewrite in steps.items():
            snap = tbl.metadata.current_snapshot_id
            rewrite()
            assert tbl.metadata.current_snapshot_id != snap, step
            entries = tbl.plan_files()
            assert entries and all("bloom" in e for e in entries), step
            # min/max may already prune on o_orderkey; the bloom must
            # still answer present/absent correctly
            assert tbl.scan(spark, [("o_orderkey", "=", k)]).count() == 1, step
    finally:
        import shutil

        spark.catalog.dropTempView("bloom_rw_src")
        shutil.rmtree(base, ignore_errors=True)


@pytest.mark.parametrize(
    "column, literal",
    [("n", 3.0), ("ts", datetime.datetime(2024, 1, 3, 5))],
)
def test_bloom_probe_hashes_the_build_rendering(spark, tmp_path, column, literal):
    """The build hashes Spark's CAST(col AS STRING); a literal whose
    str() differs — 3.0 on an int column ('3.0' against '3'), a
    datetime (ISO 'T' against Spark's space) — must not prune the file
    that holds its row, in either planner probe. A literal the bloom
    can render still prunes: 4.0 lies inside [min, max] of n = 3i but
    is absent."""
    from java_iceberg_table_spark.table.table import Table, _pruning_filters

    df = spark.createDataFrame(
        [
            (3 * i, datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i))
            for i in range(60)
        ],
        "n int, ts timestamp",
    )
    tbl = create_table(str(tmp_path / "t"), df.schema, properties={"write.bloom.column": column})
    tbl.append(df.coalesce(1))
    assert len(tbl.plan_files([(column, "=", literal)])) == 1
    in_leaf = _pruning_filters([(column, "in", [literal])], df.schema)
    assert len(Table._admitted(tbl.plan_files(), {}, in_leaf)) == 1
    assert tbl.scan(spark, [(column, "=", literal)]).count() == 1
    if column == "n":
        assert tbl.plan_files([("n", "=", 4.0)]) == []


@pytest.mark.parametrize(
    "prop,column,key",
    [
        ("write.bloom.column", "k", "bloom"),
        ("write.token.bloom.column", "v", "token_bloom"),
    ],
)
def test_attach_blooms_reads_under_table_schema(
    spark, tmp_path, monkeypatch, jobs_started, prop, column, key
):
    """_attach_blooms reads the bloom column of fresh files under the
    table's schema: on 40 files it starts exactly one job fewer than the
    same build inferring the schema, and the blooms are bit-identical."""
    df = spark.range(0, 400).select(
        F.col("id").alias("k"), F.concat(F.lit("w"), F.col("id").cast("string")).alias("v")
    )
    tbl = create_table(str(tmp_path / "t"), df.schema, properties={prop: column})
    entries = tbl._write_data_files(df.repartition(40))
    assert len(entries) == 40

    def attach():
        es = [dict(e) for e in entries]
        jobs, _ = jobs_started(lambda: tbl._attach_blooms(spark, es))
        return jobs, [e[key] for e in es]

    jobs, blooms = attach()
    builder = "build_file_blooms" if key == "bloom" else "build_file_token_blooms"
    build = getattr(bloom_index, builder)
    monkeypatch.setattr(
        bloom_index, builder, lambda spark, files, col, schema: build(spark, files, col)
    )
    inferring_jobs, inferred = attach()
    assert jobs == inferring_jobs - 1, (jobs, inferring_jobs)
    assert blooms == inferred


@pytest.mark.parametrize("column", ["k", "v", "ts"])
def test_connector_write_attaches_blooms(spark, tmp_path, column):
    """A ``write.format("engine_table")`` append gives every file its
    bloom, built by the writing task, bit-identical to the one
    ``_attach_blooms`` builds with Spark for the same file; the
    connector's files then prune point lookups like any other."""
    from java_iceberg_table_spark.sources import register_engine_datasource

    register_engine_datasource(spark)
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("v"),
        F.timestamp_seconds(F.col("id") * 3600).alias("ts"),
    )
    root = str(tmp_path / "t")
    tbl = create_table(root, df.schema, properties={"write.bloom.column": column})
    df.repartition(4).write.format("engine_table").option("root", root).mode("append").save()
    entries = tbl.current_files()
    assert len(entries) == 4
    assert all(e.get("bloom", {}).get("column") == column for e in entries)
    rebuilt = [{k: v for k, v in e.items() if k != "bloom"} for e in entries]
    tbl._attach_blooms(spark, rebuilt)
    for e, r in zip(entries, rebuilt):
        assert e["bloom"]["words"] == r["bloom"]["words"], e["path"]
    rows = df.collect()
    for r in rows[::7]:
        hit = tbl.plan_files([(column, "=", r[column])])
        assert any(e["path"] in {x["path"] for x in hit} for e in entries)
        assert len(hit) < len(entries)
    assert tbl.scan(spark, [(column, "=", rows[5][column])]).count() == 1


def test_connector_write_attaches_token_blooms(spark, tmp_path):
    """A ``write.format("engine_table")`` append into a
    ``write.token.bloom.column`` table gives every file its token
    bloom, bit-identical to ``build_file_token_blooms`` over the same
    file: tokens split on Java's ASCII whitespace (\\x0B splits, a
    no-break space does not), empty tokens dropped, the filter sized
    by the distinct count. A file of null text gets none."""
    from java_iceberg_table_spark.sources import register_engine_datasource
    from java_iceberg_table_spark.table.bloom_index import build_file_token_blooms

    register_engine_datasource(spark)
    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.concat(
            F.lit(" w"), F.col("id").cast("string"), F.lit("\x0bv"), (F.col("id") % 7).cast("string"),
            F.lit("\u00a0nb\t\tend "),
        ).alias("v"),
    )
    root = str(tmp_path / "t")
    tbl = create_table(root, df.schema, properties={"write.token.bloom.column": "v"})
    df.repartition(4).write.format("engine_table").option("root", root).mode("append").save()
    entries = tbl.current_files()
    assert len(entries) == 4
    assert all(e.get("token_bloom", {}).get("column") == "v" for e in entries)
    paths = [f"{root}/{e['path']}" for e in entries]
    built = build_file_token_blooms(spark, paths, "v")
    for e, p in zip(entries, paths):
        assert e["token_bloom"] == built[p], e["path"]
    for tok in ("w5", "v3\u00a0nb", "end"):
        assert any(bloom_may_contain(e["token_bloom"], tok) for e in entries), tok
    nulls = spark.createDataFrame([(1, None)], "k long, v string")
    nulls.write.format("engine_table").option("root", root).mode("append").save()
    new = [e for e in tbl.current_files() if e["path"] not in {x["path"] for x in entries}]
    assert len(new) == 1 and "token_bloom" not in new[0]


@pytest.mark.parametrize(
    "rendering, arrow_type, values",
    [
        ({"type": "bigint"}, "int64", [-5, 0, 7, 2**62, None]),
        ({"type": "int"}, "int32", [-(2**31), 3, None]),
        ({"type": "string"}, "string", ["", "a b", "é", None]),
        ({"type": "date"}, "date32", [datetime.date(1000, 1, 1), datetime.date(1969, 12, 31), datetime.date(9999, 12, 31)]),
        ({"type": "date"}, "date32", [datetime.date(999, 12, 31), datetime.date(2024, 1, 1)]),
        (
            {"type": "timestamp", "tz": "UTC"},
            "timestamp_utc",
            [
                datetime.datetime(2024, 1, 3, 5),
                datetime.datetime(1969, 12, 31, 23, 59, 59, 500000),
                datetime.datetime(1653, 2, 11, 22, 31, 23, 653474),
                datetime.datetime(2024, 1, 1, 0, 0, 0, 120),
                datetime.datetime(9999, 12, 31, 23, 59, 59, 999999),
                None,
            ],
        ),
        ({"type": "timestamp_ntz"}, "timestamp", [datetime.datetime(1000, 1, 1), datetime.datetime(2024, 5, 6, 7, 8, 9, 10)]),
        ({"type": "timestamp_ntz"}, "timestamp", [datetime.datetime(2024, 1, 1), datetime.datetime(10, 1, 1)]),
        ({"type": "double"}, "float64", [3.0, 2.5]),
    ],
)
def test_rendered_keys_match_bloom_key(rendering, arrow_type, values):
    """The connector's column-at-a-time rendering of a file's values is
    ``bloom_key`` of each distinct value, and None (no bloom) exactly
    when some value has no rendering; its vectorized build sets the
    bits of the probe's per-key CRC32s, no more."""
    import pyarrow as pa

    from java_iceberg_table_spark.table.bloom_index import bloom_key, bloom_of_keys, rendered_keys

    types = {
        "int64": pa.int64(),
        "int32": pa.int32(),
        "string": pa.string(),
        "date32": pa.date32(),
        "timestamp_utc": pa.timestamp("us", "UTC"),
        "timestamp": pa.timestamp("us"),
        "float64": pa.float64(),
    }
    rendering = {"column": "c", **rendering}
    arr = pa.array(values, types[arrow_type])
    want = {bloom_key(rendering, v) for v in arr.to_pylist() if v is not None}
    got = rendered_keys(rendering, arr)
    assert (got if got is None else set(got.to_pylist())) == (None if None in want else want)
    if got is not None:
        # the vectorized CRC32 build sets the bits the probe tests
        bloom = bloom_of_keys(rendering, pa.concat_arrays([got, got]), len(values))
        assert all(bloom_may_contain(bloom, k) for k in want)
        words = [0] * (bloom["bits"] // 64)
        for k in want:
            for p in bloom_index._bit_positions(bloom["bits"], bloom["k"], k):
                words[p // 64] |= 1 << (p % 64)
        assert [w & (2**64 - 1) for w in bloom["words"]] == words
