"""Multi-field partition specs (round 13, Iceberg parity).

The reference's spec is 1-D (``Constants.java:33-35``); real 100-TB
event tables compose several transforms — ``days(ts), bucket(16, id)``
— so the engine carries a ``CompositeTransform`` whose entries record
one integral bucket PER FIELD (``partition_fields``) and every pruning
path resolves per-field: the surviving file set is the INTERSECTION of
each field's prunes.

Covered here: write layout + entry shape, local/distributed plan
parity, pruning exactness vs a brute-force oracle, compaction/z-order
group preservation, metadata-only retention on the range-aligned
field, spec evolution across arities, DDL + SHOW CREATE round-trip,
connector writes, add_files derivation, and the loud refusals on the
single-field-only verbs.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
import zlib

import pytest
from pyspark.sql import functions as F

from java_iceberg_table_spark.table import (
    Catalog,
    bucket,
    composite,
    create_table,
    day,
    identity,
    load_table,
    truncate,
)
from java_iceberg_table_spark.table.table import _entry_partition_key
from java_iceberg_table_spark.table.transforms import (
    CompositeTransform,
    validate_transform,
)


@pytest.fixture()
def base_dir():
    d = tempfile.mkdtemp(prefix="mfs_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


SCHEMA_DDL = "id long, ts timestamp, uid string, v double"


def _rows(n=200, days=5, users=7):
    return [
        (
            i,
            dt.datetime(2024, 1, 1 + i % days, 3, 0, 0),
            f"u{i % users}",
            float(i),
        )
        for i in range(n)
    ]


@pytest.fixture()
def ct(spark, base_dir):
    df = spark.createDataFrame(_rows(), SCHEMA_DDL)
    t = create_table(
        base_dir + "/ct",
        df.schema,
        partition=composite(day("ts"), bucket("uid", 4)),
    )
    t.append(df)
    return t


def test_write_layout_and_entry_shape(ct):
    entries = ct.current_files()
    assert entries
    for e in entries:
        assert "partition_fields" in e and len(e["partition_fields"]) == 2
        assert e.get("partition") is None
        assert "__pb0=" in e["path"] and "__pb1=" in e["path"]
        # field order is spec order: day bucket then hash bucket
        d, b = e["partition_fields"]
        assert 19700 < d < 19800 and 0 <= b < 4


def test_per_field_pruning_intersects(spark, ct):
    lo, hi = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3)
    total = len(ct.current_files())
    day_only = ct.plan_files([("ts", ">=", lo), ("ts", "<", hi)])
    uid_only = ct.plan_files([("uid", "=", "u3")])
    both = ct.plan_files(
        [("ts", ">=", lo), ("ts", "<", hi), ("uid", "=", "u3")]
    )
    assert len(day_only) < total  # temporal field pruned
    assert len(uid_only) < total  # hash field pruned on equality
    bp = {e["path"] for e in both}
    assert bp <= {e["path"] for e in day_only}
    assert bp <= {e["path"] for e in uid_only}
    # pruning exactness: the scan answer equals the raw recompute
    got = ct.scan(
        spark, [("ts", ">=", lo), ("ts", "<", hi), ("uid", "=", "u3")]
    ).count()
    want = sum(
        1
        for (_, ts, uid, _) in _rows()
        if lo <= ts < hi and uid == "u3"
    )
    assert got == want > 0


def test_distributed_plan_parity(spark, ct, dist_threshold):
    filters = [
        ("ts", ">=", dt.datetime(2024, 1, 2)),
        ("ts", "<", dt.datetime(2024, 1, 4)),
        ("uid", "=", "u1"),
    ]
    local = {e["path"] for e in ct.plan_files(filters)}
    dist_threshold(0)
    dist = {e["path"] for e in ct.plan_files(filters, spark=spark)}
    assert local == dist
    # the distributed path round-trips partition_fields into entries
    # (read paths group/stamp on them after a distributed plan)
    de = ct.plan_files([], spark=spark)
    assert all(len(e["partition_fields"]) == 2 for e in de)


def test_compaction_preserves_groups(spark, ct):
    groups_before = {_entry_partition_key(e) for e in ct.current_files()}
    ct.compact_data_files(spark, target_file_bytes=1 << 20)
    t = load_table(ct.root)
    entries = t.current_files()
    assert {_entry_partition_key(e) for e in entries} == groups_before
    assert all(e.get("partition_fields") for e in entries)
    # pruned scans stay exact after the rewrite
    got = t.scan(
        spark,
        [
            ("ts", ">=", dt.datetime(2024, 1, 2)),
            ("ts", "<", dt.datetime(2024, 1, 3)),
            ("uid", "=", "u3"),
        ],
    ).count()
    want = sum(
        1
        for (_, ts, uid, _) in _rows()
        if dt.datetime(2024, 1, 2) <= ts < dt.datetime(2024, 1, 3)
        and uid == "u3"
    )
    assert got == want


def test_zorder_preserves_groups(spark, ct):
    groups_before = {_entry_partition_key(e) for e in ct.current_files()}
    res = ct.rewrite_clustered(spark, ["id", "v"], n_files=1)
    assert res["new_files"] == len(groups_before)
    t = load_table(ct.root)
    assert {
        _entry_partition_key(e) for e in t.current_files()
    } == groups_before
    assert t.scan(spark).count() == len(_rows())


def test_runtime_filter_prunes_to_field_bucket(spark, ct):
    keys = spark.createDataFrame([("u3",)], "uid string")
    df, info = ct.scan_runtime_filtered(spark, keys, "uid")
    assert info["files_scanned"] < info["files_total"]
    # safe as a probe side: every u3 row survives
    assert (
        df.filter(F.col("uid") == "u3").count()
        == sum(1 for r in _rows() if r[2] == "u3")
    )


def test_retention_delete_on_range_field(spark, base_dir):
    df = spark.createDataFrame(
        [(i, i * 100, f"u{i % 5}") for i in range(100)],
        "id long, tp long, uid string",
    )
    t = create_table(
        base_dir + "/rt",
        df.schema,
        partition=composite(truncate("tp", 1000), bucket("uid", 4)),
    )
    t.append(df)
    snap = t.delete_where("tp", "<", 3000)
    assert snap.summary["deleted-rows"] == 30
    t = load_table(base_dir + "/rt")
    assert t.scan(spark).count() == 70
    # the cutoff must align to the RANGE field's width
    with pytest.raises(ValueError, match="aligned"):
        t.delete_where("tp", "<", 3500)
    # a column no field partitions on refuses
    with pytest.raises(ValueError, match="partition"):
        t.delete_where("id", "<", 10)


def test_retention_refuses_bucketless_field(ct):
    # day(ts) is monotonic but not range-expressible; bucket is hash —
    # neither gives the whole-file guarantee on ts-in-µs cutoffs
    with pytest.raises(ValueError, match="range-aligned"):
        ct.delete_where("ts", "<", 19726)


def test_dynamic_overwrite_tuple_partitions(spark, base_dir):
    df = spark.createDataFrame(
        [(i, i * 100, f"u{i % 5}", float(i)) for i in range(100)],
        SCHEMA_DDL.replace("ts timestamp", "tp long"),
    )
    t = create_table(
        base_dir + "/ov",
        df.schema,
        partition=composite(truncate("tp", 2000), bucket("uid", 2)),
    )
    t.append(df)
    new = spark.createDataFrame(
        [(999, 100, "u0", 9.9)],
        df.schema,
    )
    entries = t._write_data_files(new)
    parts = {_entry_partition_key(e) for e in entries}
    assert parts == {(0, zlib.crc32(b"u0") % 2)}
    t.overwrite_entries(entries, partitions=parts)
    t = load_table(base_dir + "/ov")
    b_u0 = zlib.crc32(b"u0") % 2
    affected = sum(
        1
        for i in range(100)
        if (i * 100) // 2000 == 0
        and zlib.crc32(f"u{i % 5}".encode()) % 2 == b_u0
    )
    assert t.scan(spark).count() == 100 - affected + 1


def test_spec_evolution_across_arities(spark, base_dir, dist_threshold):
    df = spark.createDataFrame(
        [(i, i * 100, f"u{i % 5}") for i in range(50)],
        "id long, tp long, uid string",
    )
    t = create_table(
        base_dir + "/ev", df.schema, partition=truncate("tp", 1000)
    )
    t.append(df)
    sid = t.update_partition_spec(
        composite(truncate("tp", 2000), bucket("uid", 2))
    )
    assert sid == 1
    t = load_table(base_dir + "/ev")
    t.append(
        spark.createDataFrame(
            [(i + 100, i * 100, f"u{i % 5}") for i in range(50)],
            df.schema,
        )
    )
    # each vintage prunes under ITS OWN spec: 10 old rows (width 1000)
    # + 10 new rows (width 2000) match tp < 1000
    assert t.scan(spark, [("tp", "<", 1000)]).count() == 20
    local = {e["path"] for e in t.plan_files([("tp", "<", 1000)])}
    dist_threshold(0)
    dist = {e["path"] for e in t.plan_files([("tp", "<", 1000)], spark=spark)}
    assert local == dist
    dist_threshold(None)
    # and back down: composite -> single-field evolution
    t.update_partition_spec(identity("id"))
    t = load_table(base_dir + "/ev")
    t.append(
        spark.createDataFrame([(777, 50, "u9")], df.schema)
    )
    assert t.scan(spark, [("id", "=", 777)]).count() == 1
    assert t.scan(spark).count() == 101


def test_ddl_parse_show_create_roundtrip(spark, base_dir):
    cat = Catalog.create(base_dir + "/cat")
    cat.sql(
        spark,
        "CREATE TABLE ev (id BIGINT NOT NULL, ts TIMESTAMP, uid STRING) "
        "PARTITIONED BY (days(ts), bucket(4, uid))",
    )
    t = cat.table("ev")
    assert isinstance(t.transform, CompositeTransform)
    assert t.transform.source_columns == ("ts", "uid")
    sc = cat.sql(spark, "SHOW CREATE TABLE ev").collect()[0][
        "create_statement"
    ]
    assert "PARTITIONED BY (days(ts), bucket(4, uid))" in sc
    cat.sql(spark, sc.replace("CREATE TABLE ev", "CREATE TABLE ev2"))
    assert (
        cat.table("ev2").metadata.partition_spec
        == t.metadata.partition_spec
    )
    # SHOW PARTITIONS renders the tuple field0/field1
    rows = [
        (i, dt.datetime(2024, 1, 1 + i % 2, 3), f"u{i % 3}")
        for i in range(20)
    ]
    t.append(spark.createDataFrame(rows, t.schema()))
    cat._commit_pins({"ev": t.metadata.current_snapshot_id})
    sp = cat.sql(spark, "SHOW PARTITIONS ev").collect()
    assert all("/" in r["partition"] for r in sp)


def test_single_field_verbs_refuse_composite(spark, base_dir):
    from java_iceberg_table_spark.table.sql_dml import UnsupportedSQL

    cat = Catalog.create(base_dir + "/cat")
    cat.sql(
        spark,
        "CREATE TABLE ev (id BIGINT, ts TIMESTAMP, uid STRING) "
        "PARTITIONED BY (days(ts), bucket(4, uid))",
    )
    with pytest.raises(UnsupportedSQL, match="composite"):
        cat.sql(
            spark,
            "INSERT OVERWRITE ev PARTITION (uid = 1) VALUES (1, NULL)",
        )
    with pytest.raises(UnsupportedSQL, match="composite"):
        cat.sql(spark, "OPTIMIZE ev WHERE uid = 1")
    # avro format + composite refuses at write time
    t = cat.table("ev")
    t.set_properties({"write.format.default": "avro"})
    t = cat.table("ev")
    with pytest.raises(ValueError, match="single-field"):
        t.append(
            spark.createDataFrame(
                [(1, dt.datetime(2024, 1, 1), "u0")], t.schema()
            )
        )


def test_validate_refuses_bad_composites(spark):
    schema = spark.createDataFrame([], SCHEMA_DDL).schema
    with pytest.raises(ValueError, match="at least two"):
        validate_transform(composite(day("ts")), schema)
    with pytest.raises(ValueError, match="duplicate"):
        validate_transform(
            composite(day("ts"), day("ts")), schema
        )
    with pytest.raises(ValueError, match="nest"):
        validate_transform(
            composite(day("ts"), composite(day("ts"), identity("id"))),
            schema,
        )
    # same column under two DIFFERENT transforms is legal (Iceberg)
    validate_transform(composite(day("ts"), bucket("uid", 4)), schema)
    with pytest.raises(ValueError, match="not in schema"):
        validate_transform(
            composite(day("ts"), bucket("ghost", 4)), schema
        )


def test_rename_drop_guard_composite_sources(spark, base_dir):
    df = spark.createDataFrame(_rows(10), SCHEMA_DDL)
    t = create_table(
        base_dir + "/rn",
        df.schema,
        partition=composite(day("ts"), bucket("uid", 4)),
    )
    with pytest.raises(ValueError, match="partition source"):
        t.rename_column("uid", "user_id")
    with pytest.raises(ValueError, match="partition source"):
        t.drop_column("ts")
    t.rename_column("v", "val")  # non-source columns still evolve


def test_add_files_derives_per_field(spark, base_dir):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    df = spark.createDataFrame([], SCHEMA_DDL)
    t = create_table(
        base_dir + "/af",
        df.schema,
        partition=composite(truncate("id", 10), bucket("uid", 4)),
    )
    src = base_dir + "/import.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([12, 13, 14], pa.int64()),
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1)] * 3,
                    pa.timestamp("us"),
                ),
                "uid": pa.array(["u1"] * 3),
                "v": pa.array([1.0, 2.0, 3.0]),
            }
        ),
        src,
    )
    t.add_files([src])
    e = load_table(base_dir + "/af").current_files()[0]
    assert e["partition_fields"] == [10, zlib.crc32(b"u1") % 4]
    # a file spanning two buckets on EITHER field refuses
    bad = base_dir + "/bad.parquet"
    pq.write_table(
        pa.table(
            {
                "id": pa.array([5, 25], pa.int64()),
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1)] * 2, pa.timestamp("us")
                ),
                "uid": pa.array(["u1"] * 2),
                "v": pa.array([1.0, 2.0]),
            }
        ),
        bad,
    )
    with pytest.raises(ValueError, match="spans partition buckets"):
        t.add_files([bad])
    os.remove(bad)


def test_connector_write_composite(spark, base_dir):
    from java_iceberg_table_spark.sources import register_engine_datasource

    register_engine_datasource(spark)
    df = spark.createDataFrame(_rows(40, days=2, users=3), SCHEMA_DDL)
    t = create_table(
        base_dir + "/dsw",
        df.schema,
        partition=composite(day("ts"), bucket("uid", 4)),
    )
    df.write.format("engine_table").mode("append").option(
        "root", t.root
    ).save()
    t = load_table(t.root)
    entries = t.current_files()
    assert entries and all(
        len(e.get("partition_fields", [])) == 2 for e in entries
    )
    assert t.scan(spark).count() == 40
    # connector-written entries prune per-field too
    pruned = t.plan_files([("uid", "=", "u1")])
    assert 0 < len(pruned) < len(entries)
    assert t.scan(spark, [("uid", "=", "u1")]).count() == sum(
        1 for r in _rows(40, days=2, users=3) if r[2] == "u1"
    )


def test_composite_dynamic_overwrite_sql(spark, base_dir):
    """INSERT OVERWRITE t PARTITION (c1, c2) on a composite spec
    (round 13): written rows choose their partition TUPLES; exactly
    those tuples are replaced, untouched tuples carry by reference;
    single-column and mis-ordered clauses refuse with pointers."""
    from java_iceberg_table_spark.table.sql_dml import UnsupportedSQL

    cat = Catalog.create(base_dir + "/cat")
    cat.sql(
        spark,
        "CREATE TABLE ov (tp BIGINT, uid STRING, v DOUBLE) "
        "PARTITIONED BY (truncate(1000, tp), bucket(2, uid))",
    )
    t = cat.table("ov")
    t.append(
        spark.createDataFrame(
            [(i * 500, f"u{i % 4}", float(i)) for i in range(12)],
            t.schema(),
        )
    )
    cat._commit_pins({"ov": t.metadata.current_snapshot_id})
    n0 = cat.read(spark, "ov").count()
    res = cat.sql(
        spark,
        "INSERT OVERWRITE ov PARTITION (tp, uid) VALUES (100, 'u0', 9.9)",
    )
    assert res["mode"] == "dynamic_partition"
    assert res["replaced_partitions"] == [[0, zlib.crc32(b"u0") % 2]]
    got = {(r["tp"], r["uid"], r["v"]) for r in cat.read(spark, "ov").collect()}
    assert (100, "u0", 9.9) in got
    # only the (bucket-0, hash(u0)) tuple was replaced
    replaced = sum(
        1
        for i in range(12)
        if (i * 500) // 1000 == 0
        and zlib.crc32(f"u{i % 4}".encode()) % 2 == zlib.crc32(b"u0") % 2
    )
    assert len(got) == n0 - replaced + 1
    # dynamic with an empty source replaces nothing
    res = cat.sql(
        spark,
        "INSERT OVERWRITE ov PARTITION (tp, uid) "
        "SELECT tp, uid, v FROM ov WHERE tp < 0",
    )
    assert res["replaced_partitions"] == []
    # refusals: single-column clause on composite (pointer to the
    # full list), wrong order, multi-col on a single-field table
    with pytest.raises(UnsupportedSQL, match="EVERY field"):
        cat.sql(spark, "INSERT OVERWRITE ov PARTITION (tp) VALUES (1, 'x', 0.0)")
    with pytest.raises(UnsupportedSQL, match="spec order"):
        cat.sql(
            spark,
            "INSERT OVERWRITE ov PARTITION (uid, tp) VALUES (1, 'x', 0.0)",
        )
    cat.sql(
        spark,
        "CREATE TABLE sf (k BIGINT, v DOUBLE) PARTITIONED BY (k)",
    )
    with pytest.raises(UnsupportedSQL, match="ONE field"):
        cat.sql(spark, "INSERT OVERWRITE sf PARTITION (k, v) VALUES (1, 0.0)")


def test_alter_partition_field_ddl(spark, base_dir):
    """ALTER TABLE ADD/DROP/REPLACE PARTITION FIELD (round 13 —
    Iceberg's partition-evolution DDL): metadata-only spec changes
    that compose/collapse composite specs; old files keep pruning
    under their own spec; SHOW CREATE TABLE tracks the current one."""
    from java_iceberg_table_spark.table.sql_dml import UnsupportedSQL

    cat = Catalog.create(base_dir + "/cat")
    cat.sql(
        spark,
        "CREATE TABLE pe (id BIGINT, ts TIMESTAMP, uid STRING) "
        "PARTITIONED BY (days(ts))",
    )
    t = cat.table("pe")
    rows1 = [
        (i, dt.datetime(2024, 1, 1 + i % 3, 4), f"u{i % 4}")
        for i in range(30)
    ]
    t.append(spark.createDataFrame(rows1, t.schema()))
    cat._commit_pins({"pe": t.metadata.current_snapshot_id})
    res = cat.sql(spark, "ALTER TABLE pe ADD PARTITION FIELD bucket(4, uid)")
    assert res["n_fields"] == 2 and res["spec_id"] == 1
    assert isinstance(cat.table("pe").transform, CompositeTransform)
    assert "bucket(4, uid)" in cat.sql(
        spark, "SHOW CREATE TABLE pe"
    ).collect()[0]["create_statement"]
    # new writes bucket under the evolved spec; old files still prune
    t = cat.table("pe")
    rows2 = [
        (100 + i, dt.datetime(2024, 2, 1 + i % 2, 4), f"u{i % 4}")
        for i in range(20)
    ]
    t.append(spark.createDataFrame(rows2, t.schema()))
    cat._commit_pins({"pe": t.metadata.current_snapshot_id})
    new_entries = [
        e for e in t.current_files() if e.get("spec_id", 0) == 1
    ]
    assert new_entries and all(
        len(e["partition_fields"]) == 2 for e in new_entries
    )
    got = t.scan(spark, [("uid", "=", "u1")]).count()
    want = sum(1 for r in rows1 + rows2 if r[2] == "u1")
    assert got == want
    # cross-arity pruning: uid equality prunes NEW files only (old
    # spec has no uid field), day range prunes both vintages
    pruned = t.plan_files([("uid", "=", "u1")])
    assert any(e.get("spec_id", 0) == 1 for e in pruned)
    # REPLACE: widen the bucket fanout
    res = cat.sql(
        spark,
        "ALTER TABLE pe REPLACE PARTITION FIELD bucket(4, uid) "
        "WITH bucket(8, uid)",
    )
    assert res["spec_id"] == 2
    tf = cat.table("pe").transform
    assert tf.fields[1].n == 8
    # DROP back down to the single temporal field
    res = cat.sql(spark, "ALTER TABLE pe DROP PARTITION FIELD bucket(8, uid)")
    assert res["n_fields"] == 1
    assert not isinstance(cat.table("pe").transform, CompositeTransform)
    # and drop the last field -> unpartitioned
    res = cat.sql(spark, "ALTER TABLE pe DROP PARTITION FIELD days(ts)")
    assert res["n_fields"] == 0 and cat.table("pe").transform is None
    # refusals: duplicate add, missing drop/replace, bad field expr,
    # schema-less column
    cat.sql(spark, "ALTER TABLE pe ADD PARTITION FIELD id")
    for bad, why, exc in (
        ("ALTER TABLE pe ADD PARTITION FIELD id", "already",
         UnsupportedSQL),
        ("ALTER TABLE pe DROP PARTITION FIELD days(ts)", "no partition",
         UnsupportedSQL),
        ("ALTER TABLE pe REPLACE PARTITION FIELD days(ts) WITH id",
         "to replace", UnsupportedSQL),
        ("ALTER TABLE pe ADD PARTITION FIELD md5(id)", "fields are",
         UnsupportedSQL),
        ("ALTER TABLE pe ADD PARTITION FIELD bucket(4, ghost)",
         "not in schema", ValueError),
    ):
        with pytest.raises(exc, match=why):
            cat.sql(spark, bad)
    # all spec changes scan-consistently: full content intact
    assert cat.table("pe").scan(spark).count() == 50


def test_inspect_tables_surface_partition_fields(spark, ct):
    """files/partitions inspection tables carry the composite tuple
    (partition_fields) so skew checks group per PHYSICAL partition;
    single-field tables keep their legacy scalar column untouched."""
    fdf = ct.inspect(spark, "files")
    rows = fdf.collect()
    assert all(r["partition"] is None for r in rows)
    assert all(len(r["partition_fields"]) == 2 for r in rows)
    pdf = ct.inspect(spark, "partitions").collect()
    groups = {tuple(r["partition_fields"]) for r in pdf}
    assert groups == {
        _entry_partition_key(e) for e in ct.current_files()
    }
    total = sum(r["record_count"] for r in pdf)
    assert total == len(_rows())


def test_composite_static_overwrite_sql(spark, base_dir):
    """Round 14: INSERT OVERWRITE t PARTITION (k1 = v1, k2 = v2) on an
    all-identity composite — exactly that tuple replaced, values fill
    the columns, empty source clears the tuple."""
    from java_iceberg_table_spark.table.sql_dml import UnsupportedSQL

    cat = Catalog.create(base_dir + "/cat_sov")
    cat.sql(
        spark,
        "CREATE TABLE ov (d BIGINT, b BIGINT, val DOUBLE) "
        "PARTITIONED BY (d, b)",
    )
    t = cat.table("ov")
    rows = [(i % 3, i % 2, float(i)) for i in range(60)]
    t.append(spark.createDataFrame(rows, t.schema()))
    cat._commit_pins({"ov": t.metadata.current_snapshot_id})
    before = {e["path"] for e in cat.table("ov").current_files()}
    res = cat.sql(
        spark,
        "INSERT OVERWRITE ov PARTITION (d = 1, b = 0) VALUES (111.0), "
        "(222.0)",
    )
    assert res["mode"] == "static_partition"
    assert res["replaced_partitions"] == [[1, 0]]
    assert res["inserted_rows"] == 2
    t = cat.table("ov")
    # untouched tuples carried by PHYSICAL path identity
    after = {e["path"]: e for e in t.current_files()}
    untouched = {
        p
        for p in before
        if p in after and _entry_partition_key(after[p]) != (1, 0)
    }
    assert untouched  # other tuples' files survived as-is
    got = {
        (r["d"], r["b"], r["val"])
        for r in cat.read(spark, "ov").collect()
        if (r["d"], r["b"]) == (1, 0)
    }
    assert got == {(1, 0, 111.0), (1, 0, 222.0)}
    # other tuples' rows intact
    expect_others = {
        (d, b, v) for d, b, v in rows if (d, b) != (1, 0)
    }
    others = {
        (r["d"], r["b"], r["val"])
        for r in cat.read(spark, "ov").collect()
        if (r["d"], r["b"]) != (1, 0)
    }
    assert others == expect_others
    # empty static source CLEARS the tuple
    res = cat.sql(
        spark,
        "INSERT OVERWRITE ov PARTITION (d = 2, b = 1) "
        "SELECT val FROM ov WHERE val < 0",
    )
    assert res["inserted_rows"] == 0
    assert (
        cat.read(spark, "ov")
        .filter((F.col("d") == 2) & (F.col("b") == 1))
        .count()
        == 0
    )
    # refusals: wrong order, partial tuple (falls to single-field
    # grammar's composite refusal), transformed composite, source
    # including a partition column
    with pytest.raises(UnsupportedSQL, match="spec order"):
        cat.sql(
            spark,
            "INSERT OVERWRITE ov PARTITION (b = 0, d = 1) VALUES (1.0)",
        )
    with pytest.raises(UnsupportedSQL, match="composite"):
        cat.sql(
            spark, "INSERT OVERWRITE ov PARTITION (d = 1) VALUES (1.0)"
        )
    cat.sql(
        spark,
        "CREATE TABLE tv (id BIGINT, ts TIMESTAMP, v DOUBLE) "
        "PARTITIONED BY (days(ts), bucket(4, id))",
    )
    with pytest.raises(UnsupportedSQL, match="all-identity"):
        cat.sql(
            spark,
            "INSERT OVERWRITE tv PARTITION (ts = 1, id = 2) VALUES (1.0)",
        )
    with pytest.raises(UnsupportedSQL, match="source omits"):
        cat.sql(
            spark,
            "INSERT OVERWRITE ov PARTITION (d = 1, b = 0) "
            "SELECT d, b, val FROM ov",
        )


def test_composite_scoped_optimize_sql(spark, base_dir):
    """Round 14: OPTIMIZE t WHERE <identity-field> = lit on a
    composite spec compacts EVERY tuple matching that field's value;
    other tuples' files carry by physical path identity."""
    cat = Catalog.create(base_dir + "/cat_sopt")
    cat.sql(
        spark,
        "CREATE TABLE co (d BIGINT, b BIGINT, val DOUBLE) "
        "PARTITIONED BY (d, bucket(2, b))",
    )
    t = cat.table("co")
    # fragment day 1 with five 1-file-per-tuple appends
    for i in range(5):
        t.append(
            spark.createDataFrame(
                [(1, i % 3, float(i)), (2, i % 3, float(i))],
                t.schema(),
            ).coalesce(1)
        )
    cat._commit_pins({"co": t.metadata.current_snapshot_id})
    before = {e["path"]: e for e in t.current_files()}
    d1_before = [
        p for p, e in before.items()
        if (e.get("partition_fields") or [None])[0] == 1
    ]
    other_before = set(before) - set(d1_before)
    assert len(d1_before) >= 4
    res = cat.sql(spark, "OPTIMIZE co WHERE d = 1")
    assert res["compact"]["rewritten"] >= 4
    assert all(mt[0] == 1 for mt in res["matched_tuples"])
    t = cat.table("co")
    after = {e["path"]: e for e in t.current_files()}
    # day-2 files untouched (physical identity)
    assert other_before <= set(after)
    d1_after = [
        p for p, e in after.items()
        if (e.get("partition_fields") or [None])[0] == 1
    ]
    assert len(d1_after) < len(d1_before)
    # content identical
    assert cat.read(spark, "co").count() == 10
