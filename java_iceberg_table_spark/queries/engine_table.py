"""Group A3 — engine-table scans (the table layer under the oracle).

Each query materializes an engine table (Parquet + JSON manifests,
snapshot commits) from a fixture table, exercises a table-layer
capability (snapshot scan, partition pruning, metadata-only delete),
and returns results that must equal plain SQL over the original
fixture — so the whole custom format sits under the DuckDB gate.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import load_table
from ..session import conf_scope
from ..table import create_table, truncate
from . import register
from .prepared import prepared_plan
from ..table import load_table as open_table

_BUCKET = 600

# Shared base engine tables, built once per (applicationId, sf_dir,
# kind) and reused by every a3* query: the expensive part of each a3*
# entry is the fixture->table write, which is identical across the
# family. Read-only queries open the shared root directly; mutating
# queries (delete/upsert) clone the table directory first — a plain
# file copy, far cheaper than re-running the Spark write — so the
# shared base stays pristine.
_SHARED_ROOTS: dict[tuple[str, str, str], str] = {}


def _cleanup_shared() -> None:
    for root in _SHARED_ROOTS.values():
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)
    _SHARED_ROOTS.clear()


atexit.register(_cleanup_shared)


def _shared_root(spark: SparkSession, sf_dir: str, kind: str, build) -> str:
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    root = _SHARED_ROOTS.get(key)
    if root is None or not os.path.exists(root):
        root = tempfile.mkdtemp(prefix=f"engine_{kind}_") + "/t"
        build(root)
        _SHARED_ROOTS[key] = root
    return root


def _mutable_clone(root: str) -> str:
    """Copy a shared table dir so a mutating query can't dirty the base."""
    base = tempfile.mkdtemp(prefix="engine_clone_")
    dst = base + "/t"
    shutil.copytree(root, dst)
    return dst


def _lineitem_root(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
        )
        tbl = create_table(root, li.schema, partition=truncate("l_orderkey", _BUCKET))
        tbl.append(li)

    return _shared_root(spark, sf_dir, "lineitem", build)


def _customer_root(spark: SparkSession, sf_dir: str) -> str:
    def build(root: str) -> None:
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
        tbl = create_table(root, cust.schema)
        tbl.append(cust)

    return _shared_root(spark, sf_dir, "customer", build)


@register(
    "a3_engine_table_scan",
    oracle="""
SELECT COUNT(*) AS cnt, ROUND(SUM(l_quantity), 4) AS sum_qty
FROM lineitem
""",
    group="A",
)
def a3_engine_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: fixture -> engine table (snapshot commit) -> scan.
    The oracle checks the engine's storage+scan path end to end."""
    tbl = open_table(_lineitem_root(spark, sf_dir))
    row = (
        tbl.scan(spark)
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .collect()[0]
    )
    return spark.createDataFrame([(row["cnt"], row["sum_qty"])], "cnt bigint, sum_qty double")


@register(
    "a3b_engine_partition_pruned_scan",
    oracle=f"""
SELECT COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_price
FROM lineitem WHERE l_orderkey >= 6000
""",
    group="A",
)
def a3b_engine_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: the predicate is evaluated against
    manifest partition values BEFORE Spark sees any file (the scan
    receives only surviving buckets), then re-applied as residual."""
    tbl = open_table(_lineitem_root(spark, sf_dir))
    pruned = tbl.plan_files([("l_orderkey", ">=", 6000)])
    assert len(pruned) < len(tbl.plan_files()), "pruning must drop files"
    row = (
        tbl.scan(spark, [("l_orderkey", ">=", 6000)])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 4)
            .cast("double")
            .alias("sum_price"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [(row["cnt"], row["sum_price"])], "cnt bigint, sum_price double"
    )


@register(
    "a3c_engine_metadata_delete",
    oracle=f"""
SELECT COUNT(*) AS cnt, ROUND(SUM(l_quantity), 4) AS sum_qty
FROM lineitem WHERE l_orderkey >= 6000
""",
    group="A",
)
def a3c_engine_metadata_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only retention delete: drop all buckets < 6000 (aligned
    to the 600-wide partition), then scan. No data files are rewritten;
    the post-delete table must equal the predicate applied in SQL."""
    root = _mutable_clone(_lineitem_root(spark, sf_dir))
    try:
        tbl = open_table(root)
        tbl.delete_where("l_orderkey", "<", 6000)
        row = (
            tbl.scan(spark)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            )
            .collect()[0]
        )
        return spark.createDataFrame([(row["cnt"], row["sum_qty"])], "cnt bigint, sum_qty double")
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3d_engine_schema_evolution",
    oracle="""
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       CAST(NULL AS BIGINT) AS extra_a,
       CAST(n_nationkey * 10 AS BIGINT) AS extra_b
FROM nation
UNION ALL
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       CAST(n_nationkey AS BIGINT) AS extra_a,
       CAST(n_nationkey * 10 AS BIGINT) AS extra_b
FROM nation
ORDER BY n_nationkey, extra_a NULLS FIRST
""",
    group="A",
)
def a3d_engine_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution end to end: append under schema v0, add a
    column (metadata-only), append under v1, scan — pre-evolution rows
    surface NULL for the added column, and the computed column proves
    both generations project onto the current schema."""
    root = tempfile.mkdtemp(prefix="engine_evo_") + "/t"
    try:
        nation = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("long").alias("n_nationkey")
        )
        tbl = create_table(root, nation.schema)
        tbl.append(nation)
        tbl.add_column("extra_a", "long")
        tbl.append(nation.withColumn("extra_a", F.col("n_nationkey")))
        out = (
            tbl.scan(spark)
            .select(
                "n_nationkey",
                "extra_a",
                (F.col("n_nationkey") * 10).alias("extra_b"),
            )
            .orderBy("n_nationkey", F.col("extra_a").asc_nulls_first())
            .collect()
        )
        return spark.createDataFrame(
            out, "n_nationkey bigint, extra_a bigint, extra_b bigint"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "a3e_engine_upsert_merge",
    oracle="""
WITH merged AS (
  SELECT c_custkey,
         CASE WHEN c_custkey < 10 THEN 999.99 ELSE c_acctbal END AS bal
  FROM customer
  UNION ALL
  SELECT 1000000 + r_regionkey AS c_custkey, 1.0 AS bal FROM region
)
SELECT COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(bal AS DECIMAL(18,4))), 4) AS DOUBLE) AS total
FROM merged
""",
    group="A",
)
def a3e_engine_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE via copy-on-write upsert: keys < 10 are updated in place,
    five region-derived keys are inserted, one atomic overwrite commit.
    The post-merge table must equal the CASE/UNION formulation."""
    root = _mutable_clone(_customer_root(spark, sf_dir))
    try:
        cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
        tbl = open_table(root)
        updates = (
            cust.filter(F.col("c_custkey") < 10)
            .select("c_custkey", F.lit(999.99).alias("c_acctbal"))
            .unionByName(
                load_table(spark, sf_dir, "region").select(
                    (F.lit(1000000) + F.col("r_regionkey")).cast("long").alias("c_custkey"),
                    F.lit(1.0).alias("c_acctbal"),
                )
            )
        )
        tbl.upsert(spark, updates, ["c_custkey"])
        row = (
            tbl.scan(spark)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 4)
                .cast("double")
                .alias("total"),
            )
            .collect()[0]
        )
        return spark.createDataFrame([(row["cnt"], row["total"])], "cnt bigint, total double")
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3f_engine_partitions_inspect",
    oracle=f"""
SELECT CAST(l_orderkey - ((l_orderkey % {_BUCKET}) + {_BUCKET}) % {_BUCKET} AS BIGINT) AS partition,
       CAST(COUNT(*) AS BIGINT) AS record_count
FROM lineitem GROUP BY 1 ORDER BY 1
""",
    group="A",
)
def a3f_engine_partitions_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata inspection table under the oracle: per-partition row
    counts from inspect('partitions') — computed purely from manifest
    JSONs (distributed spark.read.json scan, no data file opened) —
    must equal a GROUP BY over the source data with the truncate
    transform applied. Proves footer stats, manifest entries, and the
    inspection aggregate all agree with the data."""
    tbl = open_table(_lineitem_root(spark, sf_dir))
    parts = (
        tbl.inspect(spark, "partitions")
        .select("partition", "record_count")
        .orderBy("partition")
    )
    rows = [(r["partition"], r["record_count"]) for r in parts.collect()]
    return spark.createDataFrame(rows, "partition bigint, record_count bigint")


@register(
    "a3g_engine_mor_delete",
    oracle="""
WITH base AS (SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice FROM lineitem),
survivors AS (
  SELECT * FROM base WHERE l_quantity <= 45 AND l_orderkey <> 7
  UNION ALL
  SELECT * FROM base WHERE l_orderkey = 7
)
SELECT COUNT(*) AS cnt, ROUND(SUM(l_quantity), 4) AS sum_qty
FROM survivors
""",
    group="A",
)
def a3g_engine_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level deletes end to end (Iceberg v2
    semantics): a POSITION delete (predicate scan -> (file, pos) pairs,
    no data rewrite), an EQUALITY delete (key tuples only, no data
    read at all), then a fast-append of the eq-deleted key AFTER the
    delete — whose rows must survive, because equality deletes apply
    only to data files with a smaller commit sequence. The final scan
    merges all three delete-aware reads and must equal the batch SQL
    formulation."""
    root = _mutable_clone(_lineitem_root(spark, sf_dir))
    try:
        tbl = open_table(root)
        tbl.delete_where_mor(spark, [("l_quantity", ">", 45)])
        key7 = spark.createDataFrame([(7,)], "l_orderkey long")
        tbl.delete_eq_mor(spark, key7, ["l_orderkey"])
        reborn = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
        ).filter(F.col("l_orderkey") == 7)
        tbl.append(reborn)
        row = (
            tbl.scan(spark)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            )
            .collect()[0]
        )
        return spark.createDataFrame(
            [(row["cnt"], row["sum_qty"])], "cnt bigint, sum_qty double"
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3h_engine_incremental_scan",
    oracle="""
SELECT COUNT(*)::BIGINT AS cnt, SUM(event_id)::BIGINT AS sum_id
FROM events WHERE event_id % 3 IN (1, 2)
""",
    group="A",
)
def a3h_engine_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (change-feed) read: three commits land thirds of the
    events table; an incremental_scan cursored after the first commit
    must return EXACTLY the rows of commits 2+3 — the batch primitive a
    streaming source builds on (tail new snapshots, never re-read old
    ones). Snapshot-id cursoring means the reader cost scales with new
    manifests, not table history."""
    ev = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="engine_inc_") + "/t"
    try:
        tbl = create_table(root, ev.schema)
        s1 = tbl.append(ev.filter(F.col("event_id") % 3 == 0))
        tbl.append(ev.filter(F.col("event_id") % 3 == 1))
        tbl.append(ev.filter(F.col("event_id") % 3 == 2))
        inc, _cursor = tbl.incremental_scan(spark, after_snapshot_id=s1.snapshot_id)
        row = inc.agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("event_id").alias("sum_id")
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_id"])], "cnt bigint, sum_id bigint"
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3i_engine_zorder_clustering",
    oracle="""
WITH thr AS (
  SELECT (MAX(l_partkey) + 1) // 10 AS pk, (MAX(l_suppkey) + 1) // 10 AS sk
  FROM lineitem
)
SELECT (SELECT COUNT(*) FROM lineitem, thr WHERE l_partkey < thr.pk) AS cnt_pk,
       (SELECT ROUND(SUM(l_quantity), 4) FROM lineitem, thr
        WHERE l_partkey < thr.pk) AS sum_qty_pk,
       (SELECT COUNT(*) FROM lineitem, thr WHERE l_suppkey < thr.sk) AS cnt_sk,
       true AS pruned_pk,
       true AS pruned_sk
""",
    group="A",
)
def a3i_engine_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout rewrite (Table.rewrite_clustered): lineitem rows
    land in arrival order, then one 'replace' commit re-arranges them
    so every file covers a small (l_partkey, l_suppkey) hyper-
    rectangle. The result proves BOTH halves of the contract: scans
    after the rewrite return identical content (cnt/sum vs the plain
    fixture oracle), and plan_files() skips files for a predicate on
    EITHER clustered dimension (pruned_pk / pruned_sk — a linear sort
    can only deliver one of the two). The layout move that makes
    multi-predicate scans at 100 TB read a fraction of the table."""

    def build(root: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_suppkey", "l_quantity"
        )
        tbl = create_table(root, li.schema)
        tbl.append(li)
        tbl.rewrite_clustered(spark, ["l_partkey", "l_suppkey"], n_files=8)

    root = _shared_root(spark, sf_dir, "zorder", build)
    tbl = open_table(root)
    bounds = tbl.scan(spark).agg(
        F.max("l_partkey").alias("mx_pk"), F.max("l_suppkey").alias("mx_sk")
    ).collect()[0]
    thr_pk = (int(bounds["mx_pk"]) + 1) // 10
    thr_sk = (int(bounds["mx_sk"]) + 1) // 10
    n_all = len(tbl.plan_files())
    pruned_pk = len(tbl.plan_files([("l_partkey", "<", thr_pk)])) < n_all
    pruned_sk = len(tbl.plan_files([("l_suppkey", "<", thr_sk)])) < n_all
    pk_row = (
        tbl.scan(spark, [("l_partkey", "<", thr_pk)])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .collect()[0]
    )
    sk_cnt = tbl.scan(spark, [("l_suppkey", "<", thr_sk)]).count()
    return spark.createDataFrame(
        [(pk_row["cnt"], pk_row["sum_qty"], sk_cnt, pruned_pk, pruned_sk)],
        "cnt_pk bigint, sum_qty_pk double, cnt_sk bigint, "
        "pruned_pk boolean, pruned_sk boolean",
    )


@register(
    "a3j_engine_bloom_point_lookup",
    oracle="""
WITH k AS (SELECT MIN(o_orderkey) AS key FROM orders)
SELECT COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 4) AS sum_tp,
       true AS bloom_pruned
FROM orders, k WHERE o_orderkey = k.key
""",
    group="A",
)
def a3j_engine_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level Bloom-filter file skipping (table/bloom_index.py):
    orders is appended across 4 hash-distributed files with the
    ``write.bloom.column`` property on o_orderkey, so every file's
    [min, max] covers the probe key and min/max stats prune NOTHING —
    the per-file Bloom filter is what rules files out, from manifest
    metadata alone (no parquet footer opened). The result proves both
    halves: point-lookup content equals the fixture oracle, and
    bloom_pruned asserts plan_files() matched fewer files than the
    table holds (k=7, ~10 bits/key → ~1% FP per file; the flag is
    deterministic at any fixture sf)."""

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        tbl = create_table(
            root, orders.schema, properties={"write.bloom.column": "o_orderkey"}
        )
        tbl.append(orders.repartition(4))

    root = _shared_root(spark, sf_dir, "bloom", build)
    tbl = open_table(root)
    key = int(
        tbl.scan(spark).agg(F.min("o_orderkey")).collect()[0][0]
    )
    n_all = len(tbl.plan_files())
    n_hit = len(tbl.plan_files([("o_orderkey", "=", key)]))
    row = (
        tbl.scan(spark, [("o_orderkey", "=", key)])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_tp"),
        )
        .collect()[0]
    )
    return spark.createDataFrame(
        [(row["cnt"], row["sum_tp"], n_hit < n_all)],
        "cnt bigint, sum_tp double, bloom_pruned boolean",
    )


@register(
    "a3k_engine_change_feed",
    oracle="""
SELECT
  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 1 AND event_id % 5 <> 0)
    AS n_insert,
  (SELECT CAST(SUM(event_id) AS BIGINT) FROM events
   WHERE event_id % 2 = 1 AND event_id % 5 <> 0)
    AS sum_insert,
  (SELECT COUNT(*) FROM events WHERE event_id % 2 = 0 AND event_id % 5 = 0)
    AS n_delete,
  (SELECT CAST(SUM(event_id) AS BIGINT) FROM events
   WHERE event_id % 2 = 0 AND event_id % 5 = 0)
    AS sum_delete
""",
    group="A",
)
def a3k_engine_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC (Table.changes_between): cursor at the first
    append, then a second append AND a MOR equality delete land in the
    window. The feed must report net row changes with snapshot
    semantics — second-half rows arrive as inserts ONLY if still
    visible at the window end (the %5 deletes already applied), and
    first-half %5 rows surface as deletes. Manifest-diff fast path:
    only files added/affected in the window are read (see
    changes_between for the rewrite-window fallback contract)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    root = tempfile.mkdtemp(prefix="engine_cdc_") + "/t"
    try:
        tbl = create_table(root, ev.schema)
        s0 = tbl.append(ev.filter(F.col("event_id") % 2 == 0))
        tbl.append(ev.filter(F.col("event_id") % 2 == 1))
        tbl.delete_eq_mor(
            spark,
            ev.filter(F.col("event_id") % 5 == 0).select("event_id"),
            ["event_id"],
        )
        ch = tbl.changes_between(spark, s0.snapshot_id)
        agg = ch.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")
        ).collect()
        by = {r["_change_type"]: (r["n"], r["s"]) for r in agg}
        ins = by.get("insert", (0, 0))
        dl = by.get("delete", (0, 0))
        return spark.createDataFrame(
            [(ins[0], ins[1], dl[0], dl[1])],
            "n_insert bigint, sum_insert bigint, n_delete bigint, sum_delete bigint",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3l_incremental_view_maintenance",
    oracle="""
WITH final AS (
  SELECT event_id, user_id, value FROM events
  WHERE (event_id % 3 IN (0, 1) AND event_id % 4 <> 0)
     OR event_id % 3 = 2
),
mv AS (
  SELECT user_id, COUNT(*) AS cnt, SUM(value) AS sv
  FROM final GROUP BY user_id
)
SELECT COUNT(*) AS n_users, CAST(SUM(cnt) AS BIGINT) AS total_rows,
       ROUND(SUM(sv), 4) AS total_value, true AS mv_equals_recompute
FROM mv
""",
    group="A",
)
def a3l_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance over the change feed:
    a per-user (count, sum) view is built ONCE at the cursor snapshot,
    then brought current by aggregating only the CDC delta (inserts
    add, deletes subtract — count/sum are self-maintainable
    aggregates) and merging it in with one outer join on the view key.
    The window covers an append, a MOR equality delete, and a second
    append AFTER the delete — whose %4 rows must survive (equality-
    delete sequence semantics flow through the feed untouched).

    The scale story this proves: refreshing the view costs
    O(|changes|) scan + O(|touched keys|) merge instead of O(|table|)
    recompute — the difference between minutes and a full-table pass
    at 100 TB. mv_equals_recompute asserts the maintained view equals
    the from-scratch recompute, row for row."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="engine_ivm_") + "/t"
    try:
        tbl = create_table(root, ev.schema)
        s0 = tbl.append(ev.filter(F.col("event_id") % 3 == 0))
        base_mv = (
            tbl.scan(spark)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        )
        tbl.append(ev.filter(F.col("event_id") % 3 == 1))
        tbl.delete_eq_mor(
            spark,
            ev.filter(F.col("event_id") % 4 == 0).select("event_id"),
            ["event_id"],
        )
        tbl.append(ev.filter(F.col("event_id") % 3 == 2))
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            tbl.changes_between(spark, s0.snapshot_id)
            .groupBy("user_id")
            .agg(
                F.sum(sign).alias("d_cnt"),
                F.sum(sign * F.col("value")).alias("d_sv"),
            )
        )
        mv = (
            base_mv.join(delta, "user_id", "full_outer")
            .select(
                "user_id",
                (F.coalesce("cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias("cnt"),
                (F.coalesce("sv", F.lit(0.0)) + F.coalesce("d_sv", F.lit(0.0))).alias("sv"),
            )
            .filter(F.col("cnt") > 0)
        )
        recompute = (
            tbl.scan(spark)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        )
        a = mv.select("user_id", "cnt", F.round("sv", 6).alias("sv"))
        b = recompute.select("user_id", "cnt", F.round("sv", 6).alias("sv"))
        equal = a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        row = mv.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cnt").alias("total_rows"),
            F.round(F.sum("sv"), 4).alias("total_value"),
        ).collect()[0]
        return spark.createDataFrame(
            [(row["n_users"], row["total_rows"], float(row["total_value"]), equal)],
            "n_users bigint, total_rows bigint, total_value double, "
            "mv_equals_recompute boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3m_engine_datasource_connector",
    oracle="""
SELECT c_mktsegment AS segment, COUNT(*) AS cnt,
       ROUND(SUM(c_acctbal), 4) AS sum_bal
FROM customer WHERE c_acctbal > 1000
GROUP BY c_mktsegment ORDER BY segment
""",
    group="A",
)
def a3m_engine_datasource_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine table as a first-class Spark data source (Python
    Data Source API): the fixture is written THROUGH
    ``df.write.format("engine_table")`` (distributed Arrow write
    tasks, one atomic fast-append commit) and read back THROUGH
    ``spark.read.format("engine_table")`` (one input partition per
    live data file, manifest pruning with pushed-down filters, Arrow
    batches executor-side). The oracle checks the whole connector
    round trip — no engine-specific call remains at the query site."""
    from ..sources import register_engine_datasource

    register_engine_datasource(spark)

    def build(root: str) -> None:
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        )
        create_table(root, cust.schema)
        cust.write.format("engine_table").option("root", root).mode(
            "append"
        ).save()

    root = _shared_root(spark, sf_dir, "datasource", build)
    df = spark.read.format("engine_table").option("root", root).load()
    return (
        df.filter(F.col("c_acctbal") > 1000)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
        )
        .orderBy("segment")
    )


@register(
    "a3n_engine_rollback",
    oracle="""
SELECT COUNT(*) AS cnt, CAST(SUM(c_custkey) AS BIGINT) AS sum_key
FROM customer
""",
    group="A",
)
def a3n_engine_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (Table.rollback_to): a bad commit (here a
    metadata delete wiping half the table) is undone by moving the
    head back to the pre-delete snapshot — metadata-only, nothing
    rewritten, the bad snapshot stays time-travelable until expiry.
    The post-rollback scan must equal the original fixture, and the
    rolled-past state remains reachable by explicit snapshot id."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    root = tempfile.mkdtemp(prefix="engine_rb_") + "/t"
    try:
        tbl = create_table(root, cust.schema, partition=truncate("c_custkey", 100))
        good = tbl.append(cust)
        tbl.delete_where("c_custkey", "<", 10**9)  # the bad commit: wipes all
        assert tbl.scan(spark).count() == 0
        bad_id = tbl.metadata.current_snapshot().snapshot_id
        tbl.rollback_to(good.snapshot_id)
        # the bad state is still reachable explicitly (until expiry)
        assert tbl.scan(spark, snapshot_id=bad_id).count() == 0
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("c_custkey").alias("sum_key")
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"])], "cnt bigint, sum_key bigint"
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3o_engine_partition_evolution",
    oracle="""
SELECT COUNT(*) AS cnt, CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       COUNT(CASE WHEN o_orderkey >= 1500 THEN 1 END) AS cnt_tail
FROM orders
""",
    group="A",
)
def a3o_engine_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition spec evolution (Table.update_partition_spec): half the
    orders fixture is appended under truncate(o_orderkey, 1000), the
    spec then evolves to width 200 — a metadata-only commit, no data
    rewrite — and the rest is appended under the new spec. Every read
    path must prune each file under the spec it was WRITTEN with
    (manifest entries carry spec_id): the query scans the full table
    and a >= filter whose correct answer needs old files interpreted
    at the old width, returning totals the oracle recomputes from the
    raw fixture. Pruning behavior itself is pinned in
    tests/test_table_layer.py::test_partition_evolution_prunes_per_spec."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_pe_") + "/t"
    try:
        tbl = create_table(root, orders.schema, partition=truncate("o_orderkey", 1000))
        mid = 1500  # not aligned to either width: files straddle it
        tbl.append(orders.filter(F.col("o_orderkey") < mid))
        tbl.update_partition_spec(truncate("o_orderkey", 200))
        tbl.append(orders.filter(F.col("o_orderkey") >= mid))
        # filtered scan exercises mixed-spec pruning; full scan the totals
        tail = tbl.scan(spark, filters=[("o_orderkey", ">=", mid)])
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("o_orderkey").alias("sum_key")
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], tail.count())],
            "cnt bigint, sum_key bigint, cnt_tail bigint",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3p_engine_metadata_count",
    oracle="""
SELECT COUNT(*) AS cnt_total,
       COUNT(CASE WHEN o_orderkey < 5000 THEN 1 END) AS cnt_aligned,
       CAST(0 AS BIGINT) AS aligned_scanned_files,
       COUNT(CASE WHEN o_orderkey >= 2500 THEN 1 END) AS cnt_unaligned
FROM orders
""",
    group="A",
)
def a3p_engine_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) pushed into table metadata (Table.count_rows): files a
    predicate provably fully matches contribute their manifest row
    count without being read; only boundary files scan with the
    residual. The partition-aligned cutoff must read ZERO data files
    (aligned_scanned_files is graded as 0); the unaligned cutoff scans
    only its boundary bucket and still matches the oracle. At 100 TB
    this is the difference between a retention-audit COUNT costing one
    manifest read vs a full-table scan."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_mc_") + "/t"
    try:
        tbl = create_table(root, orders.schema, partition=truncate("o_orderkey", 1000))
        tbl.append(orders)
        total = tbl.count_rows()
        aligned = tbl.count_rows(spark, [("o_orderkey", "<", 5000)])
        unaligned = tbl.count_rows(spark, [("o_orderkey", ">=", 2500)])
        return spark.createDataFrame(
            [
                (
                    total["rows"],
                    aligned["rows"],
                    aligned["scanned_files"],
                    unaligned["rows"],
                )
            ],
            "cnt_total bigint, cnt_aligned bigint, "
            "aligned_scanned_files bigint, cnt_unaligned bigint",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3s_engine_inline_dv_delete",
    oracle="""
SELECT COUNT(CASE WHEN c_custkey % 97 <> 0 THEN 1 END) AS cnt,
       CAST(SUM(CASE WHEN c_custkey % 97 <> 0 THEN c_custkey END) AS BIGINT)
         AS sum_key,
       CAST(0 AS BIGINT) AS delete_files_written
FROM customer
""",
    group="A",
)
def a3s_engine_inline_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline deletion vectors (Iceberg v3 DV spirit): a small
    merge-on-read delete commits its positions INSIDE the manifest
    entry — zero files written (delete_files_written is graded as 0
    straight from the snapshot summary), readers rebuild the anti-join
    input from metadata, and the scan equals the batch filter. At
    scale this is what makes high-frequency small deletes (GDPR
    erasure, CDC retractions) metadata-cost operations instead of a
    file write + read per commit."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    root = tempfile.mkdtemp(prefix="engine_dv_") + "/t"
    try:
        tbl = create_table(root, cust.schema)
        tbl.append(cust)
        # the %-predicate isn't expressible as a (col, op, literal)
        # position-delete filter, so it runs as an equality delete on
        # the matching keys — also inline below the DV threshold
        victims = cust.filter(F.col("c_custkey") % 97 == 0)
        snap = tbl.delete_eq_mor(spark, victims, ["c_custkey"])
        files_written = int(snap.summary.get("added-delete-files", -1))
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("c_custkey").alias("sum_key")
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], files_written)],
            "cnt bigint, sum_key bigint, delete_files_written bigint",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3t_engine_write_sort_order",
    oracle="""
WITH bounds AS (
  SELECT MIN(o_custkey) + (MAX(o_custkey) - MIN(o_custkey)) // 8 AS cut
  FROM orders
)
SELECT COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       true AS sorted_prunes_fewer
FROM orders, bounds WHERE o_custkey < bounds.cut
""",
    group="A",
)
def a3t_engine_write_sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time sort order (SURVEY §2.2 A3t; Iceberg SortOrder
    semantics): ``write.sort.order=o_custkey`` makes every append
    range-partition + sortWithinPartitions so each data file covers a
    DISJOINT sort-key range and its footer min/max stats are tight.
    The orders fixture arrives ordered by o_orderkey, so o_custkey is
    decorrelated from file order — an unsorted layout leaves every
    file spanning nearly the full custkey range (range predicates
    prune nothing), while the sorted layout answers the same predicate
    from ~1 file. At 100 TB this is the difference between a selective
    scan touching one file per executor and a full-table read.
    sorted_prunes_fewer grades the pruning invariant (strictly fewer
    files matched than the unsorted twin); cnt/sum_key grade the scan
    itself against the raw fixture."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    def build(base: str) -> None:
        # base holds TWO tables: sorted/ and plain/, built from the
        # same 8-way-shuffled input so file counts are comparable
        src = orders.repartition(8)
        t_sorted = create_table(
            base + "/sorted", src.schema,
            properties={"write.sort.order": "o_custkey"},
        )
        t_plain = create_table(base + "/plain", src.schema)
        t_sorted.append(src)
        t_plain.append(src)

    base = _shared_root(spark, sf_dir, "sortorder", build)
    t_sorted = open_table(base + "/sorted")
    t_plain = open_table(base + "/plain")
    lo, hi = orders.agg(
        F.min("o_custkey"), F.max("o_custkey")
    ).collect()[0]
    cut = int(lo) + (int(hi) - int(lo)) // 8
    q = [("o_custkey", "<", cut)]
    n_sorted = len(t_sorted.plan_files(q))
    n_plain = len(t_plain.plan_files(q))
    prunes_fewer = n_sorted < n_plain and n_sorted < len(t_sorted.current_files())
    row = (
        t_sorted.scan(spark, q)
        .filter(F.col("o_custkey") < cut)
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("o_orderkey").alias("sum_key"))
        .collect()[0]
    )
    return spark.createDataFrame(
        [(row["cnt"], row["sum_key"], prunes_fewer)],
        "cnt bigint, sum_key bigint, sorted_prunes_fewer boolean",
    )


@register(
    "a3u_engine_rename_widen",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(p_partkey) AS BIGINT) AS sum_key,
       CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
       true AS evolution_metadata_only
FROM part
""",
    group="A",
)
def a3u_engine_rename_widen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename + type widening (Iceberg UpdateSchema parity):
    half the part fixture is appended under (key int, name string),
    the schema then renames name->part_type and widens key->long —
    two METADATA-ONLY commits (evolution_metadata_only grades that the
    data-file set is untouched) — and the rest appends under the new
    schema with keys above int range semantics. The full scan must
    equal the raw fixture: old files surface through the name-history
    coalesce and the native int32->int64 upcast, new files read
    directly. At 100 TB this is what makes a rename a catalog edit
    instead of a petabyte rewrite."""
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"), F.col("p_type").alias("name")
    )
    mid = int(part.agg(F.expr("percentile_approx(key, 0.5)")).collect()[0][0])
    root = tempfile.mkdtemp(prefix="engine_rw_") + "/t"
    try:
        narrow = part.select(F.col("key").cast("int").alias("key"), "name")
        tbl = create_table(root, narrow.schema)
        tbl.append(narrow.filter(F.col("key") < mid))
        files_before = sorted(e["path"] for e in tbl.current_files())
        tbl.rename_column("name", "part_type")
        tbl.widen_column("key", "long")
        files_after = sorted(e["path"] for e in tbl.current_files())
        metadata_only = files_before == files_after
        tbl.append(
            part.filter(F.col("key") >= mid).select(
                "key", F.col("name").alias("part_type")
            )
        )
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("key").alias("sum_key"),
            F.countDistinct("part_type").alias("n_types"),
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], row["n_types"], metadata_only)],
            "cnt bigint, sum_key bigint, n_types bigint, "
            "evolution_metadata_only boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3v_engine_runtime_filter_join",
    oracle="""
WITH bounds AS (
  SELECT MIN(c_custkey) + (MAX(c_custkey) - MIN(c_custkey)) // 4 AS cut
  FROM customer
),
dim AS (SELECT c_custkey FROM customer, bounds WHERE c_custkey < bounds.cut)
SELECT COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       true AS runtime_pruned
FROM orders JOIN dim ON o_custkey = dim.c_custkey
""",
    group="A",
)
def a3v_engine_runtime_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filtered fact scan (DPP / Iceberg runtime-filtering
    spirit): the fact table is laid out by write.sort.order=o_custkey
    (disjoint per-file key ranges), the dim side's ACTUAL key set is
    collected (broadcast-small precondition), and
    ``Table.scan_runtime_filtered`` prunes fact files whose stats
    range contains NO dim key before any data is read — the join then
    runs on the pruned scan. runtime_pruned grades that strictly
    fewer files were scanned than the table holds; cnt/sum_key grade
    the join itself against the raw-fixture oracle. At 100 TB a
    selective dim filter turns the fact scan into reading only the
    files that can match — static predicates can't express this."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    def build(root: str) -> None:
        t = create_table(
            root,
            orders.schema,
            properties={"write.sort.order": "o_custkey"},
        )
        t.append(orders.repartition(8))

    root = _shared_root(spark, sf_dir, "rtfilter", build)
    tbl = open_table(root)
    lo, hi = cust.agg(F.min("c_custkey"), F.max("c_custkey")).collect()[0]
    cut = int(lo) + (int(hi) - int(lo)) // 4
    dim = cust.filter(F.col("c_custkey") < cut)
    fact, info = tbl.scan_runtime_filtered(
        spark, dim.select(F.col("c_custkey").alias("o_custkey")), "o_custkey"
    )
    pruned = (
        info["files_scanned"] is not None
        and info["files_scanned"] < info["files_total"]
    )
    row = (
        fact.join(F.broadcast(dim), fact.o_custkey == dim.c_custkey)
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("o_orderkey").alias("sum_key"))
        .collect()[0]
    )
    return spark.createDataFrame(
        [(row["cnt"], row["sum_key"], pruned)],
        "cnt bigint, sum_key bigint, runtime_pruned boolean",
    )


@register(
    "a3q_engine_manifest_compaction",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       true AS manifests_merged,
       true AS history_linear
FROM orders
""",
    group="A",
)
def a3q_engine_manifest_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opportunistic manifest compaction under sustained ingest (the
    reference's commit.manifest.min-count-to-merge, Writer.java:120):
    every commit that pushes the live-manifest count past the property
    threshold merges them into partition-sorted shards IN THE SAME
    COMMIT — no separate maintenance job, no extra snapshot. Twelve
    small appends with threshold 4 must therefore never accumulate
    more than threshold+1 manifests (manifests_merged grades that the
    count dropped at least once and stayed bounded), while the
    snapshot history stays strictly linear (history_linear: one
    snapshot per append, parent-chained) and the final scan equals the
    raw fixture. At 100 TB ingest rates this is what keeps planning
    cost O(live files), not O(commits ever made)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_mm_") + "/t"
    try:
        tbl = create_table(
            root,
            orders.schema,
            properties={"commit.manifest.min-count-to-merge": "4"},
        )
        n_appends = 12
        counts = []
        for i in range(n_appends):
            tbl.append(orders.filter(F.col("o_orderkey") % n_appends == i))
            counts.append(len(tbl.metadata.current_snapshot().manifests))
        merged = any(b < a for a, b in zip(counts, counts[1:])) and max(counts) <= 5
        snaps = tbl.metadata.snapshots
        by_id = {s.snapshot_id: s for s in snaps}
        linear = len(snaps) == n_appends and all(
            s.parent_id is None or s.parent_id in by_id for s in snaps
        )
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("o_orderkey").alias("sum_key")
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], merged, linear)],
            "cnt bigint, sum_key bigint, manifests_merged boolean, "
            "history_linear boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3w_engine_bucket_transform",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(c_custkey) AS BIGINT) AS sum_key,
       COUNT(CASE WHEN c_custkey = 41 THEN 1 END) AS k_old_cnt,
       COUNT(CASE WHEN c_custkey = 120 THEN 1 END) AS k_new_cnt,
       true AS bucket_pruned
FROM customer
""",
    group="A",
)
def a3w_engine_bucket_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket[N] partition transform + truncate->bucket spec
    evolution (Iceberg spec transforms; the reference itself uses only
    truncate, Constants.java:33-35). Customers below 100 land under
    truncate(c_custkey, 50); the spec then evolves to bucket(c_custkey,
    8) — CRC32-of-string hash, bit-identical between the Spark write
    path (F.crc32) and driver-side planning (zlib.crc32) — and the
    rest is appended as 8 hash-bucket files. A point lookup must prune
    BOTH vintages under their own spec: the old file by its truncate
    range, the new files to the ONE bucket the key hashes to.
    bucket_pruned grades that plan shape (not just the row counts):
    hash-bucket layout is what makes point lookups and key-colocated
    work O(1/N) of the table at 100 TB, where a range transform on a
    hash-distributed key prunes nothing."""
    from ..table import bucket
    from ..table.transforms import _crc_bucket

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    root = tempfile.mkdtemp(prefix="engine_bkt_") + "/t"
    try:
        tbl = create_table(root, cust.schema, partition=truncate("c_custkey", 50))
        tbl.append(cust.filter(F.col("c_custkey") < 100))
        tbl.update_partition_spec(bucket("c_custkey", 8))
        tbl.append(cust.filter(F.col("c_custkey") >= 100))
        hit_old = tbl.plan_files([("c_custkey", "=", 41)])
        hit_new = tbl.plan_files([("c_custkey", "=", 120)])
        want_new = _crc_bucket(120, 8)
        pruned = (
            all(
                e["partition"] == 0
                for e in hit_old
                if not int(e.get("spec_id", 0) or 0)
            )
            and all(
                e["partition"] == want_new
                for e in hit_new
                if int(e.get("spec_id", 0) or 0)
            )
            and len(hit_new) < len(tbl.plan_files())
        )
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("c_custkey").alias("sum_key")
        ).collect()[0]
        k_old = tbl.scan(spark, [("c_custkey", "=", 41)]).count()
        k_new = tbl.scan(spark, [("c_custkey", "=", 120)]).count()
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], k_old, k_new, pruned)],
            "cnt bigint, sum_key bigint, k_old_cnt bigint, k_new_cnt bigint, "
            "bucket_pruned boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3x_engine_metadata_tables",
    oracle="""
SELECT CAST(3 AS BIGINT) AS n_snapshots,
       COUNT(*) AS live_rows,
       CAST(2 AS BIGINT) AS n_refs,
       true AS partitions_balanced,
       true AS ref_pins_history
FROM orders WHERE o_orderkey % 10 <> 0
""",
    group="A",
)
def a3x_engine_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata tables through the CONNECTOR (Iceberg's
    db.table.snapshots / .files / .partitions / .refs):
    option("table", kind) turns plain spark.read into the operator's
    SQL window on table health — commit log, refs, live files,
    partition balance — with planning AND row production metadata-only
    (no data file opened; the distributed variant for million-file
    tables is Table.inspect). The scenario appends orders partitioned
    by truncate(1000), tags the append, MOR-deletes every 10th key,
    then grades: snapshot count from the commit log, LIVE row count as
    files.record_count minus the delete (manifest arithmetic vs the
    oracle's recount), ref count, per-partition file balance, and that
    the files table under the pinned tag still sees the pre-delete
    state."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_meta_") + "/t"
    try:
        from ..sources import register_engine_datasource

        register_engine_datasource(spark)
        tbl = create_table(
            root, orders.schema, partition=truncate("o_orderkey", 1000)
        )
        tbl.append(orders)
        tbl.create_tag("v1")
        tbl.create_branch("audit")
        victims = orders.filter(F.col("o_orderkey") % 10 == 0)
        tbl.delete_eq_mor(spark, victims, ["o_orderkey"])
        tbl.rewrite_deletes(spark)  # fold: files table reflects survivors

        def meta(kind, **opts):
            r = (
                spark.read.format("engine_table")
                .option("root", root)
                .option("table", kind)
            )
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load()

        n_snaps = meta("snapshots").count()
        live = meta("files").agg(F.sum("record_count").alias("s")).collect()[0]["s"]
        n_refs = meta("refs").count()
        parts = meta("partitions").collect()
        balanced = all(r["file_count"] >= 1 and r["record_count"] > 0 for r in parts)
        pinned = (
            meta("files", ref="v1").agg(F.sum("record_count").alias("s"))
            .collect()[0]["s"]
        )
        total = orders.count()
        return spark.createDataFrame(
            [(n_snaps, live, n_refs, balanced, pinned == total)],
            "n_snapshots bigint, live_rows bigint, n_refs bigint, "
            "partitions_balanced boolean, ref_pins_history boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3y_engine_maintenance_pass",
    oracle="""
SELECT COUNT(CASE WHEN c_custkey % 7 <> 0 THEN 1 END) AS cnt,
       CAST(SUM(CASE WHEN c_custkey % 7 <> 0 THEN c_custkey END) AS BIGINT)
         AS sum_key,
       true AS content_preserved,
       true AS layout_improved,
       true AS deletes_folded
FROM customer
""",
    group="A",
)
def a3y_engine_maintenance_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.maintain — the operator's standing maintenance loop
    (SURVEY 4: the bookkeeper runs maintenance continuously) as one
    policy-driven pass: fold pending MOR deletes, bin-pack small
    files, snapshot expiry, orphan GC, in that order. Every commit it
    makes is content-preserving ('replace' / marked 'overwrite'), so
    the segmented CDC planner steps standing streams through it. The
    scenario builds a deliberately unhealthy table (8 tiny append
    files + an equality delete), runs maintain, and grades: the scan
    equals the oracle recount (content preserved through the rewrite),
    the live file count dropped (layout actually improved), and the
    delete manifests are gone (folded). At 100 TB this pass is the
    difference between a table whose scan cost tracks data size and
    one whose scan cost tracks commit history."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    root = tempfile.mkdtemp(prefix="engine_mt_") + "/t"
    try:
        tbl = create_table(root, cust.schema)
        for i in range(8):
            tbl.append(cust.filter(F.col("c_custkey") % 8 == i).coalesce(1))
        tbl.delete_eq_mor(
            spark, cust.filter(F.col("c_custkey") % 7 == 0), ["c_custkey"]
        )
        files_before = len(tbl.plan_files())
        report = tbl.maintain(
            spark,
            target_file_bytes=1 << 20,
            small_file_threshold=2,
            delete_file_threshold=1,
        )
        folded = not tbl.metadata.current_snapshot().delete_manifests
        improved = len(tbl.plan_files()) < files_before
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("c_custkey").alias("sum_key")
        ).collect()[0]
        preserved = "skipped" not in report["rewrite_deletes"]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], preserved, improved, folded)],
            "cnt bigint, sum_key bigint, content_preserved boolean, "
            "layout_improved boolean, deletes_folded boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a3z_engine_time_travel_timestamp",
    oracle="""
SELECT COUNT(CASE WHEN o_orderkey % 2 = 0 THEN 1 END) AS cnt_asof,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN o_orderkey END) AS BIGINT)
         AS sum_asof,
       COUNT(*) AS cnt_now,
       true AS staged_excluded
FROM orders
""",
    group="A",
)
def a3z_engine_time_travel_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF (Iceberg SQL time travel): scan(as_of_ms=...) /
    connector option("as_of_timestamp_ms") resolve the snapshot
    current at a wall-clock instant by walking today's MAIN lineage —
    so rolled-past commits and write-audit-publish branch commits
    (which were never main-visible) can never answer for main. The
    scenario appends even orderkeys, captures the instant, stages a
    branch append AND commits the odds after it; the as-of read must
    see exactly the evens while the head sees all — graded against
    the fixture recount."""
    import time as _time

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_tt_") + "/t"
    try:
        tbl = create_table(root, orders.schema)
        tbl.append(orders.filter(F.col("o_orderkey") % 2 == 0))
        _time.sleep(0.02)
        t_mid = tbl.metadata.current_snapshot().timestamp_ms
        _time.sleep(0.02)
        tbl.create_branch("staging")
        tbl.append(orders.limit(10), branch="staging")  # never on main
        tbl.append(orders.filter(F.col("o_orderkey") % 2 == 1))
        asof = tbl.scan(spark, as_of_ms=t_mid)
        row = asof.agg(
            F.count(F.lit(1)).alias("c"), F.sum("o_orderkey").alias("s")
        ).collect()[0]
        # connector agrees with the table API under the same instant
        from ..sources import register_engine_datasource

        register_engine_datasource(spark)
        conn_cnt = (
            spark.read.format("engine_table")
            .option("root", root)
            .option("as_of_timestamp_ms", str(t_mid))
            .load()
            .count()
        )
        cnt_now = tbl.scan(spark).count()
        return spark.createDataFrame(
            [(row["c"], row["s"], cnt_now, conn_cnt == row["c"])],
            "cnt_asof bigint, sum_asof bigint, cnt_now bigint, "
            "staged_excluded boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4a_engine_temporal_partition",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(7 AS BIGINT) AS days_hit,
       true AS pruned
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-17 00:00:00'
""",
    group="A",
)
def a4a_engine_temporal_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """day(ts) temporal partition transform (Iceberg year/month/day/
    hour; partition value = UTC days since epoch). Events land in one
    file per day; a [start, end) time-range query must prune to
    EXACTLY the seven covered day partitions — including the boundary
    sharpening that drops the end-midnight bucket (ts < Jan-17 00:00
    projects to day <= Jan-16, not <= Jan-17, because the predicate
    value sits on the bucket's own lower boundary). Buckets are
    computed with timezone-free calendar arithmetic (unix_micros +
    DATE reconstruction) so the Spark write path, Arrow connector
    write path, and driver-side planning agree under any session
    timezone. days_hit grades the plan shape, not just the row set:
    temporal layout is what makes retention windows and
    incremental-day reads O(days touched), not O(table), at 100 TB."""
    from ..table import day

    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    root = tempfile.mkdtemp(prefix="engine_day_") + "/t"
    try:
        tbl = create_table(root, events.schema, partition=day("ts"))
        tbl.append(events)
        flt = [("ts", ">=", "2024-01-10T00:00:00"), ("ts", "<", "2024-01-17T00:00:00")]
        hit = tbl.plan_files(flt)
        days_hit = len({e["partition"] for e in hit})
        pruned = 0 < len(hit) < len(tbl.plan_files())
        row = tbl.scan(spark, flt).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("event_id").alias("sum_id")
        ).collect()[0]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_id"], days_hit, pruned)],
            "cnt bigint, sum_id bigint, days_hit bigint, pruned boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4b_engine_merge_into",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 <> 7) + 5 AS cnt,
       CAST((SELECT SUM(o_orderkey) FROM orders WHERE o_orderkey % 10 <> 7)
            + 50000000015 AS BIGINT) AS sum_key,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 3) AS n_updated,
       CAST(5 AS BIGINT) AS n_inserted,
       true AS atomic_single_commit,
       CAST(7 AS BIGINT) AS n_flagged,
       true AS flag_stale_exact
""",
    group="A",
)
def a4b_engine_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO (Iceberg RowDelta / Delta MERGE semantics) as ONE
    atomic merge-on-read commit: WHEN MATCHED AND cond THEN DELETE,
    WHEN MATCHED THEN UPDATE SET (expressions over t./s.), WHEN NOT
    MATCHED THEN INSERT. The commit carries an equality-delete entry
    and the replacement/insert files at the SAME sequence number — the
    delete masks superseded row versions in older files, never its own
    replacements, and NO existing data file is rewritten. Orders whose
    key ends in 3 get their comment updated, keys ending in 7 are
    deleted, five synthetic keys insert; the oracle reconstructs the
    post-merge state with plain SQL. atomic_single_commit grades the
    commit shape: exactly one snapshot, operation 'merge' — at 100 TB
    a merge touching 0.1% of keys writes 0.1% of the data, where
    copy-on-write rewrites every candidate file. Round 14 adds the
    last SQL:2023 clause on a compact sync table: WHEN NOT MATCHED BY
    SOURCE THEN UPDATE (``update_not_matched_by_source``) flags every
    absent-key row with a t.*-only expression through the same MOR
    row delta — n_flagged/flag_stale_exact grade it."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    root = tempfile.mkdtemp(prefix="engine_mi_") + "/t"
    try:
        tbl = create_table(root, orders.schema)
        tbl.append(orders)
        matched_src = orders.filter(
            F.col("o_orderkey") % 10 == 3
        ).withColumn("o_orderpriority", F.lit("MERGED")).unionByName(
            orders.filter(F.col("o_orderkey") % 10 == 7)
        )
        inserts = spark.createDataFrame(
            [(10_000_000_000 + i, "NEW") for i in range(1, 6)],
            "o_orderkey long, o_orderpriority string",
        )
        n_before = len(tbl.snapshots())
        res = tbl.merge_into(
            spark,
            matched_src.unionByName(inserts),
            ["o_orderkey"],
            update={"o_orderpriority": "s.o_orderpriority"},
            delete_condition="s.o_orderkey % 10 = 7",
            insert=True,
        )
        snaps = tbl.snapshots()
        atomic = (
            len(snaps) == n_before + 1
            and snaps[-1].operation == "merge"
            and res["inserted_rows"] == 5
        )
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").alias("sum_key"),
            F.count(F.when(F.col("o_orderpriority") == "MERGED", 1)).alias("n_updated"),
            F.count(F.when(F.col("o_orderpriority") == "NEW", 1)).alias("n_inserted"),
        ).collect()[0]
        # flag-stale-rows (round 14): keys 0-2 are "current" in the
        # source; the other 7 rows update via BY SOURCE UPDATE
        st = create_table(
            os.path.dirname(root) + "/sync",
            spark.createDataFrame([(0, "cur")], "k long, status string").schema,
        )
        st.append(
            spark.createDataFrame(
                [(i, "cur") for i in range(10)], "k long, status string"
            )
        )
        res2 = st.merge_into(
            spark,
            spark.createDataFrame([(0,), (1,), (2,)], "k long"),
            ["k"],
            update=None,
            insert=False,
            update_not_matched_by_source={"status": "'stale'"},
        )
        n_flagged = res2["source_updated_rows"]
        flagged = {
            r["k"] for r in st.scan(spark).collect() if r["status"] == "stale"
        }
        flag_stale_exact = flagged == set(range(3, 10))
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], row["n_updated"], row["n_inserted"],
              atomic, n_flagged, flag_stale_exact)],
            "cnt bigint, sum_key bigint, n_updated bigint, n_inserted bigint, "
            "atomic_single_commit boolean, n_flagged bigint, "
            "flag_stale_exact boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4c_engine_ndv_sketch",
    oracle="""
SELECT COUNT(DISTINCT c_nationkey) AS nation_ndv,
       true AS full_ok,
       true AS subset_ok,
       true AS metadata_only
FROM customer
""",
    group="A",
)
def a4c_engine_ndv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE + metadata-only NDV (Iceberg Puffin/theta-sketch
    statistics, rebuilt as per-file KMV sketches; table/ndv.py).
    One distributed job hashes values JVM-side (xxhash64 in codegen)
    and keeps the k smallest distinct hashes per (file, column);
    estimates are then driver-side sketch merges with NO data read —
    including over a PRUNED file subset, because KMV sketches are
    closed under union. Grades: the low-cardinality column comes back
    exact (< k distinct), the unique-key estimate lands within 10% of
    truth both for the full table and for a key-range subset, and
    every considered file was covered by the analysis (the estimate is
    genuinely metadata-complete). At 100 TB this is the difference
    between a COUNT(DISTINCT) costing a scan and costing a JSON read."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    root = tempfile.mkdtemp(prefix="engine_ndv_") + "/t"
    try:
        n = cust.count()
        width = max(n // 8, 1)
        tbl = create_table(root, cust.schema, partition=truncate("c_custkey", width))
        tbl.append(cust)
        tbl.analyze(spark, ["c_custkey", "c_nationkey"])
        nation = tbl.approx_ndv("c_nationkey")
        full = tbl.approx_ndv("c_custkey")
        # sketches are file-granular, so a subset estimate is the NDV
        # of the PRUNED FILE SET — cut on a partition boundary so the
        # file set and the predicate describe the same rows
        cut = 4 * width
        sub = tbl.approx_ndv("c_custkey", [("c_custkey", "<", cut)])
        exact_full = cust.select("c_custkey").distinct().count()
        exact_sub = (
            cust.filter(F.col("c_custkey") < cut).select("c_custkey").distinct().count()
        )
        full_ok = abs(full["ndv"] / exact_full - 1) < 0.15
        subset_ok = (
            abs(sub["ndv"] / exact_sub - 1) < 0.15
            and sub["files_considered"] < full["files_considered"]
        )
        meta_only = (
            nation["exact"]
            and full["files_covered"] == full["files_considered"]
            and sub["files_covered"] == sub["files_considered"]
        )
        return spark.createDataFrame(
            [(int(nation["ndv"]), full_ok, subset_ok, meta_only)],
            "nation_ndv bigint, full_ok boolean, subset_ok boolean, "
            "metadata_only boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4d_engine_column_defaults",
    oracle="""
SELECT COUNT(*) AS cnt,
       COUNT(CASE WHEN o_orderkey <= (SELECT MAX(o_orderkey) FROM orders)
                  THEN 1 END) AS n_defaulted,
       CAST(0 AS BIGINT) AS n_null_new,
       true AS vintage_clean,
       true AS connector_agrees
FROM orders
""",
    group="A",
)
def a4d_engine_column_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column initial defaults (Iceberg v3): add_column(default=...)
    is metadata-only, yet pre-existing rows read the default while
    rows written afterwards keep their stored values — including
    explicit NULLs. Selection is by entry SEQUENCE NUMBER (a file
    written before the add provably lacks the column, since retired
    names can never return), so no data is rewritten and no per-file
    footer probe happens at plan time. Applied in every read path:
    the Table reader fills per entry GROUP, the connector ships
    (col, value) pairs per file partition and fills executor-side
    after MOR masking. The scenario adds a defaulted tier column over
    the orders fixture, appends new rows carrying real values, and
    grades: every original row reads the default, the new rows keep
    theirs, a pre-add snapshot has no such column, and the connector
    returns the identical frame."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_def_") + "/t"
    try:
        from ..sources import register_engine_datasource

        register_engine_datasource(spark)
        tbl = create_table(root, orders.schema)
        s1 = tbl.append(orders)
        hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
        tbl.add_column("tier", "string", default="standard")
        tbl.append(
            spark.createDataFrame(
                [(hi + 1, "gold"), (hi + 2, None)], "o_orderkey long, tier string"
            )
        )
        cur = tbl.scan(spark)
        row = cur.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count(F.when(F.col("tier") == "standard", 1)).alias("n_defaulted"),
            F.count(
                F.when((F.col("o_orderkey") > hi) & F.col("tier").isNull()
                       & (F.col("o_orderkey") != hi + 2), 1)
            ).alias("bad_nulls"),
        ).collect()[0]
        # exactly ONE new row carries an explicit NULL; it must stay NULL
        n_null_new = (
            cur.filter((F.col("o_orderkey") > hi) & F.col("tier").isNull()).count() - 1
        )
        vintage = tbl.scan(spark, snapshot_id=s1.snapshot_id).columns == ["o_orderkey"]
        # one .load() per query: Spark caches the planned read per
        # loaded relation and only re-plans when filters are pushed
        # (see sources/engine_datasource.py module docstring)
        def conn():
            return spark.read.format("engine_table").option("root", root).load()

        agrees = (
            conn().filter(F.col("tier") == "standard").count() == row["n_defaulted"]
            and conn().count() == row["cnt"]
        )
        return spark.createDataFrame(
            [(row["cnt"] - 2, row["n_defaulted"], n_null_new, vintage, agrees)],
            "cnt bigint, n_defaulted bigint, n_null_new bigint, "
            "vintage_clean boolean, connector_agrees boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4e_engine_insert_overwrite",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 NOT IN (0, 1)) + 10
         AS cnt,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 4 = 2) AS kept_p2,
       CAST(10 AS BIGINT) AS replaced_rows,
       true AS atomic_overwrite,
       true AS pre_image_travels
FROM orders LIMIT 1
""",
    group="A",
)
def a4e_engine_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE through the connector. Dynamic mode
    (option('overwriteMode','dynamic')) replaces ONLY the partitions
    the written data touches — here buckets 0 and 1 of an
    identity(o_orderkey % 4)-style layout get 10 replacement rows
    while buckets 2 and 3 are carried by reference, untouched bytes —
    in ONE atomic 'overwrite' snapshot; the pre-overwrite content
    stays time-travelable. At 100 TB this is the daily-partition
    reload shape: rewriting one day costs one day, not the table, and
    readers never see a mix."""
    from ..table import identity

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_ovw_") + "/t"
    try:
        from ..sources import register_engine_datasource

        register_engine_datasource(spark)
        base = orders.withColumn("bucket", F.col("o_orderkey") % 4)
        tbl = create_table(root, base.schema, partition=identity("bucket"))
        s1 = tbl.append(base)
        repl = spark.createDataFrame(
            [(10_000_000_000 + i, i % 2) for i in range(10)],
            "o_orderkey long, bucket long",
        )
        repl.write.format("engine_table").option("root", root).option(
            "overwriteMode", "dynamic"
        ).mode("overwrite").save()
        tbl = open_table(root)
        snaps = tbl.snapshots()
        atomic = (
            snaps[-1].operation == "overwrite"
            and snaps[-1].summary.get("overwrite-mode") == "dynamic"
            and len(snaps) == 2
        )
        cur = tbl.scan(spark)
        cnt = cur.count()
        kept_p2 = cur.filter(F.col("bucket") == 2).count()
        replaced = cur.filter(F.col("o_orderkey") >= 10_000_000_000).count()
        travels = (
            tbl.scan(spark, snapshot_id=s1.snapshot_id).count()
            == orders.count()
        )
        return spark.createDataFrame(
            [(cnt, kept_p2, replaced, atomic, travels)],
            "cnt bigint, kept_p2 bigint, replaced_rows bigint, "
            "atomic_overwrite boolean, pre_image_travels boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4f_engine_add_files",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(2 AS BIGINT) AS files_imported,
       true AS zero_copy,
       true AS stats_prune
FROM orders
""",
    group="A",
)
def a4f_engine_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only import of existing parquet (Iceberg's add_files
    procedure / migrate path): two externally-written files adopt into
    an engine table by HARDLINK — same inode, zero data rewrite — with
    manifest stats read from the footers alone, so file skipping works
    on the imported data immediately (the low-half/high-half split
    proves it: a half-range predicate plans exactly one of the two
    files). The 100 TB story is adoption cost: migrating a parquet
    lake into the table format is O(files) metadata, not a copy."""
    import glob as g

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    work = tempfile.mkdtemp(prefix="engine_add_")
    root = work + "/t"
    try:
        mx = orders.agg(F.max("o_orderkey")).first()[0]
        split = mx // 2
        lo_dir, hi_dir = os.path.join(work, "lo"), os.path.join(work, "hi")
        orders.filter(F.col("o_orderkey") <= split).coalesce(1).write.parquet(lo_dir)
        orders.filter(F.col("o_orderkey") > split).coalesce(1).write.parquet(hi_dir)
        srcs = sorted(
            g.glob(os.path.join(lo_dir, "*.parquet"))
            + g.glob(os.path.join(hi_dir, "*.parquet"))
        )
        tbl = create_table(root, orders.schema)
        snap = tbl.add_files(srcs)
        ents = tbl.current_files()
        src_inodes = {os.stat(s).st_ino for s in srcs}
        zero_copy = all(
            os.stat(os.path.join(root, e["path"])).st_ino in src_inodes
            for e in ents
        )
        stats_prune = (
            len(tbl.plan_files([("o_orderkey", "<=", split)])) == 1
            and len(tbl.plan_files([("o_orderkey", ">", split)])) == 1
        )
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("o_orderkey").alias("sum_key")
        ).collect()[0]
        return spark.createDataFrame(
            [
                (
                    row["cnt"],
                    row["sum_key"],
                    int(snap.summary.get("added-files-import", 0)),
                    zero_copy,
                    stats_prune,
                )
            ],
            "cnt bigint, sum_key bigint, files_imported bigint, "
            "zero_copy boolean, stats_prune boolean",
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "a4g_engine_cherry_pick",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders) + 25 AS cnt,
       CAST(25 AS BIGINT) AS picked_rows,
       true AS ff_refused,
       true AS repick_noop,
       true AS zero_copy
""",
    group="A",
)
def a4g_engine_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch cherry-pick (Iceberg cherrypickSnapshot): the
    write-audit-publish completion when main has MOVED since the
    branch staged its append, so fast-forward publish is impossible.
    The staged snapshot's entries replay onto the new head by
    reference — same data files, zero copy, restamped sequence — in
    one conflict-free commit (appends are purely additive); a second
    pick of the same snapshot is a None no-op because its paths are
    already referenced. At 100 TB this is how audited batches land on
    a busy table without serializing every producer through one
    lineage."""
    from ..table.format import CommitConflict

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_cp_") + "/t"
    try:
        tbl = create_table(root, orders.schema)
        tbl.append(orders.filter(F.col("o_orderkey") % 2 == 0))
        tbl.create_branch("audit")
        staged = tbl.append(
            spark.range(25).select(
                (F.col("id") + 20_000_000_000).alias("o_orderkey")
            ),
            branch="audit",
        )
        tbl.append(orders.filter(F.col("o_orderkey") % 2 == 1))
        try:
            tbl.publish_branch("audit")
            ff_refused = False
        except CommitConflict:
            ff_refused = True
        staged_paths = {e["path"] for e in tbl.added_files(staged)}
        picked = tbl.cherry_pick(staged.snapshot_id)
        zero_copy = {e["path"] for e in tbl.added_files(picked)} == staged_paths
        repick_noop = tbl.cherry_pick(staged.snapshot_id) is None
        cnt = tbl.scan(spark).count()
        picked_rows = tbl.scan(
            spark, [("o_orderkey", ">=", 20_000_000_000)]
        ).count()
        return spark.createDataFrame(
            [(cnt, picked_rows, ff_refused, repick_noop, zero_copy)],
            "cnt bigint, picked_rows bigint, ff_refused boolean, "
            "repick_noop boolean, zero_copy boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4h_engine_row_lineage",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders) - 10 AS cnt,
       (SELECT COUNT(*) FROM orders) AS ids_assigned,
       true AS ids_unique_dense,
       true AS stable_across_compaction,
       true AS plain_scan_unchanged
""",
    group="A",
)
def a4h_engine_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row lineage (Iceberg v3 _row_id / next-row-id): every commit
    claims a disjoint id range in metadata and each manifest entry
    carries first_row_id, so ``_row_id = first_row_id + row position``
    is table-unique and costs ZERO bytes in data files;
    ``_last_updated_seq`` tracks the adding commit. A
    row.lineage=preserve compaction materializes the two columns into
    rewritten files so surviving rows keep their EXACT ids across
    maintenance — the contract that lets incremental consumers (SCD2
    sinks, dedup ledgers) track rows without a key column while the
    bookkeeper compacts continuously. Graded: ids dense over two
    appends, 10 MOR-deleted rows' ids vanish, every survivor's id
    identical after compaction, plain scans never see the plumbing."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    root = tempfile.mkdtemp(prefix="engine_rl_") + "/t"
    try:
        tbl = create_table(
            root, orders.schema, properties={"row.lineage": "preserve"}
        )
        tbl.append(orders.filter(F.col("o_orderkey") % 2 == 0).repartition(3))
        tbl.append(orders.filter(F.col("o_orderkey") % 2 == 1).repartition(3))
        n = orders.count()
        lin = tbl.scan_with_lineage(spark).select("o_orderkey", "_row_id")
        ids_assigned = tbl.metadata.next_row_id
        stats = lin.agg(
            F.count(F.lit(1)).alias("c"),
            F.countDistinct("_row_id").alias("d"),
            F.min("_row_id").alias("lo"),
            F.max("_row_id").alias("hi"),
        ).collect()[0]
        dense = (
            stats["c"] == n
            and stats["d"] == n
            and stats["lo"] == 0
            and stats["hi"] == n - 1
        )
        victims = [r[0] for r in orders.orderBy("o_orderkey").limit(10).collect()]
        before = {
            r["o_orderkey"]: r["_row_id"]
            for r in lin.filter(~F.col("o_orderkey").isin(victims)).collect()
        } if n <= 200_000 else None
        tbl.delete_where_mor(spark, [("o_orderkey", "<=", max(victims))])
        tbl.compact_data_files(spark, target_file_bytes=10**9)
        after_df = tbl.scan_with_lineage(spark).select("o_orderkey", "_row_id")
        cnt = after_df.count()
        if before is not None:
            after = {r["o_orderkey"]: r["_row_id"] for r in after_df.collect()}
            stable = after == before
        else:  # huge SF: distributed equality check instead of collect
            stable = (
                lin.filter(~F.col("o_orderkey").isin(victims))
                .exceptAll(after_df)
                .count()
                == 0
            )
        plain = tbl.scan(spark).columns == ["o_orderkey"]
        return spark.createDataFrame(
            [(cnt, ids_assigned, dense, stable, plain)],
            "cnt bigint, ids_assigned bigint, ids_unique_dense boolean, "
            "stable_across_compaction boolean, plain_scan_unchanged boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4i_engine_catalog_transaction",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
         + (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 1) AS hot_cnt,
       (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 1)
         - (SELECT COUNT(*) FROM orders WHERE o_orderkey % 10 = 1) AS cold_cnt,
       (SELECT COUNT(*) FROM orders) AS total_conserved,
       true AS no_torn_read,
       true AS old_state_travels
""",
    group="A",
)
def a4i_engine_catalog_transaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic CROSS-TABLE transaction through the catalog (Nessie /
    lakehouse-catalog semantics): moving rows between two tables
    (append to hot + equality-delete from cold) publishes as ONE
    catalog version, so readers going through the catalog flip from
    the old consistent pair to the new one atomically — the
    mid-transaction catalog state (captured after the table commits,
    before the catalog publish) still shows the OLD view of both
    tables and conserves the total. Single-table engines cannot say
    this; at 100 TB it is what keeps a corpus + its dedup ledger, or
    a quarantine + main split, mutually consistent under readers.
    Old catalog states stay readable (catalog-level time travel)."""
    from ..table import Catalog

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    base = tempfile.mkdtemp(prefix="engine_cat_")
    try:
        cat = Catalog.create(base + "/cat")
        cat.create_table("hot", orders.schema)
        cat.create_table("cold", orders.schema)
        cat.transaction().append(
            "hot", orders.filter(F.col("o_orderkey") % 2 == 0)
        ).append(
            "cold", orders.filter(F.col("o_orderkey") % 2 == 1)
        ).commit(spark)
        st0 = cat.state()
        total = orders.count()
        moved = orders.filter(F.col("o_orderkey") % 10 == 1)

        # stage the table commits WITHOUT the catalog publish — the
        # torn-read window a two-separate-commits design would expose
        from ..table import Table as _T

        mid = {}
        t_hot, t_cold = _T(cat._table_root("hot")), _T(cat._table_root("cold"))
        mid["hot"] = t_hot.append(moved).snapshot_id
        mid["cold"] = t_cold.delete_eq_mor(
            spark, moved.select("o_orderkey"), ["o_orderkey"]
        ).snapshot_id
        st_mid = cat.state()
        mid_hot = cat.read(spark, "hot", state=st_mid).count()
        mid_cold = cat.read(spark, "cold", state=st_mid).count()
        no_torn = (
            mid_hot + mid_cold == total
            and mid_hot == cat.read(spark, "hot", state=st0).count()
        )
        cat._commit_pins(mid)  # the transaction's publish step
        st1 = cat.state()
        hot_cnt = cat.read(spark, "hot", state=st1).count()
        cold_cnt = cat.read(spark, "cold", state=st1).count()
        travels = (
            cat.read(spark, "hot", state=st0).count() == mid_hot
            and hot_cnt != mid_hot
        )
        return spark.createDataFrame(
            [(hot_cnt, cold_cnt, hot_cnt + cold_cnt, no_torn, travels)],
            "hot_cnt bigint, cold_cnt bigint, total_conserved bigint, "
            "no_torn_read boolean, old_state_travels boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "a4j_engine_update_where",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(SUM(CASE WHEN o_orderstatus = 'O'
                     THEN o_orderkey + 1000000 ELSE o_orderkey END) AS BIGINT)
         AS sum_key,
       (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O') AS updated_rows,
       true AS pruned_rewrite,
       true AS pre_image_travels
FROM orders
""",
    group="A",
)
def a4j_engine_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UPDATE … SET … WHERE as copy-on-write (completing the DML
    verb set next to MERGE INTO, DELETE, INSERT OVERWRITE): SET
    expressions evaluate against the OLD row, results cast to the
    column's type, one atomic 'overwrite' snapshot whose pre-image
    stays time-travelable. The rewrite set is stats-pruned BEFORE any
    data IO — on a sort-ordered table an UPDATE keyed to a value range
    rewrites only the files whose min/max admit matches (graded
    below), everything else carries by reference; all touched buckets
    rewrite in ONE Spark job. The 100 TB shape: an UPDATE touching one
    day costs one day."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    root = tempfile.mkdtemp(prefix="engine_upd_") + "/t"
    try:
        tbl = create_table(
            root, orders.schema, properties={"write.sort.order": "o_orderkey"}
        )
        tbl.append(orders.repartition(8))
        s1 = tbl.metadata.current_snapshot().snapshot_id
        n_files = len(tbl.current_files())
        res = tbl.update_where(
            spark,
            [("o_orderstatus", "=", "O")],
            {"o_orderkey": "o_orderkey + 1000000"},
        )
        # range-keyed second update proves stats pruning: only the
        # files whose o_orderkey range admits [0, 50) rewrite
        res2 = tbl.update_where(
            spark,
            [("o_orderkey", "<", 50)],
            {"o_orderstatus": "'X'"},
        )
        pruned = 0 < res2["rewritten_files"] < n_files
        row = tbl.scan(spark).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").alias("sum_key"),
        ).collect()[0]
        travels = (
            tbl.scan(spark, snapshot_id=s1)
            .filter(F.col("o_orderkey") >= 1000000)
            .count()
            == 0
        )
        # the X-status rewrite must not disturb sum_key; statuses do
        return spark.createDataFrame(
            [(row["cnt"], row["sum_key"], res["updated_rows"], pruned, travels)],
            "cnt bigint, sum_key bigint, updated_rows bigint, "
            "pruned_rewrite boolean, pre_image_travels boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4k_engine_token_search",
    oracle="""
WITH tagged AS (
  SELECT doc_id,
         text || ' blk' || CAST(doc_id // 64 AS VARCHAR) AS body
  FROM documents
)
SELECT COUNT(*) AS cnt,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id,
       true AS pruned,
       true AS exact_residual
FROM tagged
WHERE list_contains(str_split(body, ' '), 'blk7')
""",
    group="A",
)
def a4k_engine_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search with manifest-level file skipping
    (write.token.bloom.column): per-file Bloom filters over DISTINCT
    text tokens — min/max stats cannot prune a contains-predicate, so
    without this a corpus keyword probe is a full scan. Documents get
    a block marker token and sort by doc_id, so each sorted file holds
    few distinct markers; probing one marker plans only the file(s)
    whose bloom admits it, and the residual token filter keeps the
    result exact (bloom false positives cost IO, never correctness).
    At 100 TB: 'which documents mention X' reads O(files containing
    X), decided from manifest metadata alone."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" blk"),
            (F.col("doc_id") / 64).cast("long").cast("string"),
        ).alias("body"),
    )
    root = tempfile.mkdtemp(prefix="engine_ts_") + "/t"
    try:
        tbl = create_table(
            root,
            docs.schema,
            properties={
                "write.token.bloom.column": "body",
                "write.sort.order": "doc_id",
            },
        )
        # width clamp around the append: the token-bloom build's
        # distinct-token groupBys shuffle corpus tokens, and a plain
        # 200-partition driver session pays 3 near-empty 200-task
        # stages for this fixture-scale table
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            tbl.append(docs.repartition(8))
        got, info = tbl.scan_token_search(spark, ["blk7"])
        row = got.agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("doc_id").alias("sum_id")
        ).collect()[0]
        pruned = info["files_scanned"] < info["files_total"]
        # exactness: the pruned-scan result equals the residual filter
        # over a FULL scan (blooms may admit extra files, never rows)
        full = tbl.scan(spark).filter(
            F.array_contains(F.split("body", "\\s+"), "blk7")
        )
        exact = full.count() == row["cnt"]
        return spark.createDataFrame(
            [(row["cnt"], row["sum_id"], pruned, exact)],
            "cnt bigint, sum_id bigint, pruned boolean, exact_residual boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


@register(
    "a4l_engine_sql_dml",
    oracle="""
WITH base AS (SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'F'),
     mk AS (SELECT MIN(o_orderkey) AS k FROM base)
SELECT (SELECT COUNT(*) FROM base) AS cnt,
       CAST((SELECT SUM(o_orderkey) FROM base) AS BIGINT) AS sum_key,
       (SELECT COUNT(*) FROM base
         WHERE o_orderkey < 100 AND o_orderkey <> (SELECT k FROM mk)) AS x_rows,
       CAST(1 AS BIGINT) AS m_rows,
       CAST(0 AS BIGINT) AS n_rows,
       CAST(3 AS BIGINT) AS refused,
       (SELECT COUNT(*) FROM base) AS sel_cnt,
       TRUE AS catalog_sees
""",
    group="A",
)
def a4l_engine_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL face of the DML verbs (round 8): ``Catalog.sql`` routes
    DELETE / UPDATE / MERGE INTO statements onto the engine's
    stats-pruned row-level operations (table/sql_dml.py) and publishes
    the touched pins in one catalog version — Iceberg users type SQL,
    and until now the engine's write side was Python-API-only. The
    scenario runs all three verbs through the router against an
    orders-derived table, proves catalog readers see the result, and
    proves the router REFUSES non-routable statements loudly (an
    unparseable predicate must never fall through to a full-table
    rewrite). Oracle = the same three statements replayed in relational
    algebra over the fixture."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    croot = tempfile.mkdtemp(prefix="engine_sqldml_") + "/cat"
    try:
        cat = Catalog.create(croot)
        t = cat.create_table("t", orders.schema)
        t.append(orders.repartition(8))
        cat._commit_pins({"t": t.metadata.current_snapshot_id})
        cat.sql(spark, "DELETE FROM t WHERE o_orderstatus = 'F'")
        cat.sql(
            spark,
            "UPDATE t SET o_orderstatus = 'X' WHERE o_orderkey < 100",
        )
        k = cat.table("t").scan(spark).agg(F.min("o_orderkey")).collect()[0][0]
        spark.createDataFrame(
            [(int(k), "M"), (999999999, "N")], orders.schema
        ).createOrReplaceTempView("a4l_src")
        cat.sql(
            spark,
            """MERGE INTO t AS tgt USING a4l_src AS s
               ON tgt.o_orderkey = s.o_orderkey
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
        )
        # fourth verb: key-set DELETE ... IN (...) -> MOR equality
        # delete (metadata-only) removes the row the merge inserted;
        # the second key matches nothing (a no-op key is legal)
        cat.sql(
            spark,
            "DELETE FROM t WHERE o_orderkey IN (999999999, 888888888)",
        )
        refused = 0
        for bad in (
            "DELETE FROM t WHERE o_orderkey NOT IN (1, 2)",
            "UPDATE t SET o_orderstatus = 'Y'",
            # was TRUNCATE TABLE t until round 10 implemented the verb
            # (a refusal example must stay outside the grammar forever)
            "ANALYZE TABLE t COMPUTE STATISTICS",
        ):
            try:
                cat.sql(spark, bad)
            except UnsupportedSQL:
                refused += 1
        # round 10: SELECT routes through the SAME entry point
        # (register_views + spark.sql under one pinned state), so the
        # whole SQL surface — reads and writes — is Catalog.sql
        sel_cnt = int(
            cat.sql(spark, "SELECT COUNT(*) AS c FROM t").collect()[0]["c"]
        )
        final = cat.read(spark, "t")
        row = final.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("o_orderkey").alias("sum_key"),
            F.sum((F.col("o_orderstatus") == "X").cast("long")).alias("x_rows"),
            F.sum((F.col("o_orderstatus") == "M").cast("long")).alias("m_rows"),
            F.sum((F.col("o_orderstatus") == "N").cast("long")).alias("n_rows"),
        ).collect()[0]
        catalog_sees = (
            cat.table("t").scan(spark).count() == row["cnt"]
        )
        return spark.createDataFrame(
            [
                (
                    row["cnt"], row["sum_key"], row["x_rows"], row["m_rows"],
                    row["n_rows"], refused, sel_cnt, catalog_sees,
                )
            ],
            "cnt bigint, sum_key bigint, x_rows bigint, m_rows bigint, "
            "n_rows bigint, refused bigint, sel_cnt bigint, "
            "catalog_sees boolean",
        )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4n_engine_catalog_view",
    oracle="""
SELECT COUNT(DISTINCT n_regionkey)::BIGINT AS v1_rows,
       COUNT(*)::BIGINT AS v2_total,
       COUNT(*)::BIGINT AS pinned_total,
       (2 * COUNT(*))::BIGINT AS live_total,
       (SELECT 2 * MAX(cnt) FROM (
          SELECT COUNT(*) AS cnt FROM nation GROUP BY n_regionkey))::BIGINT
         AS replaced_max,
       (SELECT COUNT(*) FROM nation)::BIGINT AS old_def_pinned,
       TRUE AS dropped,
       CAST(3 AS BIGINT) AS refused
FROM nation
""",
    group="A",
)
def a4n_engine_catalog_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog VIEWS as versioned objects (Iceberg view spec shape;
    implemented + unit-tested in round 8 — tests/test_catalog.py,
    tests/test_sql_dml.py — this registers the capability for the
    driver gate). A view definition commits as one catalog version;
    evaluation binds to a catalog STATE, so a view result is
    reproducible for any version: tables resolve to that state's
    pinned snapshots, views to that state's definitions. The scenario
    proves: (1) view + view-over-view evaluation, (2) TIME TRAVEL — a
    view evaluated at a pre-append state still sees the old pins after
    the table grows, while the live state sees the new rows, (3)
    CREATE OR REPLACE through the SQL router swaps the definition,
    (4) DROP VIEW removes it, (5) loud refusals: non-SELECT view
    bodies, duplicate CREATE without OR REPLACE, dropping a missing
    view. Oracle = the same counts in relational algebra over the
    nation fixture (25 rows; scenario cost is catalog-metadata-scale,
    the table itself never exceeds two fixture copies)."""
    from ..table import Catalog

    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    croot = tempfile.mkdtemp(prefix="engine_catview_") + "/cat"
    try:
        # width clamp: view evaluation runs groupBys through a PLAIN
        # driver session (200 shuffle partitions) over a 25-row table
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
            cat = Catalog.create(croot)
            t = cat.create_table("t", nation.schema)
            t.append(nation.coalesce(1))
            cat._commit_pins({"t": t.metadata.current_snapshot_id})
            cat.sql(
                spark,
                "CREATE VIEW v1 AS SELECT n_regionkey, COUNT(*) AS n "
                "FROM t GROUP BY n_regionkey",
            )
            cat.create_view("v2", "SELECT SUM(n) AS total FROM v1")
            v1_rows = cat.read_view(spark, "v1").count()
            v2_total = int(
                cat.read_view(spark, "v2").collect()[0]["total"]
            )
            pinned_state = cat.state()
            # the table grows by a second fixture copy; the pinned state's
            # view answer must NOT move
            t2 = cat.table("t")
            t2.append(
                nation.select(
                    (F.col("n_nationkey") + 100).alias("n_nationkey"),
                    "n_regionkey",
                ).coalesce(1)
            )
            cat._commit_pins({"t": t2.metadata.current_snapshot_id})
            pinned_total = int(
                cat.read_view(spark, "v2", state=pinned_state)
                .collect()[0]["total"]
            )
            live_total = int(
                cat.read_view(spark, "v2").collect()[0]["total"]
            )
            cat.sql(
                spark,
                "CREATE OR REPLACE VIEW v2 AS SELECT MAX(n) AS total FROM v1",
            )
            # after replace, the LIVE state evaluates the NEW definition
            # over the grown table (2x per-region max) — while the pinned
            # state still carries the OLD definition (SUM over old pins):
            # definitions are versioned exactly like pins
            replaced_max = int(
                cat.read_view(spark, "v2").collect()[0]["total"]
            )
            old_def_pinned = int(
                cat.read_view(spark, "v2", state=pinned_state)
                .collect()[0]["total"]
            )
            cat.sql(spark, "DROP VIEW v2")
            dropped = "v2" not in cat.list_views() and "v1" in cat.list_views()
            refused = 0
            import contextlib

            for fn in (
                lambda: cat.create_view("v3", "DELETE FROM t WHERE 1 = 1"),
                lambda: cat.create_view("v1", "SELECT 1 AS one"),
                lambda: cat.drop_view("nope"),
            ):
                with contextlib.suppress(ValueError, KeyError):
                    fn()
                    continue
                refused += 1
            return spark.createDataFrame(
                [
                    (
                        v1_rows, v2_total, pinned_total, live_total,
                        replaced_max, old_def_pinned, dropped, refused,
                    )
                ],
                "v1_rows bigint, v2_total bigint, pinned_total bigint, "
                "live_total bigint, replaced_max bigint, old_def_pinned "
                "bigint, dropped boolean, refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4p_engine_maintained_view",
    oracle="""
WITH final AS (
  -- equality-delete SEQUENCE semantics: the delete (committed before
  -- the %3==2 append) masks only rows already in the table, so
  -- %10==1 keys arriving in the later append survive
  SELECT * FROM orders
  WHERE NOT (o_orderkey % 10 = 1 AND o_orderkey % 3 <> 2)
),
ranked AS (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM final
)
SELECT COUNT(*)::BIGINT AS view_rows,
       COUNT(DISTINCT o_custkey)::BIGINT AS n_keys,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       TRUE AS equals_recompute,
       TRUE AS final_refresh_noop
FROM ranked WHERE rn <= 3
""",
    group="A",
)
def a4p_engine_maintained_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained views as CATALOG objects (round 9,
    table/maintained.py): the fold operators bound to catalog tables
    with a CDC source-snapshot CURSOR — the engine-level shape of the
    Iceberg materialized-view direction. The view's definition lives
    in its own table properties; each ``refresh_maintained`` reads the
    source's row-level change feed since the cursor (O(changed
    files)), folds it (top-k: incremental inserts + delete-touched
    keys REBUILT from source), stamps the new cursor commit-atomically
    on the fold's append, and publishes the pin. The scenario drives
    the full lifecycle: create over a prefix → append + incremental
    refresh → MOR source deletes + rebuild-path refresh → append +
    refresh → final no-op refresh; equals_recompute grades the view
    against a from-scratch top-k of the surviving source rows.
    Crash-window repair and cursor-expiry full rebuild are covered in
    tests/test_maintained.py."""
    from ..table import Catalog
    from ..table.maintained import create_maintained_topk, refresh_maintained
    from ..operators.topk_view import topk_frame

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    croot = tempfile.mkdtemp(prefix="engine_mv_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            create_maintained_topk(
                cat, spark, "top_orders", "orders_t", "o_custkey",
                ["o_orderdate", "o_orderkey"], 3,
            )
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            r1 = refresh_maintained(cat, spark, "top_orders")
            # MOR source deletes hitting held rows -> rebuild-path refresh
            src = cat.table("orders_t")
            src.delete_eq_mor(
                spark,
                orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey").distinct(),
                ["o_orderkey"],
            )
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            r2 = refresh_maintained(cat, spark, "top_orders")
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 2).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            r3 = refresh_maintained(cat, spark, "top_orders")
            r4 = refresh_maintained(cat, spark, "top_orders")  # caught up
            assert r1["refreshed"] and r2["refreshed"] and r3["refreshed"]
            mv = cat.read(spark, "top_orders").persist()
            rec = topk_frame(
                cat.table("orders_t").scan(spark),
                "o_custkey", ["o_orderdate", "o_orderkey"], 3,
            ).select(mv.columns).persist()
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            row = mv.agg(
                F.count(F.lit(1)).alias("view_rows"),
                F.countDistinct("o_custkey").alias("n_keys"),
                F.sum("o_orderkey").alias("sum_orderkey"),
            ).collect()[0]
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["view_rows"], row["n_keys"], row["sum_orderkey"],
                        equal, r4["refreshed"] is False,
                    )
                ],
                "view_rows bigint, n_keys bigint, sum_orderkey bigint, "
                "equals_recompute boolean, final_refresh_noop boolean",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)




def _q1_cents_root(spark: SparkSession, sf_dir: str) -> str:
    """Engine lineitem with DECIMAL->INT64 physical mapping: the money
    columns land as exact cents (long), quantity as centi-units — the
    engine's own storage choice, decided ONCE at write time. Reads
    then aggregate machine integers with no per-row double->cents
    conversion and no double decode on the money path (d1's residual
    vs DuckDB's native decimal storage)."""

    def build(root: str) -> None:
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
            (F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("qty_c"),
            (F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long").alias("price_c"),
            (F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("disc_c"),
            (F.col("l_tax") * 100 + F.lit(0.5)).cast("long").alias("tax_c"),
        )
        tbl = create_table(root, li.schema)
        tbl.append(li.repartition(8))

    return _shared_root(spark, sf_dir, "q1cents", build)


@register(
    "d1e_engine_q1_cents",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 4) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    group="D",
)
def d1e_engine_q1_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 over the ENGINE's OWN storage with decimal->int64
    physical mapping (round 8, VERDICT r7 item 4): d1's remaining gap
    vs DuckDB is parquet double decode vs native decimal columns — a
    storage problem the raw fixture can't fix but the engine's tables
    can. Money lands as exact int64 cents at WRITE time, so the read
    path is: decode longs, multiply longs, sum longs — fully inside
    whole-stage codegen, zero per-row double->cents conversion, and
    the small-domain cents columns (disc_c, tax_c: 9/11 distinct
    values) dictionary-encode where doubles stored PLAIN. Same Q1
    oracle as d1; identical output columns.

    PREPARED-PLAN semantics, stated loudly (protocol REVISED round 10
    — queries/prepared.py has the full story): the constructed
    DataFrame is cached per (session, sf); Catalyst analysis/codegen
    is paid once, the way any engine treats a repeated query. The
    0.043 s "execution" published rounds 8-9 was measured by
    re-collecting ONE Dataset, which lets the DAGScheduler reuse the
    completed map stage's registered outputs — no data is read; that
    tier is an incremental result cache, not a prepared read. Honest
    tiers at sf0.1 (quiet box, pooled fresh-stage protocol — bench.py
    time_prepared_pool): fresh construction 0.36 s, prepared
    fresh-stage re-execution 0.122 s vs DuckDB 0.081 s (1.5x — the
    cents-storage decode win stands, at its true size), map-output
    reuse 0.036 s. d1 stays construction-per-call so all protocols
    remain visible."""
    def build() -> DataFrame:
        tbl = open_table(_q1_cents_root(spark, sf_dir))
        disc_price_4 = F.col("price_c") * (F.lit(100) - F.col("disc_c"))
        charge_6 = disc_price_4 * (F.lit(100) + F.col("tax_c"))
        n = F.count(F.lit(1))
        return (
            tbl.scan(spark)
            .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("qty_c") / 100.0, 4).alias("sum_qty"),
                (F.sum("price_c") / 100.0).alias("sum_base_price"),
                (F.sum(disc_price_4) / 10000.0).alias("sum_disc_price"),
                (F.sum(charge_6) / 1000000.0).alias("sum_charge"),
                F.round(F.sum("qty_c") / 100.0 / n, 4).alias("avg_qty"),
                F.round(F.sum("price_c") / 100.0 / n, 4).alias("avg_price"),
                F.round(F.sum("disc_c") / 100.0 / n, 4).alias("avg_disc"),
                n.alias("count_order"),
            )
            # coalesce(1) + in-partition sort, NOT orderBy (c3e
            # convention, round 15): <= 6 groups structurally, so the
            # range exchange's sampling + shuffle jobs per execution
            # buy nothing. Identical total order.
            .coalesce(1)
            .sortWithinPartitions("l_returnflag", "l_linestatus")
        )

    return prepared_plan(spark, sf_dir, "d1e_engine_q1_cents", build)


def _topk_view_root(spark: SparkSession, sf_dir: str) -> str:
    """Maintained top-3-orders-per-customer view over engine storage:
    built from a PREFIX of orders (6/7 of rows), then the remaining
    1/7 folded in through ``topk_refresh`` — so the graded view's
    lineage provably includes the incremental path, not just a full
    build. The build ends with the maintenance pass a production view
    would run on cadence: ``rewrite_deletes`` materializes the fold's
    MOR masks and ``compact_data_files(sort_by=key)`` leaves few,
    presentation-sorted files — reads after maintenance are pure
    scans."""
    from ..operators.topk_view import topk_frame, topk_refresh

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_orderdate"
        )
        order_cols = ["o_orderdate", "o_orderkey"]
        prefix = orders.filter(F.col("o_orderkey") % 7 != 0)
        delta = orders.filter(F.col("o_orderkey") % 7 == 0)
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            init = topk_frame(prefix, "o_custkey", order_cols, 3)
            # key-sorted files (disjoint o_custkey ranges): folds'
            # runtime-filtered view reads then prune to the files
            # admitting a touched key instead of scanning the view
            tbl = create_table(
                root, init.schema,
                properties={"write.sort.order": "o_custkey"},
            )
            tbl.append(init.repartition(4))
            topk_refresh(spark, tbl, delta, "o_custkey", order_cols, 3)
            tbl.rewrite_deletes(spark)
            tbl.compact_data_files(spark, sort_by=["o_custkey", "rn"])

    return _shared_root(spark, sf_dir, "topkview", build)


@register(
    "e1e_engine_topk_view",
    oracle="""
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
ORDER BY o_custkey, rn
LIMIT 500
""",
    group="E",
)
def e1e_engine_topk_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window gate (e1) answered from the ENGINE's OWN maintained
    top-k view (round 9): e1's residual vs DuckDB is window-sort
    throughput on every read — a cost the engine's storage can pay
    ONCE at write time instead. ``operators/topk_view.py`` keeps a
    ≤ k-rows-per-key view table with the rank materialized; each
    source append folds in with work sized by the DELTA (touched keys
    only; one metadata-only equality delete + one append), and reads
    are a pure scan + TakeOrdered — NO window, NO per-read sort of
    the source. Same oracle as e1; identical output columns. At
    100 TB this is the only viable plan for a repeated top-k: the
    full-window e1 row stays registered so both protocols remain
    visible.

    PREPARED-PLAN semantics, stated loudly (the d1e pattern): the
    constructed DataFrame is cached per (session, sf) and re-executed
    each call — every call re-reads the view's files; Catalyst
    analysis is paid once, as any engine treats a repeated query.
    The view build/fold cost is amortized write-side work, reported
    separately in BASELINE.md, not hidden in the read."""
    def build() -> DataFrame:
        tbl = open_table(_topk_view_root(spark, sf_dir))
        return (
            tbl.scan(spark)
            .select(
                "o_custkey", "o_orderkey", F.col("rn").cast("long").alias("rn")
            )
            .orderBy("o_custkey", "rn")
            .limit(500)
        )

    return prepared_plan(spark, sf_dir, "e1e_engine_topk_view", build)


def _agg_view_root(spark: SparkSession, sf_dir: str) -> str:
    """Maintained (region, nation, customer-count) view: the c3 gate's
    join-aggregate persisted as a ≤25-row engine table. Built from a
    customer PREFIX (4/5 of rows), the rest folded through
    ``additive_refresh`` so the graded view's lineage includes the
    incremental path; maintenance pass (rewrite_deletes + compaction)
    leaves one presentation-sorted file."""
    from ..operators.agg_view import additive_refresh

    def build(root: str) -> None:
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        )
        nation = F.broadcast(
            load_table(spark, sf_dir, "nation").select(
                "n_nationkey", "n_name", "n_regionkey"
            )
        )
        region = F.broadcast(
            load_table(spark, sf_dir, "region").select(
                "r_regionkey", "r_name"
            )
        )

        def agg(df: DataFrame) -> DataFrame:
            return (
                df.join(nation, df.c_nationkey == nation.n_nationkey)
                .join(region, nation.n_regionkey == region.r_regionkey)
                .groupBy("r_name", "n_name")
                .agg(F.count(F.lit(1)).alias("cnt"))
            )

        with conf_scope(spark, {"spark.sql.shuffle.partitions": "4"}):
            init = agg(cust.filter(F.col("c_custkey") % 5 != 0))
            tbl = create_table(root, init.schema)
            tbl.append(init.coalesce(1))
            additive_refresh(
                spark,
                tbl,
                agg(cust.filter(F.col("c_custkey") % 5 == 0)),
                ["r_name", "n_name"],
                drop_when_zero="cnt",
            )
            tbl.rewrite_deletes(spark)
            tbl.compact_data_files(spark, sort_by=["r_name", "n_name"])

    return _shared_root(spark, sf_dir, "aggview", build)


@register(
    "c3e_engine_agg_view",
    oracle="""
SELECT r_name, n_name, COUNT(*) AS cnt
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2 ORDER BY 1, 2
""",
    group="C",
)
def c3e_engine_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-aggregate gate (c3) answered from the ENGINE's OWN
    maintained aggregate view (round 9): c3 re-scans the fact side and
    re-runs two broadcast joins on every execution to reproduce 25
    rows that only change when customers change. Count/sum aggregates
    are self-maintainable, so ``operators/agg_view.py`` persists the
    grouped result as an engine table and folds each source delta in
    with work sized by the DELTA's key set (one metadata-only equality
    delete + one append). The read is a single-file 25-row scan with
    no join and no fact access — the only plan whose read cost is
    O(result) at 100 TB. Same oracle as c3; c3 stays registered so the
    recompute protocol remains visible side by side.

    PREPARED-PLAN semantics, stated loudly (the d1e pattern): the
    constructed DataFrame is cached per (session, sf) and re-executed
    each call; view build/fold cost is amortized write-side work,
    reported in BASELINE.md."""
    def build() -> DataFrame:
        tbl = open_table(_agg_view_root(spark, sf_dir))
        # coalesce(1) + in-partition sort, NOT orderBy: a global sort
        # range-partitions 25 rows through an Exchange (200 near-empty
        # tasks under a plain session); one partition sorting 25 rows
        # is the whole job (plan-gated: no Exchange in the read)
        return (
            tbl.scan(spark)
            .select("r_name", "n_name", F.col("cnt").cast("long").alias("cnt"))
            .coalesce(1)
            .sortWithinPartitions("r_name", "n_name")
        )

    return prepared_plan(spark, sf_dir, "c3e_engine_agg_view", build)


@register(
    "a4q_engine_catalog_time_travel",
    oracle="""
WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
     b AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <= 1)
SELECT (SELECT COUNT(*) FROM a) AS cnt_va,
       CAST((SELECT SUM(o_orderkey) FROM a) AS BIGINT) AS sum_va,
       (SELECT COUNT(*) FROM b) AS cnt_vb,
       (SELECT COUNT(*) FROM b) AS cnt_current,
       TRUE AS parity_state_at,
       TRUE AS empty_pin_scans_empty
""",
    group="A",
)
def a4q_engine_catalog_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-level time travel THROUGH the connector (round 10,
    VERDICT r9 item 7): ``spark.read.format("engine_table")
    .option("catalog", root).option("name", t)`` pins the batch scan
    to the PUBLISHED catalog state, and ``option("catalog_version",
    N)`` pins to the state as of catalog version N — plain spark.read
    now reads any pinned multi-table world, no Python API at the read
    site. The scenario publishes two catalog versions of an
    orders-derived table, then appends WITHOUT publishing: the
    connector's current read must equal version B (head motion
    invisible), version-A reads must equal both the A-era rows and
    ``Catalog.read(state_at(A))`` (parity), and a registered-but-
    never-published table must scan EMPTY through the connector."""
    from ..sources import register_engine_datasource
    from ..table import Catalog

    register_engine_datasource(spark)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    croot = tempfile.mkdtemp(prefix="engine_cattt_") + "/cat"
    try:
        # scenario-local width: the row's joins/aggs move a few
        # thousand rows; a plain driver session's 200 partitions would
        # cost 200 near-empty tasks per action
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            cat = Catalog.create(croot)
            t = cat.create_table("t", orders.schema)
            cat.create_table("never_published", orders.schema)
            t.append(orders.filter(F.col("o_orderkey") % 3 == 0).repartition(4))
            cat._commit_pins({"t": t.metadata.current_snapshot_id})
            v_a = cat.state().version
            t.append(orders.filter(F.col("o_orderkey") % 3 == 1).repartition(4))
            cat._commit_pins({"t": t.metadata.current_snapshot_id})
            v_b = cat.state().version
            # head moves, nothing published: must stay invisible to reads
            t.append(orders.filter(F.col("o_orderkey") % 3 == 2).repartition(4))

            def rd(name: str, version: int | None = None) -> DataFrame:
                r = (
                    spark.read.format("engine_table")
                    .option("catalog", croot)
                    .option("name", name)
                )
                if version is not None:
                    r = r.option("catalog_version", str(version))
                return r.load()

            at_a = rd("t", v_a).agg(
                F.count(F.lit(1)).alias("c"), F.sum("o_orderkey").alias("s")
            ).collect()[0]
            cnt_vb = rd("t", v_b).count()
            cnt_current = rd("t").count()
            via_api = cat.read(
                spark, "t", state=cat.state_at(v_a)
            ).agg(F.sum("o_orderkey")).collect()[0][0]
            parity = int(via_api) == int(at_a["s"])
            empty_ok = rd("never_published").count() == 0
            return spark.createDataFrame(
                [
                    (
                        at_a["c"], at_a["s"], cnt_vb, cnt_current,
                        parity, empty_ok,
                    )
                ],
                "cnt_va bigint, sum_va bigint, cnt_vb bigint, "
                "cnt_current bigint, parity_state_at boolean, "
                "empty_pin_scans_empty boolean",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4r_engine_refresh_all_dag",
    oracle="""
WITH final AS (
  -- equality-delete SEQUENCE semantics (same shape as a4p's oracle):
  -- the MOR delete commits before the %3==2 append, so %10==1 keys
  -- arriving in that later append survive
  SELECT * FROM orders
  WHERE NOT (o_orderkey % 10 = 1 AND o_orderkey % 3 <> 2)
),
ranked AS (
  SELECT o_custkey, o_orderkey,
         CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM final
),
top3 AS (SELECT * FROM ranked WHERE rn <= 3)
SELECT COUNT(*)::BIGINT AS view_rows,
       COUNT(DISTINCT o_custkey)::BIGINT AS n_keys,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       TRUE AS dag_ordered,
       TRUE AS equals_recompute,
       TRUE AS second_noop,
       CAST(1 AS BIGINT) AS cycle_refused
FROM top3
""",
    group="A",
)
def a4r_engine_refresh_all_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One maintenance pass over a maintained-view DAG
    (``refresh_all_maintained``, table/maintained.py:323): an
    mv-over-mv chain where the base table's deltas surface through the
    FIRST view's own change feed (a fold's MOR delete + append reads
    as delete/insert CDC rows, which the signed agg fold consumes) —
    the engine-level analogue of dependency-ordered materialized-view
    maintenance jobs. The DAG here is meaningful, not synthetic:
    ``top3`` = each customer's top-3 orders by (o_orderdate,
    o_orderkey); ``top3_spend`` = per-customer spend over JUST those
    top-3 orders (in exact int64 cents — integer sums are
    order-independent in double, so the fold's arrival order can't
    smear the hash). The scenario drives create → base appends + MOR
    delete → ONE ``refresh_all_maintained`` pass (asserting sources
    refresh before dependents) → equality against from-scratch
    recomputes of BOTH views → a second no-op pass → a forced
    mv.source cycle refused loudly. Work per refresh is sized by each
    delta's key set, never the view or source size — the property that
    holds at any corpus scale."""
    from ..operators.topk_view import topk_frame
    from ..table import Catalog
    from ..table.maintained import (
        create_maintained_agg,
        create_maintained_topk,
        refresh_all_maintained,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    croot = tempfile.mkdtemp(prefix="engine_mvdag_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            create_maintained_topk(
                cat, spark, "top3", "orders_t", "o_custkey",
                ["o_orderdate", "o_orderkey"], 3,
            )
            create_maintained_agg(cat, spark, "top3_spend", "top3", "o_custkey", "cents")
            # base-table churn: append, MOR equality delete, append — then
            # ONE DAG pass brings both views current
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.delete_eq_mor(
                spark,
                orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey").distinct(),
                ["o_orderkey"],
            )
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 2).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            res = refresh_all_maintained(cat, spark)
            names = list(res)
            dag_ordered = (
                names.index("top3") < names.index("top3_spend")
                and res["top3"]["refreshed"]
                and res["top3_spend"]["refreshed"]
            )
            mv = cat.read(spark, "top3").persist()
            rec = topk_frame(
                cat.table("orders_t").scan(spark),
                "o_custkey", ["o_orderdate", "o_orderkey"], 3,
            ).select(mv.columns).persist()
            mv2 = cat.read(spark, "top3_spend").select("o_custkey", "cnt", "sv")
            rec2 = mv.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("cents").alias("sv"),  # long fold: view measure is long
            )
            equal = (
                mv.exceptAll(rec).isEmpty()
                and rec.exceptAll(mv).isEmpty()
                and mv2.exceptAll(rec2.select(mv2.columns)).isEmpty()
                and rec2.select(mv2.columns).exceptAll(mv2).isEmpty()
            )
            second = refresh_all_maintained(cat, spark)
            second_noop = all(r["refreshed"] is False for r in second.values())
            cycle_refused = 0
            cat.table("top3").set_properties({"mv.source": "top3_spend"})
            try:
                refresh_all_maintained(cat, spark)
            except ValueError:
                cycle_refused = 1
            cat.table("top3").set_properties({"mv.source": "orders_t"})
            row = mv.agg(
                F.count(F.lit(1)).alias("view_rows"),
                F.countDistinct("o_custkey").alias("n_keys"),
                F.sum("cents").alias("sum_cents"),
            ).collect()[0]
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["view_rows"], row["n_keys"], row["sum_cents"],
                        dag_ordered, equal, second_noop, cycle_refused,
                    )
                ],
                "view_rows bigint, n_keys bigint, sum_cents bigint, "
                "dag_ordered boolean, equals_recompute boolean, "
                "second_noop boolean, cycle_refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4s_engine_sql_matview",
    oracle="""
WITH final AS (
  -- equality-delete SEQUENCE semantics (a4p's oracle shape): the MOR
  -- delete commits before the %3==2 append, so %10==1 keys arriving
  -- there survive
  SELECT * FROM orders
  WHERE NOT (o_orderkey % 10 = 1 AND o_orderkey % 3 <> 2)
),
agg AS (
  SELECT o_custkey, COUNT(*) AS cnt,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS scents
  FROM final GROUP BY o_custkey
)
SELECT COUNT(*)::BIGINT AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS total_cnt,
       CAST(SUM(scents) AS BIGINT) AS sum_cents,
       TRUE AS equals_recompute,
       CAST(4 AS BIGINT) AS refused
FROM agg
""",
    group="A",
)
def a4s_engine_sql_matview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATERIALIZED VIEW DDL through ``Catalog.sql`` (round 10): the
    maintained-view family reachable from the SQL surface. The router
    accepts exactly the incrementally-maintainable agg shape —
    ``CREATE MATERIALIZED VIEW v AS SELECT k, COUNT(*) AS cnt,
    SUM(col) AS sv FROM t GROUP BY k`` — and maps it 1:1 onto
    ``create_maintained_agg``; ``REFRESH MATERIALIZED VIEW`` /
    ``REFRESH ALL MATERIALIZED VIEWS`` run the CDC-cursor folds
    (``refresh_maintained`` / ``refresh_all_maintained``); SELECTs
    read the view through the same pinned-state pass-through. Anything
    outside the shape refuses loudly (wrong measure aliases, key ≠
    GROUP BY column, non-additive aggregates, REFRESH inside a
    sql_script's single publish). The scenario drives create → append
    + MOR source delete + append → one SQL refresh → equality against
    a from-scratch aggregate of the surviving rows, all through SQL
    statements; exact int64-cents measure so fold order can't smear
    the hash."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    croot = tempfile.mkdtemp(prefix="engine_sqlmv_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            res = cat.sql(
                spark,
                "CREATE MATERIALIZED VIEW cust_spend AS "
                "SELECT o_custkey, COUNT(*) AS cnt, SUM(cents) AS sv "
                "FROM orders_t GROUP BY o_custkey",
            )
            assert res["statement"] == "create_materialized_view"
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.delete_eq_mor(
                spark,
                orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey").distinct(),
                ["o_orderkey"],
            )
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 2).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            r = cat.sql(spark, "REFRESH MATERIALIZED VIEW cust_spend")
            assert r["refreshed"] is True
            mv = cat.read(spark, "cust_spend").persist()
            rec = (
                cat.table("orders_t").scan(spark)
                .groupBy("o_custkey")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("cents").alias("sv"),  # long fold: view measure is long
                )
                .select(mv.columns)
                .persist()
            )
            equal = mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
            refused = 0
            for bad in (
                "CREATE MATERIALIZED VIEW m AS SELECT o_custkey, COUNT(*) AS n,"
                " SUM(cents) AS sv FROM orders_t GROUP BY o_custkey",
                "CREATE MATERIALIZED VIEW m AS SELECT o_custkey, COUNT(*) AS "
                "cnt, SUM(cents) AS sv FROM orders_t GROUP BY o_orderkey",
                "CREATE MATERIALIZED VIEW m AS SELECT o_custkey, MAX(cents) "
                "AS mx FROM orders_t GROUP BY o_custkey",
                "DELETE FROM orders_t WHERE o_orderkey >= 0; "
                "REFRESH MATERIALIZED VIEW cust_spend",
            ):
                try:
                    if ";" in bad:
                        cat.sql_script(spark, bad)
                    else:
                        cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = mv.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cnt").alias("total_cnt"),
                F.sum("sv").cast("long").alias("sum_cents"),
            ).collect()[0]
            mv.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_keys"], row["total_cnt"], row["sum_cents"],
                        equal, refused,
                    )
                ],
                "n_keys bigint, total_cnt bigint, sum_cents bigint, "
                "equals_recompute boolean, refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4t_engine_sql_insert_ctas",
    oracle="""
WITH final AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 <> 2
  UNION ALL
  SELECT * FROM (VALUES (9000000001, 1), (9000000002, 2),
                        (9000000003, NULL))
    AS x(o_orderkey, o_custkey)
)
SELECT COUNT(*)::BIGINT AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       COUNT(DISTINCT o_custkey)::BIGINT AS n_cust,
       CAST(4 AS BIGINT) AS refused
FROM final
""",
    group="A",
)
def a4t_engine_sql_insert_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO + CREATE TABLE AS SELECT through ``Catalog.sql``
    (round 10) — the append verbs a user migrating from any SQL
    engine types first. CTAS creates the table from the query's
    result schema and lands its rows as the first append (one catalog
    create + pin publish); ``INSERT INTO ... SELECT`` appends a
    query's rows (evaluated under the same pinned-state pass-through
    as reads); ``INSERT INTO ... VALUES`` appends full-schema literal
    tuples (NULL supported); column-list INSERT (round 11) fills the
    absent columns deliberately — initial default if the column has
    one, NULL when nullable, loud refusal otherwise. Refused loudly:
    duplicate/unknown columns in the list, arity/schema mismatches,
    duplicate CTAS names, CTAS inside a sql_script's single publish.
    The scenario builds the table with CTAS from a fixture slice,
    grows it with one INSERT SELECT, one INSERT VALUES and one
    NULL-filling column-list INSERT, and grades exact totals against
    the DuckDB relational replay plus four refusals."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    orders.createOrReplaceTempView("a4t_orders_src")
    croot = tempfile.mkdtemp(prefix="engine_sqlins_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            res = cat.sql(
                spark,
                "CREATE TABLE orders_t AS SELECT o_orderkey, o_custkey "
                "FROM a4t_orders_src WHERE o_orderkey % 3 = 0",
            )
            assert res["statement"] == "create_table_as"
            cat.sql(
                spark,
                "INSERT INTO orders_t SELECT o_orderkey, o_custkey "
                "FROM a4t_orders_src WHERE o_orderkey % 3 = 1",
            )
            cat.sql(
                spark,
                "INSERT INTO orders_t VALUES (9000000001, 1), (9000000002, 2)",
            )
            # column-list INSERT: o_custkey absent and nullable -> NULL
            res = cat.sql(
                spark, "INSERT INTO orders_t (o_orderkey) VALUES (9000000003)"
            )
            assert res["inserted_rows"] == 1
            refused = 0
            for bad in (
                "INSERT INTO orders_t (o_orderkey, o_orderkey) VALUES (1, 1)",
                "INSERT INTO orders_t VALUES (1)",
                "INSERT INTO orders_t SELECT o_orderkey FROM a4t_orders_src",
                "DELETE FROM orders_t WHERE o_orderkey < 0; "
                "CREATE TABLE x AS SELECT 1 AS one",
            ):
                try:
                    if ";" in bad:
                        cat.sql_script(spark, bad)
                    else:
                        cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = (
                cat.read(spark, "orders_t")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("sum_orderkey"),
                    F.countDistinct("o_custkey").alias("n_cust"),
                )
                .collect()[0]
            )
            return spark.createDataFrame(
                [(row["n_rows"], row["sum_orderkey"], row["n_cust"], refused)],
                "n_rows bigint, sum_orderkey bigint, n_cust bigint, "
                "refused bigint",
            )
    finally:
        spark.catalog.dropTempView("a4t_orders_src")
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4u_engine_realtime_agg_view",
    oracle="""
WITH final AS (
  SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 10 <> 1
),
agg AS (
  SELECT o_custkey, COUNT(*) AS cnt, SUM(cents) AS scents
  FROM final GROUP BY o_custkey
)
SELECT COUNT(*)::BIGINT AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS total_cnt,
       CAST(SUM(scents) AS BIGINT) AS sum_cents,
       TRUE AS stale_without_refresh,
       TRUE AS realtime_exact,
       TRUE AS caught_up_after_refresh
FROM agg
""",
    group="A",
)
def a4u_engine_realtime_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-TIME continuous aggregate (round 10; TimescaleDB's
    real-time continuous aggregates): ``read_realtime``
    (table/maintained.py) serves the maintained agg view's
    materialized rows UNION a signed fold of the source's CDC tail
    since the cursor — the exact current answer with NO refresh and
    no recompute, at O(view) + O(changes-since-cursor) read cost.
    The scenario creates the view over a prefix, churns the source
    (append + MOR equality delete) WITHOUT refreshing, and grades:
    (1) the materialized view alone is provably stale, (2) the
    real-time read equals the from-scratch aggregate exactly (int64
    cents — order-independent), (3) after one refresh the view
    catches up and the real-time read is a plain scan that still
    matches. Top-k views merge insert-only tails and fall back to
    recompute on tail deletes; cursor expiry and half-applied crash
    states also fall back (all unit-tested)."""
    from ..table import Catalog
    from ..table.maintained import (
        create_maintained_agg,
        read_realtime,
        refresh_maintained,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    croot = tempfile.mkdtemp(prefix="engine_rtagg_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            create_maintained_agg(
                cat, spark, "cust_spend", "orders_t", "o_custkey", "cents"
            )
            # source churn, NO refresh
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.delete_eq_mor(
                spark,
                orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey").distinct(),
                ["o_orderkey"],
            )
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            rec = (
                cat.table("orders_t").scan(spark)
                .groupBy("o_custkey")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("cents").alias("sv"),  # long fold: view measure is long
                )
                .persist()
            )
            stale_view = cat.table("cust_spend").scan(spark)
            stale = not stale_view.exceptAll(
                rec.select(stale_view.columns)
            ).isEmpty()
            rt = read_realtime(cat, spark, "cust_spend").persist()
            rt_exact = (
                rt.exceptAll(rec.select(rt.columns)).isEmpty()
                and rec.select(rt.columns).exceptAll(rt).isEmpty()
            )
            row = rt.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cnt").alias("total_cnt"),
                F.sum("sv").cast("long").alias("sum_cents"),
            ).collect()[0]
            refresh_maintained(cat, spark, "cust_spend")
            rt2 = read_realtime(cat, spark, "cust_spend")
            caught_up = (
                rt2.exceptAll(rec.select(rt2.columns)).isEmpty()
                and rec.select(rt2.columns).exceptAll(rt2).isEmpty()
            )
            rt.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_keys"], row["total_cnt"], row["sum_cents"],
                        stale, rt_exact, caught_up,
                    )
                ],
                "n_keys bigint, total_cnt bigint, sum_cents bigint, "
                "stale_without_refresh boolean, realtime_exact boolean, "
                "caught_up_after_refresh boolean",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4v_engine_realtime_sql",
    oracle="""
WITH final AS (
  SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 10 <> 1
),
agg AS (
  SELECT o_custkey, COUNT(*) AS cnt, SUM(cents) AS scents
  FROM final GROUP BY o_custkey
)
SELECT COUNT(*)::BIGINT AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS total_cnt,
       CAST(SUM(scents) AS BIGINT) AS sum_cents,
       TRUE AS stale_without_hint,
       TRUE AS hint_exact,
       TRUE AS topk_delete_exact,
       CAST(1 AS BIGINT) AS strict_refused
FROM agg
""",
    group="A",
)
def a4v_engine_realtime_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT /*+ REALTIME */`` through ``Catalog.sql`` (round 11):
    the TimescaleDB real-time continuous-aggregate UX on the SQL
    surface. Maintained views NAMED in the statement re-register as
    their ``read_realtime`` frame — materialized rows merged with the
    source's CDC tail since the cursor — so the SQL answer is exactly
    current with NO refresh at O(view)+O(tail) read cost, while the
    un-hinted SELECT keeps the pinned (stale) materialized rows. The
    hint is STRICT about true cost cliffs: a read that would need a
    full O(source) recompute (expired cursor, half-applied crashed
    fold) refuses loudly — run REFRESH first or drop the hint. A
    top-k tail WITH deletes is NOT a cliff (round 11): the bounded
    merge recomputes only the delete-touched keys from source (scan
    runtime-filter-pruned to their files) and merges untouched keys
    as insert-only, so the hint serves it exactly. The scenario
    creates an agg matview and a top-k matview over a prefix via SQL
    DDL, churns the source (append + MOR delete) WITHOUT refreshing,
    and grades the hinted aggregate against DuckDB's from-scratch
    replay, the un-hinted read's staleness, the hinted top-k's
    exactness under tail deletes, and the strict refusal on a
    half-applied fold."""
    from ..table import Catalog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    croot = tempfile.mkdtemp(prefix="engine_rtsql_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            cat.sql(
                spark,
                "CREATE MATERIALIZED VIEW cust_spend AS "
                "SELECT o_custkey, COUNT(*) AS cnt, SUM(cents) AS sv "
                "FROM orders_t GROUP BY o_custkey",
            )
            cat.sql(
                spark,
                "CREATE MATERIALIZED VIEW top_spend AS SELECT * FROM ("
                "SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey "
                "ORDER BY o_orderkey) AS rn FROM orders_t) WHERE rn <= 2",
            )
            # source churn, NO refresh
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.delete_eq_mor(
                spark,
                orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey").distinct(),
                ["o_orderkey"],
            )
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            rec = (
                cat.table("orders_t").scan(spark)
                .groupBy("o_custkey")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("cents").alias("sv"),  # long fold: measure is long
                )
                .persist()
            )
            stale_df = cat.sql(
                spark, "SELECT o_custkey, cnt, sv FROM cust_spend"
            )
            stale = not stale_df.exceptAll(rec.select(stale_df.columns)).isEmpty()
            rt = cat.sql(
                spark,
                "SELECT /*+ REALTIME */ o_custkey, cnt, sv FROM cust_spend",
            ).persist()
            hint_exact = (
                rt.exceptAll(rec.select(rt.columns)).isEmpty()
                and rec.select(rt.columns).exceptAll(rt).isEmpty()
            )
            row = rt.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("cnt").alias("total_cnt"),
                F.sum("sv").cast("long").alias("sum_cents"),
            ).collect()[0]
            # top-k under tail deletes: the hinted read takes the BOUNDED
            # merge (touched keys from source) and must equal the
            # from-scratch top-k of the surviving rows
            from ..operators.topk_view import topk_frame

            rt_top = cat.sql(
                spark, "SELECT /*+ REALTIME */ * FROM top_spend"
            ).persist()
            rec_top = topk_frame(
                cat.table("orders_t").scan(spark),
                "o_custkey", ["o_orderkey"], 2,
            ).select(rt_top.columns)
            topk_delete_exact = (
                rt_top.exceptAll(rec_top).isEmpty()
                and rec_top.exceptAll(rt_top).isEmpty()
            )
            rt_top.unpersist()
            # strict refusal survives for true O(source) fallbacks: a
            # half-applied crashed fold on the top-k view
            vt = cat.table("top_spend")
            vt.delete_eq_mor(
                spark,
                spark.createDataFrame([(1,)], "o_custkey long"),
                ["o_custkey"],
                extra_summary={"mv-refresh-del": 999},
            )
            strict_refused = 0
            try:
                cat.sql(
                    spark,
                    "SELECT /*+ REALTIME */ COUNT(*) AS n FROM top_spend",
                ).collect()
            except ValueError:
                strict_refused = 1
            rt.unpersist()
            rec.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_keys"], row["total_cnt"], row["sum_cents"],
                        stale, hint_exact, topk_delete_exact, strict_refused,
                    )
                ],
                "n_keys bigint, total_cnt bigint, sum_cents bigint, "
                "stale_without_hint boolean, hint_exact boolean, "
                "topk_delete_exact boolean, strict_refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4w_engine_sql_time_travel",
    oracle="""
WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
     b AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <= 1)
SELECT (SELECT COUNT(*) FROM a) AS cnt_va,
       CAST((SELECT SUM(o_orderkey) FROM a) AS BIGINT) AS sum_va,
       (SELECT COUNT(*) FROM b) AS cnt_vb,
       (SELECT COUNT(*) FROM b) AS cnt_current,
       TRUE AS cross_table_consistent,
       CAST(2 AS BIGINT) AS refused
""",
    group="A",
)
def a4w_engine_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL time travel at CATALOG granularity (round 11):
    ``SELECT /*+ CATALOG_VERSION(n) */ ...`` through ``Catalog.sql``
    registers every referenced view pinned to the catalog state AS OF
    publish n, so a multi-table read is cross-table CONSISTENT at that
    past publish — the SQL face of ``state_at``/
    ``register_views(state=...)`` and of the connector's
    ``catalog_version`` option (a4q). Per-table ``FOR VERSION AS OF``
    exists for SINGLE-table statements only (round 12, a5a); any
    multi-table statement refuses it — mixing per-table vintages
    forfeits the cross-table guarantee, and THIS hint is the
    consistent form. The scenario publishes version A
    (orders prefix + its per-catalog aggregate table in ONE catalog
    version), publishes version B the same way, appends WITHOUT
    publishing, and grades: counts/sums at A, at B, current == B
    (unpublished head invisible at every version), the time-traveled
    JOIN of the two tables consistent at A (the aggregate equals a
    recompute of its sibling AT THE SAME STATE), and two loud
    refusals (contradictory hint combo, expired/unknown version)."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    croot = tempfile.mkdtemp(prefix="engine_sqltt_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            tot_schema = spark.createDataFrame(
                [], "n_rows long, sum_orderkey long"
            ).schema
            tot = cat.create_table("totals", tot_schema)

            def publish(flt):
                s = cat.table("orders_t")
                s.append(orders.filter(flt).coalesce(2))
                t = cat.table("totals")
                agg = (
                    s.scan(spark)
                    .agg(
                        F.count(F.lit(1)).alias("n_rows"),
                        F.sum("o_orderkey").alias("sum_orderkey"),
                    )
                )
                t.overwrite_entries(t._write_data_files(agg.coalesce(1)))
                # ONE catalog version pins BOTH tables: the unit the
                # time-traveled read must see atomically
                cat._commit_pins(
                    {
                        "orders_t": s.metadata.current_snapshot_id,
                        "totals": t.metadata.current_snapshot_id,
                    }
                )
                return cat.state().version

            va = publish(F.col("o_orderkey") % 3 == 0)
            vb = publish(F.col("o_orderkey") % 3 == 1)
            # head moves past the publish: invisible at every version
            cat.table("orders_t").append(
                orders.filter(F.col("o_orderkey") % 3 == 2).coalesce(2)
            )
            rows_at = {}
            for tag, v in (("va", va), ("vb", vb)):
                rows_at[tag] = cat.sql(
                    spark,
                    f"SELECT /*+ CATALOG_VERSION({v}) */ COUNT(*) AS n, "
                    "SUM(o_orderkey) AS s FROM orders_t",
                ).collect()[0]
            cur = cat.sql(
                spark, "SELECT COUNT(*) AS n FROM orders_t"
            ).collect()[0]["n"]
            # cross-table consistency at A: totals (written in A's publish)
            # equals the recompute over orders_t AT THE SAME STATE
            joined = cat.sql(
                spark,
                f"SELECT /*+ CATALOG_VERSION({va}) */ "
                "t.n_rows AS stored_n, t.sum_orderkey AS stored_s, "
                "o.n AS live_n, o.s AS live_s "
                "FROM totals t CROSS JOIN (SELECT COUNT(*) AS n, "
                "SUM(o_orderkey) AS s FROM orders_t) o",
            ).collect()[0]
            consistent = (
                joined["stored_n"] == joined["live_n"]
                and joined["stored_s"] == joined["live_s"]
            )
            refused = 0
            try:
                cat.sql(
                    spark,
                    f"SELECT /*+ CATALOG_VERSION({va}) */ /*+ REALTIME */ "
                    "COUNT(*) FROM orders_t",
                )
            except UnsupportedSQL:
                refused += 1
            try:
                cat.sql(
                    spark,
                    "SELECT /*+ CATALOG_VERSION(999999) */ COUNT(*) "
                    "FROM orders_t",
                )
            except FileNotFoundError:
                refused += 1
            return spark.createDataFrame(
                [
                    (
                        rows_at["va"]["n"], rows_at["va"]["s"],
                        rows_at["vb"]["n"], cur, consistent, refused,
                    )
                ],
                "cnt_va bigint, sum_va bigint, cnt_vb bigint, "
                "cnt_current bigint, cross_table_consistent boolean, "
                "refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4x_engine_sql_insert_overwrite",
    oracle="""
WITH final AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderkey % 3 = 0 AND o_custkey % 2 = 0
)
SELECT COUNT(*)::BIGINT AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       TRUE AS atomic_overwrite,
       TRUE AS pre_image_travels,
       CAST(2 AS BIGINT) AS refused
FROM final
""",
    group="A",
)
def a4x_engine_sql_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT OVERWRITE [TABLE] t SELECT/VALUES`` through
    ``Catalog.sql`` (round 11): STATIC overwrite — the table's whole
    content is replaced by the query's rows in ONE atomic 'overwrite'
    snapshot (readers see old or new, never a mix), the pre-image
    stays time-travelable, and the pin publishes through the same
    resolve path as every data verb, so it composes with a
    sql_script's single publish like TRUNCATE does. Partition-scoped
    overwrite takes an EXPLICIT clause (round 12, a5b: INSERT
    OVERWRITE t PARTITION (k = v | k)) — what stays refused is the
    conf-dependent spelling where the same bare statement flips
    between replace-table and replace-partitions on a session conf.
    The scenario CTAS-es
    an orders slice, overwrites it with a filtered SELECT of itself
    (evaluated against the PINNED pre-statement state, so the
    self-referential overwrite is well-defined), and grades totals
    against DuckDB's replay plus snapshot-op/time-travel proofs and
    two refusals."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    orders.createOrReplaceTempView("a4x_orders_src")
    croot = tempfile.mkdtemp(prefix="engine_sqlovw_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            cat.sql(
                spark,
                "CREATE TABLE orders_t AS SELECT o_orderkey, o_custkey "
                "FROM a4x_orders_src WHERE o_orderkey % 3 = 0",
            )
            pre_snap = cat.table("orders_t").metadata.current_snapshot_id
            pre_cnt = cat.read(spark, "orders_t").count()
            res = cat.sql(
                spark,
                "INSERT OVERWRITE orders_t SELECT o_orderkey, o_custkey "
                "FROM orders_t WHERE o_custkey % 2 = 0",
            )
            assert res["statement"] == "insert_overwrite"
            tbl = cat.table("orders_t")
            atomic = tbl.metadata.current_snapshot().operation == "overwrite"
            travels = (
                tbl.scan(spark, snapshot_id=pre_snap).count() == pre_cnt
            )
            refused = 0
            for bad in (
                "INSERT OVERWRITE orders_t SELECT o_orderkey FROM orders_t",
                "INSERT OVERWRITE orders_t VALUES (1)",
            ):
                try:
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = (
                cat.read(spark, "orders_t")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("sum_orderkey"),
                )
                .collect()[0]
            )
            return spark.createDataFrame(
                [
                    (
                        row["n_rows"], row["sum_orderkey"],
                        atomic, travels, refused,
                    )
                ],
                "n_rows bigint, sum_orderkey bigint, atomic_overwrite "
                "boolean, pre_image_travels boolean, refused bigint",
            )
    finally:
        spark.catalog.dropTempView("a4x_orders_src")
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4y_engine_sql_create_ddl",
    oracle="""
WITH final AS (
  SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 3 = 0
)
SELECT COUNT(*)::BIGINT AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_orderkey,
       CAST(3 AS BIGINT) AS n_cols,
       TRUE AS pruned_scan,
       CAST(3 AS BIGINT) AS refused
FROM final
""",
    group="A",
)
def a4y_engine_sql_create_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain ``CREATE TABLE name (col type, ...)`` DDL through
    ``Catalog.sql`` (round 11) — the first statement a SQL user
    types. The column list parses with Spark's own DDL parser (full
    type surface); ``PARTITIONED BY`` accepts ONE Iceberg-DDL
    transform — bucket(N, c), truncate(W, c), years/../hours(c), or a
    bare integer column (identity) — mapping 1:1 onto the engine's
    transform set (R3/a3w/a4a); ``TBLPROPERTIES`` reuses the ALTER
    pairs grammar. The scenario creates a bucket(8)-partitioned table
    via DDL, loads it with INSERT SELECT, proves the partition layout
    actually prunes (a bucket-point scan plans fewer files than the
    table holds), and grades totals against DuckDB plus three loud
    refusals (duplicate name, bad type, multi-column spec)."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    orders.createOrReplaceTempView("a4y_orders_src")
    croot = tempfile.mkdtemp(prefix="engine_sqlddl_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            res = cat.sql(
                spark,
                "CREATE TABLE orders_t (o_orderkey BIGINT NOT NULL, "
                "o_custkey BIGINT, note STRING) "
                "PARTITIONED BY (bucket(8, o_orderkey)) "
                "TBLPROPERTIES ('write.sort.order' = 'o_orderkey')",
            )
            assert res["statement"] == "create_table"
            n_cols = len(res["columns"])
            # column-list INSERT SELECT: note fills NULL
            cat.sql(
                spark,
                "INSERT INTO orders_t (o_orderkey, o_custkey) "
                "SELECT o_orderkey, o_custkey FROM a4y_orders_src "
                "WHERE o_orderkey % 3 = 0",
            )
            tbl = cat.table("orders_t")
            files_total = len(list(tbl.current_files()))
            # bucket layout prunes: a point lookup plans only the files of
            # one bucket (the write path partitioned by the DDL transform)
            some_key = (
                cat.read(spark, "orders_t").select("o_orderkey").first()[0]
            )
            planned = len(tbl.plan_files([("o_orderkey", "=", some_key)]))
            pruned = planned < files_total
            refused = 0
            for bad in (
                "CREATE TABLE orders_t (x BIGINT)",
                "CREATE TABLE b1 (x NOTATYPE)",
                # an EMPTY field list is permanently outside the grammar
                # (the old multi-column probe became legal when round 13
                # added composite specs — refusal probes must stay illegal
                # forever, the a4l TRUNCATE-incident discipline)
                "CREATE TABLE b2 (x BIGINT, y BIGINT) PARTITIONED BY ()",
            ):
                try:
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = (
                cat.read(spark, "orders_t")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("sum_orderkey"),
                )
                .collect()[0]
            )
            return spark.createDataFrame(
                [(row["n_rows"], row["sum_orderkey"], n_cols, pruned, refused)],
                "n_rows bigint, sum_orderkey bigint, n_cols bigint, "
                "pruned_scan boolean, refused bigint",
            )
    finally:
        spark.catalog.dropTempView("a4y_orders_src")
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a4z_engine_extrema_view",
    oracle="""
WITH final AS (
  SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 <> 2 AND o_orderkey % 10 <> 1
),
agg AS (
  SELECT o_custkey, MIN(cents) AS mn, MAX(cents) AS mx
  FROM final GROUP BY o_custkey
)
SELECT COUNT(*)::BIGINT AS n_keys,
       CAST(SUM(mn) AS BIGINT) AS sum_mn,
       CAST(SUM(mx) AS BIGINT) AS sum_mx,
       TRUE AS realtime_exact,
       TRUE AS equals_recompute,
       TRUE AS final_refresh_noop
FROM agg
""",
    group="A",
)
def a4z_engine_extrema_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained MIN/MAX (extrema) view (round 11,
    table/maintained.py): the third incrementally-maintainable fold
    kind next to additive agg and top-k. Extrema are NOT self-inverse
    — a delete can remove the current min/max — so the fold follows
    the top-k discipline: inserts merge incrementally
    (least/greatest against the view row, work sized by the delta's
    key set), delete-touched keys recompute from SOURCE with the scan
    runtime-filter-pruned to their files — O(tail) + O(touched-key
    files), never O(source). Reachable from SQL as ``CREATE
    MATERIALIZED VIEW v AS SELECT k, MIN(c) AS mn, MAX(c) AS mx FROM
    t GROUP BY k``; ``read_realtime`` serves both window shapes (the
    bounded merge under tail deletes). The scenario creates over a
    prefix via SQL DDL, churns the source (append + MOR deletes that
    HIT current extremes) without refreshing, grades the realtime
    read against a from-scratch extrema recompute, refreshes, and
    grades the materialized rows plus a final no-op refresh."""
    from ..table import Catalog
    from ..table.maintained import read_realtime, refresh_maintained

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    croot = tempfile.mkdtemp(prefix="engine_ext_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            cat.sql(
                spark,
                "CREATE MATERIALIZED VIEW cust_ext AS SELECT o_custkey, "
                "MIN(cents) AS mn, MAX(cents) AS mx FROM orders_t "
                "GROUP BY o_custkey",
            )
            # churn WITHOUT refresh: appends + a delete wave that removes
            # rows across the value range (incl. current extremes)
            src = cat.table("orders_t")
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            src = cat.table("orders_t")
            src.delete_eq_mor(
                spark,
                orders.filter(F.col("o_orderkey") % 10 == 1)
                .select("o_orderkey").distinct(),
                ["o_orderkey"],
            )
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            rec = (
                cat.table("orders_t").scan(spark)
                .groupBy("o_custkey")
                .agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
                .persist()
            )
            rt = read_realtime(cat, spark, "cust_ext").persist()
            realtime_exact = (
                rt.exceptAll(rec.select(rt.columns)).isEmpty()
                and rec.select(rt.columns).exceptAll(rt).isEmpty()
            )
            r = cat.sql(spark, "REFRESH MATERIALIZED VIEW cust_ext")
            assert r["refreshed"] is True
            mv = cat.read(spark, "cust_ext").persist()
            equals_recompute = (
                mv.exceptAll(rec.select(mv.columns)).isEmpty()
                and rec.select(mv.columns).exceptAll(mv).isEmpty()
            )
            noop = (
                refresh_maintained(cat, spark, "cust_ext")["refreshed"] is False
            )
            row = mv.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("mn").alias("sum_mn"),
                F.sum("mx").alias("sum_mx"),
            ).collect()[0]
            rt.unpersist()
            rec.unpersist()
            mv.unpersist()
            return spark.createDataFrame(
                [
                    (
                        row["n_keys"], row["sum_mn"], row["sum_mx"],
                        realtime_exact, equals_recompute, noop,
                    )
                ],
                "n_keys bigint, sum_mn bigint, sum_mx bigint, "
                "realtime_exact boolean, equals_recompute boolean, "
                "final_refresh_noop boolean",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a5a_engine_sql_version_as_of",
    oracle="""
WITH a AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0),
     b AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 1)
SELECT (SELECT COUNT(*) FROM a) AS cnt_v1,
       CAST((SELECT SUM(o_orderkey) FROM a) AS BIGINT) AS sum_v1,
       (SELECT COUNT(*) FROM a) + (SELECT COUNT(*) FROM b) AS cnt_current,
       (SELECT COUNT(*) FROM a WHERE o_orderkey % 2 = 0) AS cnt_v1_filtered,
       (SELECT COUNT(*) FROM a) AS cnt_ts,
       CAST(5 AS BIGINT) AS refused
""",
    group="A",
)
def a5a_engine_sql_version_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table SQL time travel (round 12): ``SELECT ... FROM t [FOR]
    VERSION AS OF <snapshot-id>`` through ``Catalog.sql`` routes onto
    ``Table.scan(snapshot_id=)`` — the SQL face of the a3z/a3n API
    reads (Iceberg's VERSION AS OF takes a snapshot id). SINGLE-table
    statements only, by contract: the clause pins ONE relation's
    history, so any statement whose read set holds another catalog
    relation refuses with a pointer at /*+ CATALOG_VERSION(n) */ —
    the cross-table-consistent form (a4w). The scenario appends slice
    A (snapshot s1), then slice B, and grades: count/sum AT s1, the
    current count, a filtered travel read (bare ``VERSION AS OF``
    spelling, WHERE composed around the clause), and four loud
    refusals. ``[FOR] TIMESTAMP AS OF <epoch-ms | 'ISO instant'>`` is
    the same contract onto ``scan(as_of_ms=)`` (a3z's API read): the
    scenario travels to snapshot s1's commit instant and grades the
    same count. The five refusals: multi-table join, CATALOG_VERSION
    combo, view target, unparseable timestamp literal, unknown
    snapshot id."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    croot = tempfile.mkdtemp(prefix="engine_vat_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            src = cat.create_table("orders_t", orders.schema)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 0).coalesce(2))
            s1 = src.metadata.current_snapshot_id
            # the timestamp travel below cuts AT s1's commit instant: make
            # sure the next commit lands on a LATER millisecond, or no
            # cutoff could separate the two snapshots
            import time as _time

            while int(_time.time() * 1000) <= src.snapshot_by_id(s1).timestamp_ms:
                _time.sleep(0.002)
            src.append(orders.filter(F.col("o_orderkey") % 3 == 1).coalesce(2))
            cat._commit_pins({"orders_t": src.metadata.current_snapshot_id})
            at_v1 = cat.sql(
                spark,
                f"SELECT COUNT(*) AS n, SUM(o_orderkey) AS s "
                f"FROM orders_t FOR VERSION AS OF {s1}",
            ).collect()[0]
            cur = cat.sql(
                spark, "SELECT COUNT(*) AS n FROM orders_t"
            ).collect()[0]["n"]
            # bare spelling, WHERE composed around the travel clause
            filtered = cat.sql(
                spark,
                f"SELECT COUNT(*) AS n FROM orders_t VERSION AS OF {s1} "
                "WHERE o_orderkey % 2 = 0",
            ).collect()[0]["n"]
            ts1 = src.snapshot_by_id(s1).timestamp_ms
            cnt_ts = cat.sql(
                spark,
                f"SELECT COUNT(*) AS n FROM orders_t FOR TIMESTAMP AS OF {ts1}",
            ).collect()[0]["n"]
            cat.create_table("other_t", orders.schema)
            cat.sql(spark, "CREATE VIEW ov AS SELECT o_orderkey FROM orders_t")
            refused = 0
            for bad in (
                f"SELECT COUNT(*) FROM orders_t FOR VERSION AS OF {s1} "
                "JOIN other_t ON orders_t.o_orderkey = other_t.o_orderkey",
                f"SELECT /*+ CATALOG_VERSION(1) */ COUNT(*) FROM orders_t "
                f"FOR VERSION AS OF {s1}",
                f"SELECT COUNT(*) FROM ov FOR VERSION AS OF {s1}",
                "SELECT COUNT(*) FROM orders_t TIMESTAMP AS OF 'nonsense'",
            ):
                try:
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            try:
                cat.sql(
                    spark,
                    "SELECT COUNT(*) FROM orders_t FOR VERSION AS OF 424242",
                )
            except KeyError:
                refused += 1
            return spark.createDataFrame(
                [(at_v1["n"], at_v1["s"], cur, filtered, cnt_ts, refused)],
                "cnt_v1 bigint, sum_v1 bigint, cnt_current bigint, "
                "cnt_v1_filtered bigint, cnt_ts bigint, refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a5b_engine_sql_partition_overwrite",
    oracle="""
WITH b2 AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 2)
SELECT (SELECT COUNT(*) FROM b2) + 4 AS n_rows,
       CAST((SELECT SUM(o_orderkey) FROM b2)
            + 900000001 + 900000002 + 900000003 + 900000004
            AS BIGINT) AS sum_okey,
       (SELECT COUNT(*) FROM b2) AS kept_b2,
       CAST(0 AS BIGINT) AS b3_rows,
       TRUE AS atomic_overwrite,
       TRUE AS pre_image_travels,
       CAST(3 AS BIGINT) AS refused
""",
    group="A",
)
def a5b_engine_sql_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``INSERT OVERWRITE t PARTITION (k = v | k)`` through
    ``Catalog.sql`` (round 12): partition-scoped overwrite with the
    intent named IN the statement — ``(k = v)`` is the STATIC form
    (replace exactly that identity partition; the value fills the
    column so the source omits it; an EMPTY source clears the
    partition, Hive semantics), ``(k)`` is the DYNAMIC form (replace
    exactly the partitions the written rows touch — a4e's
    ``overwrite_entries(partitions=...)`` machinery). Untouched
    partitions carry by reference — at 100 TB the daily-partition
    reload costs one day, not the table — in ONE atomic 'overwrite'
    snapshot with the pre-image time-travelable. What stays refused is
    the conf-dependent bare spelling whose meaning flips on
    spark.sql.sources.partitionOverwriteMode. The scenario loads an
    identity(bucket = o_orderkey % 4) table, statically replaces
    bucket 1, clears bucket 3 with an empty static overwrite,
    dynamically replaces bucket 0, and grades final totals against
    DuckDB's replay plus snapshot-op/time-travel proofs and three loud
    refusals (unpartitioned target, wrong column, static source
    including the partition column)."""
    from ..table import Catalog, identity
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    croot = tempfile.mkdtemp(prefix="engine_povw_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            base = orders.withColumn("bucket", F.col("o_orderkey") % 4)
            pt = cat.create_table(
                "pt", base.schema, partition=identity("bucket")
            )
            pt.append(base.coalesce(4))
            pre_snap = pt.metadata.current_snapshot_id
            pre_cnt = orders.count()
            cat._commit_pins({"pt": pre_snap})
            res = cat.sql(
                spark,
                "INSERT OVERWRITE pt PARTITION (bucket = 1) "
                "VALUES (900000001), (900000002)",
            )
            assert res["mode"] == "static_partition"
            assert res["replaced_partitions"] == [1]
            res = cat.sql(
                spark,
                "INSERT OVERWRITE pt PARTITION (bucket = 3) "
                "SELECT o_orderkey FROM pt WHERE o_orderkey < 0",
            )
            assert res["inserted_rows"] == 0  # empty static CLEARS b3
            res = cat.sql(
                spark,
                "INSERT OVERWRITE pt PARTITION (bucket) "
                "VALUES (900000003, 0), (900000004, 0)",
            )
            assert res["mode"] == "dynamic_partition"
            assert res["replaced_partitions"] == [0]
            tbl = cat.table("pt")
            snap = tbl.metadata.current_snapshot()
            atomic = (
                snap.operation == "overwrite"
                and snap.summary.get("overwrite-mode") == "dynamic"
            )
            travels = (
                tbl.scan(spark, snapshot_id=pre_snap).count() == pre_cnt
            )
            refused = 0
            cat.create_table("flat_t", orders.schema)
            for bad in (
                "INSERT OVERWRITE flat_t PARTITION (o_orderkey = 1) VALUES (1)",
                "INSERT OVERWRITE pt PARTITION (o_orderkey = 1) VALUES (2)",
                "INSERT OVERWRITE pt PARTITION (bucket = 1) "
                "SELECT o_orderkey, bucket FROM pt",
            ):
                try:
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = (
                cat.read(spark, "pt")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("sum_okey"),
                    F.sum((F.col("bucket") == 2).cast("long")).alias("kept_b2"),
                    F.sum((F.col("bucket") == 3).cast("long")).alias("b3_rows"),
                )
                .collect()[0]
            )
            return spark.createDataFrame(
                [
                    (
                        row["n_rows"], row["sum_okey"], row["kept_b2"],
                        row["b3_rows"], atomic, travels, refused,
                    )
                ],
                "n_rows bigint, sum_okey bigint, kept_b2 bigint, "
                "b3_rows bigint, atomic_overwrite boolean, "
                "pre_image_travels boolean, refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a5d_engine_sql_optimize_partition",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderkey % 4 AS bucket FROM orders
)
SELECT COUNT(*)::BIGINT AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
       TRUE AS p1_compacted,
       TRUE AS others_untouched,
       TRUE AS content_identical,
       CAST(3 AS BIGINT) AS refused
FROM base
""",
    group="A",
)
def a5d_engine_sql_optimize_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``OPTIMIZE t WHERE <partition-col> = <lit>`` through
    ``Catalog.sql`` (round 12 — Iceberg/Delta selective compaction):
    bin-packing scoped to ONE identity partition. At 100 TB this is
    the verb a table operator actually runs — compact the partition
    today's writers fragmented, not the table: the rewrite reads and
    writes O(named partition's small files), every other partition's
    files carry untouched (proven by PHYSICAL PATH identity), and the
    commit is one content-preserving 'replace' snapshot so standing
    CDC/views ride through. Snapshot expiry and orphan GC stay
    whole-table verbs (plain OPTIMIZE / VACUUM) — a partition-scoped
    statement must not smuggle in table-global effects. The scenario
    fragments partition 1 with five 1-file appends, runs the scoped
    OPTIMIZE, and grades totals vs DuckDB plus compaction/zero-copy/
    content proofs and three loud refusals (range predicate, wrong
    column, non-identity layout)."""
    from ..table import Catalog, bucket as _bucket_tf, identity
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    croot = tempfile.mkdtemp(prefix="engine_optw_") + "/cat"
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(croot)
            base = orders.withColumn("bucket", F.col("o_orderkey") % 4)
            pt = cat.create_table(
                "pt", base.schema, partition=identity("bucket")
            )
            # everything except partition 1 in one append; partition 1
            # fragmented across five 1-file appends — the small-files
            # shape a high-frequency writer leaves behind
            pt.append(base.filter(F.col("bucket") != 1).coalesce(4))
            p1 = base.filter(F.col("bucket") == 1)
            for i in range(5):
                pt.append(p1.filter(F.col("o_orderkey") % 5 == i).coalesce(1))
            cat._commit_pins({"pt": pt.metadata.current_snapshot_id})

            def files_by_part():
                out: dict = {}
                for e in cat.table("pt").current_files():
                    out.setdefault(e.get("partition"), set()).add(e["path"])
                return out

            pre = files_by_part()
            res = cat.sql(spark, "OPTIMIZE pt WHERE bucket = 1")
            assert res["statement"] == "optimize"
            post = files_by_part()
            p1_compacted = (
                res["compact"]["rewritten"] == len(pre[1]) == 5
                and len(post[1]) < len(pre[1])
            )
            others_untouched = all(
                post[p] == pre[p] for p in pre if p != 1
            )
            cur = cat.read(spark, "pt")
            content_identical = (
                cur.exceptAll(base).isEmpty() and base.exceptAll(cur).isEmpty()
            )
            refused = 0
            bt = cat.create_table(
                "bt", orders.schema, partition=_bucket_tf("o_orderkey", 4)
            )
            bt.append(orders.limit(8).coalesce(1))
            cat._commit_pins({"bt": bt.metadata.current_snapshot_id})
            for bad in (
                "OPTIMIZE pt WHERE bucket > 0",
                "OPTIMIZE pt WHERE o_orderkey = 1",
                "OPTIMIZE bt WHERE o_orderkey = 1",
            ):
                try:
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = cur.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("sum_okey"),
            ).collect()[0]
            return spark.createDataFrame(
                [
                    (
                        row["n_rows"], row["sum_okey"], p1_compacted,
                        others_untouched, content_identical, refused,
                    )
                ],
                "n_rows bigint, sum_okey bigint, p1_compacted boolean, "
                "others_untouched boolean, content_identical boolean, "
                "refused bigint",
            )
    finally:
        shutil.rmtree(os.path.dirname(croot), ignore_errors=True)


@register(
    "a5e_engine_multifield_partition_spec",
    oracle="""
SELECT COUNT(*) AS cnt,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_val,
       CAST(7 AS BIGINT) AS days_hit,
       CAST(1 AS BIGINT) AS buckets_hit,
       true AS intersect_pruned,
       true AS ddl_roundtrip
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts <  TIMESTAMP '2024-01-17 00:00:00'
  AND user_id = 7
""",
    group="A",
)
def a5e_engine_multifield_partition_spec(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-field partition spec (round 13 — Iceberg PartitionSpec
    with several fields; the reference's spec is 1-D,
    Constants.java:33-35, generalized): ``PARTITIONED BY (days(ts),
    bucket(8, user_id))`` — THE layout a 100-TB event table uses, one
    temporal field for retention/incremental reads plus one hash field
    for key-colocated point lookups. Entries carry a value TUPLE
    (``partition_fields``); every pruning path resolves per-field and
    the surviving file set is the INTERSECTION of the fields' prunes.

    Graded here: a [start, end) week × one-user query must prune to
    exactly 7 day-buckets × 1 hash-bucket (days_hit / buckets_hit read
    from the surviving entries' tuples — plan shape, not just the row
    set); intersect_pruned asserts both fields strictly narrowed the
    plan vs either alone; ddl_roundtrip asserts the SQL face — the
    multi-field PARTITIONED BY list parses, and SHOW CREATE TABLE
    emits a statement that recreates the identical spec. Result
    values check against the DuckDB oracle over the raw parquet."""
    from ..table import Catalog

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    base = tempfile.mkdtemp(prefix="engine_mfs_")
    try:
        cat = Catalog.create(base + "/cat")
        cat.sql(
            spark,
            "CREATE TABLE ev (event_id BIGINT, ts TIMESTAMP, "
            "user_id BIGINT, value DOUBLE) "
            "PARTITIONED BY (days(ts), bucket(8, user_id))",
        )
        tbl = cat.table("ev")
        # one file per (day, hash-bucket): the deterministic layout
        # the plan-shape assertions grade against
        tbl.append(events.coalesce(1))
        flt_day = [
            ("ts", ">=", "2024-01-10T00:00:00"),
            ("ts", "<", "2024-01-17T00:00:00"),
        ]
        flt_uid = [("user_id", "=", 7)]
        total = len(tbl.plan_files())
        day_only = tbl.plan_files(flt_day)
        uid_only = tbl.plan_files(flt_uid)
        both = tbl.plan_files(flt_day + flt_uid)
        days_hit = len({e["partition_fields"][0] for e in both})
        buckets_hit = len({e["partition_fields"][1] for e in both})
        intersect_pruned = (
            0 < len(both) < min(len(day_only), len(uid_only))
            and max(len(day_only), len(uid_only)) < total
        )
        sc = cat.sql(spark, "SHOW CREATE TABLE ev").collect()[0][
            "create_statement"
        ]
        cat.sql(spark, sc.replace("CREATE TABLE ev", "CREATE TABLE ev2"))
        ddl_roundtrip = (
            cat.table("ev2").metadata.partition_spec
            == tbl.metadata.partition_spec
        )
        row = (
            tbl.scan(spark, flt_day + flt_uid)
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,4)")), 4
                ).cast("double").alias("sum_val"),
            )
            .collect()[0]
        )
        return spark.createDataFrame(
            [
                (
                    row["cnt"], row["sum_val"], days_hit, buckets_hit,
                    intersect_pruned, ddl_roundtrip,
                )
            ],
            "cnt bigint, sum_val double, days_hit bigint, "
            "buckets_hit bigint, intersect_pruned boolean, "
            "ddl_roundtrip boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "a5f_engine_sql_branch_tag",
    oracle="""
SELECT COUNT(*) + 5 AS n_head,
       true AS branch_preview,
       COUNT(*) AS tag_rows,
       CAST(2 AS BIGINT) AS refs_at_peak,
       CAST(0 AS BIGINT) AS refs_after,
       CAST(5 AS BIGINT) AS refused
FROM orders
""",
    group="A",
)
def a5f_engine_sql_branch_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch/tag lifecycle through SQL (round 13 — Iceberg branching
    DDL; the SQL face of the refs/WAP machinery a4g/a3z exercise via
    the API): ``ALTER TABLE t CREATE BRANCH b [AS OF VERSION n]`` /
    ``CREATE TAG`` / ``PUBLISH BRANCH`` / ``DROP BRANCH|TAG`` +
    ``SHOW REFS``. The full write-audit-publish loop runs here with
    the SQL verbs at every control point: create a branch, stage an
    append onto it (the table head never sees unaudited rows — graded
    by branch_preview: the branch read serves staged+base while the
    plain read still serves base), publish = fast-forward the head,
    pin a pre-publish TAG and read it back (immutable reproducibility
    pin — 'the snapshot this model trained on'), then drop both refs.
    Category errors refuse loudly: dropping a tag as a branch,
    re-creating an existing ref, publishing a nonexistent branch, and
    tagging an unknown snapshot id. At 100 TB refs are O(1) metadata
    — every verb here is a pointer commit, no data touched."""
    from ..table import Catalog

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = tempfile.mkdtemp(prefix="engine_refs_")
    try:
        cat = Catalog.create(base + "/cat")
        tbl = cat.create_table("t", orders.schema)
        tbl.append(orders)
        cat._commit_pins({"t": tbl.metadata.current_snapshot_id})
        snap0 = tbl.metadata.current_snapshot_id
        n0 = tbl.scan(spark).count()
        cat.sql(spark, "ALTER TABLE t CREATE BRANCH wap")
        # staging is ALSO a SQL verb: Iceberg's branch-write spelling
        # advances only the ref, never the head or the catalog pin
        cat.sql(
            spark,
            "INSERT INTO t.branch_wap VALUES "
            + ", ".join(f"({9_000_000_000 + i}, 1.0)" for i in range(5)),
        )
        branch_n = cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'wap'"
        ).collect()[0]["n"]
        head_n = cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t"
        ).collect()[0]["n"]
        branch_preview = branch_n == n0 + 5 and head_n == n0
        cat.sql(spark, f"ALTER TABLE t CREATE TAG pre AS OF VERSION {snap0}")
        refs_at_peak = cat.sql(spark, "SHOW REFS t").count()
        res = cat.sql(spark, "ALTER TABLE t PUBLISH BRANCH wap")
        assert res["pin_published"], "publish must advance the tracked pin"
        n_head = cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t"
        ).collect()[0]["n"]
        tag_rows = cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'pre'"
        ).collect()[0]["n"]
        refused = 0
        from ..table.sql_dml import UnsupportedSQL

        for bad, exc in (
            ("ALTER TABLE t DROP BRANCH pre", UnsupportedSQL),
            ("ALTER TABLE t CREATE BRANCH wap", ValueError),
            ("ALTER TABLE t PUBLISH BRANCH ghost", KeyError),
            ("ALTER TABLE t CREATE TAG nope AS OF VERSION 424242",
             KeyError),
            # writes never create refs implicitly
            ("INSERT INTO t.branch_ghost VALUES (1, 1.0)",
             UnsupportedSQL),
        ):
            try:
                cat.sql(spark, bad)
            except exc:
                refused += 1
        cat.sql(spark, "ALTER TABLE t DROP BRANCH wap")
        cat.sql(spark, "ALTER TABLE t DROP TAG pre")
        refs_after = cat.sql(spark, "SHOW REFS t").count()
        return spark.createDataFrame(
            [
                (
                    n_head, branch_preview, tag_rows,
                    refs_at_peak, refs_after, refused,
                )
            ],
            "n_head bigint, branch_preview boolean, tag_rows bigint, "
            "refs_at_peak bigint, refs_after bigint, refused bigint",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "a5g_engine_sql_replace_table",
    oracle="""
SELECT COUNT(*) AS n_summary,
       CAST(SUM(cnt) AS BIGINT) AS total_orders,
       (SELECT COUNT(*) FROM orders) AS pre_image_rows,
       true AS single_publish,
       CAST(0 AS BIGINT) AS truncated_rows,
       CAST(3 AS BIGINT) AS refused
FROM (
  SELECT o_orderpriority, COUNT(*) AS cnt
  FROM orders GROUP BY o_orderpriority
)
""",
    group="A",
)
def a5g_engine_sql_replace_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE OR REPLACE TABLE [AS SELECT] (round 13 — Iceberg RTAS):
    the atomic replace-definition form CTAS (a4t) lacked. One
    user-visible catalog publish swaps schema AND content — a raw
    orders copy becomes a 5-row priority summary with an unrelated
    schema — while /*+ CATALOG_VERSION(n) */ still serves the full
    pre-image (single_publish grades exactly that: the catalog
    version log gained ONE reader-visible version for the whole
    replace, and the pre-version reads the old rows). The column-list
    form swaps definition and truncates; view / maintained-view /
    in-script targets refuse. At 100 TB a replace writes only the new
    content — the old snapshot is carried by the metadata logs for
    time travel, zero data copied."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    base = tempfile.mkdtemp(prefix="engine_rtas_")
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            cat = Catalog.create(base + "/cat")
            load_table(spark, sf_dir, "orders").createOrReplaceTempView(
                "orders_src"
            )
            cat.sql(
                spark,
                "CREATE TABLE ot AS SELECT o_orderkey, o_orderpriority "
                "FROM orders_src",
            )
            pre_rows = cat.sql(
                spark, "SELECT COUNT(*) AS n FROM ot"
            ).collect()[0]["n"]
            v_pre = cat.state().version
            res = cat.sql(
                spark,
                "CREATE OR REPLACE TABLE ot AS "
                "SELECT o_orderpriority AS prio, COUNT(*) AS cnt "
                "FROM ot GROUP BY o_orderpriority",
            )
            assert res["replaced"] is True
            # single reader-visible publish: exactly one catalog version
            # beyond v_pre, and that pre-version still serves the raw copy
            single_publish = cat.state().version == v_pre + 1
            pre_image_rows = cat.sql(
                spark,
                f"SELECT /*+ CATALOG_VERSION({v_pre}) */ COUNT(*) AS n FROM ot",
            ).collect()[0]["n"]
            single_publish = single_publish and pre_image_rows == pre_rows
            summary = cat.sql(spark, "SELECT prio, cnt FROM ot").collect()
            n_summary = len(summary)
            total_orders = sum(r["cnt"] for r in summary)
            cat.sql(
                spark,
                "CREATE OR REPLACE TABLE ot (k BIGINT, g STRING) "
                "PARTITIONED BY (bucket(4, k))",
            )
            truncated_rows = cat.sql(
                spark, "SELECT COUNT(*) AS n FROM ot"
            ).collect()[0]["n"]
            refused = 0
            cat.sql(spark, "CREATE VIEW rv AS SELECT k FROM ot")
            for bad in (
                "CREATE OR REPLACE TABLE rv AS SELECT 1 AS a",
                "CREATE OR REPLACE TABLE rv (x BIGINT)",
                # CREATE-head statements never join a script's single
                # publish
                None,
            ):
                try:
                    if bad is None:
                        cat.sql_script(
                            spark,
                            "DELETE FROM ot WHERE k = -1; "
                            "CREATE OR REPLACE TABLE ot AS SELECT 1 AS a",
                        )
                    else:
                        cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            return spark.createDataFrame(
                [
                    (
                        n_summary, total_orders, pre_image_rows,
                        single_publish, truncated_rows, refused,
                    )
                ],
                "n_summary bigint, total_orders bigint, pre_image_rows bigint, "
                "single_publish boolean, truncated_rows bigint, refused bigint",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "a5h_engine_sql_partition_evolution",
    oracle="""
SELECT COUNT(*) AS cnt_u7,
       CAST(SUM(event_id) AS BIGINT) AS sum_u7,
       CAST(1 AS BIGINT) AS spec_after_add,
       CAST(2 AS BIGINT) AS spec_after_replace,
       CAST(0 AS BIGINT) AS fields_after_drops,
       true AS cross_arity_pruned,
       CAST(4 AS BIGINT) AS refused
FROM events
WHERE user_id = 7
""",
    group="A",
)
def a5h_engine_sql_partition_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition-spec evolution through SQL (round 13 — Iceberg's
    ``ALTER TABLE ADD|DROP|REPLACE PARTITION FIELD`` DDL, the SQL face
    of ``update_partition_spec``/a3o): metadata-only — no data
    rewrite, ever. ADD onto the 1-field ``days(ts)`` table composes a
    composite ``(days(ts), bucket(8, user_id))`` spec; rows appended
    before and after the evolution prune under THEIR OWN spec (entries
    carry spec_id), so a user_id point query still answers exactly —
    old-vintage files are admitted conservatively (their spec has no
    user_id field), new-vintage files prune to one hash bucket
    (cross_arity_pruned grades that plan shape). REPLACE widens the
    bucket fanout in place, DROP collapses back to one field and then
    to unpartitioned; duplicate adds, missing drops/replaces, unknown
    transforms and off-schema columns refuse loudly. At 100 TB this
    is THE verb a table operator runs when yesterday's layout stops
    matching today's query mix — evolution costs one metadata commit,
    not a table rewrite."""
    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    half_a = events.filter(F.col("event_id") % 2 == 0)
    half_b = events.filter(F.col("event_id") % 2 == 1)
    base = tempfile.mkdtemp(prefix="engine_pevo_")
    try:
        with conf_scope(spark, {"spark.sql.shuffle.partitions": "8"}):
            cat = Catalog.create(base + "/cat")
            cat.sql(
                spark,
                "CREATE TABLE pe (event_id BIGINT, ts TIMESTAMP, "
                "user_id BIGINT) PARTITIONED BY (days(ts))",
            )
            tbl = cat.table("pe")
            tbl.append(half_a.coalesce(1))
            res = cat.sql(
                spark, "ALTER TABLE pe ADD PARTITION FIELD bucket(8, user_id)"
            )
            spec_after_add = res["spec_id"]
            tbl = cat.table("pe")
            tbl.append(half_b.coalesce(1))
            cat._commit_pins({"pe": tbl.metadata.current_snapshot_id})
            # cross-arity point query: exact answer, and the plan prunes
            # the NEW vintage to one hash bucket while admitting the old
            # vintage conservatively (its spec carries no user_id field)
            planned = tbl.plan_files([("user_id", "=", 7)])
            new_total = [
                e for e in tbl.current_files()
                if int(e.get("spec_id", 0) or 0) == spec_after_add
            ]
            new_hit = [
                e for e in planned
                if int(e.get("spec_id", 0) or 0) == spec_after_add
            ]
            buckets_hit = {e["partition_fields"][1] for e in new_hit}
            cross_arity_pruned = (
                0 < len(new_hit) < len(new_total) and len(buckets_hit) == 1
            )
            row = (
                tbl.scan(spark, [("user_id", "=", 7)])
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum("event_id").alias("s"),
                )
                .collect()[0]
            )
            res = cat.sql(
                spark,
                "ALTER TABLE pe REPLACE PARTITION FIELD bucket(8, user_id) "
                "WITH bucket(16, user_id)",
            )
            spec_after_replace = res["spec_id"]
            cat.sql(
                spark, "ALTER TABLE pe DROP PARTITION FIELD bucket(16, user_id)"
            )
            res = cat.sql(spark, "ALTER TABLE pe DROP PARTITION FIELD days(ts)")
            fields_after_drops = res["n_fields"]
            refused = 0
            for bad, exc in (
                ("ALTER TABLE pe DROP PARTITION FIELD days(ts)",
                 UnsupportedSQL),
                ("ALTER TABLE pe REPLACE PARTITION FIELD days(ts) WITH "
                 "event_id", UnsupportedSQL),
                ("ALTER TABLE pe ADD PARTITION FIELD md5(event_id)",
                 UnsupportedSQL),
                ("ALTER TABLE pe ADD PARTITION FIELD bucket(4, ghost)",
                 ValueError),
            ):
                try:
                    cat.sql(spark, bad)
                except exc:
                    refused += 1
            return spark.createDataFrame(
                [
                    (
                        row["cnt"], row["s"], spec_after_add,
                        spec_after_replace, fields_after_drops,
                        cross_arity_pruned, refused,
                    )
                ],
                "cnt_u7 bigint, sum_u7 bigint, spec_after_add bigint, "
                "spec_after_replace bigint, fields_after_drops bigint, "
                "cross_arity_pruned boolean, refused bigint",
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@register(
    "a5i_engine_sql_general_predicate_dml",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         o_orderkey % 4 AS pb
  FROM orders
),
kept AS (
  SELECT * FROM base
  WHERE NOT (pb = 1 OR (pb = 2 AND o_orderkey < 1000))
),
upd AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN pb = 3
                   AND (o_orderpriority LIKE '1%'
                        OR o_custkey IN (3, 7, 11))
              THEN 'Z' ELSE o_orderstatus END AS st
  FROM kept
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
       CAST(SUM(CASE WHEN st = 'Z' THEN 1 ELSE 0 END) AS BIGINT) AS n_z,
       true AS delete_pruned,
       true AS update_pruned,
       CAST(5 AS BIGINT) AS refused
FROM upd
""",
    group="A",
)
def a5i_engine_sql_general_predicate_dml(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """General-predicate SQL DELETE/UPDATE (round 14 — the engine
    analogue of Iceberg's ``deleteFromRowFilter`` arbitrary expression
    trees; ``FileBasedBookkeeper.java:188`` is one instance of that
    API): the WHERE grammar covers OR-of-conjunction trees plus
    ``IN (literals)`` and prefix ``LIKE 'pfx%'``. The 100-TB contract
    graded here is the PLAN, not just the rows: candidate files are
    pruned with the UNION of each OR-branch's stats-admissible set and
    rewritten against the full residual predicate — so the
    bucket-1-OR-cheap-bucket-2 delete below rewrites only those
    buckets' files (delete_pruned), and the LIKE/IN update rewrites
    strictly fewer files than the table holds (update_pruned). What
    stays refused, loudly: NOT (negation unbounds the prune), BETWEEN
    (spell the conjunction), non-prefix LIKE, IN (<subquery>) inside a
    tree, and un-parseable function predicates. Totals grade against
    DuckDB's replay of the same two statements."""
    from ..table import Catalog, identity
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"
    )
    base_dir = tempfile.mkdtemp(prefix="engine_gpred_")
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(base_dir + "/cat")
            df = orders.withColumn("pb", F.col("o_orderkey") % 4)
            ot = cat.create_table("ot", df.schema, partition=identity("pb"))
            ot.append(df.coalesce(4))
            cat._commit_pins({"ot": ot.metadata.current_snapshot_id})
            total_files = len(ot.plan_files())
            res = cat.sql(
                spark,
                "DELETE FROM ot WHERE pb = 1 OR (pb = 2 AND o_orderkey < 1000)",
            )
            assert res["statement"] == "delete"
            # union-of-branches pruning: only buckets 1 and 2 are
            # candidates — a selective OR must not rewrite the table
            delete_pruned = 0 < res["rewritten_files"] < total_files
            ot = cat.table("ot")
            files_after_delete = len(ot.plan_files())
            res = cat.sql(
                spark,
                "UPDATE ot SET o_orderstatus = 'Z' "
                "WHERE pb = 3 AND (o_orderpriority LIKE '1%' "
                "OR o_custkey IN (3, 7, 11))",
            )
            assert res["statement"] == "update"
            # AND distributes over the OR into both branches, so every
            # branch carries pb = 3 — candidates are exactly bucket 3's
            # files, a strict subset of the table
            update_pruned = 0 < res["rewritten_files"] < files_after_delete
            refused = 0
            for bad in (
                "DELETE FROM ot WHERE NOT pb = 1",
                "DELETE FROM ot WHERE o_orderkey BETWEEN 1 AND 5",
                "DELETE FROM ot WHERE o_orderstatus LIKE '%F'",
                "DELETE FROM ot WHERE pb = 1 OR o_custkey IN "
                "(SELECT o_custkey FROM ot)",
                "UPDATE ot SET pb = 0 WHERE substr(o_orderstatus, 1, 1) = 'F'",
            ):
                try:
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = (
                cat.read(spark, "ot")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("sum_okey"),
                    F.sum(
                        (F.col("o_orderstatus") == "Z").cast("long")
                    ).alias("n_z"),
                )
                .collect()[0]
            )
            return spark.createDataFrame(
                [
                    (
                        row["n_rows"], row["sum_okey"], row["n_z"],
                        delete_pruned, update_pruned, refused,
                    )
                ],
                "n_rows bigint, sum_okey bigint, n_z bigint, "
                "delete_pruned boolean, update_pruned boolean, "
                "refused bigint",
            )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@register(
    "a5j_engine_sql_composite_partition_ops",
    oracle="""
WITH base AS (
  SELECT o_orderkey, o_orderkey % 3 AS d, o_orderkey % 2 AS b
  FROM orders
),
after_static AS (
  SELECT * FROM base WHERE NOT (d = 1 AND b = 0)
  UNION ALL SELECT 900000001, 1, 0
  UNION ALL SELECT 900000002, 1, 0
),
after_clear AS (
  SELECT * FROM after_static WHERE NOT (d = 2 AND b = 1)
),
final AS (
  SELECT * FROM after_clear
  UNION ALL SELECT 900000003, 0, 0
  UNION ALL SELECT 900000004, 0, 1
  UNION ALL SELECT 900000005, 0, 0
  UNION ALL SELECT 900000006, 0, 1
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
       CAST(0 AS BIGINT) AS cleared_rows,
       true AS tuple_swap,
       true AS d0_compacted,
       true AS others_untouched,
       CAST(3 AS BIGINT) AS refused
FROM final
""",
    group="A",
)
def a5j_engine_sql_composite_partition_ops(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composite-spec completion of the partition-scoped verbs (round
    14 — VERDICT r13 item 3; the reference's spec is 1-D,
    Constants.java:33-35): ``INSERT OVERWRITE t PARTITION (d = 1,
    b = 0)`` statically replaces exactly ONE partition TUPLE of an
    all-identity composite (values fill the columns; an empty source
    CLEARS the tuple — Hive semantics lifted to tuples), and
    ``OPTIMIZE t WHERE d = 0`` scopes compaction to every tuple whose
    identity field d is 0 (the daily ask on a multi-field layout:
    compact today's partitions across all sibling buckets). At 100 TB
    both verbs cost O(named tuples' files): untouched tuples carry by
    PHYSICAL PATH identity (graded via others_untouched), and the
    fragment-then-compact pass shrinks only d=0's file count
    (d0_compacted) while preserving content exactly (DuckDB replays
    the whole scenario). Refusals: out-of-spec-order tuples, partial
    tuples, and scoped OPTIMIZE on a transformed (bucket) field."""
    from ..table import Catalog, composite, identity
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    base_dir = tempfile.mkdtemp(prefix="engine_cpops_")
    try:
        with conf_scope(
            spark,
            {"spark.sql.shuffle.partitions": spark.sparkContext.defaultParallelism},
        ):
            cat = Catalog.create(base_dir + "/cat")
            df = (
                orders.withColumn("d", F.col("o_orderkey") % 3)
                .withColumn("b", F.col("o_orderkey") % 2)
            )
            ct = cat.create_table(
                "ct", df.schema, partition=composite(identity("d"), identity("b"))
            )
            ct.append(df.coalesce(2))
            cat._commit_pins({"ct": ct.metadata.current_snapshot_id})
            res = cat.sql(
                spark,
                "INSERT OVERWRITE ct PARTITION (d = 1, b = 0) "
                "VALUES (900000001), (900000002)",
            )
            tuple_swap = (
                res["mode"] == "static_partition"
                and res["replaced_partitions"] == [[1, 0]]
                and res["inserted_rows"] == 2
            )
            res = cat.sql(
                spark,
                "INSERT OVERWRITE ct PARTITION (d = 2, b = 1) "
                "SELECT o_orderkey FROM ct WHERE o_orderkey < 0",
            )
            assert res["inserted_rows"] == 0  # empty static CLEARS the tuple
            ct = cat.table("ct")
            cleared_rows = (
                cat.read(spark, "ct")
                .filter((F.col("d") == 2) & (F.col("b") == 1))
                .count()
            )
            # fragment d=0 with four 1-file appends, then compact ONLY d=0
            for i, (k, bb) in enumerate(
                ((900000003, 0), (900000004, 1), (900000005, 0), (900000006, 1))
            ):
                ct.append(
                    spark.createDataFrame([(k, 0, bb)], ct.schema()).coalesce(1)
                )
            cat._commit_pins({"ct": ct.metadata.current_snapshot_id})
            before = {e["path"]: e for e in ct.current_files()}
            d0_before = [
                p for p, e in before.items()
                if (e.get("partition_fields") or [None])[0] == 0
            ]
            other_before = set(before) - set(d0_before)
            res = cat.sql(spark, "OPTIMIZE ct WHERE d = 0")
            assert all(mt[0] == 0 for mt in res["matched_tuples"])
            ct = cat.table("ct")
            after = {e["path"]: e for e in ct.current_files()}
            d0_after = [
                p for p, e in after.items()
                if (e.get("partition_fields") or [None])[0] == 0
            ]
            d0_compacted = len(d0_after) < len(d0_before)
            others_untouched = other_before <= set(after)
            refused = 0
            for bad in (
                "INSERT OVERWRITE ct PARTITION (b = 0, d = 1) VALUES (1)",
                "INSERT OVERWRITE ct PARTITION (d = 1) VALUES (1)",
                "OPTIMIZE tv WHERE id = 1",
            ):
                try:
                    if bad.startswith("OPTIMIZE"):
                        cat.sql(
                            spark,
                            "CREATE TABLE tv (id BIGINT, ts TIMESTAMP) "
                            "PARTITIONED BY (days(ts), bucket(4, id))",
                        )
                    cat.sql(spark, bad)
                except UnsupportedSQL:
                    refused += 1
            row = (
                cat.read(spark, "ct")
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.sum("o_orderkey").alias("sum_okey"),
                )
                .collect()[0]
            )
            return spark.createDataFrame(
                [
                    (
                        row["n_rows"], row["sum_okey"], cleared_rows,
                        tuple_swap, d0_compacted, others_untouched, refused,
                    )
                ],
                "n_rows bigint, sum_okey bigint, cleared_rows bigint, "
                "tuple_swap boolean, d0_compacted boolean, "
                "others_untouched boolean, refused bigint",
            )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)


@register(
    "a5k_engine_sql_ref_retention",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_okey,
       CAST(3 AS BIGINT) AS refs_at_peak,
       CAST(1 AS BIGINT) AS dropped_first,
       CAST(1 AS BIGINT) AS dropped_second,
       CAST(1 AS BIGINT) AS refs_after,
       true AS staged_gcd,
       true AS policy_visible,
       CAST(2 AS BIGINT) AS refused
FROM orders
""",
    group="A",
)
def a5k_engine_sql_ref_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Branch/tag retention (round 14 — VERDICT r13 item 4; Iceberg's
    per-ref ``max-ref-age-ms`` / ``RETAIN n DAYS`` DDL, the Reaper's
    expiry policy — Reaper.java:17-27 — generalized to refs): refs are
    GC roots, so a forgotten staging branch pins history FOREVER —
    now that a5f makes branches one SQL statement, stale-ref
    accumulation is the realistic failure mode this policy closes.

    Scenario, all through SQL: ``CREATE BRANCH wip RETAIN 0 DAYS``
    (explicit per-ref age), ``keep`` (no policy) and tag ``pin``;
    stage rows on wip (``INSERT INTO t.branch_wip``); VACUUM drops the
    aged branch FIRST and then normal reachability GC collects its
    staged-only snapshot — the unpublished parquet file is PHYSICALLY
    deleted (staged_gcd), while keep/pin and the published head ride
    through untouched. A second lap sets the table default
    ``history.expire.max-ref-age-ms = 0``: the policy catches ``keep``
    but EXEMPTS the tag (tags only age under an explicit RETAIN or the
    ...applies-to-tags property). SHOW REFS surfaces age_ms and the
    resolved max_ref_age_ms per ref (policy_visible). Refusals: a
    RETAIN unit outside the grammar and a negative retention."""
    import os as _os
    import time as _time

    from ..table import Catalog
    from ..table.sql_dml import UnsupportedSQL

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    base_dir = tempfile.mkdtemp(prefix="engine_refret_")
    try:
        cat = Catalog.create(base_dir + "/cat")
        t = cat.create_table("t", orders.schema)
        t.append(orders.coalesce(2))
        cat._commit_pins({"t": t.metadata.current_snapshot_id})
        cat.sql(spark, "ALTER TABLE t CREATE BRANCH wip RETAIN 0 DAYS")
        cat.sql(spark, "ALTER TABLE t CREATE BRANCH keep")
        cat.sql(spark, "ALTER TABLE t CREATE TAG pin")
        res = cat.sql(
            spark, "INSERT INTO t.branch_wip VALUES (900000001), (900000002)"
        )
        assert res["inserted_rows"] == 2
        t = cat.table("t")
        staged_snap = t.metadata.refs["wip"]["snapshot_id"]
        staged_paths = [
            _os.path.join(t.root, e["path"])
            for e in t.added_files(t.snapshot_by_id(staged_snap))
        ]
        assert staged_paths and all(
            _os.path.exists(p) for p in staged_paths
        )
        refs = {
            r["name"]: r
            for r in cat.sql(spark, "SHOW REFS t").collect()
        }
        refs_at_peak = len(refs)
        policy_visible = (
            refs["wip"]["max_ref_age_ms"] == 0
            and refs["keep"]["max_ref_age_ms"] is None
            and refs["pin"]["max_ref_age_ms"] is None
            and all(r["age_ms"] >= 0 for r in refs.values())
        )
        _time.sleep(0.01)
        res = cat.sql(spark, "VACUUM t RETAIN 0 SNAPSHOTS")
        dropped_first = res["expired_refs"]
        staged_gcd = (
            not any(_os.path.exists(p) for p in staged_paths)
            and res["deleted_files"] >= 1
        )
        # second lap: the table DEFAULT catches bare branches, tags
        # are exempt
        cat.sql(
            spark,
            "ALTER TABLE t SET TBLPROPERTIES "
            "('history.expire.max-ref-age-ms' = '0')",
        )
        _time.sleep(0.01)
        res = cat.sql(spark, "VACUUM t RETAIN 0 SNAPSHOTS")
        dropped_second = res["expired_refs"]
        survivors = [
            r["name"] for r in cat.sql(spark, "SHOW REFS t").collect()
        ]
        refs_after = len(survivors)
        assert survivors == ["pin"]
        refused = 0
        for bad in (
            "ALTER TABLE t CREATE BRANCH b2 RETAIN 5 WEEKS",
            "ALTER TABLE t CREATE BRANCH b2 RETAIN -1 DAYS",
        ):
            try:
                cat.sql(spark, bad)
            except UnsupportedSQL:
                refused += 1
        row = (
            cat.read(spark, "t")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("sum_okey"),
            )
            .collect()[0]
        )
        return spark.createDataFrame(
            [
                (
                    row["n_rows"], row["sum_okey"], refs_at_peak,
                    dropped_first, dropped_second, refs_after,
                    staged_gcd, policy_visible, refused,
                )
            ],
            "n_rows bigint, sum_okey bigint, refs_at_peak bigint, "
            "dropped_first bigint, dropped_second bigint, "
            "refs_after bigint, staged_gcd boolean, "
            "policy_visible boolean, refused bigint",
        )
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
