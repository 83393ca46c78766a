"""Metadata inspection tables — the engine-table equivalents of
Iceberg's ``table$files`` / ``$partitions`` / ``$snapshots`` /
``$manifests`` / ``$refs`` / ``$history`` system tables, returned as
Spark DataFrames so operators can query table health with plain SQL
(file sizes, partition balance, snapshot churn) without touching data.

The reference exposes none of this (its KPIs are stdout timers,
FileBasedBookkeeper.java:173-177); on a production table the first
debugging question is always "how many files / how big / how skewed",
so these are first-class here.

Scale design: the file-level table is produced by reading the
snapshot's manifest JSONs with ``spark.read.json`` under an explicit
schema — manifest parsing is distributed across executors, never a
driver loop, so a table with thousands of manifests plans like any
other JSON scan (and the partitions table is a plain Spark aggregate
over it, metadata-only, no data file opened). Snapshot/ref/history
tables are O(metadata-log) and built driver-side — the log is small
by construction (snapshot expiry caps it).
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    from .table import Table

# Explicit schema for manifest files ({"entries": [...]}): inference
# would make `columns` a struct keyed by this table's column names —
# a per-table schema. A map of stringified bounds keeps the inspection
# surface identical for every table (Iceberg's readable_metrics makes
# the same trade). Spark's JSON reader stringifies scalars under a
# StringType field, so numeric bounds arrive as their literal text.
_BOUNDS = T.StructType(
    [
        T.StructField("min", T.StringType()),
        T.StructField("max", T.StringType()),
        T.StructField("nulls", T.LongType()),
    ]
)
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField(
            "entries",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("rows", T.LongType()),
                        T.StructField("bytes", T.LongType()),
                        T.StructField("partition", T.LongType()),
                        # composite specs: one integral bucket per
                        # field, in field order (single-field entries
                        # leave it null)
                        T.StructField(
                            "partition_fields", T.ArrayType(T.LongType())
                        ),
                        T.StructField("columns", T.MapType(T.StringType(), _BOUNDS)),
                        T.StructField("seq", T.LongType()),
                        T.StructField("spec_id", T.LongType()),
                        T.StructField(
                            "bloom",
                            T.StructType(
                                [
                                    T.StructField("column", T.StringType()),
                                    T.StructField("bits", T.LongType()),
                                    T.StructField("k", T.LongType()),
                                    T.StructField("words", T.ArrayType(T.LongType())),
                                ]
                            ),
                        ),
                        T.StructField(
                            "token_bloom",
                            T.StructType(
                                [
                                    T.StructField("column", T.StringType()),
                                    T.StructField("bits", T.LongType()),
                                    T.StructField("k", T.LongType()),
                                    T.StructField("words", T.ArrayType(T.LongType())),
                                ]
                            ),
                        ),
                        # row-lineage bookkeeping (Iceberg v3): omitting
                        # these from the distributed read made every
                        # _row_id/_last_updated_seq silently NULL exactly
                        # once manifests crossed the distributed-planning
                        # threshold
                        T.StructField("first_row_id", T.LongType()),
                        T.StructField("row_ids_inline", T.BooleanType()),
                    ]
                )
            ),
        )
    ]
)

FILES_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType()),
        T.StructField("partition", T.LongType()),
        T.StructField("partition_fields", T.ArrayType(T.LongType())),
        T.StructField("record_count", T.LongType()),
        T.StructField("file_size_bytes", T.LongType()),
        T.StructField("lower_bounds", T.MapType(T.StringType(), T.StringType())),
        T.StructField("upper_bounds", T.MapType(T.StringType(), T.StringType())),
        T.StructField("null_counts", T.MapType(T.StringType(), T.LongType())),
        T.StructField("manifest_path", T.StringType()),
    ]
)


def files_df(
    table: "Table",
    spark: SparkSession,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """One row per live data file of the (current / time-travel /
    ref'd) snapshot: path, partition, rows, bytes, per-column bounds."""
    _, snap, _ = table.read_state(snapshot_id=snapshot_id, ref=ref)
    if snap is None or not snap.manifests:
        return spark.createDataFrame([], FILES_SCHEMA)
    paths = [os.path.join(table.root, m) for m in snap.manifests]
    return (
        spark.read.schema(MANIFEST_SCHEMA)
        .option("multiLine", "true")
        .json(paths)
        .select(F.input_file_name().alias("manifest_path"), F.explode("entries").alias("e"))
        .select(
            F.col("e.path").alias("file_path"),
            F.col("e.partition").alias("partition"),
            # composite specs: the per-field bucket tuple (null for
            # single-field/unpartitioned entries)
            F.col("e.partition_fields").alias("partition_fields"),
            F.col("e.rows").alias("record_count"),
            F.col("e.bytes").alias("file_size_bytes"),
            F.transform_values("e.columns", lambda _, v: v["min"]).alias("lower_bounds"),
            F.transform_values("e.columns", lambda _, v: v["max"]).alias("upper_bounds"),
            F.transform_values("e.columns", lambda _, v: v["nulls"]).alias("null_counts"),
            "manifest_path",
        )
    )


def partitions_df(
    table: "Table",
    spark: SparkSession,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Partition balance: files / rows / bytes per partition bucket —
    the skew-and-small-files health check, computed entirely from
    manifests (a metadata-only aggregate; no data file is opened)."""
    return (
        files_df(table, spark, snapshot_id=snapshot_id, ref=ref)
        .groupBy("partition", "partition_fields")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("total_bytes"),
        )
    )


def manifests_df(
    table: "Table",
    spark: SparkSession,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """One row per manifest of the snapshot: entry/row/byte totals —
    the input to compaction and manifest-merge decisions."""
    return (
        files_df(table, spark, snapshot_id=snapshot_id, ref=ref)
        .groupBy("manifest_path")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("file_size_bytes"),
        )
    )


def snapshots_df(table: "Table", spark: SparkSession) -> DataFrame:
    """The commit log: one row per retained snapshot."""
    schema = T.StructType(
        [
            T.StructField("snapshot_id", T.LongType()),
            T.StructField("parent_id", T.LongType()),
            T.StructField("committed_at_ms", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("manifest_count", T.IntegerType()),
            T.StructField("schema_id", T.IntegerType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    md = table.metadata  # one load: is_current and the log agree
    rows = [
        (
            s.snapshot_id,
            s.parent_id,
            s.timestamp_ms,
            s.operation,
            len(s.manifests),
            s.schema_id,
            s.snapshot_id == md.current_snapshot_id,
        )
        for s in md.snapshots
    ]
    return spark.createDataFrame(rows, schema).withColumn(
        "committed_at", F.timestamp_millis("committed_at_ms")
    )


def refs_df(table: "Table", spark: SparkSession) -> DataFrame:
    """Named refs: branches (movable, WAP staging) and tags (pins)."""
    schema = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("snapshot_id", T.LongType()),
        ]
    )
    rows = [(k, v["type"], v["snapshot_id"]) for k, v in table.metadata.refs.items()]
    return spark.createDataFrame(rows, schema)
