"""Metadata inspection tables — the engine-table equivalents of
Iceberg's ``table$files`` / ``$partitions`` / ``$snapshots`` /
``$manifests`` / ``$refs`` / ``$history`` system tables, returned as
Spark DataFrames so operators can query table health with plain SQL
(file sizes, partition balance, snapshot churn) without touching data.

The reference exposes none of this (its KPIs are stdout timers,
FileBasedBookkeeper.java:173-177); on a production table the first
debugging question is always "how many files / how big / how skewed",
so these are first-class here.

Scale design: the file-level table is built from the same manifest
walk as scan planning — each manifest parsed by format.read_manifest
in a Spark task, one row per entry — so a table with thousands of
manifests plans like any other scan and building the DataFrame starts
no job (the partitions and manifests tables are plain Spark aggregates
over it, metadata-only, no data file opened). Snapshot/ref/history
tables are O(metadata-log) and built driver-side — the log is small
by construction (snapshot expiry caps it).
"""

from __future__ import annotations

import json
import os
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:  # pragma: no cover
    from .table import Table

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


def _bound(v):
    """A bound as the files table shows it: a string as itself, any
    other value as its JSON text (true, 1e+20, 0.30000000000000004)."""
    return v if v is None or isinstance(v, str) else json.dumps(v)


def _file_row(manifest_uri: str, e: dict) -> tuple:
    """One FILES_SCHEMA row of a manifest entry."""
    cols = e.get("columns")

    def each(key, render=lambda v: v):
        return None if cols is None else {c: render(b.get(key)) for c, b in cols.items()}

    return (
        e.get("path"),
        e.get("partition"),
        # composite specs: the per-field bucket tuple (None for
        # single-field/unpartitioned entries)
        e.get("partition_fields"),
        e.get("rows"),
        e.get("bytes"),
        each("min", _bound),
        each("max", _bound),
        each("nulls"),
        manifest_uri,
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
    root = os.path.abspath(table.root)
    rows = table._manifest_rdd(
        spark,
        snap.manifests,
        lambda m, es: [_file_row("file://" + os.path.join(root, m), e) for e in es],
    )
    return spark.createDataFrame(rows, FILES_SCHEMA)


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
