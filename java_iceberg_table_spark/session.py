"""SparkSession factory.

Defaults are chosen for correctness against the DuckDB oracle and for
scale-readiness:

- UTC session timezone so timestamp values are engine-independent.
- ``nanosAsLong`` because the ``events`` fixture carries
  TIMESTAMP(NANOS) which Spark 4 otherwise refuses to read
  (FIXTURES.md §2).
- AQE on: runtime partition coalescing + skew-join handling are the
  first line of defense at 100 TB.
- Arrow on: every pandas_udf / toPandas crossing is Arrow-batched.
- Shuffle partitions default to the local core count; on a real
  cluster this is overridden by the deploy config (AQE coalesces
  anyway).

``conf_scope`` is the one way product code changes a session conf
around an action: it sets the overrides on entry and restores the
prior values (unsetting keys that had none) on exit, exceptions
included, so a query never leaks a conf change into the session.
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "java-iceberg-table-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextlib.contextmanager
def conf_scope(
    spark: SparkSession, overrides: dict[str, str | int | None]
) -> Iterator[None]:
    """Set each session conf in ``overrides`` for the duration of the
    block, then restore the prior values in reverse order, also on an
    exception. A key with no prior value is unset again; a ``None``
    override leaves its key untouched."""
    saved: list[tuple[str, str | None]] = []
    try:
        for key, value in overrides.items():
            if value is None:
                continue
            saved.append((key, spark.conf.get(key, None)))
            spark.conf.set(key, str(value))
        yield
    finally:
        for key, prior in reversed(saved):
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
