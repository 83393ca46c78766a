"""Per-file NDV sketches — the ANALYZE TABLE path.

Iceberg attaches distinct-count sketches (theta sketches in Puffin
statistics files) to table metadata so planners can estimate
COUNT(DISTINCT) and join cardinalities without scanning data. This is
that capability rebuilt Spark-first with a KMV (k-minimum-values)
sketch:

- hash every value with ``xxhash64`` (a Spark builtin, whole-stage
  codegen — the hashing never leaves the JVM) and keep the k smallest
  DISTINCT hashes per (file, column);
- the k-th smallest hash, normalized to [0,1), estimates density:
  NDV ~= (k-1)/u_k (the classic KMV estimator); fewer than k distinct
  hashes is the exact distinct count;
- sketches are MERGEABLE by hash union + re-truncate to k, so the NDV
  of ANY file subset — e.g. the files surviving partition pruning for
  one day — is a driver-side merge of per-file sketches, no data read.

Scale shape: the ANALYZE job is one distinct + one per-file top-k
(window) per column over the file being sketched — linear, fully
distributed, run once; every later estimate is metadata-only. A file
carried by reference through compaction keeps a valid sketch (content
unchanged); rewritten files need re-analysis (the staleness is recorded
via the analyzed snapshot id).

Reference: the reference engine stores only min/max/null footer stats
(Writer.java:107); NDV sketches are the Iceberg-ecosystem extension a
100 TB planner needs for DISTINCT estimates and join sizing.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

DEFAULT_K = 256
_TWO63 = 1 << 63
_TWO64 = 1.0 * (1 << 64)


def kmv_estimate(hashes: list[int], k: int) -> float:
    """NDV estimate from a merged, sorted-ascending distinct-hash list
    (signed 64-bit values). < k hashes -> exact count."""
    m = len(hashes)
    if m < k:
        return float(m)
    kth = hashes[k - 1]
    u = (kth + _TWO63 + 1) / _TWO64  # normalized (0, 1]
    return (k - 1) / u


def merge_sketches(sketches: list[list[int]], k: int) -> list[int]:
    """Union of per-file sketches re-truncated to the k smallest
    distinct hashes — the KMV merge (closed under union, like theta)."""
    merged: set[int] = set()
    for s in sketches:
        merged.update(s)
    return sorted(merged)[:k]


def compute_file_sketches(
    df: DataFrame,
    columns: list[str],
    k: int = DEFAULT_K,
) -> dict[str, dict[str, list[int]]]:
    """{column: {file: sorted k-min distinct hashes}} over ``df``, a
    table read that carries the root-relative ``__file`` key of each
    row (every data-file format, one frame). One distinct + one
    windowed top-k per column; the window partitions by file, so no
    global sort and the shuffle holds (file, hash) pairs of DISTINCT
    values only."""
    out: dict[str, dict[str, list[int]]] = {}
    w = Window.partitionBy("__file").orderBy("h")
    for col in columns:
        pairs = (
            df.where(F.col(col).isNotNull())
            .select("__file", F.xxhash64(col).alias("h"))
            .distinct()
        )
        topk = (
            pairs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .groupBy("__file")
            .agg(F.sort_array(F.collect_list("h")).alias("hs"))
        )
        # one row per FILE: metadata-scale
        out[col] = {r["__file"]: [int(h) for h in r["hs"]] for r in topk.collect()}
    return out


def write_stats_file(
    root: str, snapshot_id: int, k: int, sketches: dict
) -> str:
    """Persist the sketch set under metadata/ (the Puffin analogue);
    returns the root-relative path the table property points at."""
    rel = os.path.join("metadata", f"stats-{snapshot_id}-{uuid.uuid4().hex}.json")
    path = os.path.join(root, rel)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps({"snapshot_id": snapshot_id, "k": k, "columns": sketches}))
    os.replace(tmp, path)
    return rel


def load_stats_file(root: str, rel: str) -> dict:
    with open(os.path.join(root, rel)) as f:
        return json.load(f)
