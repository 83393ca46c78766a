"""Manifest-level Bloom-filter file skipping for point lookups.

Min/max footer stats (table/stats.py) prune RANGE predicates, but a
point lookup on a column whose values are hash-distributed across
files (any non-sort column) matches every file's [min, max] and scans
the whole table. A per-file Bloom filter in the manifest entry closes
that gap: ``plan_files`` rules out every file whose filter proves the
key absent — no parquet footer is even opened, the decision is made
from manifest metadata alone (one step earlier than parquet's own
row-group bloom filters, which require touching each file).

Design:
- built DISTRIBUTED, per data file, in one Spark job per append: read
  back the written files with ``_metadata.file_path``, hash each value
  k ways, explode to (file, word, bit) and ``bit_or``-aggregate — the
  only thing collected is the finished filters (manifest-scale).
- per-file sizing: ``bits = next_pow2(rows * bits_per_key)`` with
  bits_per_key=10, k=7 → ~1% false positives regardless of file size.
- hash = CRC32 over a seeded string rendering of the value. CRC32 is
  the one hash that is bit-identical between a Spark expression
  (``F.crc32``) and the Python standard library (``zlib.crc32``), so
  the build side (executors) and the probe side (driver planning)
  need no shared native library.
- probes are conservative: a file with no bloom for the column, or a
  predicate other than equality, falls back to min/max semantics.
- the build hashes Spark's ``CAST(col AS STRING)``, so each bloom
  records the column's type (and, for a session-zoned TIMESTAMP, the
  session time zone the cast rendered in); ``bloom_key`` maps a
  predicate literal to that same string, or to None when it cannot
  know it, and the probe then keeps the file.
- a writer task that holds the rows but no SparkSession (the
  connector) builds the same filter with Arrow and numpy
  (``rendered_keys``, ``bloom_of_keys``), rendering each value as
  ``bloom_key`` does.
"""

from __future__ import annotations

import datetime as _dt
import re
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import read_paths

BITS_PER_KEY = 10
NUM_HASHES = 7
_SEED_FMT = "bloomseed{i}:"


def _rel_key(p: str) -> str:
    """Root-relative ``data/...`` key for a file path — the same key
    ``table._file_key_col`` extracts on the scan side. Basenames are
    NOT usable: a partitioned append emits the same part-file name
    into every partition directory, and basename-keyed builds would
    merge those files' value sets into one oversized shared bloom
    (never a false negative, but prunes less than sized for).
    Falls back to the basename only for paths outside a data/ root
    (direct test harness calls).

    The greedy ``^.*/`` prefix anchors the LAST ``/data/`` segment —
    exactly what the Spark-side ``regexp_extract(^.*/(data/.+)$)``
    mirror extracts. ``re.search(r"/(data/.+)$")`` would anchor the
    FIRST ``/data/``; for a table rooted under a path that itself
    contains a ``data`` component (e.g. ``/data/warehouse/t``) the
    build keys and scan keys would then disagree and every probe
    would see an all-zero bloom (silent missing rows)."""
    m = re.match(r"^.*/(data/.+)$", p)
    return m.group(1) if m else p.rsplit("/", 1)[-1]


def _rel_key_col():
    """Spark-side mirror of ``_rel_key`` over ``_metadata.file_path``."""
    ext = F.regexp_extract(F.col("_metadata.file_path"), r"^.*/(data/.+)$", 1)
    base = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    return F.when(ext == "", base).otherwise(ext)


def _next_pow2(n: int) -> int:
    p = 1024
    while p < n:
        p <<= 1
    return p


def sized_bits(rows: int) -> int:
    return _next_pow2(max(1, rows) * BITS_PER_KEY)


def build_file_blooms(
    spark: SparkSession,
    file_rows: dict[str, int],
    column: str,
    schema: StructType | None = None,
) -> dict[str, dict]:
    """One Spark job: per-file Bloom filters over ``column`` for every
    (absolute path -> row count) in ``file_rows``. Returns
    {abs_path: {"column", "bits", "k", "words": [int64 × bits/64]}}.
    ``schema`` is the files' read schema, at least ``column``; None
    infers it from the files at the cost of one more job.

    The per-file bit width is keyed into the plan as a literal map
    (path basename -> bits), so files of different sizes get
    right-sized filters in the same job."""
    paths = sorted(file_rows)
    base_bits = {_rel_key(p): sized_bits(file_rows[p]) for p in paths}
    bits_map = F.create_map(
        *[F.lit(x) for kv in base_bits.items() for x in kv]
    )
    files = read_paths(spark, "parquet", paths, schema)
    rendering = {"type": files.schema[column].dataType.simpleString()}
    if rendering["type"] == "timestamp":
        rendering["tz"] = spark.conf.get("spark.sql.session.timeZone")
    df = (
        files.select(
            F.col(column).cast("string").alias("__v"),
            _rel_key_col().alias("__f"),
        )
        .filter(F.col("__v").isNotNull())
        .withColumn("__bits", F.element_at(bits_map, F.col("__f")))
    )
    pos = F.array(
        *[
            F.pmod(
                F.crc32(F.concat(F.lit(_SEED_FMT.format(i=i)), F.col("__v")).cast("binary")),
                F.col("__bits"),
            )
            for i in range(NUM_HASHES)
        ]
    )
    words = (
        df.select("__f", F.explode(pos).alias("__p"))
        .select(
            "__f",
            (F.col("__p") / 64).cast("long").alias("__w"),
            # F.shiftleft only takes a literal count; the per-row shift
            # needs the SQL form
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))").alias(
                "__m"
            ),
        )
        .groupBy("__f", "__w")
        .agg(F.bit_or("__m").alias("__word"))
        .collect()
    )
    by_file: dict[str, dict[int, int]] = {}
    for r in words:
        by_file.setdefault(r["__f"], {})[int(r["__w"])] = int(r["__word"])
    out: dict[str, dict] = {}
    for p in paths:
        base = _rel_key(p)
        bits = base_bits[base]
        dense = [0] * (bits // 64)
        for w, v in by_file.get(base, {}).items():
            dense[w] = v
        out[p] = {
            "column": column,
            **rendering,
            "bits": bits,
            "k": NUM_HASHES,
            "words": dense,
        }
    return out


_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def bloom_key(bloom: dict, value: object) -> str | None:
    """The string the build hashed for a row equal to the predicate
    literal ``value`` — Spark's ``CAST(col AS STRING)`` under the
    bloom's recorded column type — or None when that string cannot be
    known from the literal, in which case the caller keeps the file.

    Naive datetimes (and ISO strings on temporal columns) are UTC, the
    convention of the footer stats; a TIMESTAMP renders in the session
    zone the build ran under. Doubles render only integral values of
    magnitude in [1, 1e7), where Java's ``Double.toString`` and
    ``f"{v:.1f}"`` agree. A bloom with no recorded type (built before
    types were recorded) probes int and string literals as
    ``str(value)``."""
    if value is None or isinstance(value, bool):
        return None
    t = bloom.get("type")
    if t is None:
        return str(value) if isinstance(value, (int, str)) else None
    if t == "string":
        return value if isinstance(value, str) else None
    if t in _INTEGRAL or t in ("float", "double"):
        if not isinstance(value, (int, float)) or value != value:
            return None
        if isinstance(value, float) and not value.is_integer():
            return None
        if t in _INTEGRAL:
            return str(int(value))
        return f"{float(value):.1f}" if 1 <= abs(value) < 1e7 else None
    if t not in ("date", "timestamp", "timestamp_ntz"):
        return None
    if isinstance(value, str):
        try:
            value = _dt.datetime.fromisoformat(value)
        except ValueError:
            return None
    if not isinstance(value, _dt.datetime):
        if not isinstance(value, _dt.date):
            return None
        value = _dt.datetime(value.year, value.month, value.day)
    if value.tzinfo is not None:
        value = value.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    if t == "date":
        return value.date().isoformat() if value.time() == _dt.time() else None
    if t == "timestamp":
        from zoneinfo import ZoneInfo

        try:
            zone = ZoneInfo(bloom.get("tz") or "")
            value = value.replace(tzinfo=_dt.timezone.utc).astimezone(zone)
        except (ValueError, KeyError, OSError, OverflowError):
            return None  # a zone id zoneinfo does not know, or no year left
    if not 1000 <= value.year <= 9999:
        return None
    frac = f".{value.microsecond:06d}".rstrip("0") if value.microsecond else ""
    return value.strftime("%Y-%m-%d %H:%M:%S") + frac


def _bit_positions(bits: int, k: int, s: str):
    for i in range(k):
        yield zlib.crc32((_SEED_FMT.format(i=i) + s).encode("utf-8")) % bits


def rendered_keys(rendering: dict, values):
    """``bloom_key`` of every distinct non-null value of an Arrow
    column under ``rendering`` (a bloom's column and type), as an
    Arrow string array, or None when some value cannot be rendered.
    Strings, integers, dates and UTC timestamps render in Arrow, as
    ``bloom_key`` renders them; other types value by value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    distinct = pc.unique(values).drop_null()
    t = rendering.get("type")
    if t == "string" or t in _INTEGRAL:
        return pc.cast(distinct, pa.string())
    if t == "date" or t == "timestamp_ntz" or (t == "timestamp" and rendering.get("tz") == "UTC"):
        if len(distinct) == 0:
            return pa.array([], pa.string())
        years = pc.min_max(pc.year(distinct))
        if years["min"].as_py() < (1 if t == "date" else 1000) or years["max"].as_py() > 9999:
            return None
        if t == "date":
            return pc.cast(distinct, pa.string())
        # 'yyyy-MM-dd HH:mm:ss', then the microseconds without their
        # trailing zeros, as Spark's CAST(ts AS STRING) in UTC
        us = pc.cast(pc.cast(distinct, pa.timestamp("us", distinct.type.tz)), pa.int64())
        wall = pc.cast(us, pa.timestamp("us"))
        secs = pc.cast(pc.floor_temporal(wall, unit="second"), pa.timestamp("s"))
        base = pc.strftime(secs, format="%Y-%m-%d %H:%M:%S")
        frac_us = pc.add(pc.multiply(pc.millisecond(wall), 1000), pc.microsecond(wall))
        frac = pc.utf8_rtrim(pc.utf8_lpad(pc.cast(frac_us, pa.string()), 6, "0"), "0")
        return pc.if_else(
            pc.equal(frac_us, 0), base, pc.binary_join_element_wise(base, frac, ".")
        )
    keys = []
    for v in distinct.to_pylist():
        k = bloom_key(rendering, v)
        if k is None:
            return None
        keys.append(k)
    return pa.array(keys, pa.string())


def _crc_table():
    import numpy as np

    table = np.arange(256, dtype=np.uint32)
    for _ in range(8):
        table = np.where(table & 1, (table >> 1) ^ np.uint32(0xEDB88320), table >> 1)
    return table.astype(np.uint32)


def bloom_of_keys(rendering: dict, keys, rows: int) -> dict:
    """One file's value bloom built without Spark, for writers that
    hold the rows but no SparkSession (the connector's executor
    tasks). ``rendering`` is the bloom minus its bits: column and type
    (and the zone of a TIMESTAMP); ``keys`` (an Arrow string array,
    duplicates allowed) are the file's values rendered by
    ``rendered_keys`` under it, the probe's own rendering, so build
    and probe agree by construction. Sized and hashed like
    ``build_file_blooms``. The CRC32 of seed + key is the key's CRC32
    continued from the seed's, computed for all keys and seeds at once
    one byte position at a time, longest keys first. Words are signed
    longs, as Spark's are."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = pc.unique(keys)
    lens = pc.binary_length(keys).to_numpy(zero_copy_only=False)
    order = np.argsort(-lens, kind="stable")
    keys, lens = pc.take(keys, pa.array(order)), lens[order]
    off = np.frombuffer(keys.buffers()[1], dtype=np.int32)[keys.offset : keys.offset + len(keys) + 1]
    data = np.frombuffer(keys.buffers()[2] or b"", dtype=np.uint8)
    table = _crc_table()
    ones = np.uint32(0xFFFFFFFF)
    seeds = np.array(
        [zlib.crc32(_SEED_FMT.format(i=i).encode("utf-8")) for i in range(NUM_HASHES)],
        dtype=np.uint32,
    )
    state = np.repeat((seeds ^ ones)[:, None], len(keys), axis=1)
    longest = int(lens[0]) if len(lens) else 0
    # keys still running at byte j: a prefix, since lengths descend
    running = np.searchsorted(-lens, -np.arange(1, longest + 1), side="right")
    for j, n in enumerate(running):
        s = state[:, :n]
        state[:, :n] = table[(s ^ data[off[:n] + j]) & 0xFF] ^ (s >> 8)
    bits = sized_bits(rows)
    pos = ((state ^ ones) % np.uint32(bits)).ravel().astype(np.uint64)
    words = np.zeros(bits // 64, dtype=np.uint64)
    np.bitwise_or.at(words, pos // np.uint64(64), np.uint64(1) << (pos % np.uint64(64)))
    return {**rendering, "bits": bits, "k": NUM_HASHES, "words": words.view(np.int64).tolist()}


def bloom_may_contain(bloom: dict, value: object) -> bool:
    """Driver-side probe, hash-identical to the Spark build side: it
    hashes ``str(value)``, so planners pass ``bloom_key``'s string."""
    words = bloom["words"]
    # words carry Spark's SIGNED longs; Python's & applies two's-
    # complement semantics to negative ints, so masking is exact
    return all(
        int(words[p // 64]) & (1 << (p % 64))
        for p in _bit_positions(int(bloom["bits"]), int(bloom["k"]), str(value))
    )


def build_file_token_blooms(
    spark: SparkSession,
    paths: list[str],
    column: str,
    schema: StructType | None = None,
) -> dict[str, dict]:
    """Per-file Bloom filters over the DISTINCT whitespace TOKENS of a
    text column — keyword-search file skipping for document corpora: a
    `text has-token w` lookup rules out every file whose filter proves
    the token absent, from manifest metadata alone. Two small Spark
    jobs per append: one distinct-token count per file (exact sizing —
    token cardinality is not derivable from row counts), one
    hash+bit_or build. Same CRC32 build/probe parity contract as the
    value blooms above; probe via ``bloom_may_contain``. ``schema`` as
    for ``build_file_blooms``."""
    toks = (
        read_paths(spark, "parquet", paths, schema)
        .select(
            F.explode(F.split(F.col(column), "\\s+")).alias("__t"),
            _rel_key_col().alias("__f"),
        )
        .filter(F.col("__t") != "")
        .distinct()
    )
    toks = toks.persist()
    try:
        counts = {
            r["__f"]: r["n"]
            for r in toks.groupBy("__f").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        base_bits = {f: sized_bits(n) for f, n in counts.items()}
        bits_map = F.create_map(
            *[F.lit(x) for kv in base_bits.items() for x in kv]
        )
        df = toks.withColumn("__bits", F.element_at(bits_map, F.col("__f")))
        pos = F.array(
            *[
                F.pmod(
                    F.crc32(
                        F.concat(F.lit(_SEED_FMT.format(i=i)), F.col("__t")).cast(
                            "binary"
                        )
                    ),
                    F.col("__bits"),
                )
                for i in range(NUM_HASHES)
            ]
        )
        words = (
            df.select("__f", F.explode(pos).alias("__p"))
            .select(
                "__f",
                (F.col("__p") / 64).cast("long").alias("__w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(__p % 64 AS INT))"
                ).alias("__m"),
            )
            .groupBy("__f", "__w")
            .agg(F.bit_or("__m").alias("__word"))
            .collect()
        )
    finally:
        toks.unpersist()
    by_file: dict[str, dict[int, int]] = {}
    for r in words:
        by_file.setdefault(r["__f"], {})[int(r["__w"])] = int(r["__word"])
    out: dict[str, dict] = {}
    for p in paths:
        base = _rel_key(p)
        if base not in base_bits:
            continue  # file had no tokens
        bits = base_bits[base]
        dense = [0] * (bits // 64)
        for w, v in by_file.get(base, {}).items():
            dense[w] = v
        out[p] = {
            "column": column,
            "bits": bits,
            "k": NUM_HASHES,
            "words": dense,
        }
    return out
