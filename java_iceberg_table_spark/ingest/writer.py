"""Writer role: generate event records, write parquet data files, hand
off pending-commit metadata ("monikers") to the bookkeeper.

Reference behavior re-expressed (Writer.java):
- R2  synthetic records: monotonic message_id, uuid-like data (32 hex
      characters), now() timestamp, one shared timeperiod_loadedBy per
      batch, ~1750-byte binary payload (50 uuid-ish chunks,
      Writer.java:52-72) — but SEEDED so tests can assert exact row
      sets. Each column is drawn in bulk, in one call to a seeded numpy
      generator; the two variable-width columns are fixed width, so
      each is one character buffer with arithmetic offsets, built
      without a Python object per row.
- R4  one parquet file per createDataFile call, partition-aware path
      (Writer.java:74-108); files written with pyarrow (driver-side
      metadata plane — these are many small files by design; the big
      data path is Table.append via Spark). A parquet file's manifest
      stats come from the footer its writer returned, so the file is
      not re-opened to read them back.
- R8  pending-commit handoff: JSON, write-temp-then-atomic-rename to
      tc_<uuid>.json (Writer.java:160-170).
- The direct-commit variant (writeandcommitfiles, Main.java:26-34)
  is write_and_commit() — the contended baseline the decoupled design
  exists to avoid.
"""

from __future__ import annotations

import os
import uuid as uuid_mod

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..table.format import write_json_atomic
from ..table.stats import bounded, metadata_stats
from ..table.table import Table

EVENTS_SCHEMA = pa.schema(
    [
        pa.field("message_id", pa.int64(), nullable=False),
        pa.field("data", pa.string()),
        pa.field("timestamp", pa.timestamp("us", tz="UTC")),
        pa.field("timeperiod_loadedBy", pa.int64()),
        pa.field("message_body", pa.binary()),
    ]
)

PAYLOAD_BYTES = 1750  # Writer.java:57-63 (emulates Kafka avg 1432 B)
MAX_ROWS = (2**31 - 1) // PAYLOAD_BYTES  # int32 offsets of one file's payloads


DATA_CHARS = 32  # one uuid's hex digits
_HEX = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def _fixed_width(typ: pa.DataType, chars: np.ndarray, n_rows: int, width: int) -> pa.Array:
    """``n_rows`` values of ``width`` bytes each, laid out back to back
    in ``chars``, as one arrow array over that buffer."""
    offsets = np.arange(0, (n_rows + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(typ, n_rows, [None, pa.py_buffer(offsets), pa.py_buffer(chars)])


def make_records(
    n_rows: int, timeperiod_us: int, seed: int, start_id: int = 0
) -> pa.Table:
    """Deterministic analogue of createRecords (Writer.java:52-72).
    ``seed`` must be non-negative (numpy's generator takes no negative
    seed), and one file's payloads must fit the int32 offsets of an
    arrow binary array: at most MAX_ROWS rows."""
    if seed < 0:
        raise ValueError(f"seed must be non-negative, got {seed}")
    if n_rows > MAX_ROWS:
        raise ValueError(
            f"{n_rows} rows of {PAYLOAD_BYTES}-byte payloads overflow one "
            f"binary array; at most {MAX_ROWS}"
        )
    rng = np.random.default_rng(seed)
    digits = np.frombuffer(rng.bytes(n_rows * DATA_CHARS // 2), dtype=np.uint8)
    hexed = np.empty(n_rows * DATA_CHARS, dtype=np.uint8)
    hexed[0::2], hexed[1::2] = _HEX[digits >> 4], _HEX[digits & 15]
    body = np.frombuffer(rng.bytes(n_rows * PAYLOAD_BYTES), dtype=np.uint8)
    stamps = np.full(n_rows, timeperiod_us, dtype=np.int64)
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(start_id, start_id + n_rows, dtype=np.int64)),
            _fixed_width(pa.string(), hexed, n_rows, DATA_CHARS),
            pa.array(stamps, type=EVENTS_SCHEMA.field("timestamp").type),
            pa.array(stamps),
            _fixed_width(pa.binary(), body, n_rows, PAYLOAD_BYTES),
        ],
        schema=EVENTS_SCHEMA,
    )


class Writer:
    def __init__(
        self,
        table: Table,
        writer_id: int = 0,
        seed: int = 42,
        file_format: str | None = None,
    ):
        self.table = table
        self.writer_id = writer_id
        self.seed = seed
        self._file_counter = 0
        # R5: the data-file format toggle (Constants.java:16,
        # Writer.java:92-96) — a table property, overridable per writer.
        self.file_format = (
            file_format
            or table.metadata.properties.get("write.format.default", "parquet")
        )
        if self.file_format not in ("parquet", "avro"):
            raise ValueError(f"unsupported data-file format {self.file_format!r}")

    def _write_file(self, records: "pa.Table", full: str) -> dict:
        """Write one data file in the toggled format; return its stats.
        Parquet stats come from the footer (R17) the writer returned;
        avro files carry write-time metrics computed from the in-memory
        batch — the same split as the reference (Writer.java:107 vs
        ParquetUtil)."""
        if self.file_format == "parquet":
            footers: list = []
            pq.write_table(records, full, metadata_collector=footers)
            return bounded(metadata_stats(footers[0], os.path.getsize(full)))
        from ..sources.avro_io import avro_schema_of, arrow_stats, write_ocf
        from pyspark.sql.types import StructType

        spark_schema = StructType.fromJson(self.table.metadata.schema_json)
        # stats come from the PRE-cast batch so timestamp min/max record
        # ISO strings exactly like the parquet footer path (_plain):
        # pruning on a table whose history spans the format toggle must
        # compare like-typed bounds
        original = records
        # timestamps travel as integer µs in avro (timestamp-micros)
        cast_cols = {}
        for name in records.column_names:
            col = records.column(name)
            if pa.types.is_timestamp(col.type):
                cast_cols[name] = col.cast(pa.int64())
        if cast_cols:
            for name, col in cast_cols.items():
                records = records.set_column(
                    records.column_names.index(name), name, col
                )
        rows = records.to_pylist()
        write_ocf(full, rows, avro_schema_of(spark_schema))
        return arrow_stats(original, os.path.getsize(full))

    def create_data_files(
        self, n_files: int, rows_per_file: int, timeperiod_us: int
    ) -> list[dict]:
        """R6: write n_files data files (parquet or avro per the R5
        toggle) for one shared timeperiod stamp (Writer.java:126-137);
        returns manifest entries."""
        md = self.table.metadata
        t = self.table.transform
        from ..table.transforms import CompositeTransform

        if isinstance(t, CompositeTransform):
            raise ValueError(
                "the synthetic-record writer mirrors the reference's "
                "single-field timeperiod spec (Writer.java:126-137); "
                "composite-partitioned tables ingest via Table.append "
                "or the connector"
            )
        spec_id = self.table.current_spec_id(md)
        entries = []
        for _ in range(n_files):
            bucket = t.apply_py(timeperiod_us) if t else None
            sub = f"__pb={bucket}" if t else "unpartitioned"
            ext = "parquet" if self.file_format == "parquet" else "avro"
            fname = f"w{self.writer_id}-{self._file_counter}-{uuid_mod.uuid4().hex}.{ext}"
            rel = os.path.join("data", sub, fname)
            full = os.path.join(self.table.root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            records = make_records(
                rows_per_file,
                timeperiod_us,
                seed=self.seed * 100003 + self.writer_id * 1009 + self._file_counter,
                start_id=self._file_counter * rows_per_file,
            )
            st = self._write_file(records, full)
            entries.append(
                {
                    "path": rel,
                    "rows": st["rows"],
                    "bytes": st["bytes"],
                    "partition": bucket,
                    "columns": st["columns"],
                    # spec stamp (evolution-aware pruning; 0 implicit)
                    **({"spec_id": spec_id} if spec_id else {}),
                }
            )
            self._file_counter += 1
        return entries

    def write_pending_commit(self, entries: list[dict]) -> str:
        """R8: publish the moniker atomically — visible to the
        bookkeeper only after the rename (Writer.java:160-170)."""
        pending_dir = os.path.join(self.table.root, "_pending")
        os.makedirs(pending_dir, exist_ok=True)
        final = os.path.join(pending_dir, f"tc_{uuid_mod.uuid4().hex}.json")
        write_json_atomic(final, {"entries": entries})
        return final

    def run_iteration(
        self, n_files: int, rows_per_file: int, timeperiod_us: int
    ) -> str:
        entries = self.create_data_files(n_files, rows_per_file, timeperiod_us)
        return self.write_pending_commit(entries)

    def write_and_commit(
        self, n_files: int, rows_per_file: int, timeperiod_us: int
    ):
        """The contended direct-commit baseline (Main.java:26-34) —
        every writer commits itself, racing on the version CAS."""
        entries = self.create_data_files(n_files, rows_per_file, timeperiod_us)
        return self.table.append_entries(entries)
