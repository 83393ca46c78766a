"""The traced run's hooks into the table and ingest layers, and the
per-layer metrics computed from their spans.

Spans wrap public functions only, from outside the program:
``Writer.create_data_files`` / ``write_pending_commit``,
``Bookkeeper.run_once``, ``Reaper.run_once``, ``Table.append_entries`` /
``delete_where`` / ``plan_files`` / ``count_rows`` / ``scan``, and
``format.commit`` / ``try_commit_version`` / ``load_metadata`` /
``read_manifest`` / ``write_manifest``. Counts that belong to a commit
(metadata loads, manifest reads and writes) are charged to the
``Table.append_entries`` span open on the same thread."""

from __future__ import annotations

from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
from java_iceberg_table_spark.ingest.reaper import Reaper
from java_iceberg_table_spark.ingest.writer import Writer
from java_iceberg_table_spark.table import format as fmt
from java_iceberg_table_spark.table.table import Table
from measure import Tracer, median, pct


def install(tracer: Tracer) -> None:
    def charge(span_name: str, key: str, amount=lambda result: 1):
        """A hook that adds ``amount(result)`` to ``key`` on the
        enclosing ``span_name`` span, if one is open on this thread."""

        def hook(span, result, args, kwargs):
            owner = tracer.within(span_name)
            if owner is not None:
                owner[key] = owner.get(key, 0) + amount(result)

        return hook

    def files_and_bytes(span, result, args, kwargs):
        span["files"] = len(result)
        span["bytes"] = sum(e["bytes"] for e in result)

    manifest_read_by_commit = charge("table.append_entries", "read_manifest")
    manifest_read_by_plan = charge("table.plan_files", "manifests_read")

    def on_read_manifest(*hook_args):
        manifest_read_by_commit(*hook_args)
        manifest_read_by_plan(*hook_args)

    def on_plan(span, result, args, kwargs):
        span["kept"] = len(result)

    def on_count(span, result, args, kwargs):
        span["metadata_files"] = result["metadata_files"]
        span["scanned_files"] = result["scanned_files"]

    def on_bookkeeper(span, result, args, kwargs):
        span["files"] = result["files"]

    def on_reaper(span, result, args, kwargs):
        span["expired"] = result["expired_snapshots"]
        span["deleted"] = result["deleted_files"]

    tracer.wrap(Writer, "create_data_files", "writer.create_data_files", files_and_bytes)
    tracer.wrap(Writer, "write_pending_commit", "writer.write_pending_commit")
    tracer.wrap(Bookkeeper, "run_once", "bookkeeper.run_once", on_bookkeeper)
    tracer.wrap(Reaper, "run_once", "reaper.run_once", on_reaper)
    tracer.wrap(Table, "append_entries", "table.append_entries")
    tracer.wrap(Table, "delete_where", "table.delete_where")
    tracer.wrap(Table, "plan_files", "table.plan_files", on_plan)
    tracer.wrap(Table, "count_rows", "table.count_rows", on_count)
    tracer.wrap(Table, "scan", "table.scan")
    tracer.wrap(fmt, "commit", "format.commit")
    tracer.wrap(fmt, "try_commit_version", "format.try_commit_version")
    tracer.wrap(fmt, "load_metadata", "format.load_metadata", charge("table.append_entries", "load_metadata"))
    tracer.wrap(fmt, "read_manifest", "format.read_manifest", on_read_manifest)
    tracer.wrap(fmt, "write_manifest", "format.write_manifest", charge("table.append_entries", "write_manifest"))


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def table_metrics(tracer: Tracer, since: float, live_files: int) -> dict[str, float]:
    """Per-layer metrics of the table layers from spans that began at or
    after ``since`` (the start of the measured window). Planning reads
    manifests on the driver or, past a manifest-size threshold, in a
    Spark job the spans cannot see into; a plan is counted as
    distributed when no manifest read happened under it, and the kept
    fraction is taken against the table's live files (held steady by
    retention)."""
    of = lambda name: tracer.of(name, since)  # noqa: E731
    writes = of("writer.create_data_files")
    polls = of("bookkeeper.run_once")
    busy = [s for s in polls if s.get("files")]
    reaps = of("reaper.run_once")
    cas = of("format.try_commit_version")
    conflicts = sum(1 for s in cas if s.get("error") == "CommitConflict")
    won = len(cas) - conflicts
    appends = [s for s in of("table.append_entries") if "error" not in s]
    plans = of("table.plan_files")
    counts = of("table.count_rows")
    counted = sum(s.get("metadata_files", 0) + s.get("scanned_files", 0) for s in counts)
    commit_ms = tracer.ms("format.commit", since)
    return {
        "writer.create_data_files_ms": median(tracer.ms("writer.create_data_files", since)),
        "writer.publish_ms": median(tracer.ms("writer.write_pending_commit", since)),
        "writer.bytes_per_file": _ratio(
            sum(s.get("bytes", 0) for s in writes), sum(s.get("files", 0) for s in writes)
        ),
        "bookkeeper.run_once_ms": median([(s["end"] - s["start"]) * 1000.0 for s in busy]),
        "bookkeeper.batch_files": _ratio(sum(s["files"] for s in busy), len(busy)),
        "bookkeeper.empty_poll_frac": _ratio(len(polls) - len(busy), len(polls)),
        "format.cas_attempts": float(len(cas)),
        "format.cas_conflicts_per_commit": _ratio(conflicts, won),
        "format.commit_p50_ms": pct(commit_ms, 50),
        "format.commit_p99_ms": pct(commit_ms, 99),
        "format.load_metadata_calls_per_commit": _ratio(
            sum(s.get("load_metadata", 0) for s in appends), len(appends)
        ),
        "format.read_manifest_calls_per_commit": _ratio(
            sum(s.get("read_manifest", 0) for s in appends), len(appends)
        ),
        "format.write_manifest_calls_per_commit": _ratio(
            sum(s.get("write_manifest", 0) for s in appends), len(appends)
        ),
        "reaper.run_once_ms": median(tracer.ms("reaper.run_once", since)),
        "reaper.expired_snapshots": float(sum(s.get("expired", 0) for s in reaps)),
        "reaper.deleted_files": float(sum(s.get("deleted", 0) for s in reaps)),
        "table.delete_where_ms": median(tracer.ms("table.delete_where", since)),
        "table.plan_files_ms": median(tracer.ms("table.plan_files", since)),
        "table.plan_files_kept_frac": _ratio(median([s.get("kept", 0) for s in plans]), live_files),
        "table.plan_files_distributed_frac": _ratio(
            sum(1 for s in plans if "manifests_read" not in s), len(plans)
        ),
        "table.count_rows_ms": median(tracer.ms("table.count_rows", since)),
        "table.count_rows_metadata_frac": _ratio(
            sum(s.get("metadata_files", 0) for s in counts), counted
        ),
        "table.scan_build_ms": median(tracer.ms("table.scan", since)),
    }
