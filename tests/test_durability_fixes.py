"""Durability/atomicity regressions (round-2 ADVICE items).

Each test pins a crash-window or precision hazard in the commit
machinery:
- expire_snapshots must not destroy files a concurrent ref commit
  still pins (commit-then-delete ordering);
- bookkeeper replay after a crash between commit and moniker delete
  must not double-append;
- added_files must survive parent-snapshot expiry (added-manifest);
- streaming batch ids must ride in the data commit itself;
- the Arrow write path's partition bucketing must be integer-exact
  past 2^53.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
from java_iceberg_table_spark.ingest.writer import Writer
from java_iceberg_table_spark.table import create_table, load_table, truncate
from java_iceberg_table_spark.table import format as fmt
from java_iceberg_table_spark.table.format import CommitConflict
from java_iceberg_table_spark.table.table import RetentionGapError

SIMPLE_SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
        StructField("ts", LongType(), True),
    ]
)


@pytest.fixture()
def troot(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )


def test_expire_survives_concurrent_tag_conflict(spark, troot, monkeypatch):
    """A create_tag that wins the CAS race mid-expire must keep its
    pinned snapshot's files: deletion happens only after the commit
    that actually observed the tag."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, 0, 100))
    first = tbl.metadata.current_snapshot().snapshot_id
    first_files = {e["path"] for e in tbl.plan_files()}
    tbl.append(_df(spark, 100, 200))

    real = fmt.try_commit_version
    state = {"injected": False}

    def racing(root, meta):
        if not state["injected"]:
            state["injected"] = True
            # rival commit lands first: tag pins the snapshot the
            # in-flight expire computed as expired
            tbl.create_tag("pin-old", snapshot_id=first)
            raise CommitConflict("lost race to tagger")
        return real(root, meta)

    monkeypatch.setattr(fmt, "try_commit_version", racing)
    stats = tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)
    monkeypatch.setattr(fmt, "try_commit_version", real)

    assert state["injected"]
    # the retry re-read metadata, saw the pin, expired nothing
    assert stats["expired_snapshots"] == 0
    assert stats["deleted_files"] == 0
    md = tbl.metadata
    assert any(s.snapshot_id == first for s in md.snapshots)
    for rel in first_files:
        assert os.path.exists(os.path.join(troot, rel)), rel
    # the tagged snapshot still scans completely
    assert tbl.scan(spark, snapshot_id=first).count() == 100


def test_bookkeeper_replay_does_not_double_append(spark, troot):
    """Crash between durable commit and moniker deletion: the replayed
    batch must add zero files/rows (dedupe by path)."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    w = Writer(tbl, writer_id=0, seed=7)
    w.run_iteration(n_files=3, rows_per_file=10, timeperiod_us=0)
    pending = os.path.join(troot, "_pending")
    monikers = {
        p: open(os.path.join(pending, p)).read() for p in os.listdir(pending)
    }
    bk = Bookkeeper(tbl)
    m1 = bk.run_once()
    assert m1["files"] == 3
    n_files = len(tbl.current_files())
    n_rows = tbl.scan(spark).count()
    # simulate the crash: monikers resurface after the commit
    for name, content in monikers.items():
        with open(os.path.join(pending, name), "w") as f:
            f.write(content)
    m2 = bk.run_once()
    assert m2["files"] == 0  # replayed entries don't inflate throughput
    assert bk.total_files_appended == 3
    assert len(tbl.current_files()) == n_files
    assert tbl.scan(spark).count() == n_rows
    assert os.listdir(pending) == []  # replayed monikers still consumed


def test_added_files_survives_parent_expiry(spark, troot):
    """added-manifest tracking: incremental reads keep working after
    the parent snapshot is expired (previously KeyError)."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, 0, 100))
    tbl.append(_df(spark, 100, 200))
    child = tbl.metadata.current_snapshot()
    expected = {e["path"] for e in tbl.added_files(child)}
    stats = tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)
    assert stats["expired_snapshots"] == 1
    got = {e["path"] for e in tbl.added_files(tbl.metadata.current_snapshot())}
    assert got == expected
    # pre-upgrade snapshots (no added-manifest) with an expired parent
    # raise the graceful retention error instead of KeyError-crashing
    legacy = fmt.Snapshot(
        snapshot_id=999,
        parent_id=12345,  # never existed -> same as expired
        timestamp_ms=0,
        operation="append",
        manifests=list(child.manifests),
    )
    with pytest.raises(RetentionGapError):
        tbl.added_files(legacy)


def test_streaming_batch_id_stamped_atomically(spark, troot):
    """extra_summary rides in the append commit: one version bump,
    batch id + added-files in the same snapshot summary."""
    tbl = create_table(troot, SIMPLE_SCHEMA)
    v0 = tbl.metadata.version
    snap = tbl.append(_df(spark, 0, 50), extra_summary={"streaming-batch-id": 7})
    md = tbl.metadata
    assert md.version == v0 + 1  # no second stamping commit
    committed = next(s for s in md.snapshots if s.snapshot_id == snap.snapshot_id)
    assert committed.summary["streaming-batch-id"] == 7
    assert committed.summary["added-files"] >= 1


def test_arrow_bucketing_integer_exact_past_2p53(tmp_path):
    """_write_task_files must label buckets with exact integer
    arithmetic: nanosecond-scale values (> 2^53) mislabel under a
    float64 detour, which would make plan_files prune live files."""
    import pyarrow as pa

    from java_iceberg_table_spark.sources.engine_datasource import _write_task_files
    from java_iceberg_table_spark.table.transforms import TruncateTransform

    width = 300_000_000
    spec = {"transform": "truncate", "source_column": "ts", "width": width}
    t = TruncateTransform.from_json(spec)
    vals = [2**62 + 123, 2**62 + 123 + width, -7, 0, 2**53 + 1]
    schema = StructType(
        [StructField("k", LongType(), False), StructField("ts", LongType(), True)]
    )
    batch = pa.record_batch(
        {"k": pa.array(range(len(vals)), pa.int64()), "ts": pa.array(vals, pa.int64())}
    )
    root = str(tmp_path)
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    entries = _write_task_files(iter([batch]), root, schema, spec)
    got = sorted(e["partition"] for e in entries)
    assert got == sorted({t.apply_py(v) for v in vals})


def test_clean_collects_orphans_keeps_live(spark, troot):
    """clean(): files unreachable from any snapshot (crashed writer /
    lost CAS leftovers) are deleted past the grace window; every live
    file and manifest survives and the table still scans."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, 0, 100))
    tbl.append(_df(spark, 100, 200))
    n_rows = tbl.scan(spark).count()
    # plant orphans: a stray data file and an unreferenced manifest
    orphan_data = os.path.join(troot, "data", "b-dead", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan_data), exist_ok=True)
    with open(orphan_data, "w") as f:
        f.write("not really parquet")
    orphan_manifest = fmt.write_manifest(troot, [])
    live_manifests = {
        m for s in tbl.metadata.snapshots for m in s.manifests
    } | {
        s.summary["added-manifest"]
        for s in tbl.metadata.snapshots
        if "added-manifest" in s.summary
    }
    stats = tbl.clean(older_than_ms=0)
    assert stats["deleted_files"] == 1
    assert stats["deleted_manifests"] >= 1
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(os.path.join(troot, orphan_manifest))
    for m in live_manifests:
        assert os.path.exists(os.path.join(troot, m)), m
    assert tbl.scan(spark).count() == n_rows
    # grace window: a fresh orphan with default window is untouched
    with open(orphan_data, "w") as f:
        f.write("again")
    assert tbl.clean()["deleted_files"] == 0
    assert os.path.exists(orphan_data)


_LOST_CAS_OPS = {
    "append_entries": lambda spark, tbl: tbl.append_entries(
        tbl.current_files()[:1], dedupe_paths=False
    ),
    "delete_where": lambda spark, tbl: tbl.delete_where("ts", "<", 50),
    "delete_where_mor": lambda spark, tbl: tbl.delete_where_mor(
        spark, [("k", "<", 5)]
    ),
    "overwrite_entries": lambda spark, tbl: tbl.overwrite_entries(
        tbl.current_files()
    ),
}


@pytest.mark.parametrize("op", sorted(_LOST_CAS_OPS))
def test_lost_cas_attempt_manifest_reclaimed(spark, troot, monkeypatch, op):
    """A commit attempt that loses the CAS race must unlink the
    manifests it wrote before retrying (plus clean() as backstop) —
    for every snapshot-producing commit, including delete_where's
    partially-kept manifests."""
    import dataclasses
    import glob

    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 10))
    tbl.append(_df(spark, 0, 100))
    v0 = tbl.metadata.version
    # force one CAS loss: first publish attempt collides with a
    # concurrent commit injected via the build hook
    real_commit = fmt.commit
    state = {"raced": False}

    def racing_commit(root, build, max_retries=1000):
        def build_with_race(current):
            out = build(current)
            if not state["raced"]:
                state["raced"] = True
                # concurrent writer lands between read and publish
                real_commit(
                    root,
                    lambda cur: dataclasses.replace(cur, version=cur.version + 1),
                )
            return out
        return real_commit(root, build_with_race, max_retries)

    monkeypatch.setattr(
        "java_iceberg_table_spark.table.table.fmt.commit", racing_commit
    )
    _LOST_CAS_OPS[op](spark, tbl)
    monkeypatch.undo()
    md = tbl.metadata
    assert state["raced"] and md.version == v0 + 2  # rival + the retried op
    # every manifest on disk must be reachable (no lost-CAS leftovers)
    live = set()
    for s in md.snapshots:
        live.update(s.manifests, s.delete_manifests)
        am = s.summary.get("added-manifest")
        if am:
            live.add(am)
    on_disk = {
        os.path.relpath(p, troot)
        for p in glob.glob(os.path.join(troot, "manifests", "*.json"))
    }
    assert on_disk <= live, on_disk - live


@pytest.mark.parametrize(
    "rewrite,prefix",
    [
        (lambda spark, tbl: tbl.compact_data_files(spark), "c-"),
        (lambda spark, tbl: tbl.rewrite_clustered(spark, ["k", "ts"], 2), "z-"),
    ],
    ids=["compact_data_files", "rewrite_clustered"],
)
def test_rewrite_refused_reports_nothing(spark, troot, monkeypatch, rewrite, prefix):
    """A rewrite whose base snapshot is no longer the head when it
    commits is refused: it must report zero work, leave the table
    content to the concurrent commit, and remove the files it wrote."""
    tbl = create_table(troot, SIMPLE_SCHEMA)
    tbl.append(_df(spark, 0, 50))
    tbl.append(_df(spark, 50, 100))
    real_commit = fmt.commit
    state = {"raced": False}

    def racing_commit(root, build, max_retries=1000):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent append lands after the rewrite read its
            # base snapshot and wrote its files
            tbl.append(_df(spark, 100, 120))
        return real_commit(root, build, max_retries)

    monkeypatch.setattr(fmt, "commit", racing_commit)
    report = rewrite(spark, tbl)
    monkeypatch.undo()
    assert state["raced"]
    assert report == {"rewritten": 0, "new_files": 0}
    assert tbl.metadata.current_snapshot().operation == "append"
    rows = sorted(r["k"] for r in tbl.scan(spark).select("k").collect())
    assert rows == list(range(120))
    assert not [d for d in os.listdir(os.path.join(troot, "data")) if d.startswith(prefix)]


def test_one_commit_path():
    """The commit protocol is written once: the fsync'd link-CAS
    publish and the retry backoff live only in format.py, table.py
    constructs snapshots in one place (Table._commit_snapshot), and the
    DML ops share one re-plan loop (Table._replan)."""
    import re

    tdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "java_iceberg_table_spark",
        "table",
    )
    for fname in sorted(os.listdir(tdir)):
        if fname.endswith(".py") and fname != "format.py":
            with open(os.path.join(tdir, fname)) as f:
                src = f.read()
            assert "os.fsync(" not in src, f"{fname} fsyncs: publish through format.py"
            assert "time.sleep(" not in src, f"{fname} backs off: use format.retry_commit"
    with open(os.path.join(tdir, "table.py")) as f:
        src = f.read()
    assert len(re.findall(r"\bSnapshot\(", src)) == 1
    assert src.count("lost the commit race") == 1
    assert src.count("for attempt in range(3)") <= 1
