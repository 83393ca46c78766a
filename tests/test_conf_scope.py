"""Session-conf scoping: ``session.conf_scope`` is the only way product
code changes a session conf around an action, and no registry query
leaks a conf change into the caller's session."""

from __future__ import annotations

import os
import re

import pytest

from java_iceberg_table_spark.queries import Query, _grading_order, load_all
from java_iceberg_table_spark.session import conf_scope

SHUFFLE = "spark.sql.shuffle.partitions"
KEY = "spark.graft.test.scoped"


def test_exception_restores_prior_value(spark):
    with conf_scope(spark, {SHUFFLE: "3"}):
        prior = spark.conf.get(SHUFFLE)
        with pytest.raises(RuntimeError):
            with conf_scope(spark, {SHUFFLE: 11}):
                assert spark.conf.get(SHUFFLE) == "11"
                raise RuntimeError("boom")
        assert spark.conf.get(SHUFFLE) == prior == "3"


def test_unset_key_is_unset_again(spark):
    assert spark.conf.get(KEY, None) is None
    with conf_scope(spark, {KEY: "on"}):
        assert spark.conf.get(KEY) == "on"
    assert spark.conf.get(KEY, None) is None


def test_nested_scopes_restore_lifo(spark):
    with conf_scope(spark, {SHUFFLE: "5"}):
        with conf_scope(spark, {SHUFFLE: "8", KEY: "a"}):
            with conf_scope(spark, {SHUFFLE: "2", KEY: "b"}):
                assert (spark.conf.get(SHUFFLE), spark.conf.get(KEY)) == ("2", "b")
            assert (spark.conf.get(SHUFFLE), spark.conf.get(KEY)) == ("8", "a")
        assert spark.conf.get(SHUFFLE) == "5"
        assert spark.conf.get(KEY, None) is None


def test_none_override_leaves_key_untouched(spark):
    with conf_scope(spark, {SHUFFLE: "6"}):
        with conf_scope(spark, {SHUFFLE: None, KEY: None}):
            assert spark.conf.get(SHUFFLE) == "6"
            assert spark.conf.get(KEY, None) is None
            # a change made inside the block is not the scope's to undo
            spark.conf.set(SHUFFLE, "9")
        assert spark.conf.get(SHUFFLE) == "9"


# One clamp-using row per query module; i21 also runs the per-batch
# clamp of streaming/jobs.py:maintained_view_merge inside its own.
_CLAMPED_ROWS = [
    "a4n_engine_catalog_view",
    "h51_incremental_dedup",
    "i21_streaming_materialized_view",
]


@pytest.mark.parametrize("name", _CLAMPED_ROWS)
def test_registry_rows_leak_no_conf(spark, sf_dir, name):
    registry = load_all()
    with conf_scope(spark, {SHUFFLE: "7"}):
        registry[name].fn(spark, sf_dir).collect()
        assert spark.conf.get(SHUFFLE) == "7"


# The only places product code may set a session conf directly:
# conf_scope itself, plus two one-way settings that must outlive the call.
_ALLOWED_CONF_WRITES = {
    "session.py": None,  # any number
    os.path.join("sources", "engine_datasource.py"): 1,
    "fixtures.py": 1,
}


def test_conf_writes_only_through_conf_scope():
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "java_iceberg_table_spark",
    )
    pattern = re.compile(r"\.conf\.(set|unset)\(")
    found: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(pkg):
        for fname in files:
            if fname.endswith(".py"):
                path = os.path.join(dirpath, fname)
                with open(path) as f:
                    n = len(pattern.findall(f.read()))
                if n:
                    found[os.path.relpath(path, pkg)] = n
    for rel, n in found.items():
        assert rel in _ALLOWED_CONF_WRITES, (
            f"{rel} writes session conf directly ({n}x); use session.conf_scope"
        )
        allowed = _ALLOWED_CONF_WRITES[rel]
        assert allowed is None or n <= allowed, (rel, n)


def _q(name: str, group: str) -> Query:
    return Query(name=name, fn=lambda spark, sf: None, oracle=None, group=group)


def test_grading_order_never_graded_then_stalest_first():
    queries = [
        _q("a_new1", "A"),
        _q("a_r9", "A"),
        _q("b_r10", "B"),
        _q("a_r10", "A"),
        _q("b_new", "B"),
        _q("a_new2", "A"),
        _q("b_r9", "B"),
        _q("c_r10", "C"),
    ]
    green = {"a_r9": 9, "b_r9": 9, "b_r10": 10, "a_r10": 10, "c_r10": 10}
    order = [q.name for q in _grading_order(queries, green)]
    assert order == [
        # never graded, round-robin by group in registration order
        "a_new1", "b_new", "a_new2",
        # stalest green round first, each bucket interleaved by group
        "a_r9", "b_r9",
        "b_r10", "a_r10", "c_r10",
    ]
