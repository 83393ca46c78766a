"""SQL DML router: DELETE / UPDATE / MERGE statements onto
delete_rows / update_where / merge_into, with loud refusal of
anything outside the tiny routable grammar."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.table import Catalog
from java_iceberg_table_spark.table.sql_dml import UnsupportedSQL, run_dml

SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
        StructField("qty", LongType(), True),
    ]
)


@pytest.fixture()
def cat(tmp_path, spark):
    c = Catalog.create(str(tmp_path / "cat"))
    t = c.create_table("t", SCHEMA)
    t.append(
        spark.createDataFrame(
            [(i, "old" if i % 2 == 0 else "odd", i * 10) for i in range(10)],
            SCHEMA,
        )
    )
    c._commit_pins({"t": t.metadata.current_snapshot_id})
    return c


def test_delete_statement(spark, cat):
    res = cat.sql(spark, "DELETE FROM t WHERE k >= 7")
    assert res["statement"] == "delete"
    assert res["deleted_rows"] == 3
    assert cat.read(spark, "t").count() == 7  # pin published
    # conjunction + string literal
    res = cat.sql(spark, "DELETE FROM t WHERE v = 'odd' AND k < 4")
    assert res["deleted_rows"] == 2  # k=1, k=3
    assert cat.table("t").scan(spark).count() == 5


def test_update_statement(spark, cat):
    res = cat.sql(
        spark, "UPDATE t SET qty = qty + 5, v = upper(v) WHERE k <= 2;"
    )
    assert res["statement"] == "update"
    assert res["updated_rows"] == 3
    rows = {
        r["k"]: (r["v"], r["qty"])
        for r in cat.read(spark, "t").collect()
    }
    assert rows[0] == ("OLD", 5)
    assert rows[1] == ("ODD", 15)
    assert rows[3] == ("odd", 30)  # untouched


def test_merge_statement(spark, cat):
    spark.createDataFrame(
        [(1, "merged", 111), (100, "new", 1000)], SCHEMA
    ).createOrReplaceTempView("src_view")
    res = cat.sql(
        spark,
        """MERGE INTO t AS tgt USING src_view AS s
           ON tgt.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
    )
    assert res["statement"] == "merge"
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.read(spark, "t").collect()}
    assert rows[1] == ("merged", 111)
    assert rows[100] == ("new", 1000)
    assert len(rows) == 11


def test_merge_with_subquery_and_clauses(spark, cat):
    spark.createDataFrame(
        [(2, "x", 0), (4, "y", 7), (200, "n", 1)], SCHEMA
    ).createOrReplaceTempView("src2")
    res = cat.sql(
        spark,
        """MERGE INTO t USING (SELECT * FROM src2 WHERE k < 300) AS s
           ON t.k = s.k
           WHEN MATCHED AND s.qty = 0 THEN DELETE
           WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty
           WHEN NOT MATCHED THEN INSERT *""",
    )
    rows = {r["k"]: r["qty"] for r in cat.table("t").scan(spark).collect()}
    assert 2 not in rows  # deleted
    assert rows[4] == 47  # 40 + 7
    assert rows[200] == 1  # inserted
    assert res["statement"] == "merge"


@pytest.mark.parametrize(
    "bad, why",
    [
        # round 14 legalized IN/OR/prefix-LIKE trees; these shapes are
        # PERMANENTLY outside the grammar (refusal probes must stay
        # illegal forever — the a4l TRUNCATE-incident discipline)
        ("DELETE FROM t WHERE k NOT IN (1, 2)", "NOT IN"),
        ("DELETE FROM t WHERE NOT k = 1", "NOT"),
        ("DELETE FROM t WHERE k BETWEEN 1 AND 2", "BETWEEN"),
        ("DELETE FROM t WHERE v LIKE '%x'", "suffix LIKE"),
        ("DELETE FROM t WHERE v LIKE 'a_b%'", "underscore wildcard"),
        (
            "DELETE FROM t WHERE k = 1 OR k IN (SELECT k FROM t)",
            "IN subquery inside a tree",
        ),
        ("DELETE FROM t", "no WHERE"),
        ("UPDATE t SET qty = 0", "no WHERE"),
        ("UPDATE t SET qty = 0 WHERE upper(v) = 'ODD'", "function lhs"),
        ("ANALYZE TABLE t COMPUTE STATISTICS", "not DML"),
        (
            "MERGE INTO t USING s ON t.k < s.k WHEN MATCHED THEN DELETE",
            "non-equi ON",
        ),
        (
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k) VALUES (1)",
            "column-list INSERT",
        ),
    ],
)
def test_refusals(spark, cat, bad, why):
    before = cat.table("t").scan(spark).count()
    with pytest.raises(UnsupportedSQL):
        cat.sql(spark, bad)
    assert cat.table("t").scan(spark).count() == before, why


def test_whitespace_preserved_inside_string_literals(spark, cat):
    """Whitespace normalization must not reach inside quoted literals:
    'a  b' (two spaces) is a different value than 'a b'."""
    t = cat.table("t")
    t.append(
        spark.createDataFrame(
            [(100, "a  b", 1), (101, "a b", 1), (102, "a\tb", 1)], SCHEMA
        )
    )
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    res = cat.sql(spark, "DELETE FROM t WHERE v = 'a  b'")
    assert res["deleted_rows"] == 1
    vals = {r["v"] for r in cat.table("t").scan(spark).collect()}
    assert "a b" in vals and "a\tb" in vals and "a  b" not in vals
    # UPDATE writes the literal verbatim, tabs and newlines included
    res = cat.sql(spark, "UPDATE t SET v = 'x \t y' WHERE k = 101")
    assert res["updated_rows"] == 1
    row = {r["k"]: r["v"] for r in cat.table("t").scan(spark).collect()}
    assert row[101] == "x \t y"


def test_strip_quote_awareness_unit():
    from java_iceberg_table_spark.table.sql_dml import _strip

    assert _strip("  a   b  ") == "a b"
    assert _strip("v = 'a  b'") == "v = 'a  b'"
    assert _strip("v\t=\n'a\t\nb'  AND  x='c''  d'") == "v = 'a\t\nb' AND x='c''  d'"
    assert _strip("'  lead'") == "'  lead'"


@pytest.mark.parametrize(
    "bad, why",
    [
        (
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN MATCHED AND s.qty = 0 THEN DELETE",
            "DELETE after UPDATE would reorder SQL first-match semantics",
        ),
        (
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED AND s.qty = 0 THEN UPDATE SET qty = 0 "
            "WHEN MATCHED THEN UPDATE SET *",
            "second UPDATE clause (last-one-wins is silent)",
        ),
        (
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED AND s.qty = 0 THEN DELETE "
            "WHEN MATCHED AND s.qty = 1 THEN DELETE",
            "second DELETE clause",
        ),
    ],
)
def test_merge_clause_order_refusals(spark, cat, bad, why):
    before = cat.table("t").scan(spark).count()
    with pytest.raises(UnsupportedSQL):
        cat.sql(spark, bad)
    assert cat.table("t").scan(spark).count() == before, why


def test_delete_in_list_and_subquery(spark, cat):
    """DELETE ... WHERE col IN (...) routes onto MOR equality deletes:
    one metadata commit, no data rewrite, rows gone at read time."""
    before_files = len(cat.table("t").current_files())
    res = cat.sql(spark, "DELETE FROM t WHERE k IN (1, 3, 999)")
    assert res["mode"] == "eq_mor" and res["deleted_keys"] == 3
    assert cat.read(spark, "t").filter(F.col("k").isin(1, 3)).count() == 0
    assert cat.read(spark, "t").count() == 8
    # no data file was rewritten (metadata-only commit)
    assert len(cat.table("t").current_files()) == before_files
    # subquery form
    spark.createDataFrame(
        [(5, "x", 0), (7, "x", 0)], SCHEMA
    ).createOrReplaceTempView("kill_keys")
    res = cat.sql(
        spark, "DELETE FROM t WHERE k IN (SELECT k FROM kill_keys)"
    )
    assert res["deleted_keys"] == 2
    assert cat.read(spark, "t").count() == 6
    with pytest.raises(UnsupportedSQL):
        cat.sql(spark, "DELETE FROM t WHERE k IN (SELECT k, v FROM kill_keys)")


def test_run_dml_direct_resolver(spark, tmp_path):
    """run_dml works against a bare resolver (no catalog)."""
    from java_iceberg_table_spark.table import create_table

    root = str(tmp_path / "solo")
    t = create_table(root + "/t", SCHEMA)
    t.append(spark.createDataFrame([(1, "a", 1), (2, "b", 2)], SCHEMA))
    res = run_dml(spark, "DELETE FROM anyname WHERE k = 2", lambda _: t)
    assert res["deleted_rows"] == 1
    assert t.scan(spark).count() == 1


def test_merge_subquery_with_nested_parens(spark, cat):
    """Round-8 parser fix: a USING subquery containing nested parens
    (function calls) must parse to the full balanced subquery, not cut
    at the first close-paren."""
    spark.createDataFrame(
        [(3, "zz", 5), (300, "nn", 9)], SCHEMA
    ).createOrReplaceTempView("src3")
    res = cat.sql(
        spark,
        """MERGE INTO t USING (
             SELECT k, upper(substring(v, 1, 1)) AS v, qty
             FROM src3 WHERE coalesce(qty, 0) > 0
           ) AS s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
    )
    assert res["statement"] == "merge"
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.table("t").scan(spark).collect()}
    assert rows[3] == ("Z", 5)
    assert rows[300] == ("N", 9)


def test_script_split_and_strip_roundtrip_property():
    """Properties of the script tokenizer, pure parser:
    - joining split statements with ';' preserves every non-separator
      character (quote-aware: ';' and whitespace runs inside single-
      quoted literals are payload, never separators);
    - _strip never alters text inside literals and collapses every
      whitespace run outside them to one space."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from java_iceberg_table_spark.table.sql_dml import _split_depth0, _strip

    word = st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Nd"), whitelist_characters="_",
        ),
        min_size=1,
        max_size=8,
    )
    # literals may contain separators, quotes ('' escape), whitespace
    lit_body = st.text(
        alphabet=st.characters(
            whitelist_categories=("Ll", "Nd"),
            whitelist_characters=" ;\t\n-",
        ),
        max_size=10,
    ).map(lambda s: "'" + s.replace("'", "''") + "'")
    token = st.one_of(word, lit_body)
    stmt = st.lists(token, min_size=1, max_size=5).map(" ".join)

    @settings(max_examples=200, deadline=None)
    @given(st.lists(stmt, min_size=1, max_size=5))
    def check(stmts):
        script = " ; ".join(stmts)
        parts = _split_depth0(script, ";")
        assert parts == [s.strip() for s in stmts if s.strip()]
        for orig, part in zip([s for s in stmts if s.strip()], parts):
            stripped = _strip(part)
            # literal payloads survive verbatim
            for tok in orig.split(" "):
                if tok.startswith("'") and tok.endswith("'") and len(tok) > 1:
                    assert tok in stripped or tok in part
            # no double spaces outside literals
            in_q = False
            prev_space = False
            for ch in stripped:
                if in_q:
                    if ch == "'":
                        in_q = False
                    prev_space = False
                    continue
                if ch == "'":
                    in_q = True
                    prev_space = False
                    continue
                if ch == " ":
                    assert not prev_space, stripped
                    prev_space = True
                else:
                    assert not ch.isspace(), stripped
                    prev_space = False

    check()


def test_predicate_parser_roundtrip_property():
    """Property: any rendered AND-conjunction of col <op> literal
    parses back to exactly the triples that produced it (no Spark
    needed — pure parser)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from java_iceberg_table_spark.table.sql_dml import _parse_predicates

    ident = st.from_regex(r"[a-z_][a-z0-9_]{0,10}", fullmatch=True).filter(
        lambda s: s.upper() not in ("AND", "OR", "NOT", "IN", "LIKE", "BETWEEN")
    )
    op = st.sampled_from(["<", "<=", ">", ">=", "="])
    lit = st.one_of(
        st.integers(min_value=-10**12, max_value=10**12),
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Nd"), whitelist_characters=" _-"
            ),
            max_size=12,
        ).filter(
            lambda s: "'" not in s
            and not any(
                w in s.upper().split()
                for w in ("AND", "OR", "NOT", "IN", "LIKE", "BETWEEN")
            )
        ),
    )

    def render(c, o, v):
        if isinstance(v, str):
            return f"{c} {o} '{v}'"
        return f"{c} {o} {v}"

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.tuples(ident, op, lit), min_size=1, max_size=5))
    def check(triples):
        where = " AND ".join(render(*t) for t in triples)
        parsed = _parse_predicates(where)
        assert parsed == [(c, o, v) for c, o, v in triples]

    check()


def test_merge_parser_roundtrip_property():
    """Property: rendered MERGE statements (aliases optional, subquery
    or view source, 1-3 ON keys, any clause combination) parse back to
    the exact components. Pure parser — no Spark."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from java_iceberg_table_spark.table.sql_dml import _match_merge

    ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
        lambda s: s.upper()
        not in ("AS", "ON", "USING", "WHEN", "MERGE", "INTO", "AND",
                "MATCHED", "THEN", "SELECT", "NOT")
    )

    @settings(max_examples=150, deadline=None)
    @given(
        name=ident, t_alias=st.one_of(st.none(), ident),
        s_alias=ident, src_view=ident,
        keys=st.lists(ident, min_size=1, max_size=3, unique=True),
        use_subquery=st.booleans(),
        with_delete=st.booleans(),
        with_update=st.booleans(),
        with_insert=st.booleans(),
    )
    def check(name, t_alias, s_alias, src_view, keys,
              use_subquery, with_delete, with_update, with_insert):
        if not (with_delete or with_update or with_insert):
            with_insert = True
        ta = t_alias or name
        src = (
            f"(SELECT k, coalesce(v, upper(v)) AS v FROM {src_view})"
            if use_subquery
            else src_view
        )
        on = " AND ".join(f"{ta}.{k} = {s_alias}.{k}" for k in keys)
        whens = []
        if with_delete:
            whens.append(f"WHEN MATCHED AND {s_alias}.flag = 1 THEN DELETE")
        if with_update:
            whens.append("WHEN MATCHED THEN UPDATE SET *")
        if with_insert:
            whens.append("WHEN NOT MATCHED THEN INSERT *")
        alias_sql = f" AS {t_alias}" if t_alias else ""
        sql = (
            f"MERGE INTO {name}{alias_sql} USING {src} AS {s_alias} "
            f"ON {on} " + " ".join(whens)
        )
        got = _match_merge(sql)
        assert got is not None, sql
        g_name, g_talias, g_src, g_salias, g_on, g_whens = got
        assert g_name == name
        assert (g_talias or None) == t_alias
        assert g_src == src
        assert g_salias == s_alias
        assert [p.strip() for p in g_on.split(" AND ")] == [
            f"{ta}.{k} = {s_alias}.{k}" for k in keys
        ]
        assert g_whens.count("WHEN") == len(whens)

    check()


def test_sql_script_single_publish(spark, cat):
    """A semicolon script runs statements sequentially (later ones see
    earlier effects through the tables) but publishes ONE catalog
    version; statement splitting is quote-aware."""
    v0 = cat.state().version
    res = cat.sql_script(
        spark,
        """DELETE FROM t WHERE k >= 8;
           UPDATE t SET qty = qty + 100, v = 'a;b' WHERE k >= 6;
           DELETE FROM t WHERE v = 'a;b' AND k = 6""",
    )
    assert [r["statement"] for r in res] == ["delete", "update", "delete"]
    assert res[0]["deleted_rows"] == 2  # k=8,9
    assert res[1]["updated_rows"] == 2  # k=6,7 (post-delete state)
    assert res[2]["deleted_rows"] == 1  # quote-aware: 'a;b' intact
    assert cat.state().version == v0 + 1  # ONE publish for the script
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.read(spark, "t").collect()}
    assert set(rows) == {0, 1, 2, 3, 4, 5, 7}
    assert rows[7] == ("a;b", 170)


def test_sql_script_refusals(spark, cat):
    v0 = cat.state().version
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(
            spark,
            "DELETE FROM t WHERE k = 1; CREATE VIEW v AS SELECT 1 AS one",
        )
    with pytest.raises(UnsupportedSQL, match="empty"):
        cat.sql_script(spark, " ; ; ")
    # nothing published, nothing visible
    assert cat.state().version == v0
    assert cat.read(spark, "t").count() == 10


def test_view_ddl_statements(spark, cat):
    """CREATE [OR REPLACE] VIEW / DROP VIEW route to catalog views."""
    res = cat.sql(spark, "CREATE VIEW big AS SELECT k FROM t WHERE k >= 8")
    assert res["statement"] == "create_view"
    cat.register_views(spark)
    assert spark.table("big").count() == 2
    with pytest.raises(ValueError):
        cat.sql(spark, "CREATE VIEW big AS SELECT 1 AS one")
    res = cat.sql(
        spark, "CREATE OR REPLACE VIEW big AS SELECT k FROM t WHERE k >= 5"
    )
    cat.register_views(spark)
    assert spark.table("big").count() == 5
    assert cat.sql(spark, "DROP VIEW big")["statement"] == "drop_view"
    assert cat.list_views() == []
    # bare resolver (no catalog) refuses view DDL
    with pytest.raises(UnsupportedSQL):
        run_dml(spark, "CREATE VIEW x AS SELECT 1 AS one", lambda _: None)


def test_sql_select_passthrough_pinned_state(spark, cat):
    """SELECT / WITH route through Catalog.sql to register_views +
    spark.sql: the read resolves every table to ONE catalog state's
    pinned snapshot, so unpublished head motion is invisible and a
    later publish is picked up — uniform entry point, pinned-state
    semantics."""
    df = cat.sql(spark, "SELECT count(*) AS n FROM t WHERE k >= 5")
    from pyspark.sql import DataFrame

    assert isinstance(df, DataFrame)
    assert df.collect()[0]["n"] == 5
    # WITH works too
    df = cat.sql(
        spark,
        "WITH big AS (SELECT k FROM t WHERE k >= 8) "
        "SELECT count(*) AS n FROM big",
    )
    assert df.collect()[0]["n"] == 2
    # head motion WITHOUT a pin publish is invisible to the read
    t = cat.table("t")
    t.append(spark.createDataFrame([(100, "new", 1)], SCHEMA))
    assert (
        cat.sql(spark, "SELECT count(*) AS n FROM t").collect()[0]["n"] == 10
    )
    # publish: the same statement now sees the new row
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    assert (
        cat.sql(spark, "SELECT count(*) AS n FROM t").collect()[0]["n"] == 11
    )


def test_sql_select_over_catalog_view(spark, cat):
    """The pass-through materializes catalog VIEWS under the same
    state, so SELECTs may reference them directly."""
    cat.sql(spark, "CREATE VIEW evens AS SELECT k, qty FROM t WHERE k % 2 = 0")
    df = cat.sql(
        spark, "SELECT count(*) AS n, sum(qty) AS total FROM evens"
    )
    row = df.collect()[0]
    assert row["n"] == 5 and row["total"] == sum(i * 10 for i in range(0, 10, 2))
    # DML then read through the one entry point: uniform surface
    cat.sql(spark, "DELETE FROM t WHERE k = 0")
    assert (
        cat.sql(spark, "SELECT count(*) AS n FROM evens").collect()[0]["n"]
        == 4
    )


def test_sql_script_refuses_select(spark, cat):
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(spark, "DELETE FROM t WHERE k = 1; SELECT * FROM t")


def test_create_materialized_view_sql(spark, cat):
    """MATERIALIZED VIEW DDL (round 10): the ONE incrementally-
    maintainable agg shape routes onto create_maintained_agg /
    refresh_maintained / refresh_all_maintained; reads reach the view
    through the same Catalog.sql SELECT pass-through."""
    res = cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW sums AS "
        "SELECT v, COUNT(*) AS cnt, SUM(qty) AS sv FROM t GROUP BY v",
    )
    assert res["statement"] == "create_materialized_view"
    mv = cat.read(spark, "sums")
    assert {r["v"]: (r["cnt"], r["sv"]) for r in mv.collect()} == {
        "old": (5, 200.0),
        "odd": (5, 250.0),
    }
    # source churn + SQL refresh
    t = cat.table("t")
    t.append(
        spark.createDataFrame([(100, "new", 7), (101, "odd", 3)], SCHEMA)
    )
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    res = cat.sql(spark, "REFRESH MATERIALIZED VIEW sums")
    assert res["statement"] == "refresh_materialized_view"
    assert res["refreshed"] is True
    got = {r["v"]: (r["cnt"], r["sv"]) for r in cat.read(spark, "sums").collect()}
    assert got == {"old": (5, 200.0), "odd": (6, 253.0), "new": (1, 7.0)}
    # SELECT pass-through reads the PINNED maintained view
    assert (
        cat.sql(
            spark, "SELECT SUM(cnt) AS n FROM sums"
        ).collect()[0]["n"]
        == 12
    )
    # REFRESH ALL brings the DAG current (single view here: no-op)
    res = cat.sql(spark, "REFRESH ALL MATERIALIZED VIEWS")
    assert res["statement"] == "refresh_all_materialized_views"
    assert res["refreshed"] == {"sums": False}


def test_materialized_view_sql_refusals(spark, cat):
    for bad, why in [
        (
            "CREATE MATERIALIZED VIEW m AS SELECT v, COUNT(*) AS n, "
            "SUM(qty) AS sv FROM t GROUP BY v",
            "cnt/sv",  # measures must carry the view's column names
        ),
        (
            "CREATE MATERIALIZED VIEW m AS SELECT v, COUNT(*) AS cnt, "
            "SUM(qty) AS sv FROM t GROUP BY k",
            "GROUP BY",  # key must equal the group-by column
        ),
        (
            "CREATE MATERIALIZED VIEW m AS SELECT v, COUNT(*) AS cnt, "
            "MAX(qty) AS mx FROM t GROUP BY v",
            "additively maintainable",  # MAX is not
        ),
        (
            "CREATE MATERIALIZED VIEW m AS SELECT v, COUNT(*) AS cnt, "
            "SUM(qty) AS sv, SUM(k) AS total FROM t GROUP BY v",
            "sv_qty",  # multi-measure aliases are the view's columns
        ),
        ("REFRESH MATERIALIZED VIEW", "statement shape"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why.replace("(", "\\(")):
            cat.sql(spark, bad)
    # refresh of a missing view is loud (KeyError from the catalog)
    with pytest.raises(KeyError):
        cat.sql(spark, "REFRESH MATERIALIZED VIEW nope")
    # maintained-view statements can't join a script's single publish
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(
            spark,
            "DELETE FROM t WHERE k >= 9; REFRESH MATERIALIZED VIEW sums",
        )


def test_optimize_and_vacuum_sql(spark, cat):
    """OPTIMIZE / VACUUM verbs (round 10): the Iceberg/Delta
    maintenance spellings route onto Table.maintain and
    expire_snapshots — content identical before/after, small files
    bin-packed, expired snapshots physically GC'd, pins published."""
    t = cat.table("t")
    for i in range(6):  # fragment: six 1-row appends
        t.append(
            spark.createDataFrame([(200 + i, "frag", i)], SCHEMA).coalesce(1)
        )
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    before = cat.read(spark, "t").orderBy("k").collect()
    files_before = len(list(cat.table("t").current_files()))
    res = cat.sql(spark, "OPTIMIZE t")
    assert res["statement"] == "optimize"
    assert len(list(cat.table("t").current_files())) < files_before
    assert cat.read(spark, "t").orderBy("k").collect() == before
    n_snaps = len(cat.table("t").metadata.snapshots)
    assert n_snaps > 2
    res = cat.sql(spark, "VACUUM t RETAIN 2 SNAPSHOTS")
    assert res["statement"] == "vacuum"
    assert len(cat.table("t").metadata.snapshots) <= 2
    assert cat.read(spark, "t").orderBy("k").collect() == before
    # WHERE on an unpartitioned table refuses with a reason
    with pytest.raises(UnsupportedSQL, match="unpartitioned"):
        cat.sql(spark, "OPTIMIZE t WHERE k > 0")


def test_optimize_where_partition_sql(spark, cat):
    """OPTIMIZE t WHERE <partition-col> = <lit> (round 12 — the
    Iceberg/Delta selective-compaction spelling): compaction scoped to
    ONE identity partition — the named partition's small files
    bin-pack, every other partition's files are untouched (same
    physical paths), content identical; expiry/GC stay whole-table
    verbs. Imprecise predicates refuse loudly."""
    from java_iceberg_table_spark.table import bucket as bucket_tf
    from java_iceberg_table_spark.table import identity

    pt = cat.create_table(
        "popt",
        StructType(
            [
                StructField("b", LongType(), False),
                StructField("v", StringType(), True),
            ]
        ),
        partition=identity("b"),
    )
    for i in range(12):  # six 1-row files per partition
        pt.append(
            spark.createDataFrame(
                [(i % 2, f"r{i}")], "b long, v string"
            ).coalesce(1)
        )
    cat._commit_pins({"popt": pt.metadata.current_snapshot_id})
    before = cat.read(spark, "popt").orderBy("b", "v").collect()

    def files_by_part():
        out: dict = {}
        for e in cat.table("popt").current_files():
            out.setdefault(e.get("partition"), set()).add(e["path"])
        return out

    pre = files_by_part()
    assert len(pre[0]) == 6 and len(pre[1]) == 6
    res = cat.sql(spark, "OPTIMIZE popt WHERE b = 1")
    assert res["statement"] == "optimize"
    assert res["compact"]["rewritten"] == 6
    post = files_by_part()
    assert len(post[1]) < 6  # named partition compacted
    assert post[0] == pre[0]  # other partition: SAME physical files
    assert cat.read(spark, "popt").orderBy("b", "v").collect() == before
    for bad, why in [
        ("OPTIMIZE popt WHERE b > 0", "one"),
        ("OPTIMIZE popt WHERE v = 'x'", "partitions on"),
        ("OPTIMIZE popt WHERE b = 0 AND v = 'x'", "one"),
        ("OPTIMIZE popt WHERE b = 'x'", "integer literal"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why):
            cat.sql(spark, bad)
    # transformed layouts refuse the scoped form
    bt = cat.create_table(
        "bopt",
        StructType([StructField("id", LongType(), False)]),
        partition=bucket_tf("id", 4),
    )
    bt.append(spark.createDataFrame([(i,) for i in range(4)], "id long"))
    cat._commit_pins({"bopt": bt.metadata.current_snapshot_id})
    with pytest.raises(UnsupportedSQL, match="identity layout"):
        cat.sql(spark, "OPTIMIZE bopt WHERE id = 1")


def test_optimize_zorder_sql(spark, cat):
    """OPTIMIZE t ZORDER BY (c1, c2) (round 12 — Delta's spelling on
    the a3i machinery): Morton-code layout rewrite through the SQL
    router — content identical, one 'replace' snapshot, fewer files
    matched on BOTH named columns than arrival order would; unknown /
    duplicate / non-numeric / too-many columns refuse loudly."""
    zt = cat.create_table(
        "zt",
        StructType(
            [
                StructField("x", LongType(), False),
                StructField("y", LongType(), False),
                StructField("a", LongType(), True),
                StructField("b", LongType(), True),
                StructField("v", StringType(), True),
            ]
        ),
    )
    rows = [
        (i % 64, (i * 37) % 64, i, i, f"r{i}") for i in range(4096)
    ]
    df = spark.createDataFrame(
        rows, "x long, y long, a long, b long, v string"
    )
    # arrival-order fragments: 8 appends, stats tight on NOTHING
    for i in range(8):
        zt.append(df.filter(F.col("x") % 8 == i).coalesce(2))
    cat._commit_pins({"zt": zt.metadata.current_snapshot_id})
    before = cat.read(spark, "zt").orderBy("x", "y", "v").collect()
    res = cat.sql(spark, "OPTIMIZE zt ZORDER BY (x, y)")
    assert res["statement"] == "optimize"
    assert res["zorder"]["rewritten"] > 0
    t2 = cat.table("zt")
    assert t2.metadata.current_snapshot().operation == "replace"
    assert cat.read(spark, "zt").orderBy("x", "y", "v").collect() == before
    # both dimensions prune: a point predicate on either column plans
    # fewer files than the table holds
    n_files = len(list(t2.current_files()))
    for col in ("x", "y"):
        planned = len(t2.plan_files([(col, "=", 3)]))
        assert planned < n_files, (col, planned, n_files)
    for bad, why in [
        ("OPTIMIZE zt ZORDER BY (nope)", "unknown columns"),
        ("OPTIMIZE zt ZORDER BY (x, X)", "duplicate"),
        ("OPTIMIZE zt ZORDER BY (v)", "numeric columns"),
        ("OPTIMIZE zt ZORDER BY (x, y, a, b)", "at most 3"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why):
            cat.sql(spark, bad)


def test_vacuum_protects_lagging_published_pin(spark, cat):
    """Maintenance-verb catalog semantics (round-10 review findings):
    a published pin that LAGS the head — unpublished direct-writer
    commits — is (1) never expired by VACUUM (protect_ids) and (2)
    never advanced by OPTIMIZE/VACUUM (content-preserving verbs must
    not leak unpublished rows to catalog readers); VACUUM is refused
    inside a script whose publish it could outrun."""
    t = cat.table("t")
    pinned_snap = t.metadata.current_snapshot_id
    # direct writer advances the head WITHOUT publishing
    for i in range(3):
        t.append(
            spark.createDataFrame([(300 + i, "unpub", i)], SCHEMA).coalesce(1)
        )
    assert cat.read(spark, "t").count() == 10  # readers see the pin
    res = cat.sql(spark, "VACUUM t RETAIN 1 SNAPSHOTS")
    assert res["pin_published"] is False
    # the pinned snapshot survived expiry and still reads
    assert pinned_snap in {
        s.snapshot_id for s in cat.table("t").metadata.snapshots
    }
    assert cat.read(spark, "t").count() == 10
    res = cat.sql(spark, "OPTIMIZE t")
    assert res["pin_published"] is False
    assert cat.read(spark, "t").count() == 10  # still the published pin
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(
            spark, "DELETE FROM t WHERE k >= 9; VACUUM t RETAIN 1 SNAPSHOTS"
        )
    # OPTIMIZE refused in scripts for the same reason (round-11 review
    # finding): scripts run run_dml without catalog=, so the table
    # would join the script-end publish and the pin would advance to
    # the post-maintenance head unconditionally — leaking the three
    # unpublished direct-writer rows above to catalog readers
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(spark, "DELETE FROM t WHERE k >= 9; OPTIMIZE t")
    assert cat.read(spark, "t").count() == 10  # pin never moved


def test_multi_measure_materialized_view(spark, cat):
    """Multi-SUM maintained views (round 10): several sv_<col>
    measures fold in the same signed delta — the common multi-measure
    GROUP BY reachable from SQL, incrementally maintained under
    inserts AND deletes."""
    cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW m AS SELECT v, COUNT(*) AS cnt, "
        "SUM(qty) AS sv_qty, SUM(k) AS sv_k FROM t GROUP BY v",
    )
    got = {r["v"]: (r["cnt"], r["sv_qty"], r["sv_k"]) for r in
           cat.read(spark, "m").collect()}
    assert got == {"old": (5, 200.0, 20.0), "odd": (5, 250.0, 25.0)}
    # churn: insert + MOR delete, one refresh folds both with signs
    t = cat.table("t")
    t.append(spark.createDataFrame([(50, "odd", 9)], SCHEMA))
    t.delete_eq_mor(
        spark, spark.createDataFrame([(0,), (2,)], "k long"), ["k"]
    )
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    cat.sql(spark, "REFRESH MATERIALIZED VIEW m")
    mv = cat.read(spark, "m")
    rec = (
        cat.table("t").scan(spark)
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("qty").alias("sv_qty"),  # long fold: qty/k are long
            F.sum("k").alias("sv_k"),
        )
        .select(mv.columns)
    )
    assert mv.exceptAll(rec).isEmpty() and rec.exceptAll(mv).isEmpty()
    # reserved-name collision refused (key colliding with a measure)
    from java_iceberg_table_spark.table.maintained import (
        create_maintained_agg,
    )

    with pytest.raises(ValueError, match="reserves"):
        create_maintained_agg(cat, spark, "m2", "t", "cnt", ["qty"])
    with pytest.raises(ValueError, match="duplicate"):
        create_maintained_agg(cat, spark, "m2", "t", "v", ["qty", "qty"])


def test_matview_ddl_tolerates_newlines(spark, cat):
    """Round-11 review finding: _CREATE_MATVIEW[_TOPK] lacked re.S, so
    an in-grammar statement whose measure list or inner SELECT spans
    lines was refused — inconsistent with every other multi-line-
    tolerant DDL regex."""
    cat.sql(
        spark,
        """CREATE MATERIALIZED VIEW ml AS
           SELECT v, COUNT(*) AS cnt,
                  SUM(qty) AS sv
           FROM t
           GROUP BY v""",
    )
    got = {r["v"]: (r["cnt"], r["sv"]) for r in cat.read(spark, "ml").collect()}
    assert set(got) == {"old", "odd"}
    cat.sql(
        spark,
        """CREATE MATERIALIZED VIEW mt AS
           SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY v ORDER BY k)
               AS rn FROM t
           ) WHERE rn <= 2""",
    )
    assert cat.read(spark, "mt").count() == 4


def test_insert_values_and_select(spark, cat):
    """INSERT INTO (round 10): full-schema VALUES tuples and
    INSERT ... SELECT both land as ordinary appends with the pin
    published."""
    res = cat.sql(
        spark,
        "INSERT INTO t VALUES (20, 'ins', 5), (21, NULL, 6)",
    )
    assert res["statement"] == "insert" and res["inserted_rows"] == 2
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.read(spark, "t").collect()}
    assert rows[20] == ("ins", 5) and rows[21] == (None, 6)
    # INSERT ... SELECT evaluates against the PINNED catalog state
    res = cat.sql(
        spark,
        "INSERT INTO t SELECT k + 500 AS k, v, qty FROM t WHERE k >= 20",
    )
    assert res["inserted_rows"] == 2
    assert cat.read(spark, "t").count() == 14
    # source names match case-insensitively (Spark's default resolution)
    res = cat.sql(
        spark,
        "INSERT INTO t SELECT k + 1000 AS K, v, qty FROM t WHERE k >= 500",
    )
    assert res["inserted_rows"] == 2
    assert {r["k"] for r in cat.read(spark, "t").collect()} >= {1520, 1521}
    for bad, why in [
        ("INSERT INTO t VALUES (1, 'x')", "arity"),
        ("INSERT INTO t SELECT k FROM t", "match the table schema"),
        ("INSERT INTO t VALUES 1, 2, 3", "parenthesized"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why):
            cat.sql(spark, bad)


def test_insert_column_list(spark, cat):
    """Column-list INSERT (round 11): absent columns fill their
    initial default (a4d machinery) or NULL when nullable; unknown /
    duplicate / omitted-non-nullable columns refuse loudly. Previously
    every column-list insert was refused outright."""
    res = cat.sql(spark, "INSERT INTO t (k, v) VALUES (40, 'part')")
    assert res["inserted_rows"] == 1
    row = [r for r in cat.read(spark, "t").collect() if r["k"] == 40][0]
    assert (row["v"], row["qty"]) == ("part", None)  # NULL-filled
    # an absent column with an initial default fills the DEFAULT value
    # for the new rows (materialized at write — new entries sit past
    # the default's sequence, so read-side fill never applies to them)
    cat.sql(spark, "ALTER TABLE t ADD COLUMN region string DEFAULT 'emea'")
    res = cat.sql(spark, "INSERT INTO t (k, v, qty) VALUES (41, 'dflt', 2)")
    assert res["inserted_rows"] == 1
    rows = {r["k"]: r["region"] for r in cat.read(spark, "t").collect()}
    assert rows[41] == "emea"  # write-path fill
    assert rows[40] == "emea"  # pre-add row: read-side initial default
    # column-list INSERT ... SELECT maps positionally onto the list
    res = cat.sql(
        spark,
        "INSERT INTO t (v, k) SELECT v, k + 900 FROM t WHERE k = 40",
    )
    assert res["inserted_rows"] == 1
    row = [r for r in cat.read(spark, "t").collect() if r["k"] == 940][0]
    assert (row["v"], row["qty"], row["region"]) == ("part", None, "emea")
    # whitespace after VALUES is ANY whitespace (round-12 ADVICE fix):
    # a newline with no literal space anywhere must not read as an
    # empty body and refuse a valid statement
    res = cat.sql(spark, "INSERT INTO t (k,v) VALUES\n(50,'nl'),(51,'nl2')")
    assert res["inserted_rows"] == 2
    # column names match case-INSENSITIVELY, like the duplicate check
    # and the rest of the grammar (round-12 ADVICE fix)
    res = cat.sql(spark, "INSERT INTO t (K, V) VALUES (52, 'caps')")
    assert res["inserted_rows"] == 1
    row = [r for r in cat.read(spark, "t").collect() if r["k"] == 52][0]
    assert (row["v"], row["qty"]) == ("caps", None)
    for bad, why in [
        ("INSERT INTO t (k, nope) VALUES (1, 2)", "unknown columns"),
        ("INSERT INTO t (k, K) VALUES (1, 2)", "duplicate columns"),
        ("INSERT INTO t (k, k) VALUES (1, 2)", "duplicate columns"),
        ("INSERT INTO t (k, v) VALUES (1, 'x', 9)", "arity"),
        ("INSERT INTO t (k) SELECT k, v FROM t", "arity"),
        ("INSERT INTO t (k + 1) VALUES (1)", "not recognized"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why):
            cat.sql(spark, bad)
    # omitting a NON-nullable column without a default refuses loudly
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    strict = StructType(
        [
            StructField("a", LongType(), False),
            StructField("b", StringType(), True),
        ]
    )
    cat.create_table("strict_t", strict)
    cat._commit_pins({"strict_t": None})
    with pytest.raises(UnsupportedSQL, match="non-nullable"):
        cat.sql(spark, "INSERT INTO strict_t (b) VALUES ('x')")


def test_create_table_as_select(spark, cat):
    res = cat.sql(
        spark,
        "CREATE TABLE odd_totals AS "
        "SELECT v, SUM(qty) AS total FROM t WHERE k % 2 = 1 GROUP BY v",
    )
    assert res["statement"] == "create_table_as"
    got = cat.read(spark, "odd_totals").collect()
    assert {(r["v"], r["total"]) for r in got} == {("odd", 250)}
    # CTAS result is an ordinary engine table: DML routes onto it
    cat.sql(spark, "INSERT INTO odd_totals VALUES ('extra', 1)")
    assert cat.read(spark, "odd_totals").count() == 2
    # duplicate name refused by the catalog
    with pytest.raises(ValueError, match="exists"):
        cat.sql(spark, "CREATE TABLE odd_totals AS SELECT 1 AS one")
    # CTAS/INSERT inside scripts: CTAS refused (own catalog commit),
    # INSERT composes with the single publish
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(
            spark,
            "DELETE FROM t WHERE k = 0; CREATE TABLE x AS SELECT 1 AS one",
        )
    out = cat.sql_script(
        spark,
        "INSERT INTO odd_totals VALUES ('scripted', 2); "
        "DELETE FROM odd_totals WHERE v = 'extra'",
    )
    assert [o["statement"] for o in out] == ["insert", "delete"]
    vals = {r["v"] for r in cat.read(spark, "odd_totals").collect()}
    assert vals == {"odd", "scripted"}


def test_alter_table_and_drop_table_sql(spark, cat):
    """ALTER TABLE verbs route onto the engine's schema-evolution ops
    (metadata-only schema-log commits — snapshots and pins do not
    move); DROP TABLE unregisters from the catalog (PURGE deletes the
    directory too)."""
    res = cat.sql(
        spark, "ALTER TABLE t ADD COLUMN note string DEFAULT 'n/a'"
    )
    assert res["statement"] == "alter_add_column"
    # head scans see the evolved schema; the PINNED read keeps its
    # snapshot's vintage schema (time-travel semantics, a3d/a3u)
    head = cat.table("t").scan(spark)
    rows = {r["k"]: r["note"] for r in head.collect()}
    assert set(rows.values()) == {"n/a"}  # v3 initial-default backfill
    cat.sql(spark, "ALTER TABLE t RENAME COLUMN note TO remark")
    assert "remark" in cat.table("t").scan(spark).columns
    cat.sql(spark, "ALTER TABLE t ADD COLUMN score float")
    cat.sql(spark, "ALTER TABLE t ALTER COLUMN score TYPE double")
    assert dict(cat.table("t").scan(spark).dtypes)["score"] == "double"
    cat.sql(spark, "ALTER TABLE t DROP COLUMN remark")
    assert "remark" not in cat.table("t").scan(spark).columns
    res = cat.sql(
        spark,
        "ALTER TABLE t SET TBLPROPERTIES ('write.sort.order' = 'k')",
    )
    assert cat.table("t").metadata.properties["write.sort.order"] == "k"
    # schema verbs never move the published pin past unpublished commits
    pin_before = cat.state().pins["t"]
    t = cat.table("t")
    t.append(spark.createDataFrame([(400, "unpub", 9, 1.0)], t.schema()))
    cat.sql(spark, "ALTER TABLE t ADD COLUMN extra bigint")
    assert cat.state().pins["t"] == pin_before
    # narrowing refused by the op itself, loudly through SQL
    with pytest.raises(ValueError, match="widening"):
        cat.sql(spark, "ALTER TABLE t ALTER COLUMN score TYPE float")
    # DROP TABLE
    cat.sql(spark, "CREATE TABLE doomed AS SELECT 1 AS one")
    root = cat.table("doomed").root
    res = cat.sql(spark, "DROP TABLE doomed")
    assert res["purged"] is False and "doomed" not in cat.list_tables()
    import os as _os

    assert _os.path.exists(root)  # no purge: directory stays
    cat.sql(spark, "CREATE TABLE doomed2 AS SELECT 1 AS one")
    root2 = cat.table("doomed2").root
    cat.sql(spark, "DROP TABLE doomed2 PURGE")
    assert not _os.path.exists(root2)
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(spark, "DELETE FROM t WHERE k = 0; DROP TABLE t")


def test_truncate_table_sql(spark, cat):
    """TRUNCATE TABLE = static INSERT OVERWRITE with no entries: one
    metadata commit, rows gone, history time-travelable."""
    snap_before = cat.table("t").metadata.current_snapshot_id
    res = cat.sql(spark, "TRUNCATE TABLE t")
    assert res["statement"] == "truncate"
    assert cat.read(spark, "t").count() == 0
    assert cat.table("t").scan(spark).count() == 0
    # the pre-truncate snapshot still reads (until VACUUM)
    assert cat.table("t").scan(spark, snapshot_id=snap_before).count() == 10
    # refills normally
    cat.sql(spark, "INSERT INTO t VALUES (1, 'back', 1)")
    assert cat.read(spark, "t").count() == 1


def test_topk_materialized_view_sql(spark, cat):
    """The top-k fold reachable from SQL (round 10): exactly the
    standard ROW_NUMBER idiom maps onto create_maintained_topk; the
    refresh is the same CDC-cursor fold the agg views use."""
    res = cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW top2 AS SELECT * FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY v ORDER BY qty, k) "
        "AS rn FROM t) WHERE rn <= 2",
    )
    assert res["statement"] == "create_materialized_view"
    assert res["kind"] == "topk"
    got = {(r["v"], r["rn"]): r["k"] for r in cat.read(spark, "top2").collect()}
    assert got == {
        ("old", 1): 0, ("old", 2): 2, ("odd", 1): 1, ("odd", 2): 3,
    }
    # churn + SQL refresh: a smaller qty takes rank 1
    t = cat.table("t")
    t.append(spark.createDataFrame([(77, "odd", -5)], SCHEMA))
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    cat.sql(spark, "REFRESH MATERIALIZED VIEW top2")
    got = {(r["v"], r["rn"]): r["k"] for r in cat.read(spark, "top2").collect()}
    assert got[("odd", 1)] == 77 and got[("odd", 2)] == 1
    # only the exact idiom parses: DESC order and rn < N refuse
    for bad in (
        "CREATE MATERIALIZED VIEW x AS SELECT * FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY v ORDER BY qty DESC) AS rn "
        "FROM t) WHERE rn <= 2",
        "CREATE MATERIALIZED VIEW x AS SELECT * FROM (SELECT *, "
        "ROW_NUMBER() OVER (PARTITION BY v ORDER BY qty) AS rn "
        "FROM t) WHERE rn < 2",
    ):
        with pytest.raises(UnsupportedSQL, match="maintainable shapes"):
            cat.sql(spark, bad)


def test_explain_passthrough(spark, cat):
    rows = cat.sql(spark, "EXPLAIN SELECT COUNT(*) FROM t").collect()
    assert rows and ("Aggregate" in rows[0][0] or "Physical" in rows[0][0])


def test_insert_values_literal_property(spark, cat):
    """Property: any string literal round-trips through INSERT VALUES
    byte-identically — quotes escaped as '', whitespace preserved."""
    from hypothesis import given, settings, strategies as st

    import java_iceberg_table_spark.table.sql_dml as sd

    texts = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs",), max_codepoint=0x2FF
        ),
        max_size=12,
    )

    @settings(max_examples=60, deadline=None)
    @given(texts)
    def roundtrip(s):
        lit = "'" + s.replace("'", "''") + "'"
        m = sd._INSERT_VALUES.match(f"INSERT INTO t VALUES (1, {lit}, 2)")
        assert m is not None
        grp = sd._split_depth0(m.group(2).strip()[1:-1], ",")
        # the middle token parses back to the original text
        assert sd._parse_literal(grp[1]) == s

    roundtrip()


def test_show_and_describe(spark, cat):
    assert [r["table_name"] for r in cat.sql(spark, "SHOW TABLES").collect()] == ["t"]
    cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW sums AS "
        "SELECT v, COUNT(*) AS cnt, SUM(qty) AS sv FROM t GROUP BY v",
    )
    mvs = cat.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
    assert [(r["view_name"], r["kind"], r["source"]) for r in mvs] == [
        ("sums", "agg", "t")
    ]
    cat.create_view("v1", "SELECT 1 AS one")
    assert [r["view_name"] for r in cat.sql(spark, "SHOW VIEWS").collect()] == ["v1"]
    d = {r["col_name"]: r["data_type"] for r in cat.sql(spark, "DESCRIBE t").collect()}
    assert d == {"k": "bigint", "v": "string", "qty": "bigint"}
    from java_iceberg_table_spark.table.sql_dml import UnsupportedSQL

    with pytest.raises(UnsupportedSQL, match="introspection"):
        cat.sql(spark, "SHOW GRANTS ON t")
    # SHOW PARTITIONS (round 12): metadata-only layout listing of the
    # pinned snapshot; unpartitioned tables refuse with a reason, not
    # an unrecognized-statement error
    with pytest.raises(UnsupportedSQL, match="unpartitioned"):
        cat.sql(spark, "SHOW PARTITIONS t")
    from java_iceberg_table_spark.table import identity

    pt = cat.create_table(
        "pshow",
        spark.createDataFrame([], "b long, v string").schema,
        partition=identity("b"),
    )
    pt.append(
        spark.createDataFrame(
            [(i % 3, f"r{i}") for i in range(9)], "b long, v string"
        )
    )
    cat._commit_pins({"pshow": pt.metadata.current_snapshot_id})
    parts = {
        r["partition"]: r["rows"]
        for r in cat.sql(spark, "SHOW PARTITIONS pshow").collect()
    }
    assert parts == {"0": 3, "1": 3, "2": 3}
    # SHOW SNAPSHOTS: the commit log, head marked
    snaps = cat.sql(spark, "SHOW SNAPSHOTS pshow").collect()
    assert len(snaps) == 1 and snaps[0]["operation"] == "append"
    assert snaps[0]["is_current"] is True
    # SHOW TBLPROPERTIES: non-default properties (mv.* included —
    # they are user-visible contract for maintained views)
    cat.sql(
        spark,
        "ALTER TABLE pshow SET TBLPROPERTIES ('write.sort.order' = 'b')",
    )
    props = {
        r["key"]: r["value"]
        for r in cat.sql(spark, "SHOW TBLPROPERTIES pshow").collect()
    }
    assert props.get("write.sort.order") == "b"
    mv_props = {
        r["key"]
        for r in cat.sql(spark, "SHOW TBLPROPERTIES sums").collect()
    }
    assert {"mv.kind", "mv.source", "mv.key"} <= mv_props
    # DESCRIBE EXTENDED: schema rows + #-detail block with partition /
    # snapshot / live file/row/byte totals from the pinned manifests
    ext = cat.sql(spark, "DESCRIBE EXTENDED pshow").collect()
    names = [r["col_name"] for r in ext]
    assert names[:2] == ["b", "v"]
    detail = {r["col_name"]: r["data_type"] for r in ext[2:]}
    # partition renders in DDL form, same as SHOW CREATE TABLE emits
    # (round 13 — was the dataclass repr)
    assert detail["partition"] == "b"
    assert detail["rows"] == "9" and int(detail["files"]) >= 1
    assert int(detail["snapshots"]) >= 1
    # DESCRIBE reads the PINNED snapshot's schema, like SELECT
    # pass-through (round-11 review finding): an unpublished direct-
    # writer ADD COLUMN must not surface columns a catalog SELECT on
    # the same connection cannot see
    cat.table("t").add_column("unpub_col", "long")
    d = {r["col_name"] for r in cat.sql(spark, "DESCRIBE t").collect()}
    assert "unpub_col" not in d


def test_round10_review_fixes(spark, cat):
    # ALTER refused inside scripts (would ride the script's pin publish)
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(
            spark, "DELETE FROM t WHERE k = 0; ALTER TABLE t ADD COLUMN c bigint"
        )
    # trailing semicolon accepted on introspection like on DML
    assert [r["table_name"] for r in cat.sql(spark, "SHOW TABLES;").collect()] == ["t"]
    # int literal widens into a double column (standard SQL), float
    # into a long column refuses loudly instead of an opaque TypeError
    cat.sql(spark, "ALTER TABLE t ADD COLUMN score double")
    cat.sql(spark, "INSERT INTO t VALUES (300, 'w', 1, 2)")
    row = [r for r in cat.table("t").scan(spark).collect() if r["k"] == 300]
    assert row[0]["score"] == 2.0
    with pytest.raises(UnsupportedSQL, match="does not fit"):
        cat.sql(spark, "INSERT INTO t VALUES (301, 'w', 1.5, 2)")


def test_merge_not_matched_by_source_full_sync(spark, cat):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE (SQL:2023 / Delta): the
    full-sync MERGE — target mirrors the source in one statement via
    the same equality-delete entry, no data rewrite."""
    spark.createDataFrame(
        [(0, "sync", 1), (1, "sync", 2), (500, "new", 3)], SCHEMA
    ).createOrReplaceTempView("mirror_src")
    res = cat.sql(
        spark,
        """MERGE INTO t USING mirror_src AS s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE""",
    )
    assert res["statement"] == "merge"
    assert res["updated_rows"] == 2 and res["inserted_rows"] == 1
    assert res["source_deleted_rows"] == 8  # the other 8 of 10 rows
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.read(spark, "t").collect()}
    assert rows == {0: ("sync", 1), 1: ("sync", 2), 500: ("new", 3)}
    # the clause refuses conditions and duplicates (round 14
    # legalized the UPDATE action — the old probe was swapped for
    # permanently-illegal shapes: conditions, UPDATE SET *, mixing
    # DELETE with UPDATE, s.* references)
    for bad in (
        "MERGE INTO t USING mirror_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.qty = 0 THEN DELETE",
        "MERGE INTO t USING mirror_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *",
        "MERGE INTO t USING mirror_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET qty = s.qty",
        "MERGE INTO t USING mirror_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET qty = 0",
        "MERGE INTO t USING mirror_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    ):
        with pytest.raises(UnsupportedSQL):
            cat.sql(spark, bad)
    # pure mirror-delete (no other clauses) also routes
    spark.createDataFrame(
        [(0, "sync", 1)], SCHEMA
    ).createOrReplaceTempView("mirror_src2")
    res = cat.sql(
        spark,
        "MERGE INTO t USING mirror_src2 AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
    )
    assert res["source_deleted_rows"] == 2
    assert {r["k"] for r in cat.read(spark, "t").collect()} == {0}
    # duplicate-keyed source refused for full-sync merges too (round-11
    # review finding): a mirror source is one authoritative row per
    # key; previously only update/delete clauses tripped the check and
    # INSERT* + BY SOURCE silently inserted both duplicates
    spark.createDataFrame(
        [(0, "dupA", 1), (0, "dupB", 2)], SCHEMA
    ).createOrReplaceTempView("mirror_dup")
    with pytest.raises(ValueError, match="multiple rows per key"):
        cat.sql(
            spark,
            "MERGE INTO t USING mirror_dup AS s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
        )


def test_merge_insert_only_duplicate_source_is_delta_exempt(spark, cat):
    """Insert-only MERGE keeps Delta's cardinality contract: the check
    applies to rows that could MATCH a target (update/delete clauses)
    or to full-sync mirrors, but an insert-only merge with duplicate
    UNMATCHED source keys inserts each row, exactly like Delta."""
    t = cat.table("t")
    spark.createDataFrame(
        [(700, "dupA", 1), (700, "dupB", 2)], SCHEMA
    ).createOrReplaceTempView("ins_dup")
    res = t.merge_into(
        spark,
        spark.table("ins_dup"),
        on=["k"],
        update=None,
        insert=True,
    )
    assert res["inserted_rows"] == 2
    got = sorted(
        r["v"] for r in t.scan(spark).filter(F.col("k") == 700).collect()
    )
    assert got == ["dupA", "dupB"]


def test_realtime_hint_sql(spark, cat):
    """SELECT /*+ REALTIME */ (round 11): maintained views named in
    the statement read through read_realtime — exact current answer
    with no refresh; the STRICT contract refuses any read that would
    silently fall back to an O(source) recompute."""
    cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW sums AS "
        "SELECT v, COUNT(*) AS cnt, SUM(qty) AS sv FROM t GROUP BY v",
    )
    # churn WITHOUT refresh: the stale view misses these rows
    t = cat.table("t")
    t.append(
        spark.createDataFrame([(60, "rt", 5), (61, "rt", 7)], SCHEMA)
    )
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    stale = cat.sql(
        spark, "SELECT SUM(cnt) AS n FROM sums"
    ).collect()[0]["n"]
    rt = cat.sql(
        spark, "SELECT /*+ REALTIME */ SUM(cnt) AS n FROM sums"
    ).collect()[0]["n"]
    assert stale == 10 and rt == 12
    got = {
        r["v"]: (r["cnt"], r["sv"])
        for r in cat.sql(
            spark, "SELECT /*+ REALTIME */ * FROM sums WHERE v = 'rt'"
        ).collect()
    }
    assert got == {"rt": (2, 12)}
    # non-maintained tables in the same statement keep pinned reads
    joined = cat.sql(
        spark,
        "SELECT /*+ REALTIME */ s.v, s.cnt, COUNT(*) AS n_rows "
        "FROM sums s JOIN t ON t.v = s.v GROUP BY s.v, s.cnt",
    )
    # t's pinned read excludes the unpublished? no — pins were
    # published above; just assert it executes and sees the rt group
    assert {r["v"] for r in joined.collect()} >= {"rt"}
    # a top-k view whose tail has deletes serves through the BOUNDED
    # merge (delete-touched keys recomputed from source, pruned to
    # their files) — exact, still delta-sized, so strict allows it
    cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW topq AS SELECT * FROM ("
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY v ORDER BY k) AS rn "
        "FROM t) WHERE rn <= 2",
    )
    t = cat.table("t")
    t.delete_eq_mor(spark, spark.createDataFrame([(0,)], "k long"), ["k"])
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    from java_iceberg_table_spark.operators.topk_view import topk_frame

    rt_topq = cat.sql(spark, "SELECT /*+ REALTIME */ * FROM topq")
    rec_topq = topk_frame(
        cat.table("t").scan(spark), "v", ["k"], 2
    ).select(rt_topq.columns)
    assert rt_topq.exceptAll(rec_topq).isEmpty()
    assert rec_topq.exceptAll(rt_topq).isEmpty()
    # without the hint the pinned (stale) view still reads fine
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM topq").collect()
    # after REFRESH the hint read serves the merged/caught-up answer
    cat.sql(spark, "REFRESH MATERIALIZED VIEW topq")
    n = cat.sql(
        spark, "SELECT /*+ REALTIME */ COUNT(*) AS n FROM topq"
    ).collect()[0]["n"]
    assert n == cat.read(spark, "topq").count()
    # STRICT refusal survives for the true O(source) fallbacks: a
    # half-applied crashed fold (live mv-refresh-del above the cursor
    # append) cannot be served at O(view)+O(tail)
    vt = cat.table("topq")
    vt.delete_eq_mor(
        spark,
        spark.createDataFrame([("rt",)], "v string"),
        ["v"],
        extra_summary={"mv-refresh-del": 999},
    )
    with pytest.raises(ValueError, match="REALTIME"):
        cat.sql(spark, "SELECT /*+ REALTIME */ COUNT(*) AS n FROM topq")
    # ... the ALLOW_RECOMPUTE argument names the cost cliff in the
    # statement, so the same read serves the EXACT full recompute
    # (round 12 — the SQL face of the API's non-strict default)
    n_fb = cat.sql(
        spark,
        "SELECT /*+ REALTIME(ALLOW_RECOMPUTE) */ COUNT(*) AS n FROM topq",
    ).collect()[0]["n"]
    assert n_fb == topk_frame(
        cat.table("t").scan(spark), "v", ["k"], 2
    ).count()
    # ... but a statement that merely MENTIONS the broken view — in a
    # string literal or as an output alias — without READING it must
    # still serve (round-12 ADVICE fix: refusal scope = FROM/JOIN read
    # set, not \b-textual match over the whole statement)
    assert cat.sql(
        spark,
        "SELECT /*+ REALTIME */ 'topq' AS topq, SUM(cnt) AS n FROM sums",
    ).collect()[0]["n"] is not None
    # comma-join (with aliases) still counts as a READ of the view
    with pytest.raises(ValueError, match="REALTIME"):
        cat.sql(
            spark,
            "SELECT /*+ REALTIME */ COUNT(*) AS n FROM t x, topq y",
        )
    # the un-hinted read and the Python API still serve (recompute)
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM topq").collect()


def test_version_as_of_sql(spark, cat):
    """FROM t [FOR] VERSION AS OF <snapshot-id> (round 12): per-table
    SQL time travel onto Table.scan(snapshot_id=), single-table
    statements only — every multi-relation / hint-combining / view /
    dangling form refuses loudly, multi-table history reads go through
    /*+ CATALOG_VERSION(n) */."""
    snap1 = cat.table("t").metadata.current_snapshot_id
    n1 = cat.read(spark, "t").count()
    cat.sql(spark, "INSERT INTO t VALUES (90, 'tt', 1)")
    assert (
        cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"]
        == n1 + 1
    )
    for form in (
        f"SELECT COUNT(*) AS n FROM t FOR VERSION AS OF {snap1}",
        f"SELECT COUNT(*) AS n FROM t VERSION AS OF {snap1}",  # bare
    ):
        assert cat.sql(spark, form).collect()[0]["n"] == n1
    # clauses around the travel compose; aliases welcome
    got = {
        r["v"]: r["n"]
        for r in cat.sql(
            spark,
            f"SELECT x.v, COUNT(*) AS n FROM t FOR VERSION AS OF "
            f"{snap1} AS x WHERE x.k < 4 GROUP BY x.v",
        ).collect()
    }
    assert got == {"old": 2, "odd": 2}
    # the travel does not leak: a plain read afterwards sees the head
    assert (
        cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"]
        == n1 + 1
    )
    # TIMESTAMP AS OF: epoch-millis and quoted ISO instants route
    # onto scan(as_of_ms=) under the same single-table contract
    ts1 = cat.table("t").snapshot_by_id(snap1).timestamp_ms
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(ts1 / 1000, tz=timezone.utc).isoformat()
    for form in (
        f"SELECT COUNT(*) AS n FROM t FOR TIMESTAMP AS OF {ts1}",
        f"SELECT COUNT(*) AS n FROM t TIMESTAMP AS OF '{iso}'",
    ):
        assert cat.sql(spark, form).collect()[0]["n"] == n1
    with pytest.raises(UnsupportedSQL, match="ISO-8601"):
        cat.sql(spark, "SELECT COUNT(*) FROM t TIMESTAMP AS OF 'nonsense'")
    with pytest.raises(KeyError, match="no snapshot"):
        cat.sql(spark, "SELECT COUNT(*) FROM t TIMESTAMP AS OF 1")
    # VERSION AS OF also takes a quoted branch/tag name (Iceberg
    # parity): the ref's pinned head answers, unknown refs are loud
    cat.table("t").create_tag("prefix", snapshot_id=snap1)
    got = cat.sql(
        spark, "SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 'prefix'"
    ).collect()[0]["n"]
    assert got == n1
    with pytest.raises(KeyError, match="no such ref"):
        cat.sql(spark, "SELECT COUNT(*) FROM t VERSION AS OF 'ghost'")
    cat.create_table("u", SCHEMA)
    cat.sql(spark, "CREATE VIEW tv AS SELECT k FROM t")
    for bad, why in [
        (
            f"SELECT COUNT(*) FROM t FOR VERSION AS OF {snap1} "
            "JOIN u ON t.k = u.k",
            "single-table",
        ),
        (
            f"SELECT /*+ CATALOG_VERSION(1) */ COUNT(*) FROM t "
            f"FOR VERSION AS OF {snap1}",
            "cannot combine",
        ),
        (
            f"SELECT /*+ REALTIME */ COUNT(*) FROM t "
            f"FOR VERSION AS OF {snap1}",
            "cannot combine",
        ),
        (
            f"SELECT COUNT(*) FROM t FOR VERSION AS OF {snap1} "
            f"WHERE k IN (SELECT k FROM t VERSION AS OF {snap1})",
            "one VERSION/TIMESTAMP AS OF",
        ),
        (f"SELECT COUNT(*) FROM tv FOR VERSION AS OF {snap1}", "view"),
        (f"SELECT COUNT(*), {snap1} AS v FROM t WHERE VERSION AS OF 3 > 1",
         "FROM <table>"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why):
            cat.sql(spark, bad)
    with pytest.raises(KeyError, match="unknown snapshot"):
        cat.sql(spark, "SELECT COUNT(*) FROM t FOR VERSION AS OF 424242")


def test_version_as_of_literal_and_selfjoin_hygiene(spark, cat):
    """Round-12 ADVICE fixes: (1) the travel-clause detector masks
    string literals first, so a query merely COMPARING a column to the
    text 'VERSION AS OF 5' is a plain read, not a refused time-travel
    statement; (2) a statement referencing the pinned table twice
    (self-join/self-union) refuses instead of silently pinning BOTH
    references to the past snapshot."""
    snap1 = cat.table("t").metadata.current_snapshot_id
    n1 = cat.read(spark, "t").count()
    cat.sql(spark, "INSERT INTO t VALUES (91, 'VERSION AS OF 5', 2)")
    # (1) literal mention only: plain read, no refusal, sees the head
    got = cat.sql(
        spark,
        "SELECT COUNT(*) AS n FROM t WHERE v = 'VERSION AS OF 5'",
    ).collect()[0]["n"]
    assert got == 1
    # a REAL clause composes with such a literal: one clause counted,
    # and the quoted-branch literal extraction still reads the
    # ORIGINAL text (the mask is detection-only)
    got = cat.sql(
        spark,
        f"SELECT COUNT(*) AS n FROM t FOR VERSION AS OF {snap1} "
        "WHERE v <> 'VERSION AS OF 99'",
    ).collect()[0]["n"]
    assert got == n1
    # (2) self-join / self-union of the pinned table refuses loudly
    for bad in (
        f"SELECT COUNT(*) AS n FROM t FOR VERSION AS OF {snap1} "
        "JOIN t x ON t.k = x.k",
        f"SELECT k FROM t FOR VERSION AS OF {snap1} "
        "UNION ALL SELECT k FROM t",
    ):
        with pytest.raises(UnsupportedSQL, match="references it 2 times"):
            cat.sql(spark, bad)


def test_catalog_version_hint_sql(spark, cat):
    """SELECT /*+ CATALOG_VERSION(n) */ (round 11): every referenced
    view registers pinned to the catalog state AS OF publish n —
    cross-table-consistent SQL time travel; contradictory hint combos
    refuse loudly."""
    v1 = cat.state().version
    t = cat.table("t")
    t.append(spark.createDataFrame([(80, "tt", 1)], SCHEMA))
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    v2 = cat.state().version
    assert v2 > v1
    n_old = cat.sql(
        spark, f"SELECT /*+ CATALOG_VERSION({v1}) */ COUNT(*) AS n FROM t"
    ).collect()[0]["n"]
    n_new = cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"]
    assert (n_old, n_new) == (10, 11)
    # the time-traveled world is the PUBLISH, not the head: an
    # unpublished append stays invisible at every version
    t.append(spark.createDataFrame([(81, "unpub", 1)], SCHEMA))
    assert (
        cat.sql(
            spark,
            f"SELECT /*+ CATALOG_VERSION({v2}) */ COUNT(*) AS n FROM t",
        ).collect()[0]["n"]
        == 11
    )
    with pytest.raises(UnsupportedSQL, match="contradict"):
        cat.sql(
            spark,
            f"SELECT /*+ CATALOG_VERSION({v1}) */ /*+ REALTIME */ "
            "COUNT(*) AS n FROM t",
        )
    with pytest.raises(FileNotFoundError):
        cat.sql(
            spark, "SELECT /*+ CATALOG_VERSION(999999) */ COUNT(*) FROM t"
        )


def test_insert_overwrite_partition_sql(spark, cat):
    """INSERT OVERWRITE t PARTITION (k = v | k) (round 12): explicit
    partition-scoped overwrite — static replaces exactly the named
    identity partition (source omits the column; empty source clears
    it), dynamic replaces exactly the partitions the written rows
    touch; untouched partitions carry by reference. Every ambiguous /
    mismatched form refuses loudly."""
    from java_iceberg_table_spark.table import identity

    pt = cat.create_table(
        "pt",
        StructType(
            [
                StructField("bucket", LongType(), False),
                StructField("v", StringType(), True),
            ]
        ),
        partition=identity("bucket"),
    )
    pt.append(
        spark.createDataFrame(
            [(i % 3, f"r{i}") for i in range(9)], "bucket long, v string"
        )
    )
    cat._commit_pins({"pt": pt.metadata.current_snapshot_id})
    # STATIC: replace partition 1 only; the value fills the column
    res = cat.sql(
        spark,
        "INSERT OVERWRITE pt PARTITION (bucket = 1) VALUES ('new1'), ('new2')",
    )
    assert res["mode"] == "static_partition"
    assert res["replaced_partitions"] == [1]
    rows = {
        (r["bucket"], r["v"]) for r in cat.read(spark, "pt").collect()
    }
    assert {v for b, v in rows if b == 1} == {"new1", "new2"}
    assert len([1 for b, _ in rows if b == 0]) == 3  # untouched
    assert len([1 for b, _ in rows if b == 2]) == 3
    t2 = cat.table("pt")
    assert t2.metadata.current_snapshot().operation == "overwrite"
    assert t2.metadata.current_snapshot().summary["overwrite-mode"] == "dynamic"
    # untouched partitions carried BY REFERENCE: the bucket-0/2 files
    # after the bucket-1 overwrite are the SAME physical files (zero
    # rewrite cost — the property that makes a daily-partition reload
    # cost one day, not the table)
    pre_files = {
        e["path"]
        for e in t2.files_of(t2.snapshot_by_id(
            t2.metadata.current_snapshot().parent_id
        ))
        if e.get("partition") in (0, 2)
    }
    post_files = {
        e["path"]
        for e in t2.files_of(t2.metadata.current_snapshot())
        if e.get("partition") in (0, 2)
    }
    assert pre_files and pre_files == post_files
    # STATIC with an empty source CLEARS the partition (Hive form)
    res = cat.sql(
        spark,
        "INSERT OVERWRITE pt PARTITION (bucket = 2) "
        "SELECT v FROM pt WHERE bucket = 99",
    )
    assert res["inserted_rows"] == 0 and res["replaced_partitions"] == [2]
    assert cat.read(spark, "pt").filter("bucket = 2").count() == 0
    # DYNAMIC: rows choose their partitions; bucket 0 untouched
    res = cat.sql(
        spark,
        "INSERT OVERWRITE pt PARTITION (bucket) "
        "VALUES (1, 'dyn1'), (2, 'dyn2'), (2, 'dyn3')",
    )
    assert res["mode"] == "dynamic_partition"
    assert res["replaced_partitions"] == [1, 2]
    got = {r["bucket"]: set() for r in cat.read(spark, "pt").collect()}
    for r in cat.read(spark, "pt").collect():
        got[r["bucket"]].add(r["v"])
    assert got[1] == {"dyn1"} and got[2] == {"dyn2", "dyn3"}
    assert len(got[0]) == 3
    # dynamic with empty source replaces nothing
    res = cat.sql(
        spark,
        "INSERT OVERWRITE pt PARTITION (bucket) "
        "SELECT bucket, v FROM pt WHERE bucket = 99",
    )
    assert res["replaced_partitions"] == []
    assert cat.read(spark, "pt").count() == 6  # 3 + 1 + 2, unchanged
    for bad, why in [
        # unpartitioned table
        ("INSERT OVERWRITE t PARTITION (k = 1) VALUES ('x', 1)",
         "unpartitioned"),
        # wrong column
        ("INSERT OVERWRITE pt PARTITION (v = 'x') VALUES (1)",
         "partitions on"),
        # static source must omit the partition column
        ("INSERT OVERWRITE pt PARTITION (bucket = 1) "
         "SELECT bucket, v FROM pt", "omits it"),
        # arity
        ("INSERT OVERWRITE pt PARTITION (bucket = 1) VALUES (1, 'x')",
         "arity"),
        # literal must key the integer-identity layout (round-12
        # ADVICE: dedicated check, partition-specific wording — the
        # old DEFAULT-literal reuse misworded this and rejected
        # digit-string values a date/long identity could serve)
        ("INSERT OVERWRITE pt PARTITION (bucket = 'x') VALUES ('v')",
         "integer literal"),
    ]:
        with pytest.raises(UnsupportedSQL, match=why):
            cat.sql(spark, bad)
    # a digit-rendering string keys the integer-identity layout fine
    res = cat.sql(
        spark,
        "INSERT OVERWRITE pt PARTITION (bucket = '1') VALUES ('qs1')",
    )
    assert res["replaced_partitions"] == [1]
    assert {
        r["v"] for r in cat.read(spark, "pt").filter("bucket = 1").collect()
    } == {"qs1"}
    # static form on a transformed layout refuses; dynamic serves it
    from java_iceberg_table_spark.table import bucket as bucket_tf

    bt = cat.create_table(
        "bt",
        StructType(
            [
                StructField("id", LongType(), False),
                StructField("v", StringType(), True),
            ]
        ),
        partition=bucket_tf("id", 4),
    )
    bt.append(
        spark.createDataFrame(
            [(i, f"b{i}") for i in range(8)], "id long, v string"
        )
    )
    cat._commit_pins({"bt": bt.metadata.current_snapshot_id})
    with pytest.raises(UnsupportedSQL, match="identity layout"):
        cat.sql(
            spark,
            "INSERT OVERWRITE bt PARTITION (id = 3) VALUES ('x')",
        )
    res = cat.sql(
        spark,
        "INSERT OVERWRITE bt PARTITION (id) VALUES (3, 'dyn')",
    )
    assert res["mode"] == "dynamic_partition"
    got = {r["id"]: r["v"] for r in cat.read(spark, "bt").collect()}
    assert got[3] == "dyn"
    # rows hashing into UNTOUCHED buckets survive
    untouched_bucket = bucket_tf("id", 4).apply_py(3)
    survivors = [
        i for i in range(8)
        if i != 3 and bucket_tf("id", 4).apply_py(i) != untouched_bucket
    ]
    assert all(got.get(i) == f"b{i}" for i in survivors)


def test_insert_overwrite_sql(spark, cat):
    """INSERT OVERWRITE (round 11): STATIC mode — the whole table's
    content is atomically replaced in one 'overwrite' snapshot; the
    pre-image stays time-travelable; pins publish through the same
    resolve path as every data verb. Partition-scoped overwrite is
    the explicit PARTITION clause form (round 12)."""
    t = cat.table("t")
    pre_snap = t.metadata.current_snapshot_id
    res = cat.sql(
        spark,
        "INSERT OVERWRITE t SELECT k, upper(v) AS v, qty * 2 AS qty "
        "FROM t WHERE k < 3",
    )
    assert res["statement"] == "insert_overwrite"
    assert res["inserted_rows"] == 3
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.read(spark, "t").collect()}
    assert rows == {0: ("OLD", 0), 1: ("ODD", 20), 2: ("OLD", 40)}
    t = cat.table("t")
    assert t.metadata.current_snapshot().operation == "overwrite"
    assert t.scan(spark, snapshot_id=pre_snap).count() == 10  # time travel
    # VALUES form + TABLE keyword
    res = cat.sql(
        spark, "INSERT OVERWRITE TABLE t VALUES (7, 'only', 1)"
    )
    assert res["inserted_rows"] == 1
    assert cat.read(spark, "t").count() == 1
    # source names match case-insensitively (Spark's default resolution)
    res = cat.sql(spark, "INSERT OVERWRITE t SELECT k AS K, v, qty FROM t")
    assert res["inserted_rows"] == 1
    assert [tuple(r) for r in cat.read(spark, "t").collect()] == [(7, "only", 1)]
    # schema mismatch refuses loudly
    with pytest.raises(UnsupportedSQL, match="match the table schema"):
        cat.sql(spark, "INSERT OVERWRITE t SELECT k FROM t")
    with pytest.raises(UnsupportedSQL, match="arity"):
        cat.sql(spark, "INSERT OVERWRITE t VALUES (1, 'x')")
    # composes with a script's single publish (a data verb, like
    # TRUNCATE): readers see pre-script or whole-script, never a mix
    out = cat.sql_script(
        spark,
        "INSERT OVERWRITE t VALUES (8, 'scripted', 2); "
        "INSERT INTO t VALUES (9, 'scripted', 3)",
    )
    assert [o["statement"] for o in out] == ["insert_overwrite", "insert"]
    assert cat.read(spark, "t").count() == 2


@pytest.mark.parametrize(
    "bad",
    [
        "INSERT OVERWRITE ct PARTITION (a = 1, b) VALUES ('x')",
        "INSERT INTO ct PARTITION (a, b) VALUES (1, 2, 'x')",
        "INSERT OVERWRITE t (k, v) VALUES (1, 'x')",
        "INSERT INTO ct.branch_x PARTITION (a, b) VALUES (1, 2, 'x')",
        "INSERT OVERWRITE t PARTITION (k) SELECT * FROM t",
        "INSERT OVERWRITE ct PARTITION (b, a) VALUES (1, 2, 'x')",
    ],
)
def test_insert_refusal_matrix(spark, cat, bad):
    """Shapes outside the INSERT grammar refuse and commit nothing: a
    mixed static/dynamic PARTITION list, PARTITION on INSERT INTO, a
    column list on INSERT OVERWRITE, PARTITION on a branch write,
    PARTITION on an unpartitioned table, composite fields out of
    spec order."""
    cat.sql(spark, "CREATE TABLE ct (a BIGINT, b BIGINT, v STRING) PARTITIONED BY (a, b)")
    cat.sql(spark, "INSERT INTO ct VALUES (1, 2, 'x')")
    cat.sql(spark, "ALTER TABLE ct CREATE BRANCH x")
    before = {n: cat.table(n).metadata for n in ("t", "ct")}
    with pytest.raises(UnsupportedSQL):
        cat.sql(spark, bad)
    for n, md in before.items():
        after = cat.table(n).metadata
        assert after.current_snapshot_id == md.current_snapshot_id, n
        assert after.refs == md.refs, n


def test_create_table_ddl(spark, cat):
    """Plain CREATE TABLE DDL (round 11): Spark-DDL column list,
    optional single-transform PARTITIONED BY (Iceberg spelling),
    optional TBLPROPERTIES; everything else refuses loudly."""
    res = cat.sql(
        spark,
        "CREATE TABLE ddl_t (id BIGINT NOT NULL, v STRING, "
        "price DECIMAL(10,2), tags ARRAY<STRING>)",
    )
    assert res["statement"] == "create_table"
    assert res["columns"] == ["id", "v", "price", "tags"]
    d = {r["col_name"]: (r["data_type"], r["nullable"])
         for r in cat.sql(spark, "DESCRIBE ddl_t").collect()}
    assert d["id"] == ("bigint", False)
    assert d["price"][0] == "decimal(10,2)"
    # the created table takes ordinary DML
    cat.sql(spark, "INSERT INTO ddl_t (id, v) VALUES (1, 'x')")
    assert cat.read(spark, "ddl_t").count() == 1
    # partitioned create: Iceberg transform spelling
    res = cat.sql(
        spark,
        "CREATE TABLE ddl_p (id BIGINT, ts TIMESTAMP) "
        "PARTITIONED BY (bucket(8, id)) "
        "TBLPROPERTIES ('write.sort.order' = 'id')",
    )
    assert res["partition"] == "bucket(8, id)"
    t = cat.table("ddl_p")
    assert t.metadata.properties["write.sort.order"] == "id"
    assert t.transform is not None
    res = cat.sql(
        spark, "CREATE TABLE ddl_d (id BIGINT, d DATE) PARTITIONED BY (days(d))"
    )
    assert res["statement"] == "create_table"
    res = cat.sql(
        spark, "CREATE TABLE ddl_i (id BIGINT, g STRING) PARTITIONED BY (id)"
    )
    assert res["statement"] == "create_table"
    # identity is integer-only in this engine: loud refusal via the
    # transform validator, surfaced as UnsupportedSQL
    with pytest.raises(UnsupportedSQL, match="integer column"):
        cat.sql(
            spark,
            "CREATE TABLE ddl_bad (id BIGINT, g STRING) PARTITIONED BY (g)",
        )
    # DEFAULT <literal> per column (round 12): write-side fill for
    # column-list INSERTs, both clause orders, type-checked literal
    res = cat.sql(
        spark,
        "CREATE TABLE ddl_def (id BIGINT NOT NULL, "
        "region STRING DEFAULT 'emea', "
        "qty BIGINT NOT NULL DEFAULT 0, "
        "active BOOLEAN DEFAULT TRUE NOT NULL, note STRING)",
    )
    assert res["statement"] == "create_table"
    cat.sql(spark, "INSERT INTO ddl_def (id) VALUES (7)")
    row = cat.read(spark, "ddl_def").collect()[0]
    assert (row["region"], row["qty"], row["active"], row["note"]) == (
        "emea", 0, True, None,
    )
    # the emitted DDL carries the DEFAULT clauses and a recreate keeps
    # the fill behavior (round-trippable, the ADVICE r11 gap)
    ddl = cat.sql(spark, "SHOW CREATE TABLE ddl_def").collect()[0][0]
    assert "DEFAULT 'emea'" in ddl and "DEFAULT 0" in ddl
    assert "DEFAULT TRUE" in ddl
    cat.sql(spark, ddl.replace("ddl_def", "ddl_def2"))
    cat.sql(spark, "INSERT INTO ddl_def2 (id) VALUES (8)")
    row = cat.read(spark, "ddl_def2").collect()[0]
    assert (row["region"], row["qty"], row["active"]) == ("emea", 0, True)
    with pytest.raises(UnsupportedSQL, match="does not fit"):
        cat.sql(spark, "CREATE TABLE bad_def (id BIGINT DEFAULT 'x')")
    # round 13: a multi-column PARTITIONED BY list is now LEGAL (it
    # builds a composite spec) — the old "ONE transform" refusal probe
    # became a real statement, so it moved to the positive side (the
    # a4l-TRUNCATE-incident discipline: refusal probes must stay
    # outside the grammar forever)
    cat.sql(
        spark,
        "CREATE TABLE ddl_multi (id BIGINT, g STRING) "
        "PARTITIONED BY (id, bucket(4, g))",
    )
    from java_iceberg_table_spark.table.transforms import CompositeTransform

    assert isinstance(cat.table("ddl_multi").transform, CompositeTransform)
    for bad, why in [
        ("CREATE TABLE ddl_t (id BIGINT)", "exists"),
        ("CREATE TABLE bad1 (id NOTATYPE)", "does not parse"),
        (
            "CREATE TABLE bad3 (id BIGINT) PARTITIONED BY (md5(id))",
            "fields are",
        ),
        (
            "CREATE TABLE bad2 (id BIGINT, g STRING) "
            "PARTITIONED BY (id, id)",
            "duplicate",
        ),
        ("CREATE TABLE bad4 (id BIGINT) CLUSTERED BY (id)", "not recognized"),
    ]:
        with pytest.raises((UnsupportedSQL, ValueError), match=why):
            cat.sql(spark, bad)


def test_show_create_table_roundtrip(spark, cat):
    """SHOW CREATE TABLE (round 11) emits DDL that is IN the grammar:
    feeding the statement back through Catalog.sql recreates an
    equivalent table (schema, partition transform, non-default
    properties)."""
    cat.sql(
        spark,
        "CREATE TABLE rt_src (id BIGINT NOT NULL, v STRING, d DATE) "
        "PARTITIONED BY (bucket(4, id)) "
        "TBLPROPERTIES ('write.sort.order' = 'id')",
    )
    ddl = cat.sql(spark, "SHOW CREATE TABLE rt_src").collect()[0][
        "create_statement"
    ]
    assert "bucket(4, id)" in ddl and "'write.sort.order' = 'id'" in ddl
    res = cat.sql(spark, ddl.replace("rt_src", "rt_copy"))
    assert res["statement"] == "create_table"
    d1 = {(r["col_name"], r["data_type"], r["nullable"])
          for r in cat.sql(spark, "DESCRIBE rt_src").collect()}
    d2 = {(r["col_name"], r["data_type"], r["nullable"])
          for r in cat.sql(spark, "DESCRIBE rt_copy").collect()}
    assert d1 == d2
    t1, t2 = cat.table("rt_src"), cat.table("rt_copy")
    assert t1.transform == t2.transform
    assert (
        t2.metadata.properties["write.sort.order"] == "id"
    )
    # temporal + identity transforms render their grammar spelling
    cat.sql(spark, "CREATE TABLE rt_d (id BIGINT, d DATE) PARTITIONED BY (days(d))")
    assert "days(d)" in cat.sql(spark, "SHOW CREATE TABLE rt_d").collect()[0][0]
    # plain table: no PARTITIONED BY clause at all
    assert "PARTITIONED" not in cat.sql(spark, "SHOW CREATE TABLE t").collect()[0][0]


def test_create_table_ddl_roundtrip_property(spark, cat):
    """Property: any schema from the supported type pool round-trips
    CREATE TABLE -> DESCRIBE -> SHOW CREATE TABLE -> re-CREATE with an
    identical DESCRIBE. Exercises the DDL parser boundary (quoting,
    nested types, nullability, transforms)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    types = st.sampled_from(
        [
            "BIGINT", "INT", "SMALLINT", "DOUBLE", "FLOAT", "BOOLEAN",
            "STRING", "DATE", "TIMESTAMP", "BINARY", "DECIMAL(12,3)",
            "ARRAY<BIGINT>", "MAP<STRING, DOUBLE>",
            "STRUCT<a: BIGINT, b: STRING>",
        ]
    )
    names = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
    cols = st.lists(
        st.tuples(names, types, st.booleans()),
        min_size=1, max_size=6,
        unique_by=lambda c: c[0],
    )
    counter = [0]

    @settings(max_examples=20, deadline=None)
    @given(cols)
    def roundtrip(cs):
        counter[0] += 1
        name = f"prop_t{counter[0]}"
        col_src = ", ".join(
            f"{n} {t}" + ("" if nullable else " NOT NULL")
            for n, t, nullable in cs
        )
        cat.sql(spark, f"CREATE TABLE {name} ({col_src})")
        d1 = {
            (r["col_name"], r["data_type"], r["nullable"])
            for r in cat.sql(spark, f"DESCRIBE {name}").collect()
        }
        assert len(d1) == len(cs)
        ddl = cat.sql(spark, f"SHOW CREATE TABLE {name}").collect()[0][0]
        copy = f"{name}_c"
        cat.sql(spark, ddl.replace(f"CREATE TABLE {name} ", f"CREATE TABLE {copy} ", 1))
        d2 = {
            (r["col_name"], r["data_type"], r["nullable"])
            for r in cat.sql(spark, f"DESCRIBE {copy}").collect()
        }
        assert d1 == d2

    roundtrip()


def test_drop_materialized_view(spark, cat):
    """DROP MATERIALIZED VIEW (round 11): drops only objects that ARE
    maintained views (plain tables refuse with a pointer to DROP
    TABLE); PURGE composes; refresh of the dropped name is loud."""
    cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW sums AS "
        "SELECT v, COUNT(*) AS cnt, SUM(qty) AS sv FROM t GROUP BY v",
    )
    assert "sums" in [
        r["view_name"]
        for r in cat.sql(spark, "SHOW MATERIALIZED VIEWS").collect()
    ]
    res = cat.sql(spark, "DROP MATERIALIZED VIEW sums")
    assert res["statement"] == "drop_materialized_view"
    assert cat.sql(spark, "SHOW MATERIALIZED VIEWS").count() == 0
    with pytest.raises(KeyError):
        cat.sql(spark, "REFRESH MATERIALIZED VIEW sums")
    # a plain table is not a materialized view
    with pytest.raises(UnsupportedSQL, match="DROP TABLE"):
        cat.sql(spark, "DROP MATERIALIZED VIEW t")
    assert cat.read(spark, "t").count() == 10  # untouched


def test_branch_tag_ddl_sql(spark, cat):
    """ALTER TABLE CREATE/DROP BRANCH|TAG + PUBLISH BRANCH + SHOW REFS
    (round 13): the SQL face of the refs/WAP machinery. Branch stages
    writes off-head; publish fast-forwards; tags pin immutably; every
    category error refuses loudly."""
    t = cat.table("t")
    snap0 = t.metadata.current_snapshot_id
    n0 = cat.read(spark, "t").count()
    res = cat.sql(spark, "ALTER TABLE t CREATE BRANCH wap")
    assert res["statement"] == "create_ref" and res["type"] == "branch"
    assert res["snapshot_id"] == snap0
    # staging through SQL (Iceberg's branch-write spelling); the verb
    # bypasses the pin publish — only the ref moves
    res = cat.sql(spark, "INSERT INTO t.branch_wap VALUES (500, 'staged', 1)")
    assert res["statement"] == "insert_branch" and res["inserted_rows"] == 1
    # INSERT-SELECT form works too and stacks on the branch
    res = cat.sql(
        spark,
        "INSERT INTO t.branch_wap SELECT k + 1000 AS k, v, qty FROM t "
        "WHERE k = 0",
    )
    assert res["inserted_rows"] == 1
    cat.sql(spark, "ALTER TABLE t DROP BRANCH wap")
    cat.sql(spark, "ALTER TABLE t CREATE BRANCH wap")
    with pytest.raises(UnsupportedSQL, match="never create refs"):
        cat.sql(spark, "INSERT INTO t.branch_ghost VALUES (1, 'x', 1)")
    t.append(
        spark.createDataFrame([(500, "staged", 1)], SCHEMA), branch="wap"
    )
    # staged rows visible on the branch, invisible at the head
    assert (
        cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'wap'"
        ).collect()[0]["n"]
        == n0 + 1
    )
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == n0
    cat.sql(spark, f"ALTER TABLE t CREATE TAG pre AS OF VERSION {snap0}")
    refs = {
        r["name"]: (r["type"], r["snapshot_id"])
        for r in cat.sql(spark, "SHOW REFS t").collect()
    }
    assert refs["wap"][0] == "branch" and refs["pre"] == ("tag", snap0)
    res = cat.sql(spark, "ALTER TABLE t PUBLISH BRANCH wap")
    assert res["pin_published"] is True
    assert (
        cat.sql(spark, "SELECT COUNT(*) AS n FROM t").collect()[0]["n"]
        == n0 + 1
    )
    # the tag still reproduces the pre-publish state
    assert (
        cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'pre'"
        ).collect()[0]["n"]
        == n0
    )
    # category errors
    with pytest.raises(UnsupportedSQL, match="is a tag"):
        cat.sql(spark, "ALTER TABLE t DROP BRANCH pre")
    with pytest.raises(UnsupportedSQL, match="is a branch"):
        cat.sql(spark, "ALTER TABLE t DROP TAG wap")
    with pytest.raises(ValueError, match="already exists"):
        cat.sql(spark, "ALTER TABLE t CREATE BRANCH wap")
    with pytest.raises(KeyError, match="no such branch"):
        cat.sql(spark, "ALTER TABLE t PUBLISH BRANCH ghost")
    with pytest.raises(KeyError, match="unknown snapshot"):
        cat.sql(spark, "ALTER TABLE t CREATE TAG x AS OF VERSION 4242")
    with pytest.raises(KeyError, match="no such ref"):
        cat.sql(spark, "ALTER TABLE t DROP TAG ghost")
    # publishing a tag is a category error too (publish takes branches)
    with pytest.raises(KeyError, match="no such branch"):
        cat.sql(spark, "ALTER TABLE t PUBLISH BRANCH pre")
    cat.sql(spark, "ALTER TABLE t DROP BRANCH wap")
    cat.sql(spark, "ALTER TABLE t DROP TAG pre")
    assert cat.sql(spark, "SHOW REFS t").count() == 0


def test_publish_branch_respects_lagging_pin(spark, cat):
    """PUBLISH BRANCH pin discipline: a published pin deliberately
    LAGGING the head must not jump on publish (same contract as
    OPTIMIZE/VACUUM republish)."""
    t = cat.table("t")
    pinned = cat.state().pins["t"]
    # advance the head past the pin with a direct write
    t.append(spark.createDataFrame([(600, "direct", 1)], SCHEMA))
    assert cat.state().pins["t"] == pinned  # pin lags
    cat.sql(spark, "ALTER TABLE t CREATE BRANCH b")
    t.append(spark.createDataFrame([(601, "staged", 1)], SCHEMA), branch="b")
    res = cat.sql(spark, "ALTER TABLE t PUBLISH BRANCH b")
    assert res["pin_published"] is False
    assert cat.state().pins["t"] == pinned  # still lagging, untouched


def test_create_or_replace_table_sql(spark, cat):
    """CREATE OR REPLACE TABLE [AS SELECT] (round 13 — Iceberg RTAS):
    one user-visible catalog publish swaps definition AND content; the
    pre-image stays reachable via /*+ CATALOG_VERSION(n) */; on a
    missing target the verb degrades to plain create."""
    # create path (missing target)
    res = cat.sql(
        spark, "CREATE OR REPLACE TABLE rt AS SELECT 1 AS a, 'x' AS b"
    )
    assert res["statement"] == "replace_table_as" and not res["replaced"]
    v_pre = cat.state().version
    # replace with an UNRELATED schema — full swap, not evolution
    res = cat.sql(
        spark,
        "CREATE OR REPLACE TABLE rt AS SELECT k AS kk, qty * 2 AS dq "
        "FROM t WHERE k < 3",
    )
    assert res["replaced"] and res["inserted_rows"] == 3
    rows = {r["kk"]: r["dq"] for r in cat.sql(spark, "SELECT * FROM rt").collect()}
    assert rows == {0: 0, 1: 20, 2: 40}
    # pre-image: catalog time travel reads the OLD schema + content
    old = cat.sql(
        spark, f"SELECT /*+ CATALOG_VERSION({v_pre}) */ * FROM rt"
    ).collect()
    assert [(r["a"], r["b"]) for r in old] == [(1, "x")]
    # a plain read afterwards still sees the replacement (no leak)
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM rt").collect()[0]["n"] == 3
    # column-list replace: new definition incl. partition spec, content
    # truncated; the replaced table is immediately writable
    res = cat.sql(
        spark,
        "CREATE OR REPLACE TABLE rt (k BIGINT, g STRING) "
        "PARTITIONED BY (k, bucket(2, g))",
    )
    assert res["statement"] == "replace_table"
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM rt").collect()[0]["n"] == 0
    cat.sql(spark, "INSERT INTO rt VALUES (5, 'a')")
    from java_iceberg_table_spark.table.transforms import CompositeTransform

    assert isinstance(cat.table("rt").transform, CompositeTransform)
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM rt").collect()[0]["n"] == 1
    # refusals: view targets (both forms)
    cat.sql(spark, "CREATE VIEW rv AS SELECT k FROM t")
    for bad in (
        "CREATE OR REPLACE TABLE rv AS SELECT 1 AS a",
        "CREATE OR REPLACE TABLE rv (x BIGINT)",
    ):
        with pytest.raises(UnsupportedSQL, match="is a view"):
            cat.sql(spark, bad)
    # refused inside scripts (CREATE head rule)
    with pytest.raises(UnsupportedSQL, match="standalone"):
        cat.sql_script(
            spark,
            "DELETE FROM t WHERE k = 0; "
            "CREATE OR REPLACE TABLE rt AS SELECT 1 AS a",
        )


def test_replace_table_refuses_maintained_view_backing(spark, cat, tmp_path):
    """RTAS must not replace a maintained view's backing table out
    from under its fold."""
    cat.sql(
        spark,
        "CREATE MATERIALIZED VIEW mv_t AS SELECT v, COUNT(*) AS cnt, "
        "SUM(qty) AS sv FROM t GROUP BY v",
    )
    with pytest.raises(UnsupportedSQL, match="maintained view"):
        cat.sql(spark, "CREATE OR REPLACE TABLE mv_t AS SELECT 1 AS a")


def test_show_partitions_describe_distributed_parity(
    spark, cat, dist_threshold
):
    """SHOW PARTITIONS / DESCRIBE EXTENDED totals route through the
    distributed manifest scan past DIST_PLAN_MIN_MANIFEST_BYTES
    (round 13 — at millions of files a driver loop over entries
    breaks the metadata-scale contract). Forcing the threshold to 0
    must produce byte-identical rows to the driver loop, on both a
    single-field and a composite-partitioned table."""
    cat.sql(
        spark,
        "CREATE TABLE pd (k BIGINT, g STRING) "
        "PARTITIONED BY (k, bucket(2, g))",
    )
    t = cat.table("pd")
    t.append(
        spark.createDataFrame(
            [(i % 3, f"g{i % 4}") for i in range(40)], "k long, g string"
        )
    )
    cat._commit_pins({"pd": t.metadata.current_snapshot_id})
    for name in ("t", "pd"):
        driver_sp = [tuple(r) for r in cat.sql(
            spark, f"SHOW PARTITIONS {name}"
        ).collect()] if name == "pd" else None
        driver_de = [tuple(r) for r in cat.sql(
            spark, f"DESCRIBE EXTENDED {name}"
        ).collect()]
        dist_threshold(0)
        if driver_sp is not None:
            dist_sp = [tuple(r) for r in cat.sql(
                spark, f"SHOW PARTITIONS {name}"
            ).collect()]
            assert dist_sp == driver_sp
        dist_de = [tuple(r) for r in cat.sql(
            spark, f"DESCRIBE EXTENDED {name}"
        ).collect()]
        assert dist_de == driver_de
        dist_threshold(None)


def test_branch_insert_select_single_evaluation(spark, cat):
    """INSERT INTO t.branch_<ref> SELECT evaluates the source exactly
    ONCE (round-13 ADVICE: the old count+append pair ran the SELECT
    twice, so a non-deterministic source could commit rows disagreeing
    with the reported inserted_rows). inserted_rows now derives from
    the append's own manifest stats — zero extra jobs."""
    calls = spark.sparkContext.accumulator(0)

    def bump(k):
        calls.add(1)
        return k

    spark.udf.register("bump_k", bump, "long")
    cat.sql(spark, "ALTER TABLE t CREATE BRANCH audit")
    res = cat.sql(
        spark,
        "INSERT INTO t.branch_audit "
        "SELECT bump_k(k) AS k, v, qty FROM t WHERE k < 4",
    )
    assert res["inserted_rows"] == 4
    # one evaluation: the UDF ran once per source row, not 2x
    assert calls.value == 4
    # and the branch really holds what was reported
    assert (
        cat.sql(
            spark, "SELECT COUNT(*) AS n FROM t VERSION AS OF 'audit'"
        ).collect()[0]["n"]
        == cat.read(spark, "t").count() + 4
    )


def test_replace_partition_field_duplicate_pre_check(spark, cat):
    """REPLACE PARTITION FIELD X WITH Y refuses loudly when Y already
    sits in the spec (round-13 ADVICE: previously a generic ValueError
    surfaced from validate_transform at commit time)."""
    cat.sql(
        spark,
        "CREATE TABLE rp (a BIGINT, b BIGINT) "
        "PARTITIONED BY (a, bucket(4, b))",
    )
    with pytest.raises(UnsupportedSQL, match="already on"):
        cat.sql(
            spark,
            "ALTER TABLE rp REPLACE PARTITION FIELD bucket(4, b) WITH a",
        )
    # legitimate replace still routes
    res = cat.sql(
        spark,
        "ALTER TABLE rp REPLACE PARTITION FIELD bucket(4, b) "
        "WITH bucket(8, b)",
    )
    assert res["statement"] == "replace_partition_field"


def test_replace_table_case_insensitive_target(spark, cat):
    """CREATE OR REPLACE TABLE resolves its target case-insensitively
    (round-13 ADVICE: a case variant of an existing table fell through
    to create_table and died with an 'exists' error instead of
    replacing). Both the AS-SELECT and the column-list branch."""
    cat.sql(spark, "CREATE TABLE CasedT AS SELECT 1 AS a")
    res = cat.sql(spark, "CREATE OR REPLACE TABLE casedt AS SELECT 2 AS b")
    assert res["replaced"] is True and res["table"] == "CasedT"
    assert (
        cat.sql(spark, "SELECT b FROM CasedT").collect()[0]["b"] == 2
    )
    res = cat.sql(spark, "CREATE OR REPLACE TABLE CASEDT (c BIGINT)")
    assert res["statement"] == "replace_table" and res["table"] == "CasedT"
    assert cat.sql(spark, "SELECT COUNT(*) AS n FROM CasedT").collect()[0]["n"] == 0


def test_delete_general_predicates(spark, cat):
    """Round 14: OR-of-conjunction trees, IN lists, and prefix LIKE
    route through DELETE — union-of-branches file pruning + full
    residual rewrite (the general-predicate form of Iceberg's
    deleteFromRowFilter expression trees)."""
    res = cat.sql(spark, "DELETE FROM t WHERE k = 1 OR k = 3")
    assert res["statement"] == "delete" and res["deleted_rows"] == 2
    assert {r["k"] for r in cat.read(spark, "t").collect()} == {
        0, 2, 4, 5, 6, 7, 8, 9
    }
    # IN leaf composed with AND (not the standalone MOR form)
    res = cat.sql(spark, "DELETE FROM t WHERE k IN (4, 5, 99) AND v = 'odd'")
    assert res["deleted_rows"] == 1  # k=5 only (odd)
    # parens group; AND binds tighter than OR
    res = cat.sql(
        spark,
        "DELETE FROM t WHERE (k = 0 AND v = 'old') OR (k = 9 AND v = 'odd')",
    )
    assert res["deleted_rows"] == 2
    assert {r["k"] for r in cat.read(spark, "t").collect()} == {2, 4, 6, 7, 8}


def test_delete_prefix_like(spark, cat):
    t = cat.table("t")
    t.append(
        spark.createDataFrame(
            [(100, "prefix_hit", 1), (101, "other", 1), (102, "pre", 1)],
            SCHEMA,
        )
    )
    cat._commit_pins({"t": t.metadata.current_snapshot_id})
    res = cat.sql(spark, "DELETE FROM t WHERE v LIKE 'pre%'")
    assert res["deleted_rows"] == 2  # prefix_hit + pre... wait 'pre' matches 'pre%'
    vals = {r["v"] for r in cat.read(spark, "t").collect()}
    assert "prefix_hit" not in vals and "pre" not in vals
    assert "other" in vals


def test_update_general_predicates(spark, cat):
    res = cat.sql(
        spark,
        "UPDATE t SET qty = -1 WHERE k IN (0, 2) OR (k > 7 AND v = 'odd')",
    )
    assert res["statement"] == "update" and res["updated_rows"] == 3
    rows = {r["k"]: r["qty"] for r in cat.read(spark, "t").collect()}
    assert rows[0] == -1 and rows[2] == -1 and rows[9] == -1
    assert rows[1] == 10 and rows[8] == 80  # untouched


def test_general_predicate_prunes_union_of_branches(spark, tmp_path):
    """A selective OR rewrites only the union of each branch's
    stats-admissible files — never the whole table (the 100-TB
    contract of the general grammar)."""
    from java_iceberg_table_spark.table import Catalog, identity

    c = Catalog.create(str(tmp_path / "cat2"))
    schema = StructType(
        [
            StructField("b", LongType(), False),
            StructField("val", LongType(), True),
        ]
    )
    t = c.create_table("pt", schema, partition=identity("b"))
    df = spark.createDataFrame(
        [(i % 8, i) for i in range(400)], schema
    )
    t.append(df.coalesce(2))
    c._commit_pins({"pt": t.metadata.current_snapshot_id})
    total = len(t.plan_files())
    assert total >= 8  # one file per identity bucket at least
    res = c.sql(spark, "DELETE FROM pt WHERE b = 1 OR (b = 2 AND val < 50)")
    # only buckets 1 and 2's files are candidates
    assert 0 < res["rewritten_files"] < total
    assert res["rewritten_files"] <= total // 4 + 1
    # residual exactness: bucket 2 keeps rows >= 50
    left = {(r["b"], r["val"]) for r in c.read(spark, "pt").collect()}
    assert not any(b == 1 for b, _ in left)
    assert all(v >= 50 for b, v in left if b == 2)
    assert sum(1 for b, _ in left if b == 0) == 50  # untouched bucket


def test_dnf_parser_shapes(spark):
    from java_iceberg_table_spark.table.sql_dml import (
        UnsupportedSQL as U,
        _parse_where_dnf,
    )

    assert _parse_where_dnf("a = 1 AND b < 2") == [
        [("a", "=", 1), ("b", "<", 2)]
    ]
    assert _parse_where_dnf("a = 1 OR b = 2") == [
        [("a", "=", 1)], [("b", "=", 2)]
    ]
    # distribution: (a OR b) AND c -> two branches each with c
    assert _parse_where_dnf("(a = 1 OR a = 2) AND c = 3") == [
        [("a", "=", 1), ("c", "=", 3)],
        [("a", "=", 2), ("c", "=", 3)],
    ]
    assert _parse_where_dnf("x IN (1, 2) AND y LIKE 'ab%'") == [
        [("x", "in", (1, 2)), ("y", "like_prefix", "ab")]
    ]
    # quoted AND/OR stay literal payload
    assert _parse_where_dnf("v = 'a AND b OR c'") == [
        [("v", "=", "a AND b OR c")]
    ]
    # nested parens
    assert _parse_where_dnf("((a = 1))") == [[("a", "=", 1)]]
    for bad in (
        "NOT a = 1",
        "a NOT IN (1)",
        "a BETWEEN 1 AND 2",
        "v LIKE '%suf'",
        "v LIKE 'mid%dle'",
        "v LIKE '%'",
        "a IN ()",
        "a IN (SELECT x FROM y)",
        "(a = 1",  # unbalanced: leaf parse fails loudly
    ):
        with pytest.raises(U):
            _parse_where_dnf(bad)
    # branch-explosion guard
    big = " AND ".join(f"(a = {i} OR b = {i})" for i in range(8))
    with pytest.raises(U, match="OR-branches"):
        _parse_where_dnf(big)


def test_merge_not_matched_by_source_update(spark, cat):
    """WHEN NOT MATCHED BY SOURCE THEN UPDATE (round 14 — SQL:2023's
    last MERGE clause): target rows whose keys are absent from the
    source update with t.*-only expressions, via the same MOR row
    delta as matched updates."""
    spark.createDataFrame(
        [(0, "fresh", 100), (500, "new", 3)], SCHEMA
    ).createOrReplaceTempView("sync_src")
    res = cat.sql(
        spark,
        """MERGE INTO t USING sync_src AS s
           ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN UPDATE SET
             v = 'stale', qty = t.qty + 1000""",
    )
    assert res["statement"] == "merge"
    assert res["updated_rows"] == 1 and res["inserted_rows"] == 1
    assert res["source_updated_rows"] == 9  # the other 9 of 10 rows
    rows = {r["k"]: (r["v"], r["qty"]) for r in cat.read(spark, "t").collect()}
    assert rows[0] == ("fresh", 100)
    assert rows[500] == ("new", 3)
    for k in range(1, 10):
        assert rows[k] == ("stale", k * 10 + 1000), k
    # key assignment refused at the engine layer
    with pytest.raises(ValueError, match="merge keys"):
        cat.sql(
            spark,
            "MERGE INTO t USING sync_src AS s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET k = 0",
        )
    # standalone BY SOURCE UPDATE routes too (no other clauses)
    res = cat.sql(
        spark,
        "MERGE INTO t USING sync_src AS s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET qty = 0",
    )
    assert res["source_updated_rows"] == 9
    rows = {r["k"]: r["qty"] for r in cat.read(spark, "t").collect()}
    assert all(rows[k] == 0 for k in range(1, 10))
    assert rows[0] == 100 and rows[500] == 3
