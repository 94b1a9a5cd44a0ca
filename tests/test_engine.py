"""ImpalaEngine facade tests: statement routing, EXPLAIN, SET/USE/SHOW,
COMPUTE STATS (reference: service/Frontend.java, service/CatalogOpExecutor.java)."""

import pytest

from impala_spark.engine import ImpalaEngine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return ImpalaEngine(spark, sf_dir)


def test_basic_select(engine):
    rows = engine.sql("SELECT count(*) AS n FROM lineitem").collect()
    assert rows[0].n > 0


def test_impala_dialect_roundtrip(engine):
    rows = engine.sql(
        "SELECT o_orderkey FROM orders WHERE o_orderpriority IREGEXP 'urgent' "
        "&& o_totalprice > 100000 ORDER BY o_orderkey LIMIT 5"
    ).collect()
    assert len(rows) == 5


def test_ndv_function(engine):
    r = engine.sql("SELECT ndv(o_custkey) AS n FROM orders").first()
    assert r.n > 0


def test_compute_stats(engine):
    df = engine.sql("COMPUTE STATS orders")
    r = df.first()
    assert r.row_count > 0


def test_set_and_use(engine):
    engine.sql("SET broadcast_threshold = 1048576")
    assert engine.spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1048576"
    engine.sql("SET broadcast_threshold = 16777216")  # restore session default


def test_show_tables(engine):
    names = {r.tableName for r in engine.show_tables().collect()}
    assert {"orders", "lineitem", "customer"} <= names


def test_describe(engine):
    cols = {r.col_name for r in engine.describe("orders").collect()}
    assert "o_orderkey" in cols


def test_explain_impala_style(engine):
    text = engine.explain(
        "SELECT n_name, count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name"
    )
    assert "SCAN PARQUET" in text
    assert "AGGREGATE" in text
    assert "JOIN" in text


def test_explain_statement_returns_df(engine):
    df = engine.sql("EXPLAIN SELECT count(*) FROM orders")
    assert df.columns == ["explain_string"]
    assert df.count() > 0


def test_refresh(engine):
    r = engine.sql("INVALIDATE METADATA").first()
    assert "refreshed" in r.result


def test_broadcast_hint_takes_effect(engine):
    text = engine.explain(
        "SELECT c_name, n_name FROM customer JOIN [broadcast] nation ON c_nationkey = n_nationkey"
    )
    assert "HASH JOIN [BROADCAST]" in text or "BROADCAST" in text


def test_broadcast_hint_on_qualified_ref_plans_broadcast_join(engine):
    engine.spark.table("nation").createOrReplaceGlobalTempView("hint_nation")
    engine.sql("SET broadcast_threshold = -1")  # only the hint may broadcast
    try:
        for sql in (
            "SELECT c_name, n.n_name FROM customer c JOIN [broadcast] "
            "global_temp.hint_nation n ON c.c_nationkey = n.n_nationkey",
            "SELECT c_name, n_name FROM customer JOIN [broadcast] "
            "global_temp.hint_nation ON c_nationkey = n_nationkey",
        ):
            plan = engine.sql(sql)._jdf.queryExecution().executedPlan()
            assert "BroadcastHashJoin" in plan.toString(), sql
    finally:
        engine.sql("SET broadcast_threshold = 16777216")
        engine.spark.catalog.dropGlobalTempView("hint_nation")


def test_join_hint_list_maps_every_word(engine):
    """A hint list maps each of its words like the one-word forms: the
    statement plans instead of reaching Spark with the brackets."""
    n = engine.sql(
        "SELECT count(*) AS n FROM customer c JOIN [shuffle,broadcast] "
        "nation n ON c.c_nationkey = n.n_nationkey"
    ).first().n
    assert n == engine.sql("SELECT count(*) AS n FROM customer").first().n


def test_create_function_sql_routing(spark, sf_dir):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    r = eng.sql(
        "CREATE FUNCTION my_tax(DOUBLE) RETURNS DOUBLE "
        "LOCATION '/dev/null' SYMBOL='add_tax'"
    ).first()
    assert "created" in r.result
    row = spark.sql("SELECT my_tax(100.0) AS v").first()
    assert abs(row.v - 110.0) < 1e-9
    assert "dropped" in eng.sql("DROP FUNCTION my_tax(DOUBLE)").first().result


def test_create_aggregate_function_sql_routing(spark, sf_dir):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql(
        "CREATE AGGREGATE FUNCTION gm(DOUBLE) RETURNS DOUBLE "
        "LOCATION '/dev/null' UPDATE_FN='geomean'"
    )
    row = spark.sql("SELECT gm(v) AS g FROM VALUES (2.0), (8.0) AS t(v)").first()
    assert abs(row.g - 4.0) < 1e-6


def test_create_function_unknown_symbol_rejected(spark, sf_dir):
    import pytest

    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    with pytest.raises(ValueError, match="not found in UDF library"):
        eng.sql("CREATE FUNCTION nope(INT) RETURNS INT SYMBOL='missing_symbol'")


def test_engine_strict_mode(spark, sf_dir):
    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError
    import pytest

    strict_eng = ImpalaEngine(spark, sf_dir, strict=True)
    with pytest.raises(ImpalaUnsupportedError, match="not supported in the select list"):
        strict_eng.sql("SELECT n_name, (SELECT max(r_regionkey) FROM region) FROM nation")
    # permissive default runs the same statement
    eng = ImpalaEngine(spark, sf_dir)
    assert eng.sql(
        "SELECT n_name, (SELECT max(r_regionkey) FROM region) AS m FROM nation"
    ).count() == 25


def test_show_statement_routing(spark, sf_dir):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    ts = eng.sql("SHOW TABLE STATS nation").first()
    assert ts.num_rows == 25
    cs = {r.column: r for r in eng.sql("SHOW COLUMN STATS nation").collect()}
    assert cs["n_regionkey"].ndv == 5
    files = eng.sql("SHOW FILES IN nation").collect()
    assert len(files) >= 1 and files[0].size_bytes > 0
    assert eng.sql("SHOW FUNCTIONS").count() > 0
    ct = eng.sql("SHOW CREATE TABLE nation")
    assert ct.count() >= 1


def test_show_create_table_of_a_fixture_view(spark, sf_dir, monkeypatch):
    """A fixture table is a temp view, which Spark's SHOW CREATE TABLE
    rejects (logging the failure): its external-table DDL is rebuilt
    from the view's file without asking Spark."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    sent, real_sql = [], spark.sql
    monkeypatch.setattr(spark, "sql", lambda q, *a, **k: (sent.append(q), real_sql(q, *a, **k))[1])
    ddl_text = eng.sql("SHOW CREATE TABLE nation").collect()[0][0]
    assert ddl_text == (
        "CREATE EXTERNAL TABLE nation (n_nationkey int, n_name string,"
        f" n_regionkey int) STORED AS PARQUET LOCATION '{sf_dir}'"
    )
    assert not [q for q in sent if "SHOW CREATE" in q.upper()], sent


def test_bare_set_lists_options(spark, sf_dir):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    rows = {r.option: r.value for r in eng.sql("SET").collect()}
    assert "num_nodes" in rows and "broadcast_threshold" in rows


def test_run_script_multi_statement(engine):
    """impala-shell -f analog: ;-separated script runs in order, returns
    the last statement's result; semicolons inside strings never split."""
    df = engine.run_script(
        """
        SET num_nodes = 1;
        SELECT 'a;b' AS s, 1 AS one;
        SELECT COUNT(*) AS n FROM nation
        """
    )
    assert df.first().n == 25
    r = engine.run_script("SELECT 'x; y' AS s").first()
    assert r.s == "x; y"
    import pytest as _pt

    with _pt.raises(ValueError):
        engine.run_script("   ;  ; ")


def test_resolution_errors_use_impala_messages(engine):
    # Analyzer.java:908 "Could not resolve %s: '%s'"; FunctionCallExpr.java:406
    # "() unknown"; Analyzer.java:902 "%s is ambiguous: '%s'"
    from impala_spark.engine import ImpalaAnalysisError

    with pytest.raises(
        ImpalaAnalysisError, match="Could not resolve table reference: 'no_such_table'"
    ):
        engine.sql("SELECT * FROM no_such_table")
    with pytest.raises(
        ImpalaAnalysisError,
        match="Could not resolve column/field reference: 'no_such_col'",
    ):
        engine.sql("SELECT no_such_col FROM lineitem")
    with pytest.raises(ImpalaAnalysisError, match=r"default\.my_udf_xyz\(\) unknown"):
        engine.sql("SELECT my_udf_xyz(1) FROM lineitem")
    with pytest.raises(
        ImpalaAnalysisError,
        match="Column/field reference is ambiguous: 'o_orderkey'",
    ):
        engine.sql("SELECT o_orderkey FROM orders a, orders b")
    # ImpalaAnalysisError subclasses ImpalaUnsupportedError: one catch covers all
    from impala_spark.parser import ImpalaUnsupportedError

    with pytest.raises(ImpalaUnsupportedError):
        engine.sql("SELECT * FROM no_such_table")


def test_appx_count_distinct_option(engine):
    """SET APPX_COUNT_DISTINCT=true rewrites single-arg COUNT(DISTINCT x)
    to NDV(x) (SelectStmt.java:643-665); multi-column stays exact."""
    exact = engine.sql("SELECT count(DISTINCT o_custkey) AS n FROM orders").first().n
    engine.sql("SET appx_count_distinct = true")
    try:
        appx = engine.sql("SELECT count(DISTINCT o_custkey) AS n FROM orders").first().n
        # NDV is approximate: within 5% of exact, and usually != exact path
        assert abs(appx - exact) <= max(2, exact * 0.05)
        # multi-column count(distinct a, b) stays exact under the option
        multi = engine.sql(
            "SELECT count(DISTINCT o_custkey, o_orderstatus) AS n FROM orders"
        ).first().n
        exact_multi = engine.spark.sql(
            "SELECT count(DISTINCT o_custkey, o_orderstatus) AS n FROM orders"
        ).first().n
        assert multi == exact_multi
    finally:
        engine.sql("SET appx_count_distinct = false")
    back = engine.sql("SELECT count(DISTINCT o_custkey) AS n FROM orders").first().n
    assert back == exact


def test_create_view_qualified_and_column_list(engine, spark):
    # CreateViewStmt: db-qualified names and explicit column lists route
    # through the engine's view lifecycle, not raw Spark fall-through.
    engine.sql("CREATE VIEW default.v_eng_q AS SELECT n_name FROM nation")
    assert engine.sql("SELECT count(*) AS n FROM v_eng_q").first().n == 25
    engine.sql(
        "CREATE VIEW v_eng_cols (cname, ckey) AS SELECT n_name, n_nationkey FROM nation"
    )
    assert engine.sql("SELECT max(ckey) AS m FROM v_eng_cols").first().m == 24
    engine.sql("ALTER VIEW default.v_eng_q AS SELECT n_nationkey AS k FROM nation")
    assert engine.sql("SELECT max(k) AS m FROM v_eng_q").first().m == 24
    spark.catalog.dropTempView("v_eng_q")
    spark.catalog.dropTempView("v_eng_cols")


def test_create_view_unknown_database_errors(engine):
    import pytest

    from impala_spark.engine import ImpalaAnalysisError

    with pytest.raises(ImpalaAnalysisError, match="Database does not exist: nodb"):
        engine.sql("CREATE VIEW nodb.v_x AS SELECT 1")


def test_strict_engine_checks_view_bodies(spark, sf_dir):
    import pytest

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError

    es = ImpalaEngine(spark, sf_dir, strict=True)
    # resolution failure surfaces the Impala-parity analyzer text
    with pytest.raises(ImpalaUnsupportedError, match="Could not resolve column"):
        es.sql("CREATE VIEW v_bad_body AS SELECT no_such_col FROM nation")
    # strict analyzer rejections apply inside view bodies too
    with pytest.raises(ImpalaUnsupportedError, match="aggregation output"):
        es.sql("CREATE VIEW v_bad_grp AS SELECT n_name, count(*) FROM nation")


def test_alter_table_on_view_rejected(spark, sf_dir):
    """AlterTableStmt.java:76-79: ALTER TABLE on a view is an analysis
    error with the reference's exact text."""
    import pytest

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP VIEW IF EXISTS v_for_alter")
    eng.sql("CREATE VIEW v_for_alter AS SELECT n_name FROM nation")
    with pytest.raises(
        ImpalaAnalysisError,
        match=r"ALTER TABLE not allowed on a view: v_for_alter",
    ):
        eng.sql("ALTER TABLE v_for_alter ADD COLUMNS (x INT)")
    eng.sql("DROP VIEW v_for_alter")


def test_to_sql_first_token_not_sliced(engine):
    """A query keyword followed immediately by '(' or a comment still
    routes to the toSql normalizer (r11 ADVICE: a fixed [:10] slice
    truncated 'SELECT(1+1)' to a non-keyword and replayed it verbatim)."""
    assert engine.to_sql("SELECT(1+1)") == "SELECT (1 + 1)"
    assert engine.to_sql("SELECT/*c*/ 1") == "SELECT 1"
    # non-queries still replay verbatim (statement-specific toSql)
    assert engine.to_sql("REFRESH nation") == "REFRESH nation"


class TestWithPrefixedDml:
    """Impala allows a WITH clause to prefix INSERT/UPSERT
    (A/InsertStmt.java withClause_); Spark only accepts the CTE list on
    the source query, so engine.sql hoists it (_hoist_with_clause)."""

    def test_hoist_rewrites_insert(self):
        from impala_spark.engine import _hoist_with_clause

        out = _hoist_with_clause(
            "WITH t AS (SELECT 1 AS a) INSERT INTO x SELECT a FROM t")
        assert out == "INSERT INTO x WITH t AS (SELECT 1 AS a) SELECT a FROM t"

    def test_hoist_keeps_partition_clause(self):
        from impala_spark.engine import _hoist_with_clause

        out = _hoist_with_clause(
            "WITH t AS (SELECT 1 AS a) INSERT OVERWRITE x PARTITION (p='1')"
            " SELECT a FROM t")
        assert out.startswith("INSERT OVERWRITE x PARTITION (p='1')")
        assert "WITH t AS (SELECT 1 AS a) SELECT a FROM t" in out

    def test_hoist_leaves_queries_alone(self):
        from impala_spark.engine import _hoist_with_clause

        for q in (
            "SELECT 1",
            "WITH t AS (SELECT 1) SELECT * FROM t",
            # the keyword inside a string literal must not trigger
            "WITH t AS (SELECT 'INSERT' AS a) SELECT * FROM t",
            # ... nor inside the CTE body's parens
            "WITH t AS (SELECT 1 FROM x WHERE y = 2) SELECT * FROM t",
        ):
            assert _hoist_with_clause(q) == q

    def test_with_insert_end_to_end(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine
        from impala_spark.session import register_tables

        register_tables(spark, sf_dir)
        eng = ImpalaEngine(spark, sf_dir=sf_dir)
        eng.sql("DROP TABLE IF EXISTS wi_e2e")
        eng.sql("CREATE TABLE wi_e2e (k BIGINT)")
        eng.sql("WITH t AS (SELECT n_regionkey AS k FROM nation)"
                " INSERT INTO wi_e2e SELECT DISTINCT k FROM t")
        assert eng.sql("SELECT COUNT(*) AS c FROM wi_e2e").collect()[0][0] == 5
        eng.sql("DROP TABLE wi_e2e")

    def test_to_sql_replays_with_insert_verbatim(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine

        eng = ImpalaEngine(spark, sf_dir=sf_dir)
        q = "WITH t AS (SELECT 1 AS k) INSERT INTO x SELECT k FROM t"
        assert eng.to_sql(q) == q


class TestSessionDbQualifiedRefs:
    """Impala resolves `default.t` against the catalog; the engine's
    fixture/managed tables are session temp views, which Spark cannot
    address through a db qualifier — engine.sql dequalifies them
    (_strip_session_db_refs), leaving string literals and real catalog
    databases untouched. REFRESH accepts a PARTITION spec (IMPALA-1683)."""

    def test_qualified_query_and_metadata(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine
        from impala_spark.session import register_tables

        register_tables(spark, sf_dir)
        e = ImpalaEngine(spark, sf_dir=sf_dir)
        assert e.sql("SELECT COUNT(*) AS c FROM default.nation") \
            .collect()[0][0] == 25
        e.sql("DROP TABLE IF EXISTS dbq_t")
        e.sql("CREATE TABLE dbq_t (v BIGINT) PARTITIONED BY (p BIGINT)")
        e.sql("INSERT INTO dbq_t PARTITION (p)"
              " SELECT n_nationkey, n_regionkey FROM default.nation")
        assert e.sql("SHOW PARTITIONS default.dbq_t").count() == 5
        assert e.sql("DESCRIBE default.dbq_t").count() == 2
        e.sql("REFRESH dbq_t PARTITION (p=1)")
        e.sql("DROP TABLE dbq_t")

    def test_string_literals_keep_default_dot(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine

        e = ImpalaEngine(spark, sf_dir=sf_dir)
        row = e.sql("SELECT 'see default.nation docs' AS s").collect()[0]
        assert row[0] == "see default.nation docs"

    def test_unknown_db_still_errors(self, spark, sf_dir):
        import pytest

        from impala_spark.engine import ImpalaEngine, ImpalaAnalysisError

        e = ImpalaEngine(spark, sf_dir=sf_dir)
        with pytest.raises(ImpalaAnalysisError):
            e.sql("SELECT * FROM default.no_such_table_xyz")


def test_select_null_types_as_boolean(spark):
    # IMPALA-914 / JdbcTest.testSelectNull: a bare NULL result column is
    # BOOLEAN for Hive compatibility, with exactly one NULL row
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    df = eng.sql("SELECT NULL")
    assert df.schema.fields[0].dataType.typeName() == "boolean"
    rows = df.collect()
    assert len(rows) == 1 and rows[0][0] is None
    # mixed: only the void column is cast
    df2 = eng.sql("SELECT 1 AS a, NULL AS b")
    assert [f.dataType.typeName() for f in df2.schema.fields] == [
        "integer",
        "boolean",
    ]


def test_print_bytes_units():
    # common/PrintUtils.java printBytes: 5000 -> 4.88KB, sub-KB stays B
    from impala_spark.engine import _print_bytes

    assert _print_bytes(5000) == "4.88KB"
    assert _print_bytes(500) == "500B"
    assert _print_bytes(218192991) == "208.09MB"
    assert _print_bytes(5 * (1 << 30)) == "5.00GB"
    assert _print_bytes(3 * (1 << 40) + (1 << 39)) == "3.50TB"
    assert _print_bytes(2 * (1 << 50)) == "2.00PB"


@pytest.fixture(scope="module")
def modify_target(engine):
    engine.sql("CREATE TABLE cls_pt (k BIGINT, v STRING, PRIMARY KEY (k))")
    yield "cls_pt"
    engine.sql("DROP TABLE cls_pt")


_JOIN = "cls_pt a JOIN orders o ON a.k = o.o_orderkey"


@pytest.mark.parametrize("stmt, kind, target, source", [
    ("COMMENT ON TABLE nation IS 'x'", "comment", None, None),
    ("GRANT ROLE r TO GROUP g", "authz", None, None),
    ("EXPLAIN SELECT 1", "explain", None, "SELECT 1"),
    ("EXPLAIN DELETE FROM cls_pt WHERE k = 1", "explain", None,
     "DELETE FROM cls_pt WHERE k = 1"),
    ("COMPUTE INCREMENTAL STATS `orders`", "compute_stats", "orders", None),
    ("DROP STATS default.orders", "drop_stats", "default.orders", None),
    ("SET mem_limit = 1g", "set", None, None),
    ("USE `default`", "use", "default", None),
    ("SHOW AGGREGATE FUNCTIONS IN default LIKE 'a*'", "show_functions", "default", None),
    ("SHOW CREATE TABLE `db1`.`t`", "show", "db1.t", None),
    ("DESCRIBE DATABASE default", "describe_db", "default", None),
    ("DESCRIBE FORMATTED orders", "describe", "orders", None),
    ("INSERT OVERWRITE TABLE t PARTITION (p=1) [shuffle] SELECT a FROM s",
     "insert", "t", "SELECT a FROM s"),
    ("WITH c AS (SELECT 1 AS a) INSERT INTO `db1`.t SELECT a FROM c",
     "insert", "db1.t", "WITH c AS (SELECT 1 AS a) SELECT a FROM c"),
    ("UPSERT INTO t (a, b) VALUES (1, 2)", "upsert", "t", "VALUES (1, 2)"),
    ("CREATE FUNCTION f(INT) RETURNS INT LOCATION '/x.so' SYMBOL='abs'",
     "create_function", "f", None),
    ("DROP FUNCTION IF EXISTS f(INT)", "drop_function", "f", None),
    ("CREATE TABLE `t` STORED AS PARQUET AS SELECT 1 AS x", "ctas", "t", "SELECT 1 AS x"),
    ("CREATE TABLE t PARTITION BY RANGE (x) (PARTITION VALUES < 5) AS SELECT 1 AS x",
     "ctas", "t", "SELECT 1 AS x"),
    ("CREATE TABLE t LIKE orders", "create_like", "t", None),
    ("CREATE TABLE db1.t (a INT)", "create_table", "db1.t", None),
    ("CREATE TABLE t STORED AS AVRO TBLPROPERTIES ('avro.schema.literal'='{}')",
     "create_avro", "t", None),
    ("CREATE VIEW v (a) AS SELECT 1", "create_view", "v", "SELECT 1"),
    ("ALTER VIEW v RENAME TO v2", "alter_view", "v", None),
    ("DROP DATABASE IF EXISTS d CASCADE", "database", "d", None),
    ("DROP TABLE IF EXISTS t PURGE", "drop_table", "t", None),
    ("ALTER TABLE t SET COLUMN STATS a ('numDVs'='1')", "set_column_stats", "t", None),
    ("ALTER TABLE t RENAME TO t2", "alter_table", "t", None),
    ("UPDATE cls_pt SET v = 'x' WHERE k = 1", "update", "cls_pt",
     "SELECT v = 'x' FROM cls_pt WHERE k = 1"),
    ("UPDATE cls_pt SET v = (SELECT max(o_comment) FROM orders)", "update", "cls_pt",
     "SELECT v = (SELECT max(o_comment) FROM orders) FROM cls_pt"),
    (f"UPDATE a SET v = o.o_comment FROM {_JOIN}", "update", "cls_pt",
     f"SELECT v = o.o_comment FROM {_JOIN}"),
    ("DELETE FROM cls_pt WHERE k = 1", "delete", "cls_pt",
     "SELECT * FROM cls_pt WHERE k = 1"),
    (f"DELETE a FROM {_JOIN}", "delete", "cls_pt", f"SELECT * FROM {_JOIN}"),
    ("TRUNCATE TABLE IF EXISTS t", "truncate", "t", None),
    ("LOAD DATA INPATH '/tmp/x' INTO TABLE t", "load", "t", None),
    ("REFRESH t PARTITION (p=1)", "refresh", "t", None),
    ("DROP VIEW IF EXISTS v", "drop_view", "v", None),
    ("DROP TABLE t CASCADE", "ddl", "t", None),
    ("SHOW TABLES", "command", None, None),
    ("select * from orders", "query", None, "select * from orders"),
    ("(SELECT 1)", "query", None, "(SELECT 1)"),
    ("/* c */ -- d\n SELECT 1", "query", None, "SELECT 1"),
    ("-- c\nDROP TABLE `t`", "drop_table", "t", None),
    ("FOO BAR", "other", None, None),
])
def test_statement_table_classifies(engine, modify_target, stmt, kind, target, source):
    """One statement table classifies every statement: each row's kind,
    its target (backticks stripped, a join-form alias resolved to the
    table) and the source query it reads."""
    from impala_spark.engine import _hoist_with_clause

    got = engine.classify(_hoist_with_clause(stmt))
    assert (got.kind, got.target, got.source) == (kind, target, source)
