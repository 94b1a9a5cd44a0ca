"""Metadata/statement surfaces: COMPUTE STATS, LOAD DATA, SHOW/DESCRIBE,
SET/USE, EXPLAIN, UDF/UDA, views, CREATE TABLE LIKE, scan pushdown.

Reference surfaces: service/Frontend.java statement dispatch,
analysis/ComputeStatsStmt.java, analysis/LoadDataStmt.java,
service/MetadataOp.java, analysis/CreateUdfStmt.java.
"""

from pyspark.sql import functions as F

from impala_spark.engine import ImpalaEngine
from impala_spark.queries import SPARK_QUERIES


def test_compute_stats_counts(spark, sf_dir):
    r = SPARK_QUERIES["meta_compute_stats"](spark, sf_dir).first()
    assert r.row_count == 25
    assert r.ndv_n_regionkey == 5


def test_load_data_appends(spark, sf_dir):
    n = SPARK_QUERIES["meta_load_data"](spark, sf_dir).first().n
    assert n == 10  # region (5) + staged copy (5)


def test_describe_and_show(spark, sf_dir):
    rows = SPARK_QUERIES["meta_show_describe"](spark, sf_dir).collect()
    assert [(r.col_name, r.data_type) for r in rows] == [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ]


def test_set_use_acks(spark, sf_dir):
    rows = {(r.option, r.status) for r in SPARK_QUERIES["meta_set_use"](spark, sf_dir).collect()}
    assert rows == {("num_nodes", "set"), ("current_db", "default")}


def test_explain_broadcasts_dim_join(spark, sf_dir):
    r = SPARK_QUERIES["meta_explain"](spark, sf_dir).first()
    assert r.dim_join_broadcast  # HASH JOIN [BROADCAST] present in plan text
    assert r.has_parquet_scan
    assert r.has_aggregation


def test_explain_statement_roundtrip(spark, sf_dir):
    eng = ImpalaEngine(spark, sf_dir)
    df = eng.sql("EXPLAIN SELECT count(*) FROM nation")
    assert df.count() > 0


def test_udf_uda_match_builtin_equivalents(spark, sf_dir):
    got = {
        r.o_orderpriority: (r.taxed_total, r.geomean_price)
        for r in SPARK_QUERIES["udf_scalar_and_uda"](spark, sf_dir).collect()
    }
    want = {
        r.o_orderpriority: (r.taxed_total, r.geomean_price)
        for r in spark.sql(
            """
            SELECT o_orderpriority,
                   ROUND(CAST(SUM(CAST(o_totalprice * 1.1 AS DECIMAL(18,4))) AS DOUBLE), 4) AS taxed_total,
                   ROUND(EXP(AVG(LN(o_totalprice))), 4) AS geomean_price
            FROM orders WHERE o_totalprice > 0 GROUP BY o_orderpriority
            """
        ).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k][0] - want[k][0]) < 1e-2, k
        assert abs(got[k][1] - want[k][1]) < 1e-2, k


def test_create_view_database(spark, sf_dir):
    rows = SPARK_QUERIES["ddl_create_view_database"](spark, sf_dir).collect()
    assert all(r.n >= 5 for r in rows)


def test_create_table_like_empty_clone(spark, sf_dir):
    r = SPARK_QUERIES["ddl_create_table_like"](spark, sf_dir).first()
    assert r.n == 0 and r.n_cols == 3


def test_scan_pushdown_asserts_in_plan(spark, sf_dir):
    # the query itself asserts PushedFilters + pruned ReadSchema
    assert SPARK_QUERIES["scan_pushdown_pruning"](spark, sf_dir).first().n >= 0


def test_alter_table_lifecycle(spark, sf_dir):
    r = SPARK_QUERIES["ddl_alter_table"](spark, sf_dir).first()
    assert r.n == 5 and r.key_as_bigint_ok == 5


def test_show_partitions_files_create(spark, sf_dir):
    rows = SPARK_QUERIES["meta_show_partitions_files"](spark, sf_dir).collect()
    assert {r.o_orderstatus for r in rows} == {"F", "O", "P"}


def test_nested_struct_map_roundtrip(spark, sf_dir):
    rows = SPARK_QUERIES["nested_struct_map_access"](spark, sf_dir).collect()
    assert rows[0].via_struct_fn == rows[0].via_struct.upper()
    assert all(r.via_map is not None for r in rows)


def test_alter_unparseable_raises(spark, sf_dir):
    from impala_spark import ddl as _ddl
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _ddl.alter_table(spark, "ALTER TABLE x SET TBLPROPERTIES ('a'='b')")


def test_insert_sql_routing(spark, sf_dir):
    from impala_spark import ddl as _ddl
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    _ddl.drop_table(spark, "r_ins_sql")
    _ddl.create_table_as_select(spark, "r_ins_sql", "SELECT r_regionkey, r_name FROM region")
    eng.sql("INSERT INTO r_ins_sql SELECT r_regionkey + 100, UPPER(r_name) FROM region")
    assert spark.table("r_ins_sql").count() == 10
    eng.sql("INSERT OVERWRITE TABLE r_ins_sql SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 2")
    assert spark.table("r_ins_sql").count() == 2


def test_insert_into_fixture_view_blocked(spark, sf_dir):
    import pytest as _pytest

    eng = ImpalaEngine(spark, sf_dir)
    with _pytest.raises(ValueError, match="not a managed table"):
        eng.sql("INSERT INTO nation SELECT * FROM nation")


def test_sql_ddl_lifecycle(spark, sf_dir):
    r = SPARK_QUERIES["ddl_sql_lifecycle"](spark, sf_dir).first()
    assert (r.ctas_rows, r.like_rows, r.inserted_rows) == (3, 0, 3)


def test_show_table_and_column_stats(spark, sf_dir):
    eng = ImpalaEngine(spark, sf_dir)
    ts = eng.show_table_stats("nation").first()
    assert ts.num_rows == 25 and ts.format == "PARQUET"
    cs = {r.column: r for r in eng.show_column_stats("nation").collect()}
    assert cs["n_regionkey"].ndv == 5
    assert cs["n_name"].num_nulls == 0


def test_q14_promo_revenue_in_range(spark, sf_dir):
    from impala_spark.queries import SPARK_QUERIES as Q

    v = Q["tpch_q14_promo_revenue"](spark, sf_dir).first().promo_revenue_pct
    assert 0 < v < 100


def test_partition_pruning_in_plan(spark, sf_dir):
    # the query itself asserts PartitionFilters on the physical plan
    r = SPARK_QUERIES["scan_partition_pruning"](spark, sf_dir).first()
    assert r.n > 0


def test_explain_emits_cardinality_annotations(spark, sf_dir):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    text = eng.explain("SELECT count(*) FROM orders JOIN customer ON o_custkey = c_custkey")
    assert "cardinality=" in text and "size=" in text  # per-node stats line
    assert "SCAN PARQUET" in text


def test_compute_stats_feeds_explain_cardinality(spark, sf_dir):
    """The reference's loop: COMPUTE STATS -> planner cardinality estimates
    (ComputeStatsStmt -> ColumnStats -> PlanNode.getExplainString). Ours:
    ANALYZE TABLE -> CBO rowCount -> explain() annotations."""
    from impala_spark import operators as ops
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import table

    eng = ImpalaEngine(spark, sf_dir)
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    ops.write_bucketed(o, "t_orders_stats", ["o_orderkey"], buckets=4)
    eng.sql("COMPUTE STATS bucketed_db.t_orders_stats")
    text = eng.explain(
        "SELECT o_orderstatus, count(*) FROM bucketed_db.t_orders_stats GROUP BY o_orderstatus"
    )
    import re

    m = re.search(r"SCAN PARQUET\s+\[cardinality=(\d+)", text)
    assert m, text
    assert int(m.group(1)) == o.count()


def test_ddl_existence_errors_use_impala_messages(spark, sf_dir):
    import pytest as _pytest

    from impala_spark.engine import ImpalaAnalysisError

    engine = ImpalaEngine(spark, sf_dir)

    # AnalyzeDDLTest pins: "Table does not exist: db.t", "Table already
    # exists: db.t", "Database does not exist: db"
    with _pytest.raises(
        ImpalaAnalysisError, match="Table does not exist: default.no_such_tbl"
    ):
        engine.sql("DROP TABLE no_such_tbl")
    # IF EXISTS suppresses the error (DropTableOrViewStmt ifExists_)
    assert engine.sql("DROP TABLE IF EXISTS no_such_tbl").first().result == "did not exist"
    with _pytest.raises(ImpalaAnalysisError, match="Database does not exist: baddb"):
        engine.sql("USE baddb")
    # strict mode: CTAS over an existing table errors without IF NOT EXISTS
    strict = ImpalaEngine(engine.spark, strict=True)
    engine.sql("CREATE TABLE exists_probe AS SELECT 1 AS x")
    try:
        with _pytest.raises(
            ImpalaAnalysisError, match="Table already exists: default.exists_probe"
        ):
            strict.sql("CREATE TABLE exists_probe AS SELECT 2 AS x")
        # IF NOT EXISTS and non-strict both succeed
        strict.sql("CREATE TABLE IF NOT EXISTS exists_probe AS SELECT 3 AS x")
        engine.sql("CREATE TABLE exists_probe AS SELECT 4 AS x")
    finally:
        engine.sql("DROP TABLE IF EXISTS exists_probe")


def test_describe_database_and_show_create_function(spark, sf_dir):
    import pytest as _pytest

    from impala_spark.engine import ImpalaAnalysisError

    eng = ImpalaEngine(spark, sf_dir)
    rows = eng.sql("DESCRIBE DATABASE default").collect()
    assert any("default" in str(r) for r in rows)
    with _pytest.raises(ImpalaAnalysisError, match="Database does not exist: nodb"):
        eng.sql("DESCRIBE DATABASE nodb")
    eng.sql("CREATE FUNCTION my_probe_fn LOCATION '/x.so' SYMBOL='add_tax'")
    r = eng.sql("SHOW CREATE FUNCTION my_probe_fn").first()
    assert "CREATE FUNCTION my_probe_fn" in r.create_function
    assert "SYMBOL='add_tax'" in r.create_function
    with _pytest.raises(ImpalaAnalysisError, match=r"default\.no_fn\(\) unknown"):
        eng.sql("SHOW CREATE FUNCTION no_fn")
    eng.sql("DROP FUNCTION my_probe_fn")


def test_explain_resource_estimates_header(spark, sf_dir):
    """Planner.computeResourceReqs analog: EXPLAIN leads with the per-host
    memory/vcores estimate derived from the reference's cost-model
    constants (1.1 hash overhead, 10 MiB floor, 8 MiB IO buffers)."""
    eng = ImpalaEngine(spark, sf_dir)
    text = eng.explain(
        "SELECT l_returnflag, count(*) FROM lineitem l "
        "JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY l_returnflag"
    )
    import re as _re

    m = _re.match(r"Estimated Per-Host Requirements: Memory=([\d.]+)MB VCores=(\d+)", text)
    assert m, text.split("\n")[0]
    assert float(m.group(1)) >= 10.0  # at least the hash-table floor
    assert int(m.group(2)) == 2  # two scans in the join


def test_explain_levels_and_missing_stats_warning(spark, sf_dir):
    """EXPLAIN_LEVEL option (Planner.getExplainString) + the exact
    missing-stats warning text (:295-307)."""
    eng = ImpalaEngine(spark, sf_dir)
    q = "SELECT count(*) FROM lineitem"
    std = eng.explain(q)
    assert "Estimated Per-Host Requirements" in std
    # stats-less fixture tables trigger the reference's warning verbatim
    assert (
        "WARNING: The following tables are missing relevant table and/or "
        "column statistics." in std
    )
    assert "default.lineitem" in std
    eng.set_option("explain_level", "MINIMAL")
    minimal = eng.explain(q)
    assert "Estimated Per-Host Requirements" not in minimal
    assert "SCAN PARQUET" in minimal
    eng.set_option("explain_level", "3")
    verbose = eng.explain(q)
    assert "---- Spark physical plan ----" in verbose
    eng.set_option("explain_level", "STANDARD")


def test_skew_report_topk_is_take_ordered(spark, sf_dir):
    """The top-k in operators.skew_report must NOT execute as a
    single-partition full sort over all group keys: the query plans an
    explicit distributed TakeOrderedAndProject(limit=5), and the rank
    over the 5 survivors is a comparison join, not a window — so no
    WindowExec at all (r6 verdict #2: distributed top-k; r7 verdict #2:
    the zero-partition WindowExec warning on a healthy plan)."""
    df = SPARK_QUERIES["meta_skew_report"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=5" in plan, plan
    # no window anywhere => Spark's "No Partition Defined" WARN can't fire
    assert "Window" not in plan, plan


def test_top_terms_per_doc_topk_uses_window_group_limit(spark, sf_dir):
    """llm_top_terms' per-document row_number()<=3 must plan as
    WindowGroupLimit (Partial before the shuffle, Final after) so each
    map task forwards at most 3 rows per doc instead of every term.
    Pinned for the same upgrade-regression reason as the skew report."""
    df = SPARK_QUERIES["llm_top_terms"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan and "Final" in plan, plan


def test_show_column_stats_reads_metastore_after_promotion(spark):
    """After COMPUTE STATS promotes a fixture, SHOW COLUMN STATS answers
    from the metastore (no scan) with the stored NDV/null counts —
    Impala's behavior: the SHOW surface reads what COMPUTE STATS stored."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")
    eng.sql("COMPUTE STATS nation")
    rows = {r["column"]: r for r in eng.sql("SHOW COLUMN STATS nation").collect()}
    assert rows["n_nationkey"]["ndv"] == 25
    assert rows["n_regionkey"]["ndv"] == 5
    assert rows["n_name"]["num_nulls"] == 0


class TestShowFunctionCategories:
    """SHOW [AGGREGATE|ANALYTIC] FUNCTIONS [IN db] [[LIKE] 'pat']
    (sql-parser.cup show_functions_stmt + opt_function_category)."""

    def _eng(self, spark):
        from impala_spark.engine import ImpalaEngine

        return ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")

    def test_aggregate_category_lists_builtins(self, spark):
        eng = self._eng(spark)
        names = {r[0] for r in eng.sql("SHOW AGGREGATE FUNCTIONS").collect()}
        assert {"ndv", "appx_median", "group_concat", "sum", "count"} <= names
        assert "rank" not in names

    def test_analytic_category_lists_builtins(self, spark):
        eng = self._eng(spark)
        names = {r[0] for r in eng.sql("SHOW ANALYTIC FUNCTIONS").collect()}
        assert {"rank", "dense_rank", "lead", "lag", "ntile"} <= names
        assert "ndv" not in names

    def test_pattern_filters_with_star_and_alternation(self, spark):
        eng = self._eng(spark)
        names = {
            r[0]
            for r in eng.sql("SHOW AGGREGATE FUNCTIONS LIKE 'nd*|app*'").collect()
        }
        assert names == {"ndv", "appx_median"}

    def test_uda_joins_aggregate_listing(self, spark):
        eng = self._eng(spark)
        eng.sql(
            "CREATE AGGREGATE FUNCTION my_gm (DOUBLE) RETURNS DOUBLE"
            " LOCATION '/dev/null' UPDATE_FN='geomean'"
        )
        names = {r[0] for r in eng.sql("SHOW AGGREGATE FUNCTIONS").collect()}
        assert "my_gm" in names

    def test_unknown_db_raises_analysis_error(self, spark):
        import pytest

        from impala_spark.engine import ImpalaAnalysisError

        eng = self._eng(spark)
        with pytest.raises(ImpalaAnalysisError, match="Database does not exist: nosuchdb"):
            eng.sql("SHOW AGGREGATE FUNCTIONS IN nosuchdb")

    def test_comment_on_rejected_like_the_reference_grammar(self, spark):
        import pytest

        from impala_spark.parser import ImpalaUnsupportedError

        eng = self._eng(spark)
        with pytest.raises(ImpalaUnsupportedError, match="COMMENT is not a statement"):
            eng.sql("COMMENT ON TABLE nation IS 'x'")


def test_explain_dml_statements(spark, sf_dir):
    """EXPLAIN of write statements shows the sink over the planned
    source (HdfsTableSink 'WRITE TO HDFS [db.t, OVERWRITE=...]';
    Kudu-surface UPDATE/DELETE/UPSERT sinks)."""
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS expdml_t")
    eng.sql("CREATE TABLE expdml_t (k BIGINT, v STRING, PRIMARY KEY (k))")

    def text(stmt):
        return "\n".join(
            r.explain_string for r in eng.sql(stmt).collect()
        )

    t = text("EXPLAIN INSERT INTO expdml_t SELECT r_regionkey, r_name FROM region")
    assert t.startswith("WRITE TO HDFS [default.expdml_t, OVERWRITE=false]")
    assert "SCAN PARQUET" in t
    t = text("EXPLAIN INSERT OVERWRITE expdml_t VALUES (1, 'a')")
    assert "OVERWRITE=true" in t
    assert text("EXPLAIN UPDATE expdml_t SET v = 'x' WHERE k = 1").startswith(
        "UPDATE [default.expdml_t]"
    )
    assert text("EXPLAIN DELETE FROM expdml_t WHERE k = 2").startswith(
        "DELETE FROM [default.expdml_t]"
    )
    assert text("EXPLAIN UPSERT INTO expdml_t VALUES (1, 'b')").startswith(
        "UPSERT INTO [default.expdml_t]"
    )
    # unknown-stat sizes print as unavailable, never 8192.00PB
    assert "PB" not in text("EXPLAIN UPDATE expdml_t SET v = 'y' WHERE k = 3")
    eng.sql("DROP TABLE expdml_t")


def test_explain_raises_the_statement_error(spark, sf_dir):
    """EXPLAIN and execution build the query through one builder, so a
    statement Spark rejects fails with the same Impala text either way."""
    import pytest as _p

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    for stmt in ("SELECT no_such_col FROM region",
                 "SELECT * FROM no_such_table_xyz",
                 "SELECT r_name FROM region r JOIN nation n"
                 " ON r.r_regionkey = n.n_regionkey GROUP BY name"):
        with _p.raises(ImpalaAnalysisError) as ran:
            eng.sql(stmt)
        with _p.raises(ImpalaAnalysisError) as explained:
            eng.sql(f"EXPLAIN {stmt}")
        assert str(explained.value) == str(ran.value), stmt


def test_explain_unsplittable_insert_is_a_syntax_error(spark, sf_dir):
    """EXPLAIN of an INSERT/UPSERT form whose source cannot be split out
    is rejected like other unexplainable statements; it must never reach
    spark.sql as a write."""
    import pytest as _p

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS exp_ins_probe")
    eng.sql("CREATE TABLE exp_ins_probe (k BIGINT, v STRING, PRIMARY KEY (k))")
    eng.sql("INSERT INTO exp_ins_probe VALUES (1, 'a')")
    for stmt in ("INSERT INTO exp_ins_probe (SELECT r_regionkey, r_name FROM region)",
                 "UPSERT INTO exp_ins_probe (SELECT r_regionkey, r_name FROM region)"):
        with _p.raises(ImpalaUnsupportedError) as e:
            eng.sql(f"EXPLAIN {stmt}")
        head = stmt.split(None, 1)[0]
        assert str(e.value) == (
            f"Syntax error: EXPLAIN is not supported for {head} statements "
            "(EXPLAIN accepts queries, INSERT/UPSERT/UPDATE/DELETE, and "
            "CREATE TABLE AS SELECT)"
        )
    assert eng.sql("SELECT count(*) AS n FROM exp_ins_probe").first().n == 1
    eng.sql("DROP TABLE exp_ins_probe")


def test_explain_ctas_plans_without_executing(spark, sf_dir):
    """EXPLAIN CTAS shows the sink plan and must NOT create the table
    (spark.sql executes DDL commands eagerly — caught by probe); other
    DDL under EXPLAIN is a syntax error like the grammar
    (sql-parser.cup explain_stmt)."""
    import pytest as _p

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS exp_ctas_probe")
    rows = eng.sql(
        "EXPLAIN CREATE TABLE exp_ctas_probe AS SELECT r_regionkey FROM region"
    ).collect()
    assert rows[0].explain_string.startswith(
        "WRITE TO HDFS [default.exp_ctas_probe"
    )
    assert not spark.catalog.tableExists("exp_ctas_probe")
    with _p.raises(ImpalaUnsupportedError, match="EXPLAIN is not supported"):
        eng.sql("EXPLAIN DROP TABLE region")
    with _p.raises(ImpalaUnsupportedError, match="EXPLAIN is not supported"):
        eng.sql("EXPLAIN CREATE VIEW v_x AS SELECT 1")


def test_show_partitions_unpartitioned_pins_text(spark, sf_dir):
    """SHOW PARTITIONS of an unpartitioned table / fixture raises the
    analyzer's text, never a raw Spark error
    (A/ShowStatsStmt.java:74-77)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS sp_unpart")
    eng.sql("CREATE TABLE sp_unpart (k BIGINT)")
    with _pt.raises(ImpalaAnalysisError, match="Table is not partitioned: default.sp_unpart"):
        eng.sql("SHOW PARTITIONS sp_unpart")
    with _pt.raises(ImpalaAnalysisError, match="Table is not partitioned: default.region"):
        eng.sql("SHOW PARTITIONS region")
    with _pt.raises(ImpalaAnalysisError, match="Table does not exist: default.sp_missing"):
        eng.sql("SHOW PARTITIONS sp_missing")
    eng.sql("DROP TABLE sp_unpart")


def test_stats_surfaces_reject_views(spark, sf_dir):
    """SHOW TABLE/COLUMN STATS, SHOW FILES, COMPUTE STATS on a view pin
    the reference analysis texts (A/ShowStatsStmt.java:70-72,
    A/ShowFilesStmt.java:67, A/ComputeStatsStmt.java:254-257)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    spark.sql("DROP VIEW IF EXISTS v_statsprobe")
    eng.sql("CREATE VIEW v_statsprobe AS SELECT r_regionkey FROM region")
    cases = [
        ("SHOW TABLE STATS v_statsprobe",
         "SHOW TABLE STATS not applicable to a view: default.v_statsprobe"),
        ("SHOW COLUMN STATS v_statsprobe",
         "SHOW COLUMN STATS not applicable to a view: default.v_statsprobe"),
        ("SHOW FILES IN v_statsprobe",
         "SHOW FILES not applicable to a non hdfs table: default.v_statsprobe"),
        ("COMPUTE STATS v_statsprobe",
         "COMPUTE STATS not supported for view: v_statsprobe"),
    ]
    import re as _re

    for stmt, msg in cases:
        with _pt.raises(ImpalaAnalysisError, match=_re.escape(msg)):
            eng.sql(stmt)
    eng.sql("DROP VIEW v_statsprobe")


def test_drop_stats_forms(spark, sf_dir):
    """DROP INCREMENTAL STATS ... PARTITION (spec) routes (the grammar
    pairs PARTITION with INCREMENTAL, DropStatsStmt.java:28-30); DROP
    STATS on a view pins the analysis text."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP STATS region")
    eng.sql("DROP INCREMENTAL STATS region PARTITION (r_regionkey=1)")
    spark.sql("DROP VIEW IF EXISTS v_ds")
    eng.sql("CREATE VIEW v_ds AS SELECT 1 AS x")
    with _pt.raises(ImpalaAnalysisError, match="DROP STATS not allowed on a view: v_ds"):
        eng.sql("DROP STATS v_ds")
    eng.sql("DROP VIEW v_ds")
