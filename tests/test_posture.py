"""Per-family query posture isolation (r8 verdict what's-wrong #4).

Spark reads spark.sql.shuffle.partitions at EXECUTION time, not build
time — so the posture must ride the DataFrame's own (conf-pinned)
session, never a session-global mutated at build time. These tests pin
the exact interleaving that was latent-broken in r6-r8: build a
compute-parallel statement, then a relational one, then execute the
first — each must run with its own family's parallelism.
"""

import os

import pytest

from impala_spark.queries import SPARK_QUERIES
from impala_spark.session import (
    _dir_total_bytes,
    get_spark,
    posture_session,
    register_tables,
    table,
)

SF_TINY = "/root/testdata/sf0.001"
TINY_BYTES = _dir_total_bytes(SF_TINY)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("impala_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    return s


def test_family_sessions_pin_conf_independently(spark):
    rel = posture_session(spark, TINY_BYTES, "relational")
    par = posture_session(spark, TINY_BYTES, "parallel")
    assert rel is not par
    assert rel.conf.get("spark.sql.shuffle.partitions") == "1"
    assert par.conf.get("spark.sql.shuffle.partitions") == "32"
    # cloning is cached: same posture -> same session object
    assert posture_session(spark, TINY_BYTES, "relational") is rel
    assert posture_session(spark, TINY_BYTES, "parallel") is par
    # the parent's conf is never mutated
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_interleaved_families_do_not_cross_contaminate(spark):
    """The exact r8-ADVICE scenario: relational built AFTER a parallel
    statement, parallel COLLECTED after the relational build — execution
    parallelism must still match each statement's own family."""
    rel_s = posture_session(spark, TINY_BYTES, "relational")
    par_s = posture_session(spark, TINY_BYTES, "parallel")
    # gate AQE off (tiny input) so physical partition counts are exact
    register_tables(rel_s, SF_TINY)
    register_tables(par_s, SF_TINY)
    par_df = table(par_s, SF_TINY, "orders").groupBy("o_orderstatus").count()
    rel_df = table(rel_s, SF_TINY, "orders").groupBy("o_orderstatus").count()
    # execute the PARALLEL one last (its build came first): it must use
    # the 32-partition posture, not the relational 1
    assert rel_df.rdd.getNumPartitions() == 1
    assert par_df.rdd.getNumPartitions() == 32


def test_registry_queries_carry_their_family_posture(spark):
    rel_df = SPARK_QUERIES["pricing_summary"](spark, SF_TINY)
    par_df = SPARK_QUERIES["llm_dedup_exact"](spark, SF_TINY)
    assert (
        rel_df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1"
    )
    assert (
        par_df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "32"
    )
    # both still execute correctly after interleaved builds
    assert rel_df.count() > 0
    assert par_df.count() >= 0


def test_escape_hatch_returns_parent(spark):
    os.environ["SPARK_GRAFT_DISABLE_SMALL_POSTURE"] = "1"
    try:
        assert posture_session(spark, TINY_BYTES, "relational") is spark
    finally:
        os.environ.pop("SPARK_GRAFT_DISABLE_SMALL_POSTURE", None)


#: hinted statements: a registry text (the hint inside a WITH view), a
#: multi-hint list, and the hint comment without its spaces
HINTED = (
    "tpch_q3_shipping_priority",
    "SELECT /*+ BROADCAST(n), BROADCAST(r) */ n_name, r_name, count(*) AS k"
    " FROM supplier JOIN nation n ON s_nationkey = n_nationkey"
    " JOIN region r ON n_regionkey = r_regionkey GROUP BY n_name, r_name",
    "SELECT /*+BROADCAST(r)*/ r_name, count(*) AS k FROM nation"
    " JOIN region r ON n_regionkey = r_regionkey GROUP BY r_name",
)


@pytest.mark.parametrize(
    "text", HINTED, ids=("tpch_q3_shipping_priority", "hint_list", "hint_without_spaces"))
def test_broadcast_hint_gate_per_statement(spark, monkeypatch, text):
    """ImpalaEngine strips /*+ BROADCAST */ hints when the statement's
    own input estimate is over BROADCAST_HINT_MAX_INPUT_BYTES (the
    DistributedPlanner broadcast-cost flip) and keeps them up to it —
    Spark honors explicit hints unconditionally, so an un-gated hint
    would OOM at cluster scale. With size-based broadcasts off, only a
    kept hint plans a broadcast join."""
    from impala_spark import engine as E
    from impala_spark.parser import scanned_tables

    text = SPARK_QUERIES[text].__doc__ if text in SPARK_QUERIES else text
    nbytes, _ = E.ImpalaEngine(spark, SF_TINY)._gate_input_bytes(scanned_tables(text))
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plans, rows = [], []
        for bound in (nbytes, nbytes - 1):
            monkeypatch.setattr(E, "BROADCAST_HINT_MAX_INPUT_BYTES", bound)
            df = E.ImpalaEngine(spark, SF_TINY).sql(text)  # its own plan cache
            rows.append(sorted(map(tuple, df.collect())))
            qe = df._jdf.queryExecution()
            plans.append((qe.analyzed().toString(), qe.executedPlan().toString()))
    finally:
        spark.conf.set(key, old)
    (kept, kept_plan), (stripped, stripped_plan) = plans
    assert "ResolvedHint" in kept and "BroadcastHashJoin" in kept_plan
    assert "ResolvedHint" not in stripped and "BroadcastHashJoin" not in stripped_plan
    assert rows[0] == rows[1] and rows[0]


# ---------------------------------------------------------------------------
# Front door: ImpalaEngine sizes each plain query from the tables it scans
# and plans it single-node below SINGLE_NODE_MAX_INPUT_BYTES
# (session.posture_df), in a clone of the session the query was routed to.
# ---------------------------------------------------------------------------

SF_01 = "/root/testdata/sf0.01"

AGG = "SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY 1"
JOIN = (
    "SELECT n_name, count(*) AS n FROM nation JOIN region"
    " ON n_regionkey = r_regionkey GROUP BY n_name"
)

#: the distinct statements perfbench's `interactive` workload issues
INTERACTIVE = (
    "tpch_q6_forecast_revenue", "tpch_q14_promo_revenue", "agg_basic",
    "filter_predicates", "tpcds_q96_shape", "expr_string_funcs",
    "expr_date_funcs", "subquery_exists", "subquery_in", "union_all",
    "join_right_outer", "agg_group_concat", "tpch_q19_discounted_revenue",
    "agg_exact_percentiles", "analytic_lag_lead", "join_three_way",
    "tpcds_q42_shape", "group_by_having", "tpch_q3_shipping_priority",
)


def _exchange_partitions(df) -> list[int]:
    """Partition counts of the hash/range exchanges df executes with."""
    import re

    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        int(n) for n in re.findall(r"Exchange (?:hash|range)partitioning\(.*, (\d+)\)", plan)
    ]


def test_tiny_front_door_query_plans_single_node(spark):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, SF_TINY, strict=True)
    df = eng.sql(AGG)
    parts = _exchange_partitions(df)
    assert parts and set(parts) == {1}, parts
    conf = df.sparkSession.conf
    assert conf.get("spark.sql.adaptive.enabled") == "false"
    assert conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "false"
    # a clone: the engine session's conf is never touched
    assert df.sparkSession is not spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    # statements Spark runs for their side effects stay in the session
    assert eng.sql("SHOW TABLES").sparkSession is spark


def test_query_above_the_ceiling_keeps_the_session_posture(spark, monkeypatch):
    """A view sizes as the tables it reads: with orders patched to the
    ceiling, a query over a view of it keeps 32 partitions."""
    from impala_spark import session as S
    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import scanned_tables

    eng = ImpalaEngine(spark, SF_TINY)
    eng.sql("CREATE VIEW posture_ceiling_v AS SELECT * FROM orders")
    q = "SELECT o_orderstatus, count(*) AS n FROM posture_ceiling_v GROUP BY o_orderstatus"
    try:
        size = os.path.getsize(os.path.join(SF_TINY, "orders.parquet"))
        assert eng._gate_input_bytes(scanned_tables(q)) == (size, size)
        assert set(_exchange_partitions(eng.sql(q))) == {1}
        monkeypatch.setitem(
            S._DIR_BYTES, os.path.join(SF_TINY, "orders.parquet"),
            S.SINGLE_NODE_MAX_INPUT_BYTES)
        df = eng.sql(q)
        assert df.sparkSession is spark
        assert set(_exchange_partitions(df)) == {32}
    finally:
        eng.sql("DROP VIEW posture_ceiling_v")


def test_tables_stored_elsewhere_size_from_catalyst(spark, monkeypatch):
    """A catalog table of another database is stored outside the
    fixture dir, so the dir's bytes bound nothing: it sizes from
    Catalyst's estimate, and above the ceiling its query keeps the
    session's conf. A table Catalyst has no estimate for keeps it too."""
    from impala_spark import session as S
    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import scanned_tables

    eng = ImpalaEngine(spark, SF_TINY)
    spark.sql("CREATE DATABASE IF NOT EXISTS posture_ext_db")
    try:
        spark.sql(
            "CREATE TABLE posture_ext_db.t USING parquet AS"
            " SELECT id % 3 AS k FROM range(30)")
        q = "SELECT k, count(*) AS n FROM posture_ext_db.t GROUP BY k"
        nbytes = S.relation_bytes(spark, "posture_ext_db.t")
        assert 0 < nbytes < S.SINGLE_NODE_MAX_INPUT_BYTES
        assert eng._gate_input_bytes(scanned_tables(q)) == (nbytes, nbytes)
        assert set(_exchange_partitions(eng.sql(q))) == {1}
        spark.createDataFrame([(i % 3,) for i in range(30)], "k long") \
            .createOrReplaceTempView("posture_rows")
        rows_q = "SELECT k, count(*) AS n FROM posture_rows GROUP BY k"
        assert eng._gate_input_bytes(scanned_tables(rows_q)) == (TINY_BYTES, None)
        df = eng.sql(rows_q)
        assert df.sparkSession is spark
        assert set(_exchange_partitions(df)) == {32}
        monkeypatch.setattr(
            S, "relation_bytes", lambda s, name: S.SINGLE_NODE_MAX_INPUT_BYTES)
        df = eng.sql(q)
        assert df.sparkSession is spark
        assert set(_exchange_partitions(df)) == {32}
        assert sorted(map(tuple, df.collect())) == [(0, 10), (1, 10), (2, 10)]
    finally:
        spark.catalog.dropTempView("posture_rows")
        spark.sql("DROP DATABASE IF EXISTS posture_ext_db CASCADE")


def test_use_reaches_a_tiny_query(spark):
    """The optimizer resolves current_database() in the session that
    plans the query — the clone — so a USE replaces it."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, SF_TINY)
    assert eng.sql("SELECT database()").collect()[0][0] == "default"
    spark.sql("CREATE DATABASE IF NOT EXISTS posture_use_db")
    try:
        eng.sql("USE posture_use_db")
        assert eng.sql("SELECT database()").collect()[0][0] == "posture_use_db"
        assert eng.sql(AGG).sparkSession.catalog.currentDatabase() == "posture_use_db"
    finally:
        eng.sql("USE default")
        spark.sql("DROP DATABASE IF EXISTS posture_use_db CASCADE")
    assert eng.sql("SELECT database()").collect()[0][0] == "default"


def test_registry_clone_follows_runtime_sets(spark):
    """posture_session clones the session as it is now: a SET reaches
    the registry's next clone, while an earlier DataFrame keeps the conf
    it was built with."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    before = posture_session(spark, TINY_BYTES, "relational")
    try:
        spark.conf.set(key, "-1")
        after = posture_session(spark, TINY_BYTES, "relational")
        assert after is not before
        assert after.conf.get(key) == "-1"
        assert after.conf.get("spark.sql.shuffle.partitions") == "1"
        assert before.conf.get(key) == old
        assert posture_session(spark, TINY_BYTES, "relational") is after
    finally:
        spark.conf.set(key, old)


def test_runtime_sets_reach_a_tiny_query(spark):
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, SF_TINY)
    keys = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.codegen.wholeStage")
    old = {k: spark.conf.get(k) for k in keys}
    before = eng.sql(JOIN)
    # one clone serves while the session's conf is unchanged
    assert eng.sql(AGG).sparkSession is before.sparkSession
    try:
        eng.sql("SET broadcast_threshold=-1")
        eng.sql("SET disable_codegen=true")
        df = eng.sql(JOIN)
        assert df.sparkSession is not before.sparkSession
        assert set(_exchange_partitions(df)) == {1}
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan and "*(" not in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # a DataFrame keeps the conf it was handed over with
    assert before.sparkSession.conf.get(keys[0]) == old[keys[0]]
    plan = eng.sql(JOIN)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "*(" in plan, plan


def test_compute_stats_cbo_flags_reach_a_tiny_query(spark):
    """COMPUTE STATS of a hash-bucketed table turns CBO on in the engine
    session; the next tiny query plans with it."""
    from impala_spark import ddl
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, SF_TINY)
    old = {k: spark.conf.get(k) for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")}
    try:
        eng.sql(
            "CREATE TABLE posture_cbo (k BIGINT, v STRING, PRIMARY KEY (k))"
            " PARTITION BY HASH (k) PARTITIONS 2 STORED AS KUDU"
        )
        eng.sql("INSERT INTO posture_cbo SELECT r_regionkey, r_name FROM region")
        eng.sql("COMPUTE STATS posture_cbo")
        df = eng.sql("SELECT v, count(*) AS n FROM posture_cbo GROUP BY v")
        assert df.sparkSession is not spark
        assert df.sparkSession.conf.get("spark.sql.cbo.enabled") == "true"
        assert df.sparkSession.conf.get("spark.sql.cbo.joinReorder.enabled") == "true"
        assert set(_exchange_partitions(df)) == {1}
        assert df.count() == 5
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        ddl.drop_table(spark, "posture_cbo")


def test_stats_routed_query_takes_the_posture(spark):
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import stats_db_name

    eng = ImpalaEngine(spark, SF_TINY)
    eng.sql("COMPUTE STATS nation")
    eng.sql("COMPUTE STATS region")
    df = eng.sql(JOIN)
    s = df.sparkSession
    # a clone of the stats session: its database, CBO and LTZ literals
    assert s.catalog.currentDatabase() == stats_db_name(SF_TINY)
    assert s.conf.get("spark.sql.cbo.enabled") == "true"
    assert s.conf.get("spark.sql.timestampType") == "TIMESTAMP_LTZ"
    assert s.conf.get("spark.sql.shuffle.partitions") == "1"
    assert len(df.collect()) == 25


def test_escape_hatch_keeps_the_front_door_default(spark, monkeypatch):
    from impala_spark.engine import ImpalaEngine

    monkeypatch.setenv("SPARK_GRAFT_DISABLE_SMALL_POSTURE", "1")
    eng = ImpalaEngine(spark, SF_TINY)
    df = eng.sql(AGG)
    assert df.sparkSession is spark
    assert set(_exchange_partitions(df)) == {32}


def test_explain_prints_the_plan_that_runs(spark, monkeypatch):
    import re

    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, SF_TINY)
    eng.explain_level = 3  # VERBOSE appends the physical plan

    def exchanges(text: str) -> set[str]:
        return set(re.findall(r"Exchange (?:hash|range)partitioning\(.*, (\d+)\)", text))

    assert exchanges(eng.explain(AGG)) == {"1"}
    # a write's source plans as the write runs it, in the session posture
    dml = eng.explain(f"INSERT INTO posture_sink {AGG}")
    assert dml.startswith("WRITE TO HDFS") and exchanges(dml) == {"32"}
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_SMALL_POSTURE", "1")
    assert exchanges(eng.explain(AGG)) == {"32"}


@pytest.mark.parametrize("name", INTERACTIVE)
def test_interactive_statements_match_without_the_posture(spark, sf_dir, monkeypatch, name):
    """Each dashboard statement gives the same sorted rows and schema
    single-node and in the session's 32-partition posture."""
    from impala_spark.engine import ImpalaEngine

    text = SPARK_QUERIES[name].__doc__
    eng = ImpalaEngine(spark, SF_01, strict=True)
    try:
        single = eng.sql(text)
        assert single.sparkSession is not spark
        monkeypatch.setenv("SPARK_GRAFT_DISABLE_SMALL_POSTURE", "1")
        default = eng.sql(text)
        assert default.sparkSession is spark
        assert single.schema == default.schema
        assert sorted(map(tuple, single.collect())) == sorted(map(tuple, default.collect()))
    finally:
        register_tables(spark, sf_dir)  # the suite's fixture views again
