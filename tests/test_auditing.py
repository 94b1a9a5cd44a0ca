"""Access-event auditing — the reference captures TAccessEvents during
analysis for every statement kind (A/Analyzer.java addAccessEvent,
verdicts pinned by T/analysis/AuditingTest.java:36-463). Each test below
adapts the corresponding AuditingTest case to the fixture catalog
(single `default` database, TPC-H fixture tables, engine-created views).

Not reproduced (documented in ImpalaEngine.access_events): the
`_impala_builtins` DATABASE VIEW_METADATA artifact of the reference's
builtin-function resolution.
"""

import pytest

from impala_spark.engine import ImpalaEngine


@pytest.fixture()
def eng(spark, sf_dir):
    return ImpalaEngine(spark, sf_dir)


def ev(name, objtype, priv):
    return (name, objtype, priv)


# -- TestSelect (AuditingTest.java:37-81) ------------------------------------

def test_select_simple_table(eng):
    assert eng.access_events("select * from lineitem") == {
        ev("default.lineitem", "TABLE", "SELECT")}


def test_table_value_audits_its_table(eng):
    """TABLE t (the SQL-standard table value Spark runs) is a SELECT of t."""
    assert eng.access_events("TABLE lineitem") == {
        ev("default.lineitem", "TABLE", "SELECT")}


def test_select_view_records_view_and_underlying(eng):
    eng.sql("CREATE VIEW audit_v1 AS SELECT * FROM orders")
    eng.sql("CREATE VIEW audit_v2 AS SELECT * FROM audit_v1")
    try:
        # view-on-view: 3 events — both views and the base table
        assert eng.access_events("select * from audit_v2") == {
            ev("default.audit_v2", "VIEW", "SELECT"),
            ev("default.audit_v1", "VIEW", "SELECT"),
            ev("default.orders", "TABLE", "SELECT"),
        }
    finally:
        eng.sql("DROP VIEW audit_v2")
        eng.sql("DROP VIEW audit_v1")


def test_select_view_with_subquery(eng):
    # IMPALA-3915: audit events survive statement rewriting
    eng.sql(
        "CREATE VIEW audit_sqv AS SELECT * FROM orders WHERE o_custkey IN "
        "(SELECT c_custkey FROM customer)")
    try:
        assert eng.access_events("select * from audit_sqv") == {
            ev("default.audit_sqv", "VIEW", "SELECT"),
            ev("default.orders", "TABLE", "SELECT"),
            ev("default.customer", "TABLE", "SELECT"),
        }
    finally:
        eng.sql("DROP VIEW audit_sqv")


def test_select_inline_view(eng):
    assert eng.access_events(
        "select a.* from (select * from lineitem) a") == {
        ev("default.lineitem", "TABLE", "SELECT")}


# -- TestUnion (AuditingTest.java:84-92) --------------------------------------

def test_union(eng):
    assert eng.access_events(
        "select o_orderkey from orders union all "
        "select l_orderkey from lineitem") == {
        ev("default.orders", "TABLE", "SELECT"),
        ev("default.lineitem", "TABLE", "SELECT")}


# -- TestInsert (AuditingTest.java:95-117) ------------------------------------

def test_insert_select(eng):
    assert eng.access_events(
        "insert into nation select * from region") == {
        ev("default.region", "TABLE", "SELECT"),
        ev("default.nation", "TABLE", "INSERT")}


def test_insert_inline_view(eng):
    assert eng.access_events(
        "insert into nation select b.* from region a join "
        "(select * from supplier) b on (a.r_regionkey = b.s_suppkey)") == {
        ev("default.region", "TABLE", "SELECT"),
        ev("default.supplier", "TABLE", "SELECT"),
        ev("default.nation", "TABLE", "INSERT")}


# -- TestWithClause (AuditingTest.java:120-151) --------------------------------

def test_with_clause_no_event_for_cte_name(eng):
    assert eng.access_events(
        "with t as (select * from lineitem) select * from t") == {
        ev("default.lineitem", "TABLE", "SELECT")}


def test_with_clause_referencing_view(eng):
    eng.sql("CREATE VIEW audit_wv AS SELECT * FROM part")
    try:
        assert eng.access_events(
            "with t as (select * from audit_wv) select * from t") == {
            ev("default.audit_wv", "VIEW", "SELECT"),
            ev("default.part", "TABLE", "SELECT")}
    finally:
        eng.sql("DROP VIEW audit_wv")


def test_with_clause_constant(eng):
    assert eng.access_events("with t as (select 1 + 2) select * from t") \
        == set()


def test_with_clause_unused_body_still_audited(eng):
    assert eng.access_events(
        "with t as (select * from lineitem) select 'abc'") == {
        ev("default.lineitem", "TABLE", "SELECT")}
    assert eng.access_events(
        "with t as (select * from lineitem) select * from orders") == {
        ev("default.lineitem", "TABLE", "SELECT"),
        ev("default.orders", "TABLE", "SELECT")}


# -- TestExplainEvents (AuditingTest.java:154-160) ------------------------------

def test_explain_audits_like_explained(eng):
    assert eng.access_events("explain select * from lineitem") == {
        ev("default.lineitem", "TABLE", "SELECT")}


# -- TestUseDb / TestResetMetadataEvents (AuditingTest.java:163-178) -----------

def test_use_db(eng):
    assert eng.access_events("use default") == {
        ev("default", "DATABASE", "ANY")}


def test_reset_metadata_no_events(eng):
    assert eng.access_events("invalidate metadata lineitem") == set()
    assert eng.access_events("refresh lineitem") == set()


# -- TestCreateTable (AuditingTest.java:181-199) --------------------------------

def test_create_table(eng):
    assert eng.access_events("create table audit_new (i int)") == {
        ev("default.audit_new", "TABLE", "CREATE")}


def test_create_table_like(eng):
    assert eng.access_events(
        "create table audit_new_li like lineitem") == {
        ev("default.lineitem", "TABLE", "VIEW_METADATA"),
        ev("default.audit_new_li", "TABLE", "CREATE")}


def test_create_table_like_parquet_file(eng):
    assert eng.access_events(
        "create table audit_new like parquet '/tmp/zipcodes.parquet'") == {
        ev("default.audit_new", "TABLE", "CREATE")}


def test_ctas_records_create_and_select(eng):
    assert eng.access_events(
        "create table audit_ctas as select * from region") == {
        ev("default.audit_ctas", "TABLE", "CREATE"),
        ev("default.region", "TABLE", "SELECT")}


# -- TestCreateView / databases (AuditingTest.java:202-226) ---------------------

def test_create_view(eng):
    assert eng.access_events(
        "create view audit_nv as select * from lineitem") == {
        ev("default.lineitem", "TABLE", "SELECT"),
        ev("default.audit_nv", "VIEW", "CREATE")}


def test_create_drop_database(eng):
    assert eng.access_events("create database newdb") == {
        ev("newdb", "DATABASE", "CREATE")}
    assert eng.access_events("drop database newdb") == {
        ev("newdb", "DATABASE", "DROP")}


# -- TestDropTable / TestDropView (AuditingTest.java:229-249) -------------------

def test_drop_table(eng):
    assert eng.access_events("drop table lineitem") == {
        ev("default.lineitem", "TABLE", "DROP")}


def test_drop_view(eng):
    eng.sql("CREATE VIEW audit_dv AS SELECT * FROM nation")
    try:
        assert eng.access_events("drop view audit_dv") == {
            ev("default.audit_dv", "VIEW", "DROP")}
    finally:
        eng.sql("DROP VIEW audit_dv")


# -- AlterTable / TestAlterView (AuditingTest.java:252-281) ---------------------

def test_alter_table_add_columns(eng):
    assert eng.access_events(
        "ALTER TABLE nation ADD COLUMNS (c1 int)") == {
        ev("default.nation", "TABLE", "ALTER")}


def test_alter_table_rename(eng):
    assert eng.access_events(
        "ALTER TABLE nation RENAME TO nation2") == {
        ev("default.nation", "TABLE", "ALTER"),
        ev("default.nation2", "TABLE", "CREATE")}


def test_alter_view_rename(eng):
    eng.sql("CREATE VIEW audit_av AS SELECT * FROM nation")
    try:
        assert eng.access_events(
            "ALTER VIEW audit_av RENAME TO audit_av2") == {
            ev("default.audit_av", "VIEW", "ALTER"),
            ev("default.audit_av2", "VIEW", "CREATE")}
    finally:
        eng.sql("DROP VIEW audit_av")


# -- TestComputeStats / TestDropStats (AuditingTest.java:284-300) ----------------

def test_compute_and_drop_stats(eng):
    assert eng.access_events("COMPUTE STATS nation") == {
        ev("default.nation", "TABLE", "ALTER")}
    assert eng.access_events("COMPUTE INCREMENTAL STATS nation") == {
        ev("default.nation", "TABLE", "ALTER")}
    assert eng.access_events("DROP STATS nation") == {
        ev("default.nation", "TABLE", "ALTER")}


# -- TestDescribeDb / TestDescribe (AuditingTest.java:303-340) -------------------

def test_describe_database(eng):
    assert eng.access_events("describe database default") == {
        ev("default", "DATABASE", "VIEW_METADATA")}
    assert eng.access_events("describe database extended default") == {
        ev("default", "DATABASE", "VIEW_METADATA")}


def test_describe_table_any_vs_formatted(eng):
    assert eng.access_events("describe lineitem") == {
        ev("default.lineitem", "TABLE", "ANY")}
    assert eng.access_events("describe formatted lineitem") == {
        ev("default.lineitem", "TABLE", "VIEW_METADATA")}


def test_describe_view(eng):
    eng.sql("CREATE VIEW audit_desc_v AS SELECT * FROM nation")
    try:
        assert eng.access_events("describe audit_desc_v") == {
            ev("default.audit_desc_v", "VIEW", "ANY")}
    finally:
        eng.sql("DROP VIEW audit_desc_v")


# -- TestShow / TestShowCreateTable (AuditingTest.java:321-338) ------------------

def test_show_metadata_surfaces(eng):
    for stmt in ("show partitions lineitem", "show table stats lineitem",
                 "show column stats lineitem",
                 "show create table lineitem"):
        assert eng.access_events(stmt) == {
            ev("default.lineitem", "TABLE", "VIEW_METADATA")}, stmt


# -- TestLoad (AuditingTest.java:340-348) ----------------------------------------

def test_load_data(eng):
    assert eng.access_events(
        "load data inpath '/tmp/staging' into table lineitem") == {
        ev("default.lineitem", "TABLE", "INSERT")}


# -- TestDoubleAccess (AuditingTest.java:371-380) ---------------------------------

def test_double_access_deduplicated(eng):
    assert eng.access_events(
        "select count(1), max(1) from lineitem a join lineitem b "
        "on a.l_orderkey = b.l_orderkey") == {
        ev("default.lineitem", "TABLE", "SELECT")}


# -- TestKuduStatements modify forms (AuditingTest.java:383-443) ------------------

def test_update_records_select_and_insert(eng):
    eng.sql("CREATE TABLE audit_kudu (id INT, name STRING)")
    try:
        assert eng.access_events(
            "update audit_kudu set name = 'test' where id < 10") == {
            ev("default.audit_kudu", "TABLE", "SELECT"),
            ev("default.audit_kudu", "TABLE", "INSERT")}
        assert eng.access_events(
            "delete from audit_kudu where id = 1") == {
            ev("default.audit_kudu", "TABLE", "SELECT"),
            ev("default.audit_kudu", "TABLE", "INSERT")}
        # delete using a complex query: sources audited too
        assert eng.access_events(
            "delete c from audit_kudu c, nation s "
            "where c.id = s.n_nationkey and s.n_regionkey < 3") == {
            ev("default.audit_kudu", "TABLE", "SELECT"),
            ev("default.nation", "TABLE", "SELECT"),
            ev("default.audit_kudu", "TABLE", "INSERT")}
        assert eng.access_events("drop table audit_kudu") == {
            ev("default.audit_kudu", "TABLE", "DROP")}
    finally:
        eng.sql("DROP TABLE IF EXISTS audit_kudu")


def test_upsert_records_select_and_insert(eng):
    assert eng.access_events(
        "upsert into nation select * from region") == {
        ev("default.region", "TABLE", "SELECT"),
        ev("default.nation", "TABLE", "INSERT")}


def test_select_tables_come_from_the_from_model(eng):
    """Exactly the tables each statement reads: no column after a FROM
    inside EXTRACT or IS NOT DISTINCT FROM, the table after a join hint,
    both sides of an inline-view join (comma form too)."""
    orders = ev("default.orders", "TABLE", "SELECT")
    customer = ev("default.customer", "TABLE", "SELECT")
    for sql, want in (
        ("SELECT EXTRACT(YEAR FROM o_orderdate) AS y FROM orders LIMIT 1",
         {orders}),
        ("SELECT count(*) FROM orders"
         " WHERE o_custkey IS NOT DISTINCT FROM o_orderkey", {orders}),
        ("SELECT count(*) FROM customer c JOIN [shuffle] orders o"
         " ON c.c_custkey = o.o_custkey", {customer, orders}),
        ("SELECT count(*) FROM (SELECT * FROM customer) c JOIN orders o"
         " ON c.c_custkey = o.o_custkey", {customer, orders}),
        ("SELECT count(*) FROM (SELECT * FROM customer) c, orders o"
         " WHERE c.c_custkey = o.o_custkey", {customer, orders}),
        # a path over an alias that Spark reads as db.table
        ("SELECT * FROM orders otherdb JOIN otherdb.lineitem l ON TRUE",
         {orders, ev("otherdb.lineitem", "TABLE", "SELECT")}),
    ):
        assert eng.access_events(sql) == want, sql
