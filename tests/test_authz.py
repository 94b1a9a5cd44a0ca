"""Sentry-style authorization (impala_spark/authz.py): the statement
surface, analysis rules, and enforcement of SURVEY §2 row 15.

Error texts pinned against T/analysis/AnalyzeAuthStmtsTest.java and
analysis/AuthorizationStmt.java / PrivilegeSpec.java /
CreateDropRoleStmt.java / GrantRevokeRoleStmt.java; enforcement texts
against authorization/AuthorizationChecker.java:125-145."""

import pytest

from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="alice")
    e._authz.user_groups = {"alice": {"analysts"}, "bob": {"eng"}}
    # the statement-surface tests drive DDL too: give the fixture user a
    # server-scope admin role (enforcement itself is tested with
    # dedicated unprivileged users in TestEnforcement)
    e.sql("CREATE ROLE authz_admin")
    e.sql("GRANT ROLE authz_admin TO GROUP analysts")
    e.sql("GRANT ALL ON SERVER TO ROLE authz_admin")
    return e


class TestGating:
    def test_auth_statements_require_enabled(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF)  # no server_name -> disabled
        for s in (
            "SHOW ROLES", "SHOW CURRENT ROLES",
            "SHOW ROLE GRANT GROUP myGroup", "SHOW GRANT ROLE myRole",
            "CREATE ROLE r", "DROP ROLE r",
            "GRANT ROLE r TO GROUP g", "REVOKE ROLE r FROM GROUP g",
            "GRANT ALL ON SERVER TO myRole",
            "REVOKE ALL ON SERVER FROM myRole",
        ):
            with pytest.raises(ImpalaAnalysisError,
                               match="Authorization is not enabled"):
                e.sql(s)

    def test_empty_username(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Cannot execute authorization statement with an empty"
                  " username",
        ):
            e.sql("GRANT ALL ON SERVER TO myRole")

    def test_disabled_engine_runs_queries_unchecked(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF)
        assert e.sql("SELECT COUNT(*) AS n FROM orders").collect()[0][0] > 0


class TestRoleLifecycle:
    def test_create_drop_and_case_insensitivity(self, eng):
        eng.sql("CREATE ROLE tmpRole")
        # AnalyzeAuthStmtsTest: "Role names are case-insensitive"
        with pytest.raises(ImpalaAnalysisError,
                           match="Role 'TMProle' already exists."):
            eng.sql("CREATE ROLE TMProle")
        eng.sql("DROP ROLE tmprole")
        with pytest.raises(ImpalaAnalysisError,
                           match="Role 'tmpRole' does not exist."):
            eng.sql("DROP ROLE tmpRole")

    def test_grant_revoke_role_to_group(self, eng):
        eng.sql("CREATE ROLE gr1")
        with pytest.raises(ImpalaAnalysisError,
                           match="Role 'doesNotExist' does not exist."):
            eng.sql("GRANT ROLE doesNotExist TO GROUP abc")
        with pytest.raises(ImpalaAnalysisError,
                           match="Role 'doesNotExist' does not exist."):
            eng.sql("REVOKE ROLE doesNotExist FROM GROUP abc")
        eng.sql("GRANT ROLE gr1 TO GROUP abc")
        got = [r.role_name for r in
               eng.sql("SHOW ROLE GRANT GROUP abc").collect()]
        assert got == ["gr1"]
        eng.sql("REVOKE ROLE gr1 FROM GROUP abc")
        assert eng.sql("SHOW ROLE GRANT GROUP abc").count() == 0
        eng.sql("DROP ROLE gr1")


class TestPrivilegeSpec:
    def test_scope_and_privilege_compat(self, eng):
        eng.sql("CREATE ROLE ps1")
        # AnalyzeAuthStmtsTest.AnalyzeGrantRevokePriv texts
        with pytest.raises(
            ImpalaAnalysisError,
            match="Only 'ALL' privilege may be applied at SERVER scope"
                  " in privilege spec.",
        ):
            eng.sql("GRANT INSERT ON SERVER TO ROLE ps1")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Only 'ALL' privilege may be applied at URI scope in"
                  " privilege spec.",
        ):
            eng.sql("REVOKE SELECT ON URI 'hdfs:////abc//123' FROM ROLE ps1")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Specified server name 'does_not_exist' does not match"
                  " the configured server name 'server1'",
        ):
            eng.sql("GRANT ALL ON SERVER does_not_exist TO ROLE ps1")
        with pytest.raises(ImpalaAnalysisError,
                           match="No FileSystem for scheme: xxxx"):
            eng.sql("GRANT ALL ON URI 'xxxx:////abc//123' TO ROLE ps1")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Error setting privileges for database 'does_not_exist'.",
        ):
            eng.sql("GRANT ALL ON DATABASE does_not_exist TO ROLE ps1")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Error setting privileges for table 'does_not_exist'.",
        ):
            eng.sql("GRANT ALL ON TABLE does_not_exist TO ROLE ps1")
        eng.sql("DROP ROLE ps1")

    def test_column_privilege_spec_rules(self, eng):
        eng.sql("CREATE ROLE ps2")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Only 'SELECT' privileges are allowed in a column"
                  " privilege spec.",
        ):
            eng.sql("GRANT INSERT (o_orderkey) ON TABLE orders TO ROLE ps2")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Only 'SELECT' privileges are allowed in a column"
                  " privilege spec.",
        ):
            eng.sql("GRANT ALL (o_orderkey) ON TABLE orders TO ROLE ps2")
        with pytest.raises(ImpalaAnalysisError,
                           match="Empty column list in column privilege"):
            eng.sql("GRANT SELECT () ON TABLE orders TO ROLE ps2")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Error setting column-level privileges for table"
                  " 'orders'.",
        ):
            eng.sql("GRANT SELECT (invalid_col) ON TABLE orders TO ROLE ps2")
        # column-level on a VIEW is rejected
        eng.sql("DROP VIEW IF EXISTS authz_v")
        eng.sql("CREATE VIEW authz_v AS SELECT o_orderkey FROM orders")
        with pytest.raises(
            ImpalaAnalysisError,
            match="Column-level privileges on views are not supported.",
        ):
            eng.sql("GRANT SELECT (o_orderkey) ON TABLE authz_v TO ROLE ps2")
        eng.sql("DROP VIEW authz_v")
        eng.sql("DROP ROLE ps2")

    def test_show_grant_role(self, eng):
        eng.sql("CREATE ROLE ps3")
        eng.sql("GRANT SELECT ON TABLE orders TO ROLE ps3")
        eng.sql("GRANT ALL ON DATABASE default TO ROLE ps3 WITH GRANT OPTION")
        with pytest.raises(ImpalaAnalysisError,
                           match="Role 'does_not_exist' does not exist."):
            eng.sql("SHOW GRANT ROLE does_not_exist")
        rows = {(r.scope, r.privilege, r.grant_option)
                for r in eng.sql("SHOW GRANT ROLE ps3").collect()}
        assert rows == {("table", "select", False), ("database", "all", True)}
        only_tbl = eng.sql("SHOW GRANT ROLE ps3 ON TABLE orders").collect()
        assert len(only_tbl) == 1 and only_tbl[0].table == "orders"
        eng.sql("REVOKE GRANT OPTION FOR ALL ON DATABASE default FROM ROLE ps3")
        rows = {(r.scope, r.grant_option)
                for r in eng.sql("SHOW GRANT ROLE ps3").collect()}
        assert ("database", False) in rows
        eng.sql("DROP ROLE ps3")


#: statements reading only orders and customer through a FROM inside
#: EXTRACT or IS NOT DISTINCT FROM, a join hint and an inline view
FROM_MODEL_PROBES = (
    "SELECT EXTRACT(YEAR FROM o_orderdate) AS y FROM orders LIMIT 1",
    "SELECT count(*) FROM orders WHERE o_custkey IS NOT DISTINCT FROM o_orderkey",
    "SELECT count(*) FROM customer c JOIN [shuffle] orders o"
    " ON c.c_custkey = o.o_custkey",
    "SELECT count(*) FROM (SELECT * FROM customer) c JOIN orders o"
    " ON c.c_custkey = o.o_custkey",
)


def _reader(spark, role: str, *grants: str) -> ImpalaEngine:
    """An engine for 'carol', whose role holds only `grants`."""
    e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="carol")
    e._authz.user_groups = {"carol": {"readers"}}
    e.sql(f"CREATE ROLE {role}")
    e.sql(f"GRANT ROLE {role} TO GROUP readers")
    for g in grants:
        e.sql(f"GRANT SELECT ON {g} TO ROLE {role}")
    return e


class TestEnforcement:
    @pytest.mark.parametrize("sql", FROM_MODEL_PROBES)
    def test_tables_read_come_from_the_from_model(self, spark, sql):
        e = _reader(spark, "rl_probe", "TABLE orders", "TABLE customer")
        try:
            assert e.sql(sql).collect()
        finally:
            e.sql("DROP ROLE rl_probe")

    def test_table_grant_covers_its_own_database_only(self, spark):
        e = _reader(spark, "rl_qual", "TABLE default.orders")
        try:
            assert e.sql("SELECT count(*) FROM orders").collect()
            for sql in ("SELECT count(*) FROM otherdb.orders",
                        "SELECT count(*) FROM orders o, otherdb.orders p"):
                with pytest.raises(
                    ImpalaAnalysisError,
                    match="User 'carol' does not have privileges to execute"
                          " 'SELECT' on: otherdb.orders$",
                ):
                    e.sql(sql)
            with pytest.raises(ImpalaAnalysisError,
                               match="to access: otherdb.orders$"):
                e.sql("DESCRIBE otherdb.orders")
            # a DATABASE grant covers its own database only, too
            e.sql("GRANT SELECT ON DATABASE default TO ROLE rl_qual")
            with pytest.raises(ImpalaAnalysisError, match="on: otherdb.orders$"):
                e.sql("SELECT count(*) FROM otherdb.orders")
        finally:
            e.sql("DROP ROLE rl_qual")

    @pytest.mark.parametrize("sql, table", (
        ("SELECT * FROM orders otherdb JOIN otherdb.orders s ON TRUE",
         "otherdb.orders"),
        ("SELECT * FROM orders otherdb, otherdb.orders", "otherdb.orders"),
        ("SELECT v.* FROM orders otherdb, (SELECT * FROM otherdb.orders) v",
         "otherdb.orders"),
        ("SELECT * FROM customer `default` JOIN `default`.lineitem l ON TRUE",
         "default.lineitem"),
    ))
    def test_path_over_an_alias_is_a_table_read(self, spark, sql, table):
        """A two-part path whose first part is an alias in scope reaches
        Spark as db.table unless it is the comma-joined, aliased
        collection form: the table it names needs its own grant."""
        e = _reader(spark, "rl_path", "TABLE orders", "TABLE customer")
        try:
            with pytest.raises(
                ImpalaAnalysisError,
                match=f"execute 'SELECT' on: {table}$",
            ):
                e.sql(sql)
        finally:
            e.sql("DROP ROLE rl_path")

    def test_bare_table_grant_names_the_grant_time_database(self, spark):
        """GRANT ... ON TABLE orders covers default.orders, the table it
        named when it ran, also after USE of another database."""
        spark.sql("CREATE DATABASE IF NOT EXISTS authz_other")
        # authz_other.region makes the database visible to USE
        e = _reader(spark, "rl_use", "TABLE orders", "TABLE authz_other.region")
        try:
            e.sql("USE authz_other")
            for sql in ("SELECT count(*) FROM orders",
                        "SELECT count(*) FROM authz_other.orders"):
                with pytest.raises(
                    ImpalaAnalysisError,
                    match="execute 'SELECT' on: authz_other.orders$",
                ):
                    e.sql(sql)
            e.sql("USE default")
            assert e.sql("SELECT count(*) FROM orders").collect()
            assert [(r.database, r.table) for r in e.sql(
                "SHOW GRANT ROLE rl_use ON TABLE orders").collect()
            ] == [("default", "orders")]
        finally:
            spark.catalog.setCurrentDatabase("default")
            e.sql("DROP ROLE rl_use")
            spark.sql("DROP DATABASE IF EXISTS authz_other CASCADE")

    def test_show_tables_statement_is_filtered(self, spark):
        """The SHOW TABLES statement lists what show_tables() lists: only
        the tables the user holds a privilege on."""
        e = _reader(spark, "rl_show", "TABLE orders")
        try:
            assert {r.tableName for r in e.sql("SHOW TABLES").collect()} == {"orders"}
            assert {r.tableName for r in e.show_tables().collect()} == {"orders"}
            assert [r.tableName for r in e.sql("SHOW TABLES LIKE 'ord*'").collect()] == ["orders"]
            assert e.sql("SHOW TABLES LIKE 'line*'").collect() == []
        finally:
            e.sql("DROP ROLE rl_show")

    def test_spark_native_shapes_are_authorized(self, spark):
        """TABLE t reads t; a FROM-first query is a shape the resolver
        cannot see into, so it needs a server-scope grant."""
        e = _reader(spark, "rl_native", "TABLE orders")
        try:
            assert e.sql("TABLE orders").count() > 0
            with pytest.raises(ImpalaAnalysisError,
                               match="execute 'SELECT' on: default.lineitem$"):
                e.sql("TABLE lineitem")
            for sql in ("FROM lineitem SELECT count(*)",
                        "FROM orders SELECT count(*)"):
                with pytest.raises(ImpalaAnalysisError,
                                   match="execute 'SELECT' on: server$"):
                    e.sql(sql)
            e.sql("GRANT ALL ON SERVER TO ROLE rl_native")
            assert e.sql("FROM lineitem SELECT count(*)").collect()[0][0] > 0
        finally:
            e.sql("DROP ROLE rl_native")

    def test_qualified_refs_are_authorized_as_written(self, spark):
        """After USE of another database, `default.<t>` names the
        default-database table in privilege checks and in the
        authorization statements, not a table of the current one."""
        spark.sql("CREATE DATABASE IF NOT EXISTS authz_other")
        e = _reader(spark, "rl_qtext", "TABLE default.orders",
                    "TABLE authz_other.region")
        try:
            e.sql("USE authz_other")
            assert e.sql("SELECT count(*) FROM default.orders").collect()
            assert e.access_events("SELECT count(*) FROM default.orders") == {
                ("default.orders", "TABLE", "SELECT")}
            assert [(r.database, r.table) for r in e.sql(
                "SHOW GRANT ROLE rl_qtext ON TABLE default.orders").collect()
            ] == [("default", "orders")]
            e.sql("GRANT SELECT ON TABLE default.customer TO ROLE rl_qtext")
            e.sql("USE default")
            assert e.sql("SELECT count(*) FROM customer").collect()
        finally:
            spark.catalog.setCurrentDatabase("default")
            e.sql("DROP ROLE rl_qtext")
            spark.sql("DROP DATABASE IF EXISTS authz_other CASCADE")

    def test_select_enforcement_lifecycle(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="carol")
        e._authz.user_groups = {"carol": {"readers"}}
        with pytest.raises(
            ImpalaAnalysisError,
            match="User 'carol' does not have privileges to execute"
                  " 'SELECT' on: default.orders",
        ):
            e.sql("SELECT COUNT(*) FROM orders")
        e.sql("CREATE ROLE rl")
        e.sql("GRANT ROLE rl TO GROUP readers")
        e.sql("GRANT SELECT ON TABLE orders TO ROLE rl")
        assert e.sql("SELECT COUNT(*) AS n FROM orders").collect()[0][0] > 0
        # a join needs BOTH tables
        with pytest.raises(ImpalaAnalysisError, match="default.lineitem"):
            e.sql("SELECT COUNT(*) FROM orders o JOIN lineitem l"
                  " ON o.o_orderkey = l.l_orderkey")
        # database-scope grant covers every table in the db
        e.sql("GRANT SELECT ON DATABASE default TO ROLE rl")
        assert e.sql(
            "SELECT COUNT(*) AS n FROM orders o JOIN lineitem l"
            " ON o.o_orderkey = l.l_orderkey"
        ).collect()[0][0] > 0
        e.sql("REVOKE SELECT ON TABLE orders FROM ROLE rl")  # db grant remains
        assert e.sql("SELECT COUNT(*) AS n FROM orders").collect()[0][0] > 0
        e.sql("REVOKE SELECT ON DATABASE default FROM ROLE rl")
        with pytest.raises(ImpalaAnalysisError, match="does not have"):
            e.sql("SELECT COUNT(*) FROM orders")
        e.sql("DROP ROLE rl")

    def test_explain_is_authorized_like_the_statement(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="hana")
        e._authz.user_groups = {"hana": {"hx"}}
        with pytest.raises(ImpalaAnalysisError,
                           match="'SELECT' on: default.orders"):
            e.sql("EXPLAIN SELECT COUNT(*) FROM orders")
        e.sql("CREATE ROLE exr")
        e.sql("GRANT ROLE exr TO GROUP hx")
        e.sql("GRANT SELECT ON TABLE orders TO ROLE exr")
        assert e.sql("EXPLAIN SELECT COUNT(*) FROM orders").count() > 0
        e.sql("DROP ROLE exr")

    def test_column_level_select(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="dave")
        e._authz.user_groups = {"dave": {"d"}}
        e.sql("CREATE ROLE cl")
        e.sql("GRANT ROLE cl TO GROUP d")
        e.sql("GRANT SELECT (l_orderkey, l_quantity) ON TABLE lineitem"
              " TO ROLE cl")
        assert e.sql(
            "SELECT l_orderkey, l_quantity FROM lineitem LIMIT 5"
        ).count() == 5
        # an ungranted column denies (conservative identifier check)
        with pytest.raises(ImpalaAnalysisError, match="default.lineitem"):
            e.sql("SELECT l_orderkey, l_extendedprice FROM lineitem LIMIT 5")
        # ...but a string literal naming an ungranted column does not
        assert e.sql(
            "SELECT l_orderkey, 'l_extendedprice' AS lbl FROM lineitem"
            " LIMIT 3"
        ).count() == 3
        e.sql("DROP ROLE cl")

    def test_insert_and_ddl_enforcement(self, spark):
        from impala_spark import ddl

        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="erin")
        e._authz.user_groups = {"erin": {"w"}}
        e.sql("CREATE ROLE wr")
        e.sql("GRANT ROLE wr TO GROUP w")
        # CREATE TABLE needs database/server-scope ALL
        with pytest.raises(ImpalaAnalysisError,
                           match="does not have privileges to execute"
                                 " 'CREATE'"):
            e.sql("CREATE TABLE authz_t (id INT)")
        e.sql("GRANT ALL ON DATABASE default TO ROLE wr")
        e.sql("DROP TABLE IF EXISTS authz_t")
        e.sql("CREATE TABLE authz_t (id INT)")
        e.sql("INSERT INTO authz_t VALUES (1)")  # db ALL covers INSERT
        e.sql("REVOKE ALL ON DATABASE default FROM ROLE wr")
        with pytest.raises(ImpalaAnalysisError,
                           match="does not have privileges to execute"
                                 " 'INSERT' on: default.authz_t"):
            e.sql("INSERT INTO authz_t VALUES (2)")
        e.sql("GRANT INSERT ON TABLE authz_t TO ROLE wr")
        e.sql("INSERT INTO authz_t VALUES (3)")
        # INSERT ... SELECT also needs SELECT on the source
        with pytest.raises(ImpalaAnalysisError, match="default.orders"):
            e.sql("INSERT INTO authz_t SELECT CAST(o_orderkey AS INT)"
                  " FROM orders LIMIT 1")
        # UPDATE/DELETE need ALL on the target
        with pytest.raises(ImpalaAnalysisError,
                           match="'DELETE' on: default.authz_t"):
            e.sql("DELETE FROM authz_t WHERE id = 1")
        e.sql("GRANT ALL ON TABLE authz_t TO ROLE wr")
        e.sql("DELETE FROM authz_t WHERE id = 1")
        e.sql("GRANT ALL ON DATABASE default TO ROLE wr")
        e.sql("DROP TABLE authz_t")
        e.sql("DROP ROLE wr")
        ddl.drop_table(spark, "authz_t")

    def test_metadata_surfaces_need_any_privilege(self, spark):
        """SHOW PARTITIONS/STATS/CREATE TABLE and DESCRIBE need ANY
        privilege on the object; COMPUTE STATS needs ALL
        (AuthorizationChecker Privilege.ANY / the 2.x Sentry model)."""
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="ivy")
        e._authz.user_groups = {"ivy": {"md"}}
        for s in ("SHOW PARTITIONS orders", "SHOW TABLE STATS orders",
                  "SHOW CREATE TABLE orders", "DESCRIBE orders",
                  "COMPUTE STATS orders"):
            with pytest.raises(ImpalaAnalysisError, match="does not have"):
                e.sql(s)
        e.sql("CREATE ROLE mdr")
        e.sql("GRANT ROLE mdr TO GROUP md")
        # ANY privilege (INSERT here) unlocks the metadata surfaces
        e.sql("GRANT INSERT ON TABLE orders TO ROLE mdr")
        assert e.sql("DESCRIBE orders").count() > 0
        assert e.sql("SHOW CREATE TABLE orders").count() > 0
        # ...but COMPUTE STATS still needs ALL
        with pytest.raises(ImpalaAnalysisError,
                           match="'COMPUTE STATS' on: default.orders"):
            e.sql("COMPUTE STATS orders")
        e.sql("GRANT ALL ON TABLE orders TO ROLE mdr")
        assert e.sql("COMPUTE STATS orders").count() > 0
        e.sql("DROP ROLE mdr")

    def test_enforcement_invariants_fuzz(self, spark):
        """Deny-by-default invariants over random grant/revoke sequences:
        (1) a user with no grants is always denied table reads, (2) after
        any sequence, access to table T implies some live grant covers T
        (table/db/server scope), (3) revoke-after-grant always denies
        again, (4) the engine never crashes on a policy operation."""
        import random

        rng = random.Random(11)
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="gus")
        e._authz.user_groups = {"gus": {"fz"}}
        e.sql("CREATE ROLE fzr")
        e.sql("GRANT ROLE fzr TO GROUP fz")
        tables = ["orders", "lineitem", "customer", "region"]
        live: set[str] = set()      # table names covered by a live grant
        db_scope = False
        for _ in range(60):
            act = rng.random()
            t = rng.choice(tables)
            if act < 0.35:
                e.sql(f"GRANT SELECT ON TABLE {t} TO ROLE fzr")
                live.add(t)
            elif act < 0.55:
                e.sql(f"REVOKE SELECT ON TABLE {t} FROM ROLE fzr")
                live.discard(t)
            elif act < 0.65:
                e.sql("GRANT SELECT ON DATABASE default TO ROLE fzr")
                db_scope = True
            elif act < 0.72:
                e.sql("REVOKE SELECT ON DATABASE default FROM ROLE fzr")
                db_scope = False
            else:
                probe = rng.choice(tables)
                allowed = db_scope or probe in live
                try:
                    e.sql(f"SELECT COUNT(*) FROM {probe}")
                    assert allowed, (
                        f"access to {probe} allowed with no covering grant"
                        f" (live={live}, db={db_scope})"
                    )
                except ImpalaAnalysisError:
                    assert not allowed, (
                        f"access to {probe} denied despite covering grant"
                        f" (live={live}, db={db_scope})"
                    )
        e.sql("DROP ROLE fzr")
        # role drop kills every grant
        with pytest.raises(ImpalaAnalysisError, match="does not have"):
            e.sql("SELECT COUNT(*) FROM orders")

    def test_load_data_uri_enforcement(self, spark):
        """LOAD DATA needs INSERT on the target AND ALL on the URI (the
        reference's AuthorizeableUri authorizes by prefix)."""
        import os
        import tempfile

        from impala_spark import ddl

        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="finn")
        e._authz.user_groups = {"finn": {"ld"}}
        e.sql("CREATE ROLE ldr")
        e.sql("GRANT ROLE ldr TO GROUP ld")
        e.sql("GRANT ALL ON DATABASE default TO ROLE ldr")
        stage = os.path.join(tempfile.gettempdir(), "authz_load_stage")
        spark.table("region").write.mode("overwrite").parquet(stage)
        e.sql("DROP TABLE IF EXISTS authz_ld")
        e.sql("CREATE TABLE authz_ld AS SELECT * FROM region")
        with pytest.raises(ImpalaAnalysisError,
                           match="does not have privileges to access:"):
            e.sql(f"LOAD DATA INPATH '{stage}' INTO TABLE authz_ld")
        # a PREFIX grant covers the staged path (scheme-insensitive:
        # file:///tmp covers /tmp/...)
        e.sql(f"GRANT ALL ON URI 'file://{tempfile.gettempdir()}' TO ROLE ldr")
        e.sql(f"LOAD DATA INPATH '{stage}' INTO TABLE authz_ld")
        assert spark.table("authz_ld").count() == 2 * spark.table("region").count()
        e.sql("DROP TABLE authz_ld")
        e.sql("DROP ROLE ldr")
        ddl.drop_table(spark, "authz_ld")

def test_show_listings_filtered_by_privilege(spark, sf_dir):
    """SHOW TABLES / GetTables list only objects the user holds ANY
    privilege on — column-level grants keep a table listed but do NOT
    authorize its table-level metadata surfaces
    (T/analysis/AuthorizationTest.java TestShowTableResultsFiltered,
    TestShowPermissions, TestDescribe)."""
    import pytest as _p

    from impala_spark.authz import AuthorizationError
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir, server_name="server1", user="fuser")
    eng.sql("CREATE ROLE filt_role")
    eng._authz.user_groups["fuser"] = {"fgrp"}
    eng.sql("GRANT ROLE filt_role TO GROUP fgrp")
    eng.sql("GRANT SELECT ON TABLE region TO ROLE filt_role")
    eng.sql("GRANT SELECT (n_name) ON TABLE nation TO ROLE filt_role")
    shown = {r.tableName for r in eng.show_tables().collect()}
    # table-priv and column-priv tables are listed; others are not
    assert "region" in shown and "nation" in shown
    assert "orders" not in shown and "lineitem" not in shown
    # HS2 GetTables filters identically
    hs2 = {r.TABLE_NAME for r in eng.get_tables().collect()}
    assert "region" in hs2 and "nation" in hs2 and "orders" not in hs2
    # column-only grant: DESCRIBE ok, SHOW CREATE TABLE / DESCRIBE
    # FORMATTED / SHOW PARTITIONS error
    eng.sql("DESCRIBE nation")
    with _p.raises(AuthorizationError, match="does not have privileges"):
        eng.sql("SHOW CREATE TABLE nation")
    with _p.raises(AuthorizationError, match="does not have privileges"):
        eng.sql("DESCRIBE FORMATTED nation")
    # table-level grant passes the strict surfaces
    eng.sql("DESCRIBE FORMATTED region")
    # databases: 'default' visible through the table grants
    dbs = {r.namespace for r in eng.show_databases().collect()}
    assert "default" in dbs
    eng.sql("DROP ROLE filt_role")


def test_function_statements_are_server_admin_only(spark, sf_dir):
    """CREATE/DROP FUNCTION requires server-scope ALL; SHOW FUNCTIONS
    needs ANY privilege on the db (TestFunction exact texts)."""
    import pytest as _p

    from impala_spark.authz import AuthorizationError
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir, server_name="server1", user="fnuser")
    eng.sql("CREATE ROLE fn_role")
    eng._authz.user_groups["fnuser"] = {"fngrp"}
    eng.sql("GRANT ROLE fn_role TO GROUP fngrp")
    eng.sql("GRANT SELECT ON TABLE region TO ROLE fn_role")
    with _p.raises(
        AuthorizationError,
        match=r"does not have privileges to CREATE/DROP functions\.",
    ):
        eng.sql("CREATE FUNCTION myabs(DOUBLE) RETURNS DOUBLE LOCATION '/tmp/x.so' SYMBOL='abs'")
    with _p.raises(
        AuthorizationError,
        match=r"does not have privileges to CREATE/DROP functions\.",
    ):
        eng.sql("DROP FUNCTION IF EXISTS myabs(DOUBLE)")
    # SHOW FUNCTIONS: db visible through the table grant -> ok
    eng.sql("SHOW FUNCTIONS")
    # admin (server ALL) can manage functions
    eng.sql("CREATE ROLE fn_admin")
    eng._authz.user_groups["fnuser"].add("admgrp")
    eng.sql("GRANT ROLE fn_admin TO GROUP admgrp")
    eng.sql("GRANT ALL ON SERVER TO ROLE fn_admin")
    eng.sql("CREATE FUNCTION myfn(DOUBLE) RETURNS DOUBLE LOCATION '/dev/null' SYMBOL='add_tax'")
    eng.sql("DROP FUNCTION myfn(DOUBLE)")
    eng.sql("DROP ROLE fn_role")
    eng.sql("DROP ROLE fn_admin")


def test_show_functions_db_without_privileges_errors(spark, sf_dir):
    import pytest as _p

    from impala_spark.authz import AuthorizationError
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir, server_name="server1", user="nopriv")
    with _p.raises(AuthorizationError, match="does not have privileges to access: default"):
        eng.sql("SHOW FUNCTIONS")


def test_kerberos_principals_resolve_to_short_names(spark, sf_dir):
    """'u/host@REALM' authorizes as 'u'; a leading '/' keeps the name
    whole (User.getShortName, TestShortUsernameUsed)."""
    import pytest as _p

    from impala_spark.authz import AuthorizationError, AuthzPolicy
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    for principal in ("kuser/abc.host.com@", "kuser/abc.host.com@REAL.COM",
                      "kuser@REAL.COM"):
        eng = ImpalaEngine(spark, sf_dir, server_name="server1", user=principal)
        eng.sql("CREATE ROLE k_role")
        eng._authz.user_groups["kuser"] = {"kgrp"}
        eng.sql("GRANT ROLE k_role TO GROUP kgrp")
        eng.sql("GRANT SELECT ON TABLE region TO ROLE k_role")
        assert eng.sql("SELECT count(*) FROM region").collect()[0][0] == 5
        with _p.raises(AuthorizationError):
            eng.sql("SELECT count(*) FROM nation")
        eng.sql("DROP ROLE k_role")
    assert AuthzPolicy._short_name("/kuser") == "/kuser"


def test_reset_metadata_authorization(spark, sf_dir):
    """INVALIDATE METADATA <t> / REFRESH <t> need table-level ANY
    (column-only grants insufficient); bare INVALIDATE METADATA is a
    server-scope action (TestResetMetadata exact texts)."""
    import pytest as _p

    from impala_spark.authz import AuthorizationError
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir, server_name="server1", user="rmuser")
    eng.sql("CREATE ROLE rm_role")
    eng._authz.user_groups["rmuser"] = {"rmgrp"}
    eng.sql("GRANT ROLE rm_role TO GROUP rmgrp")
    eng.sql("GRANT SELECT ON TABLE region TO ROLE rm_role")
    eng.sql("GRANT SELECT (n_name) ON TABLE nation TO ROLE rm_role")
    eng.sql("REFRESH region")
    eng.sql("INVALIDATE METADATA region")
    with _p.raises(AuthorizationError, match="access: default.orders"):
        eng.sql("REFRESH orders")
    # column-only grant insufficient
    with _p.raises(AuthorizationError, match="access: default.nation"):
        eng.sql("INVALIDATE METADATA nation")
    # bare INVALIDATE METADATA: server scope
    with _p.raises(AuthorizationError, match="access: server"):
        eng.sql("INVALIDATE METADATA")
    eng.sql("CREATE ROLE rm_admin")
    eng._authz.user_groups["rmuser"].add("rmadm")
    eng.sql("GRANT ROLE rm_admin TO GROUP rmadm")
    eng.sql("GRANT ALL ON SERVER TO ROLE rm_admin")
    eng.sql("INVALIDATE METADATA")
    eng.sql("DROP ROLE rm_role")
    eng.sql("DROP ROLE rm_admin")


def test_use_db_and_cte_masking(spark, sf_dir):
    """USE requires ANY privilege on the db (TestUseDb); a WITH alias
    does not mask privileges on the underlying table (TestWithClause)."""
    import pytest as _p

    from impala_spark.authz import AuthorizationError
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir, server_name="server1", user="uuser")
    eng.sql("CREATE ROLE u_role")
    eng._authz.user_groups["uuser"] = {"ugrp"}
    eng.sql("GRANT ROLE u_role TO GROUP ugrp")
    eng.sql("GRANT SELECT ON TABLE region TO ROLE u_role")
    eng.sql("USE default")  # visible through the table grant
    with _p.raises(AuthorizationError, match=r"access: nodb\.\*"):
        eng.sql("USE nodb")
    # CTE alias over an unauthorized table still errors (TestWithClause)
    with _p.raises(AuthorizationError, match="orders"):
        eng.sql("WITH t AS (SELECT * FROM orders) SELECT count(*) FROM t")
    # CTE over the authorized table passes
    assert (
        eng.sql("WITH t AS (SELECT * FROM region) SELECT count(*) FROM t")
        .collect()[0][0] == 5
    )
    eng.sql("DROP ROLE u_role")


def test_show_create_view_needs_underlying_privileges(spark, sf_dir):
    """SHOW CREATE TABLE on a view requires privileges on the view's
    underlying tables (TestShowCreateTable: 'to see the definition of
    view')."""
    import pytest as _p

    from impala_spark.authz import AuthorizationError
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir, server_name="server1", user="vuser")
    eng.sql("CREATE ROLE v_role")
    eng._authz.user_groups["vuser"] = {"vgrp"}
    eng.sql("GRANT ROLE v_role TO GROUP vgrp")
    # view over orders; user gets privileges on the VIEW only
    admin = ImpalaEngine(spark, sf_dir, server_name="server1", user="vadmin")
    admin._authz = eng._authz  # shared policy store
    spark.sql("DROP VIEW IF EXISTS v_orders_probe")
    saved = eng._authz.server_name
    eng._authz.server_name = None  # create as superuser
    eng.sql("CREATE VIEW v_orders_probe AS SELECT o_orderkey FROM orders")
    eng._authz.server_name = saved
    eng.sql("GRANT SELECT ON TABLE v_orders_probe TO ROLE v_role")
    with _p.raises(
        AuthorizationError,
        match=r"to see the definition of view 'default\.v_orders_probe'\.",
    ):
        eng.sql("SHOW CREATE TABLE v_orders_probe")
    eng.sql("GRANT SELECT ON TABLE orders TO ROLE v_role")
    eng.sql("SHOW CREATE TABLE v_orders_probe")  # now passes
    eng._authz.server_name = None
    eng.sql("DROP VIEW v_orders_probe")
    eng._authz.server_name = saved
    eng.sql("DROP ROLE v_role")


_SET_SUBQUERY = ("UPDATE authz_pt SET v = (SELECT max(o_comment) FROM orders)"
                 " WHERE k = 1")


class TestModifySources:
    """UPDATE/DELETE need ALL on the target — an alias resolved to its
    table — and SELECT on every other table the statement reads
    (A/ModifyStmt.java:41-59 analyzes the statement as a source SELECT)."""

    @pytest.fixture(scope="class")
    def eng(self, spark):
        e = ImpalaEngine(spark, sf_dir=SF, server_name="server1", user="mona")
        e._authz.user_groups = {"mona": {"mg"}}
        e.sql("CREATE ROLE mod_r")
        e.sql("GRANT ROLE mod_r TO GROUP mg")
        e._authz.server_name = None  # set the table up as superuser
        e.sql("CREATE TABLE authz_pt (k BIGINT, v STRING, PRIMARY KEY (k))")
        e.sql("INSERT INTO authz_pt SELECT o_orderkey, o_orderstatus FROM orders")
        e._authz.server_name = "server1"
        e.sql("GRANT ALL ON TABLE authz_pt TO ROLE mod_r")
        yield e
        e.sql("DROP ROLE mod_r")
        e._authz.server_name = None
        e.sql("DROP TABLE authz_pt")

    @pytest.mark.parametrize("stmt", [
        "DELETE a FROM authz_pt a JOIN orders o ON a.k = o.o_orderkey",
        "UPDATE authz_pt SET v = 'x' FROM authz_pt JOIN orders o"
        " ON authz_pt.k = o.o_orderkey",
        "DELETE FROM authz_pt WHERE k IN"
        " (SELECT o_orderkey FROM orders WHERE o_orderkey < 3)",
        "UPDATE a SET v = 'x' FROM authz_pt a JOIN orders o"
        " ON a.k = o.o_orderkey",
        _SET_SUBQUERY,
    ])
    def test_sources_need_select(self, eng, stmt):
        with pytest.raises(ImpalaAnalysisError,
                           match=r"'SELECT' on: default\.orders$"):
            eng.sql(stmt)

    def test_set_subquery_is_audited(self, eng):
        assert eng.access_events(_SET_SUBQUERY) == {
            ("default.authz_pt", "TABLE", "SELECT"),
            ("default.authz_pt", "TABLE", "INSERT"),
            ("default.orders", "TABLE", "SELECT"),
        }

    @pytest.mark.parametrize("stmt, priv", [
        ("/* c */ DROP TABLE authz_none", "DROP"),
        ("-- c\nALTER TABLE authz_pt RENAME TO authz_none", "CREATE"),
        ("/* c */ INSERT INTO authz_none SELECT * FROM authz_pt", "INSERT"),
        ("-- c\n/* d */ UPDATE authz_pt SET v = 'x' WHERE k IN"
         " (SELECT o_orderkey FROM orders)", "SELECT"),
    ])
    def test_comment_led_statements_are_authorized(self, eng, stmt, priv):
        """A leading comment does not change how a statement is
        classified, so it needs the same privileges as without one."""
        with pytest.raises(ImpalaAnalysisError, match=f"execute '{priv}' on"):
            eng.sql(stmt)

    def test_update_alias_checks_the_aliased_table(self, eng):
        stmt = ("UPDATE a SET v = 'y' FROM authz_pt a JOIN orders o"
                " ON a.k = o.o_orderkey WHERE o.o_orderkey < 3")
        eng.sql("GRANT SELECT ON TABLE orders TO ROLE mod_r")
        try:
            eng.sql(stmt)
            eng.sql("REVOKE ALL ON TABLE authz_pt FROM ROLE mod_r")
            with pytest.raises(ImpalaAnalysisError,
                               match=r"'UPDATE' on: default\.authz_pt$"):
                eng.sql(stmt)
        finally:
            eng.sql("GRANT ALL ON TABLE authz_pt TO ROLE mod_r")
            eng.sql("REVOKE SELECT ON TABLE orders FROM ROLE mod_r")
        updated = eng.sql("SELECT COUNT(*) FROM authz_pt WHERE v = 'y'")
        joined = eng.sql("SELECT COUNT(*) FROM authz_pt WHERE k < 3")
        assert updated.collect()[0][0] == joined.collect()[0][0] > 0
