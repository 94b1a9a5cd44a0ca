"""DDL/write-path tests (reference: analysis/InsertStmt.java,
analysis/ModifyStmt.java, sql-parser.cup TRUNCATE/LOAD DATA)."""

import os
import re

import pytest
from pyspark.sql import functions as F

from impala_spark import ddl
from impala_spark.parser import ImpalaUnsupportedError


@pytest.fixture(autouse=True)
def cleanup(spark):
    yield
    for t in list(ddl._REGISTRY):
        if t.startswith("t_"):
            ddl.drop_table(spark, t)


def test_ctas_and_readback(spark):
    ddl.create_table_as_select(spark, "t_seg", "SELECT DISTINCT c_mktsegment FROM customer")
    assert spark.table("t_seg").count() == 5


def test_ctas_partitioned_layout(spark):
    ddl.create_table_as_select(
        spark, "t_ord", "SELECT o_orderkey, o_orderstatus FROM orders",
        partition_cols=["o_orderstatus"],
    )
    path = ddl._REGISTRY["t_ord"].path
    parts = {p for p in os.listdir(path) if p.startswith("o_orderstatus=")}
    assert len(parts) >= 2  # hive-style partition dirs exist


def test_create_table_like(spark):
    ddl.create_table_like(spark, "t_like", "region")
    assert spark.table("t_like").count() == 0
    assert spark.table("t_like").columns == spark.table("region").columns


def test_insert_append_and_overwrite(spark):
    ddl.create_table_as_select(spark, "t_r", "SELECT * FROM region")
    ddl.insert(spark, "t_r", "SELECT * FROM region")
    assert spark.table("t_r").count() == 10
    ddl.insert(spark, "t_r", "SELECT * FROM region", overwrite=True)
    assert spark.table("t_r").count() == 5


def test_insert_static_partition(spark):
    ddl.create_table_as_select(
        spark, "t_p", "SELECT n_nationkey, 'x' AS tag FROM nation LIMIT 0",
        partition_cols=["tag"],
    )
    ddl.insert(
        spark, "t_p", "SELECT n_nationkey FROM nation WHERE n_nationkey < 3",
        static_partition={"tag": "batch1"},
    )
    got = spark.table("t_p").filter("tag = 'batch1'").count()
    assert got == 3


def test_update_where(spark):
    ddl.create_table_as_select(spark, "t_u", "SELECT * FROM customer", primary_key=["c_custkey"])
    before = spark.table("t_u").filter("c_acctbal > 9000").count()
    ddl.modify(spark, "UPDATE t_u SET c_mktsegment = 'RICH' WHERE c_acctbal > 9000")
    after = spark.table("t_u").filter("c_mktsegment = 'RICH'").count()
    assert after == before


def test_delete_where(spark):
    ddl.create_table_as_select(spark, "t_d", "SELECT * FROM customer")
    total = spark.table("t_d").count()
    doomed = spark.table("t_d").filter("c_acctbal < 0").count()
    ddl.modify(spark, "DELETE FROM t_d WHERE c_acctbal < 0")
    assert spark.table("t_d").count() == total - doomed


def test_upsert_merge(spark):
    ddl.create_table_as_select(
        spark, "t_up", "SELECT n_nationkey, n_name FROM nation", primary_key=["n_nationkey"]
    )
    src = spark.createDataFrame([(0, "ZERO"), (999, "NEW")], "n_nationkey: int, n_name: string")
    ddl.upsert(spark, "t_up", src)
    t = spark.table("t_up")
    assert t.count() == 26
    assert t.filter("n_nationkey = 0").first().n_name == "ZERO"
    assert t.filter("n_nationkey = 999").first().n_name == "NEW"


def test_truncate(spark):
    ddl.create_table_as_select(spark, "t_t", "SELECT * FROM region")
    ddl.truncate(spark, "TRUNCATE TABLE t_t")
    assert spark.table("t_t").count() == 0
    assert len(spark.table("t_t").columns) == 2


def test_load_data(spark, sf_dir):
    ddl.create_table_like(spark, "t_l", "region")
    ddl.load_data(spark, f"LOAD DATA INPATH '{sf_dir}/region.parquet' INTO TABLE t_l")
    assert spark.table("t_l").count() == 5


def test_add_drop_partition_lifecycle(spark, sf_dir):
    import os

    from impala_spark import ddl
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "t_part_lifecycle")
    ddl.create_table_as_select(
        spark, "t_part_lifecycle",
        "SELECT r_regionkey, r_name FROM region",
        partition_cols=["r_name"],
    )
    t = ddl.table_info("t_part_lifecycle")
    ddl.alter_table(spark, "ALTER TABLE t_part_lifecycle ADD PARTITION (r_name='NOWHERE')")
    assert os.path.isdir(os.path.join(t.path, "r_name=NOWHERE"))
    before = spark.table("t_part_lifecycle").count()
    ddl.alter_table(spark, "ALTER TABLE t_part_lifecycle DROP PARTITION (r_name='ASIA')")
    after = spark.table("t_part_lifecycle").count()
    assert after == before - 1  # one region row per partition


def test_add_partition_rejects_unpartitioned(spark, sf_dir):
    import pytest

    from impala_spark import ddl
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "t_unpart")
    ddl.create_table_as_select(spark, "t_unpart", "SELECT r_regionkey FROM region")
    with pytest.raises(ValueError, match="not partitioned"):
        ddl.alter_table(spark, "ALTER TABLE t_unpart ADD PARTITION (x='1')")


def test_plain_create_table_with_cols(spark, sf_dir):
    """CREATE TABLE with explicit column defs (sql-parser.cup:2373):
    empty typed table -> partitioned inserts -> PK upsert."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS plain_t")
    eng.sql(
        "CREATE TABLE plain_t (id BIGINT, name VARCHAR(20), "
        "price DECIMAL(18,4), PRIMARY KEY (id)) "
        "PARTITIONED BY (year INT) STORED AS PARQUET"
    )
    assert spark.table("plain_t").count() == 0
    assert dict(spark.table("plain_t").dtypes) == {
        "id": "bigint", "name": "string", "price": "decimal(18,4)", "year": "int",
    }
    eng.sql("INSERT INTO plain_t PARTITION (year=2026) SELECT 1, 'x', 9.5")
    eng.sql("INSERT INTO plain_t SELECT 2, 'y', CAST(3.25 AS DECIMAL(18,4)), 2025")
    eng.sql("UPSERT INTO plain_t VALUES (2, 'z', CAST(4.0 AS DECIMAL(18,4)), 2025)")
    rows = {r.id: (r.name, float(r.price), r.year) for r in spark.table("plain_t").collect()}
    assert rows == {1: ("x", 9.5, 2026), 2: ("z", 4.0, 2025)}
    # IF NOT EXISTS keeps the table; plain re-create in strict mode errors
    eng.sql("CREATE TABLE IF NOT EXISTS plain_t (a INT)")
    assert spark.table("plain_t").count() == 2
    import pytest as _p

    from impala_spark.engine import ImpalaAnalysisError

    strict = ImpalaEngine(spark, strict=True)
    with _p.raises(ImpalaAnalysisError, match="Table already exists: default.plain_t"):
        strict.sql("CREATE TABLE plain_t (a INT)")
    # unsupported storage format rejected with the sources.py gate
    with _p.raises(ValueError, match="SEQUENCEFILE"):
        eng.sql("CREATE TABLE seq_t (a INT) STORED AS SEQUENCEFILE")
    eng.sql("DROP TABLE plain_t")


def test_ctas_stored_as_parquet(spark, sf_dir):
    """Impala's CTAS spelling with a file-format clause. PARQUET is what
    CTAS writes; any other format is rejected before Spark sees it."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql(
        "CREATE TABLE t_ctas_fmt PARTITIONED BY (r_regionkey) STORED AS PARQUET"
        " AS SELECT r_name, r_regionkey FROM region"
    )
    assert ddl.table_info("t_ctas_fmt").partition_cols == ["r_regionkey"]
    assert spark.table("t_ctas_fmt").count() == spark.table("region").count()
    for fmt in ("TEXTFILE", "SEQUENCEFILE", "NOSUCHFORMAT"):
        with pytest.raises(ImpalaUnsupportedError, match=fmt):
            eng.sql(f"CREATE TABLE t_ctas_fmt2 STORED AS {fmt} AS SELECT 1 AS x")
    assert ddl.table_info("t_ctas_fmt2") is None


def test_create_and_alter_view_through_engine(spark, sf_dir):
    """CREATE VIEW / ALTER VIEW (CreateViewStmt/AlterViewStmt): views are
    session-scoped (fixture tables are temp views) and resolve through
    the catalog; existence errors use the reference's message text."""
    import pytest as _p

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    spark.sql("DROP VIEW IF EXISTS v_probe")
    eng.sql("CREATE VIEW v_probe AS SELECT r_regionkey FROM region")
    assert eng.sql("SELECT count(*) AS n FROM v_probe").first().n == 5
    eng.sql(
        "ALTER VIEW v_probe AS SELECT r_regionkey FROM region WHERE r_regionkey < 2"
    )
    assert eng.sql("SELECT count(*) AS n FROM v_probe").first().n == 2
    # IF NOT EXISTS keeps; strict re-create errors; missing ALTER errors
    eng.sql("CREATE VIEW IF NOT EXISTS v_probe AS SELECT 1 AS x")
    assert eng.sql("SELECT count(*) AS n FROM v_probe").first().n == 2
    strict = ImpalaEngine(spark, strict=True)
    with _p.raises(ImpalaAnalysisError, match="Table already exists: default.v_probe"):
        strict.sql("CREATE VIEW v_probe AS SELECT 1 AS x")
    with _p.raises(ImpalaAnalysisError, match="Table does not exist: default.no_view"):
        eng.sql("ALTER VIEW no_view AS SELECT 1 AS x")
    spark.sql("DROP VIEW IF EXISTS v_probe")


def _dir_state(d):
    """(relpath, size, md5) of every file under d — byte-identity probe."""
    import hashlib
    import os

    out = []
    for root, _dirs, files in os.walk(d):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out.append(
                    (os.path.relpath(p, d), os.path.getsize(p),
                     hashlib.md5(fh.read()).hexdigest())
                )
    return sorted(out)


def test_partition_scoped_update_delete_upsert(spark):
    """ModifyStmt on a partitioned table rewrites ONLY partitions its
    WHERE/keys touch — untouched partition files stay byte-identical
    (the r4 verdict's 100 TB fix: a keyed modify must not rewrite the
    table)."""
    import os

    name = "t_part_mod"
    ddl.drop_table(spark, name)
    ddl.create_table_as_select(
        spark,
        name,
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer",
        partition_cols=["c_mktsegment"],
        primary_key=["c_custkey"],
    )
    t = ddl.table_info(name)
    segs = sorted(
        d.split("=", 1)[1] for d in os.listdir(t.path) if d.startswith("c_mktsegment=")
    )
    assert len(segs) >= 3
    hot, cold = segs[0], segs[1:]
    cold_dirs = {s: os.path.join(t.path, f"c_mktsegment={s}") for s in cold}
    before = {s: _dir_state(d) for s, d in cold_dirs.items()}

    # UPDATE scoped by a partition-key predicate
    ddl.modify(
        spark,
        f"UPDATE {name} SET c_acctbal = c_acctbal + 1 WHERE c_mktsegment = '{hot}'",
    )
    for s in cold:
        assert _dir_state(cold_dirs[s]) == before[s], f"UPDATE rewrote partition {s}"

    # DELETE of part of the hot partition
    n_before = spark.table(name).count()
    hot_min = (
        spark.table(name).filter(f"c_mktsegment = '{hot}'").agg({"c_custkey": "min"})
    ).first()[0]
    ddl.modify(
        spark,
        f"DELETE FROM {name} WHERE c_mktsegment = '{hot}' AND c_custkey = {hot_min}",
    )
    assert spark.table(name).count() == n_before - 1
    for s in cold:
        assert _dir_state(cold_dirs[s]) == before[s], f"DELETE rewrote partition {s}"

    # DELETE emptying an entire partition removes its directory (dynamic
    # overwrite can't — the scoped path must clean it explicitly)
    ddl.modify(spark, f"DELETE FROM {name} WHERE c_mktsegment = '{hot}'")
    assert not os.path.isdir(os.path.join(t.path, f"c_mktsegment={hot}"))
    assert spark.table(name).filter(f"c_mktsegment = '{hot}'").count() == 0
    for s in cold:
        assert _dir_state(cold_dirs[s]) == before[s]

    # UPSERT into one partition: new key inserted, old key replaced, cold
    # partitions (minus the one holding the replaced key) untouched
    target_seg = cold[0]
    victim = (
        spark.table(name).filter(f"c_mktsegment = '{target_seg}'").first().c_custkey
    )
    src = spark.createDataFrame(
        [(victim, "updated-name", 99.5, target_seg), (10**9, "new-row", 1.0, target_seg)],
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string",
    )
    ddl.upsert(spark, name, src)
    got = {
        r.c_custkey: r.c_name
        for r in spark.table(name).filter(f"c_mktsegment = '{target_seg}'").collect()
    }
    assert got[victim] == "updated-name" and got[10**9] == "new-row"
    for s in cold[1:]:
        assert _dir_state(cold_dirs[s]) == before[s], f"UPSERT rewrote partition {s}"

    # UPSERT that MOVES a key across partitions removes the old-partition row
    mover_src = spark.createDataFrame(
        [(10**9, "moved-row", 2.0, cold[1])],
        "c_custkey long, c_name string, c_acctbal double, c_mktsegment string",
    )
    ddl.upsert(spark, name, mover_src)
    rows = spark.table(name).filter("c_custkey = 1000000000").collect()
    assert len(rows) == 1 and rows[0].c_mktsegment == cold[1]
    ddl.drop_table(spark, name)


def test_ddl_column_errors_pin_reference_texts(spark):
    # CreateTableStmt / AlterTable*Stmt exact messages (AnalyzeDDLTest)
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError

    with pytest.raises(ImpalaUnsupportedError, match=r"Duplicate column name: c1"):
        ddl.create_table(spark, "t_dup", "c1 INT, c1 STRING")
    with pytest.raises(ImpalaUnsupportedError, match=r"Duplicate partition key name: p"):
        ddl.create_table(spark, "t_dup", "c1 INT", "p INT, p STRING")
    with pytest.raises(ImpalaUnsupportedError, match=r"Duplicate column name: p"):
        ddl.create_table(spark, "t_dup", "p INT", "p STRING")

    ddl.drop_table(spark, "t_alt_err")
    ddl.create_table(spark, "t_alt_err", "id INT, val STRING", "yr INT")
    with pytest.raises(ImpalaUnsupportedError, match=r"Column already exists: val"):
        ddl.alter_table(spark, "ALTER TABLE t_alt_err ADD COLUMNS (val STRING)")
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"Column name conflicts with existing partition column: yr",
    ):
        ddl.alter_table(spark, "ALTER TABLE t_alt_err ADD COLUMNS (yr INT)")
    with pytest.raises(ImpalaUnsupportedError, match=r"Cannot drop partition column: yr"):
        ddl.alter_table(spark, "ALTER TABLE t_alt_err DROP COLUMN yr")
    with pytest.raises(ImpalaUnsupportedError, match=r"Cannot modify partition column: yr"):
        ddl.alter_table(spark, "ALTER TABLE t_alt_err CHANGE yr yr BIGINT")
    ddl.drop_table(spark, "t_alt_err")


def test_insert_column_mismatch_pins_reference_text(spark):
    # InsertStmt.java:520-525 exact message
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError

    ddl.drop_table(spark, "t_ins_mismatch")
    ddl.create_table(spark, "t_ins_mismatch", "a INT, b STRING, c DOUBLE")
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"Target table 'default.t_ins_mismatch' has more columns \(3\) than "
        r"the SELECT / VALUES clause returns \(2\)",
    ):
        ddl.insert(spark, "t_ins_mismatch", "SELECT 1, 'x'")
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"has fewer columns \(3\) than the SELECT / VALUES clause returns \(4\)",
    ):
        ddl.insert(spark, "t_ins_mismatch", "SELECT 1, 'x', 2.0, 99")
    ddl.drop_table(spark, "t_ins_mismatch")


def test_create_table_type_bounds_pin_reference_texts(spark):
    # TypeDef.java:76-119 applies to column definitions, not just casts
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError

    with pytest.raises(ImpalaUnsupportedError, match=r"Decimal precision must be <= 38: 40"):
        ddl.create_table(spark, "t_type_err", "a DECIMAL(40,2)")
    with pytest.raises(ImpalaUnsupportedError, match=r"Decimal scale \(5\) must be <= precision \(3\)"):
        ddl.create_table(spark, "t_type_err", "a DECIMAL(3,5)")
    with pytest.raises(ImpalaUnsupportedError, match=r"Varchar size must be <= 65535: 70000"):
        ddl.create_table(spark, "t_type_err", "a VARCHAR(70000)")
    with pytest.raises(ImpalaUnsupportedError, match=r"Char size must be > 0: 0"):
        ddl.create_table(spark, "t_type_err", "a CHAR(0)")
    # legal bounds still create
    ddl.drop_table(spark, "t_type_ok")
    ddl.create_table(spark, "t_type_ok", "a DECIMAL(38,38), b VARCHAR(65535), c CHAR(255)")
    ddl.drop_table(spark, "t_type_ok")


def test_alter_partition_spec_existence_pins_reference_texts(spark):
    # PartitionSpec.java:122-127 exact messages
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError

    ddl.drop_table(spark, "t_pspec")
    ddl.create_table(spark, "t_pspec", "id INT", "j INT")
    ddl.alter_table(spark, "ALTER TABLE t_pspec ADD PARTITION (j=2)")
    with pytest.raises(
        ImpalaUnsupportedError, match=r"Partition spec already exists: \(j=2\)\."
    ):
        ddl.alter_table(spark, "ALTER TABLE t_pspec ADD PARTITION (j=2)")
    # IF NOT EXISTS suppresses it
    ddl.alter_table(spark, "ALTER TABLE t_pspec ADD IF NOT EXISTS PARTITION (j=2)")
    with pytest.raises(
        ImpalaUnsupportedError, match=r"Partition spec does not exist: \(j=9\)\."
    ):
        ddl.alter_table(spark, "ALTER TABLE t_pspec DROP PARTITION (j=9)")
    # IF EXISTS suppresses it; existing partition drops cleanly
    ddl.alter_table(spark, "ALTER TABLE t_pspec DROP IF EXISTS PARTITION (j=9)")
    ddl.alter_table(spark, "ALTER TABLE t_pspec DROP PARTITION (j=2)")
    ddl.drop_table(spark, "t_pspec")


def test_partition_scoped_modify_null_partition_values(spark):
    """NULL partition keys land in __HIVE_DEFAULT_PARTITION__; scoped
    DELETE/UPDATE must address them (isNull filter + default-dir cleanup)."""
    import os

    name = "t_null_part"
    ddl.drop_table(spark, name)
    src = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, None), (3, 30.0, "b"), (4, 40.0, None)],
        "id long, v double, seg string",
    )
    ddl.create_table_as_select(spark, name, src, partition_cols=["seg"], primary_key=["id"])
    t = ddl.table_info(name)
    assert os.path.isdir(os.path.join(t.path, "seg=__HIVE_DEFAULT_PARTITION__"))
    a_state = _dir_state(os.path.join(t.path, "seg=a"))

    # UPDATE rows in the NULL partition only
    ddl.modify(spark, f"UPDATE {name} SET v = v + 1 WHERE seg IS NULL")
    got = {r.id: r.v for r in spark.table(name).collect()}
    assert got[2] == 21.0 and got[4] == 41.0 and got[1] == 10.0
    assert _dir_state(os.path.join(t.path, "seg=a")) == a_state

    # DELETE the whole NULL partition: dir must be removed
    ddl.modify(spark, f"DELETE FROM {name} WHERE seg IS NULL")
    assert spark.table(name).count() == 2
    assert not os.path.isdir(os.path.join(t.path, "seg=__HIVE_DEFAULT_PARTITION__"))
    assert _dir_state(os.path.join(t.path, "seg=a")) == a_state
    ddl.drop_table(spark, name)


def test_partition_scoped_modify_boolean_partition_values(spark):
    """Boolean partition keys: Spark writes flag=true/flag=false dirs, so
    the vanished-partition cleanup must render booleans lowercase —
    Python str(True) would target a nonexistent 'flag=True' dir and the
    DELETEd partition's files would silently survive (ADVICE r5)."""
    import os

    name = "t_bool_part"
    ddl.drop_table(spark, name)
    src = spark.createDataFrame(
        [(1, 10.0, True), (2, 20.0, False), (3, 30.0, True), (4, 40.0, False)],
        "id long, v double, flag boolean",
    )
    ddl.create_table_as_select(
        spark, name, src, partition_cols=["flag"], primary_key=["id"]
    )
    t = ddl.table_info(name)
    assert os.path.isdir(os.path.join(t.path, "flag=true"))
    assert os.path.isdir(os.path.join(t.path, "flag=false"))
    false_state = _dir_state(os.path.join(t.path, "flag=false"))

    # DELETE the whole flag=true partition: its dir must actually go away
    ddl.modify(spark, f"DELETE FROM {name} WHERE flag = true")
    assert spark.table(name).count() == 2
    assert not os.path.isdir(os.path.join(t.path, "flag=true"))
    assert _dir_state(os.path.join(t.path, "flag=false")) == false_state
    ddl.drop_table(spark, name)


# ---------------------------------------------------------------------------
# r11: hash-bucketed tables from the SQL surface (Kudu PARTITION BY HASH
# -> Spark bucketBy; A/KuduPartitionParam.java, cup tbl_partition_clauses)
# ---------------------------------------------------------------------------


class TestHashBucketed:
    def _engine(self, spark):
        from impala_spark.engine import ImpalaEngine

        return ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")

    def test_ctas_bucketed_join_no_exchange(self, spark):
        import re

        eng = self._engine(spark)
        eng.sql(
            "CREATE TABLE tb_o PARTITION BY HASH(o_orderkey) PARTITIONS 4"
            " AS SELECT o_orderkey, o_orderpriority FROM orders"
        )
        eng.sql(
            "CREATE TABLE tb_l PARTITION BY HASH(l_orderkey) INTO 4 BUCKETS"
            " AS SELECT l_orderkey, l_quantity FROM lineitem"
        )
        df = eng.sql(
            "SELECT COUNT(*) AS n FROM tb_o o JOIN [shuffle] tb_l l"
            " ON o.o_orderkey = l.l_orderkey"
        )
        n = df.collect()[0][0]
        assert n > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(
            r"Exchange hashpartitioning\((?:o_orderkey|l_orderkey)", plan
        ), plan
        base = spark.sql(
            "SELECT COUNT(*) FROM orders o JOIN lineitem l"
            " ON o.o_orderkey = l.l_orderkey"
        ).collect()[0][0]
        assert n == base
        eng.sql("DROP TABLE tb_o")
        eng.sql("DROP TABLE tb_l")

    def test_alter_guards_bucket_columns(self, spark):
        import re

        import pytest as _pytest

        from impala_spark.parser import ImpalaUnsupportedError

        eng = self._engine(spark)
        eng.sql("DROP TABLE IF EXISTS tb_alter")
        eng.sql(
            "CREATE TABLE tb_alter PARTITION BY HASH(o_orderkey) PARTITIONS 4"
            " AS SELECT o_orderkey, o_orderpriority FROM orders"
        )
        with _pytest.raises(ImpalaUnsupportedError, match="hash partition column"):
            eng.sql("ALTER TABLE tb_alter DROP COLUMN o_orderkey")
        with _pytest.raises(ImpalaUnsupportedError, match="hash partition column"):
            eng.sql("ALTER TABLE tb_alter CHANGE o_orderkey ok2 BIGINT")
        # non-bucket columns still evolve, and the layout survives it
        eng.sql("ALTER TABLE tb_alter ADD COLUMNS (note STRING)")
        eng.sql("ALTER TABLE tb_alter DROP COLUMN note")
        df = eng.sql(
            "SELECT o_orderkey, COUNT(*) AS n FROM tb_alter"
            " GROUP BY o_orderkey"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning\(o_orderkey", plan), plan
        eng.sql("DROP TABLE tb_alter")

    def test_insert_preserves_bucketing(self, spark):
        import re

        eng = self._engine(spark)
        eng.sql(
            "CREATE TABLE tb_ins PARTITION BY HASH(o_orderkey) PARTITIONS 4"
            " AS SELECT o_orderkey, o_totalprice FROM orders"
        )
        before = spark.table("tb_ins").count()
        eng.sql(
            "INSERT INTO tb_ins SELECT o_orderkey + 900000, o_totalprice"
            " FROM orders LIMIT 7"
        )
        assert spark.table("tb_ins").count() == before + 7
        # self-join stays exchange-free after the append
        df = eng.sql(
            "SELECT COUNT(*) AS n FROM tb_ins a JOIN [shuffle] tb_ins b"
            " ON a.o_orderkey = b.o_orderkey"
        )
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning\(o_orderkey", plan), plan
        eng.sql("DROP TABLE tb_ins")

    def test_empty_create_then_insert_and_modify(self, spark):
        eng = self._engine(spark)
        eng.sql(
            "CREATE TABLE tb_cols (id BIGINT, v DOUBLE, PRIMARY KEY (id))"
            " PARTITION BY HASH(id) PARTITIONS 4 STORED AS KUDU"
        )
        assert spark.table("tb_cols").count() == 0
        eng.sql("INSERT INTO tb_cols VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
        assert spark.table("tb_cols").count() == 3
        # Kudu-style keyed modify (ModifyStmt) over the bucketed layout
        eng.sql("UPDATE tb_cols SET v = v * 2 WHERE id = 2")
        got = {tuple(r) for r in spark.table("tb_cols").collect()}
        assert (2, 5.0) in got, got
        eng.sql("DELETE FROM tb_cols WHERE id = 1")
        assert spark.table("tb_cols").count() == 2
        eng.sql("UPSERT INTO tb_cols VALUES (2, 9.0), (4, 4.0)")
        got = dict(spark.table("tb_cols").collect())
        assert got == {2: 9.0, 3: 3.5, 4: 4.0}, got
        eng.sql("TRUNCATE TABLE tb_cols")
        assert spark.table("tb_cols").count() == 0
        eng.sql("DROP TABLE tb_cols")

    def test_bucketed_compute_stats_in_place(self, spark):
        eng = self._engine(spark)
        eng.sql(
            "CREATE TABLE tb_stats PARTITION BY HASH(o_orderkey) PARTITIONS 4"
            " AS SELECT o_orderkey, o_orderdate FROM orders"
        )
        try:
            r = eng.sql("COMPUTE STATS tb_stats")
            assert r.collect()[0][0] == spark.table("tb_stats").count()
            # NTZ column excluded from column stats, joins stay safe with CBO
            n = eng.sql(
                "SELECT COUNT(*) AS n FROM tb_stats a JOIN tb_stats b"
                " ON a.o_orderkey = b.o_orderkey"
                " WHERE a.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'"
            ).collect()[0][0]
            assert n > 0
        finally:
            eng.sql("DROP TABLE tb_stats")
            spark.conf.set("spark.sql.cbo.enabled", "false")

    def test_bucketed_rename_unsupported(self, spark):
        from impala_spark.parser import ImpalaUnsupportedError

        eng = self._engine(spark)
        eng.sql(
            "CREATE TABLE tb_ren PARTITION BY HASH(o_orderkey) PARTITIONS 2"
            " AS SELECT o_orderkey FROM orders LIMIT 5"
        )
        with pytest.raises(ImpalaUnsupportedError):
            eng.sql("ALTER TABLE tb_ren RENAME TO tb_ren2")
        eng.sql("DROP TABLE tb_ren")

    def test_bad_bucket_specs(self, spark):
        eng = self._engine(spark)
        with pytest.raises(ValueError):
            eng.sql(
                "CREATE TABLE tb_bad PARTITION BY HASH(nope) PARTITIONS 4"
                " AS SELECT o_orderkey FROM orders"
            )


# ---------------------------------------------------------------------------
# r12: Kudu RANGE partitioning as a physical layout (A/KuduPartitionParam.java
# range bounds; analysis-only before). VALUE specs -> Hive-style value
# partitions (planner-time pruning); bound specs -> range-clustered files
# (scan-time row-group skipping via footer min/max).
# ---------------------------------------------------------------------------


class TestRangePartitioned:
    def _engine(self, spark):
        from impala_spark.engine import ImpalaEngine

        return ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")

    def test_value_form_prunes_partitions(self, spark):
        eng = self._engine(spark)
        eng.sql("DROP TABLE IF EXISTS rng_v")
        eng.sql(
            "CREATE TABLE rng_v (id INT, st STRING, PRIMARY KEY (id))"
            " PARTITION BY RANGE (st)"
            " (PARTITION VALUE = 'O', PARTITION VALUE = 'F') STORED AS KUDU"
        )
        eng.sql(
            "INSERT INTO rng_v SELECT CAST(o_orderkey AS INT), o_orderstatus"
            " FROM orders WHERE o_orderstatus IN ('O','F')"
        )
        base = spark.sql(
            "SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'O'"
        ).collect()[0][0]
        df = eng.sql("SELECT COUNT(*) AS n FROM rng_v WHERE st = 'O'")
        assert df.collect()[0][0] == base
        plan = df._jdf.queryExecution().executedPlan().toString()
        # planner-time partition pruning on the range key
        assert re.search(r"PartitionFilters: \[[^\]]*st", plan), plan
        # rows outside every declared partition are rejected, like Kudu
        from impala_spark.parser import ImpalaUnsupportedError

        with pytest.raises(ImpalaUnsupportedError, match="range partition"):
            eng.sql(
                "INSERT INTO rng_v SELECT CAST(o_orderkey AS INT),"
                " o_orderstatus FROM orders WHERE o_orderstatus = 'P'"
            )
        # the failed insert wrote nothing
        assert spark.table("rng_v").filter("st = 'P'").count() == 0
        eng.sql("DROP TABLE rng_v")

    def test_bounds_form_range_clusters_files(self, spark):
        import glob

        import pyarrow.parquet as pq

        from impala_spark import ddl

        eng = self._engine(spark)
        eng.sql("DROP TABLE IF EXISTS rng_b")
        eng.sql(
            "CREATE TABLE rng_b PARTITION BY RANGE (o_custkey)"
            " (PARTITION VALUES < 50, PARTITION 50 <= VALUES < 100,"
            " PARTITION 100 <= VALUES < 100000)"
            " AS SELECT o_custkey, o_totalprice FROM orders"
        )
        assert spark.table("rng_b").count() == spark.table("orders").count()
        # range predicate reaches the parquet scan as a pushed filter
        df = eng.sql(
            "SELECT COUNT(*) AS n FROM rng_b WHERE o_custkey < 40"
        )
        base = spark.sql(
            "SELECT COUNT(*) FROM orders WHERE o_custkey < 40"
        ).collect()[0][0]
        assert df.collect()[0][0] == base
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,40)" in plan, plan
        # files span non-overlapping key intervals (the skipping lever)
        t = ddl.table_info("rng_b")
        spans = []
        for f in glob.glob(t.path + "/*.parquet"):
            md = pq.read_metadata(f)
            stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
            spans.append((min(s.min for s in stats), max(s.max for s in stats)))
        spans.sort()
        assert len(spans) > 1
        assert all(spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1)), spans
        # appends stay in-range-validated and clustered
        eng.sql("INSERT INTO rng_b VALUES (75, 1.0)")
        from impala_spark.parser import ImpalaUnsupportedError

        with pytest.raises(ImpalaUnsupportedError, match="range partition"):
            eng.sql("INSERT INTO rng_b VALUES (2000000, 1.0)")
        with pytest.raises(ImpalaUnsupportedError, match="range partition"):
            eng.sql("INSERT INTO rng_b VALUES (NULL, 1.0)")
        eng.sql("DROP TABLE rng_b")

    def test_multi_column_range_key(self, spark):
        """Multi-column range keys (A/KuduPartitionParam.java multi-column
        range rows): bounds are full key tuples compared lexicographically;
        VALUE specs become a two-level Hive-style layout with planning-time
        pruning on both columns."""
        from impala_spark.engine import _extract_range_partition_clause
        from impala_spark.parser import ImpalaUnsupportedError
        from impala_spark import ddl

        eng = self._engine(spark)
        eng.sql("DROP TABLE IF EXISTS rng_mc")
        # bounds form over (l_returnflag, l_linestatus): present pairs are
        # (A,F) (N,F) (N,O) (R,F); the three slices split them 1/2/1
        eng.sql(
            "CREATE TABLE rng_mc PARTITION BY RANGE (l_returnflag, l_linestatus)"
            " (PARTITION VALUES < ('N', 'F'),"
            " PARTITION ('N', 'F') <= VALUES < ('R', 'F'),"
            " PARTITION ('R', 'F') <= VALUES)"
            " AS SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem"
        )
        assert spark.table("rng_mc").count() == spark.table("lineitem").count()
        # lexicographic membership: a row above every declared partition's
        # bounds is rejected, as is a NULL in ANY key column
        with pytest.raises(ImpalaUnsupportedError, match="range partition"):
            eng.sql("INSERT INTO rng_mc VALUES ('R', NULL, 1.0)")
        eng.sql("INSERT INTO rng_mc VALUES ('Z', 'Z', 1.0)")  # in last (open) slice
        # SHOW CREATE round-trips the multi-column tuple spelling
        txt = eng.sql("SHOW CREATE TABLE rng_mc").collect()[0][0]
        assert "PARTITION BY RANGE (l_returnflag, l_linestatus)" in txt, txt
        cols, spec, _ = _extract_range_partition_clause(txt)
        assert cols == ["l_returnflag", "l_linestatus"]
        assert spec == ddl.table_info("rng_mc").range_spec, (spec, txt)
        eng.sql("DROP TABLE rng_mc")
        # partial bound rows under the DEFAULT operators = Kudu's
        # min-value fill = prefix comparison: VALUES < ('N') covers all
        # of returnflag 'A'; ('N') <= VALUES covers 'N' and 'R'
        eng.sql(
            "CREATE TABLE rng_mc PARTITION BY RANGE (l_returnflag, l_linestatus)"
            " (PARTITION VALUES < ('N'), PARTITION ('N') <= VALUES)"
            " AS SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem"
        )
        assert spark.table("rng_mc").count() == spark.table("lineitem").count()
        eng.sql("DROP TABLE rng_mc")
        # VALUE form: two-level value-partitioned layout, pruned on both keys
        eng.sql(
            "CREATE TABLE rng_mcv (id INT, a STRING, b STRING, PRIMARY KEY (id))"
            " PARTITION BY RANGE (a, b)"
            " (PARTITION VALUE = ('x', '1'), PARTITION VALUE = ('x', '2'),"
            " PARTITION VALUE = ('y', '1')) STORED AS KUDU"
        )
        eng.sql(
            "INSERT INTO rng_mcv VALUES (1,'x','1'), (2,'x','2'), (3,'y','1')"
        )
        with pytest.raises(ImpalaUnsupportedError, match="range partition"):
            eng.sql("INSERT INTO rng_mcv VALUES (4, 'y', '2')")
        df = eng.sql("SELECT COUNT(*) AS n FROM rng_mcv WHERE a = 'x' AND b = '2'")
        assert df.collect()[0][0] == 1
        plan = df._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and "a" in m.group(1) and "b" in m.group(1), plan
        eng.sql("DROP TABLE rng_mcv")

    def test_range_key_alter_guards_and_modify(self, spark):
        from impala_spark.parser import ImpalaUnsupportedError

        eng = self._engine(spark)
        eng.sql("DROP TABLE IF EXISTS rng_m")
        eng.sql(
            "CREATE TABLE rng_m (id BIGINT, v DOUBLE, PRIMARY KEY (id))"
            " PARTITION BY RANGE (id)"
            " (PARTITION 0 <= VALUES < 100, PARTITION 100 <= VALUES < 200)"
            " STORED AS KUDU"
        )
        eng.sql("INSERT INTO rng_m VALUES (1, 1.5), (150, 2.5)")
        with pytest.raises(ImpalaUnsupportedError, match="range partition column"):
            eng.sql("ALTER TABLE rng_m DROP COLUMN id")
        with pytest.raises(ImpalaUnsupportedError, match="range partition column"):
            eng.sql("ALTER TABLE rng_m CHANGE id id2 BIGINT")
        # keyed modify over the range layout (ModifyStmt rewrite)
        eng.sql("UPDATE rng_m SET v = v * 2 WHERE id = 150")
        got = dict(spark.table("rng_m").collect())
        assert got == {1: 1.5, 150: 5.0}, got
        eng.sql("DELETE FROM rng_m WHERE id = 1")
        assert spark.table("rng_m").count() == 1
        eng.sql("DROP TABLE rng_m")

    def test_bad_range_specs(self, spark):
        from impala_spark.parser import ImpalaUnsupportedError

        eng = self._engine(spark)
        with pytest.raises(ImpalaUnsupportedError, match="full key tuple"):
            # VALUE rows must spell the full key (Kudu requires this too)
            eng.sql(
                "CREATE TABLE rng_bad PARTITION BY RANGE (o_custkey, o_orderkey)"
                " (PARTITION VALUE = 10) AS SELECT * FROM orders"
            )
        with pytest.raises(ImpalaUnsupportedError, match="inclusive upper"):
            # partial bound with a NON-default operator: min-fill of the
            # trailing column is not prefix-expressible for <= upper
            eng.sql(
                "CREATE TABLE rng_bad PARTITION BY RANGE (o_custkey, o_orderkey)"
                " (PARTITION VALUES <= 10) AS SELECT * FROM orders"
            )
        with pytest.raises(ImpalaUnsupportedError, match="constant literal"):
            eng.sql(
                "CREATE TABLE rng_bad PARTITION BY RANGE (o_custkey)"
                " (PARTITION VALUES < o_orderkey) AS SELECT * FROM orders"
            )
        with pytest.raises(ValueError, match="not in select list"):
            eng.sql(
                "CREATE TABLE rng_bad PARTITION BY RANGE (nope)"
                " (PARTITION VALUES < 10) AS SELECT o_custkey FROM orders"
            )

    def test_show_create_table_emits_range_and_hash_specs(self, spark):
        from impala_spark.engine import _extract_range_partition_clause

        eng = self._engine(spark)
        eng.sql("DROP TABLE IF EXISTS rng_sc")
        eng.sql(
            "CREATE TABLE rng_sc (id BIGINT, v STRING, PRIMARY KEY (id))"
            " PARTITION BY RANGE (id)"
            " (PARTITION VALUES < 10, PARTITION 10 <= VALUES < 20,"
            " PARTITION 20 <= VALUES) STORED AS KUDU"
        )
        txt = eng.sql("SHOW CREATE TABLE rng_sc").collect()[0][0]
        assert "PARTITION BY RANGE (id)" in txt, txt
        # the emitted clause extracts back to the SAME spec (round-trip)
        cols, spec, _ = _extract_range_partition_clause(txt)
        assert cols == ["id"]
        from impala_spark import ddl as _ddl

        assert spec == _ddl.table_info("rng_sc").range_spec, (spec, txt)
        eng.sql("DROP TABLE rng_sc")
        eng.sql(
            "CREATE TABLE hsh_sc PARTITION BY HASH(o_orderkey) PARTITIONS 4"
            " AS SELECT o_orderkey FROM orders LIMIT 10"
        )
        txt = eng.sql("SHOW CREATE TABLE hsh_sc").collect()[0][0]
        assert "PARTITION BY HASH (o_orderkey) PARTITIONS 4" in txt, txt
        eng.sql("DROP TABLE hsh_sc")


class TestInsertColumnPermutation:
    """INSERT [(col, ...)] — InsertStmt.java:73-90 column permutation:
    values bind by position to the mentioned columns, unmentioned
    columns are NULL, partition columns must be mentioned."""

    def _eng(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine
        from impala_spark.session import register_tables

        register_tables(spark, sf_dir)
        return ImpalaEngine(spark, sf_dir=sf_dir)

    def test_permutation_binds_and_null_fills(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS cp_t")
        e.sql("CREATE TABLE cp_t (k BIGINT, n BIGINT, s STRING)")
        e.sql("INSERT INTO cp_t (n, k) SELECT 1, 2")
        e.sql("INSERT INTO cp_t (k) VALUES (9)")
        rows = sorted(tuple(r) for r in e.sql("SELECT * FROM cp_t").collect())
        assert rows == [(2, 1, None), (9, None, None)]
        e.sql("DROP TABLE cp_t")

    def test_permutation_error_texts(self, spark, sf_dir):
        import pytest

        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS cp_e")
        e.sql("CREATE TABLE cp_e (k BIGINT, n BIGINT)")
        cases = [
            ("INSERT INTO cp_e (zz) SELECT 1",
             "Unknown column 'zz' in column permutation"),
            ("INSERT INTO cp_e (k, k) SELECT 1, 2",
             "Duplicate column 'k' in column permutation"),
            ("INSERT INTO cp_e (k, n) SELECT 1",
             "Column permutation mentions more columns (2) than the"
             " SELECT / VALUES clause returns (1)"),
            ("INSERT INTO cp_e (k) SELECT 1, 2",
             "Column permutation mentions fewer columns (1) than the"
             " SELECT / VALUES clause returns (2)"),
        ]
        for stmt, want in cases:
            with pytest.raises(Exception) as ei:
                e.sql(stmt)
            assert want in str(ei.value), stmt
        e.sql("DROP TABLE cp_e")

    def test_partition_columns_must_be_mentioned(self, spark, sf_dir):
        import pytest

        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS cp_p")
        e.sql("CREATE TABLE cp_p (v BIGINT) PARTITIONED BY (p BIGINT)")
        with pytest.raises(Exception) as ei:
            e.sql("INSERT INTO cp_p (v) SELECT 5")
        assert ("Not enough partition columns mentioned in query."
                " Missing columns are: p") in str(ei.value)
        e.sql("INSERT INTO cp_p (v) PARTITION (p=7) SELECT 5")
        assert [tuple(r) for r in e.sql("SELECT * FROM cp_p").collect()] \
            == [(5, 7)]
        e.sql("DROP TABLE cp_p")

    def test_with_hoist_keeps_permutation_in_head(self, spark, sf_dir):
        from impala_spark.engine import _hoist_with_clause

        out = _hoist_with_clause(
            "WITH t AS (SELECT 3 AS a) INSERT INTO x (k) SELECT a FROM t")
        assert out == "INSERT INTO x (k) WITH t AS (SELECT 3 AS a)" \
            " SELECT a FROM t"


class TestInsertHintsAndTruncateIfExists:
    """INSERT plan hints between target and source (InsertStmt.java
    planHints_: [shuffle], /* +noshuffle */, line comments) and
    TRUNCATE [TABLE] [IF EXISTS] (TruncateStmt.java:32)."""

    def _eng(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine
        from impala_spark.session import register_tables

        register_tables(spark, sf_dir)
        return ImpalaEngine(spark, sf_dir=sf_dir)

    def test_insert_hints_and_comments_route(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS hint_t")
        e.sql("CREATE TABLE hint_t (k BIGINT, n BIGINT)")
        e.sql("INSERT INTO hint_t [shuffle] SELECT 1, 2")
        e.sql("INSERT INTO hint_t /* +noshuffle */ SELECT 3, 4")
        e.sql("INSERT INTO hint_t -- appended by the nightly job\n"
              " SELECT 5, 6")
        e.sql("INSERT INTO hint_t (n, k) [shuffle] SELECT 8, 7")
        rows = sorted(tuple(r) for r in e.sql("SELECT * FROM hint_t").collect())
        assert rows == [(1, 2), (3, 4), (5, 6), (7, 8)]
        e.sql("DROP TABLE hint_t")

    def test_shuffle_hint_repartitions_partitioned_insert(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS hint_p")
        e.sql("CREATE TABLE hint_p (v BIGINT) PARTITIONED BY (p BIGINT)")
        e.sql("INSERT INTO hint_p [shuffle]"
              " SELECT n_nationkey, n_regionkey FROM nation")
        assert e.sql("SELECT COUNT(*) AS c FROM hint_p").collect()[0][0] == 25
        e.sql("DROP TABLE hint_p")

    def test_truncate_if_exists(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        # missing table: silent no-op (TruncateStmt.java:55)
        e.sql("TRUNCATE TABLE IF EXISTS truncate_no_such")
        e.sql("DROP TABLE IF EXISTS trunc_t")
        e.sql("CREATE TABLE trunc_t (k BIGINT)")
        e.sql("INSERT INTO trunc_t SELECT 1")
        e.sql("TRUNCATE IF EXISTS trunc_t")
        assert e.sql("SELECT COUNT(*) AS c FROM trunc_t").collect()[0][0] == 0
        e.sql("DROP TABLE trunc_t")


class TestModifyFromAndUpsertPermutation:
    """ModifyStmt's FROM-clause forms (DELETE <alias> FROM <refs>,
    UPDATE <alias> SET ... FROM <refs>) and UPSERT column permutation
    with the Kudu key-coverage rule."""

    def _eng(self, spark, sf_dir):
        from impala_spark.engine import ImpalaEngine
        from impala_spark.session import register_tables

        register_tables(spark, sf_dir)
        return ImpalaEngine(spark, sf_dir=sf_dir)

    def test_delete_and_update_with_from_join(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS mf_t")
        e.sql("CREATE TABLE mf_t (k BIGINT, v BIGINT, PRIMARY KEY (k))")
        e.sql("INSERT INTO mf_t SELECT n_nationkey, 100 FROM nation")
        e.sql("DELETE mf_t FROM mf_t JOIN nation ON mf_t.k = n_nationkey"
              " AND n_regionkey = 0")
        e.sql("UPDATE mf_t SET v = v + n_regionkey FROM mf_t"
              " JOIN nation ON mf_t.k = n_nationkey")
        rows = {tuple(r) for r in e.sql("SELECT * FROM mf_t").collect()}
        expect = {
            (r[0], 100 + r[1])
            for r in spark.sql(
                "SELECT n_nationkey, n_regionkey FROM nation"
                " WHERE n_regionkey <> 0").collect()
        }
        assert rows == expect
        # aliased target + assignment reading the joined table
        e.sql("UPDATE a SET v = n_regionkey FROM mf_t a"
              " JOIN nation ON a.k = n_nationkey")
        assert {tuple(r) for r in e.sql("SELECT * FROM mf_t").collect()} \
            == {(r[0], r[1]) for r in spark.sql(
                "SELECT n_nationkey, n_regionkey FROM nation"
                " WHERE n_regionkey <> 0").collect()}
        e.sql("DROP TABLE mf_t")

    def test_update_from_never_confuses_where_subquery(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS mf_w")
        e.sql("CREATE TABLE mf_w (k BIGINT, v BIGINT)")
        e.sql("INSERT INTO mf_w VALUES (0, 0), (99, 0)")
        # plain UPDATE whose WHERE contains a subquery (and thus a FROM
        # inside parens) must stay on the plain path
        e.sql("UPDATE mf_w SET v = 1 WHERE k IN"
              " (SELECT n_nationkey FROM nation)")
        assert {tuple(r) for r in e.sql("SELECT * FROM mf_w").collect()} \
            == {(0, 1), (99, 0)}
        e.sql("DROP TABLE mf_w")

    def test_modify_error_texts(self, spark, sf_dir):
        import pytest

        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS mf_e")
        e.sql("CREATE TABLE mf_e (k BIGINT, v BIGINT, PRIMARY KEY (k))")
        cases = [
            ("UPDATE mf_e SET k = 5 FROM mf_e JOIN nation"
             " ON mf_e.k = n_nationkey",
             "Key column 'k' cannot be updated."),
            ("UPDATE mf_e SET v = 1, v = 2 FROM mf_e JOIN nation"
             " ON mf_e.k = n_nationkey",
             "Duplicate value assignment to column: 'v'"),
            ("DELETE zz FROM mf_e JOIN nation ON mf_e.k = n_nationkey",
             "'zz' is not a valid table alias or reference."),
            ("UPSERT INTO mf_e (v) VALUES (1)",
             "All primary key columns must be specified for UPSERTing"
             " into Kudu tables. Missing columns are: k"),
        ]
        for stmt, want in cases:
            with pytest.raises(Exception) as ei:
                e.sql(stmt)
            assert want in str(ei.value), stmt
        e.sql("DROP TABLE mf_e")

    def test_upsert_permutation_keeps_unmentioned_cells(self, spark, sf_dir):
        e = self._eng(spark, sf_dir)
        e.sql("DROP TABLE IF EXISTS up_t")
        e.sql("CREATE TABLE up_t (k BIGINT, v BIGINT, s STRING,"
              " PRIMARY KEY (k))")
        e.sql("INSERT INTO up_t VALUES (1, 10, 'a'), (2, 20, 'b')")
        e.sql("UPSERT INTO up_t (k, v) VALUES (2, 99), (3, 30)")
        rows = sorted(tuple(r) for r in e.sql("SELECT * FROM up_t").collect())
        # key 2: v updated, s KEPT; key 3: new row, s NULL
        assert rows == [(1, 10, "a"), (2, 99, "b"), (3, 30, None)]
        e.sql("DROP TABLE up_t")


class TestAlterReplaceAndProperties:
    """ALTER TABLE REPLACE COLUMNS (AlterTableAddReplaceColsStmt,
    replace=true) and SET TBLPROPERTIES/SERDEPROPERTIES
    (AlterTableSetTblProperties.java) — r12 execution routing."""

    def _eng(self, spark):
        from impala_spark.engine import ImpalaEngine

        return ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")

    def test_replace_columns_keeps_data_nulls_new_drops_unlisted(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS arp1")
        eng.sql("CREATE TABLE arp1 (a INT, b STRING, c DOUBLE)")
        eng.sql("INSERT INTO arp1 VALUES (1,'x',1.5), (2,'y',2.5)")
        eng.sql("ALTER TABLE arp1 REPLACE COLUMNS (a BIGINT, d STRING)")
        rows = eng.sql("SELECT * FROM arp1 ORDER BY a").collect()
        assert [tuple(r) for r in rows] == [(1, None), (2, None)]
        assert dict(eng.sql("SELECT * FROM arp1").dtypes)["a"] == "bigint"
        eng.sql("DROP TABLE arp1")

    def test_replace_columns_duplicate_name_pins_reference_text(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS arp2")
        eng.sql("CREATE TABLE arp2 (a INT)")
        with pytest.raises(ImpalaUnsupportedError, match="Duplicate column name: x"):
            eng.sql("ALTER TABLE arp2 REPLACE COLUMNS (x INT, x STRING)")
        eng.sql("DROP TABLE arp2")

    def test_replace_columns_guards_layout_keys(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS arp3")
        eng.sql(
            "CREATE TABLE arp3 (k INT, v STRING)"
            " PARTITION BY HASH (k) PARTITIONS 4 STORED AS KUDU"
        )
        with pytest.raises(
            ImpalaUnsupportedError, match="Cannot drop hash partition column: k"
        ):
            eng.sql("ALTER TABLE arp3 REPLACE COLUMNS (v STRING)")
        eng.sql("DROP TABLE arp3")

    def test_set_properties_roundtrip_through_show_create(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS arp4")
        eng.sql("CREATE TABLE arp4 (a INT)")
        eng.sql("ALTER TABLE arp4 SET TBLPROPERTIES ('k1'='v1', 'k2'='v2')")
        eng.sql("ALTER TABLE arp4 SET SERDEPROPERTIES ('field.delim'=',')")
        stmt = eng.sql("SHOW CREATE TABLE arp4").first()[0]
        assert "TBLPROPERTIES ('k1'='v1', 'k2'='v2')" in stmt
        assert "WITH SERDEPROPERTIES ('field.delim'=',')" in stmt
        eng.sql("DROP TABLE arp4")

    def test_set_storage_handler_pins_reference_text(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS arp5")
        eng.sql("CREATE TABLE arp5 (a INT)")
        with pytest.raises(
            ImpalaUnsupportedError,
            match="Changing the 'storage_handler' table property is not",
        ):
            eng.sql("ALTER TABLE arp5 SET TBLPROPERTIES ('storage_handler'='h')")
        eng.sql("DROP TABLE arp5")


class TestAlterSetSurfaces:
    """ALTER TABLE SET FILEFORMAT / SET LOCATION / SET CACHED|UNCACHED /
    RECOVER PARTITIONS / SET COLUMN STATS (the remaining alter_tbl_stmt
    grammar forms; AlterTableSet*.java + AlterTableRecoverPartitionsStmt
    + AlterTableSetColumnStats, r12)."""

    def _eng(self, spark):
        from impala_spark.engine import ImpalaEngine

        return ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")

    def test_set_fileformat_roundtrips_and_validates(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS asf1")
        eng.sql("CREATE TABLE asf1 (a INT)")
        eng.sql("ALTER TABLE asf1 SET FILEFORMAT TEXTFILE")
        assert "STORED AS TEXTFILE" in eng.sql("SHOW CREATE TABLE asf1").first()[0]
        with pytest.raises(ValueError, match="SEQUENCEFILE is not supported"):
            eng.sql("ALTER TABLE asf1 SET FILEFORMAT SEQUENCEFILE")
        eng.sql("DROP TABLE asf1")

    def test_recover_partitions_discovers_external_dir(self, spark):
        import shutil

        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS asf2")
        eng.sql("CREATE TABLE asf2 (a INT) PARTITIONED BY (p STRING)")
        eng.sql("INSERT INTO asf2 PARTITION (p='x') VALUES (1), (2)")
        t = ddl.table_info("asf2")
        shutil.copytree(os.path.join(t.path, "p=x"), os.path.join(t.path, "p=y"))
        eng.sql("ALTER TABLE asf2 RECOVER PARTITIONS")
        parts = {r[0] for r in eng.sql("SELECT DISTINCT p FROM asf2").collect()}
        assert parts == {"x", "y"}
        eng.sql("DROP TABLE asf2")

    def test_recover_partitions_unpartitioned_pins_text(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS asf3")
        eng.sql("CREATE TABLE asf3 (a INT)")
        with pytest.raises(ImpalaUnsupportedError, match="Table is not partitioned: asf3"):
            eng.sql("ALTER TABLE asf3 RECOVER PARTITIONS")
        eng.sql("DROP TABLE asf3")

    def test_set_cached_uncached_and_location_guard(self, spark):
        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS asf4")
        eng.sql("CREATE TABLE asf4 (a INT)")
        eng.sql("ALTER TABLE asf4 SET CACHED IN 'pool1' WITH REPLICATION = 3")
        assert spark.catalog.isCached("asf4")
        assert "CACHED IN 'pool1'" in eng.sql("SHOW CREATE TABLE asf4").first()[0]
        with pytest.raises(
            ImpalaUnsupportedError,
            match="Target table is cached, please uncache",
        ):
            eng.sql("ALTER TABLE asf4 SET LOCATION '/tmp/impala_spark_warehouse/x'")
        eng.sql("ALTER TABLE asf4 SET UNCACHED")
        assert not spark.catalog.isCached("asf4")
        eng.sql("DROP TABLE asf4")

    def test_set_location_moves_write_path(self, spark):
        import shutil

        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS asf5")
        eng.sql("CREATE TABLE asf5 (a INT)")
        newloc = "/tmp/impala_spark_warehouse/asf5_moved"
        shutil.rmtree(newloc, ignore_errors=True)
        with pytest.raises(ImpalaUnsupportedError, match="URI path must be absolute"):
            eng.sql("ALTER TABLE asf5 SET LOCATION 'rel/path'")
        eng.sql(f"ALTER TABLE asf5 SET LOCATION '{newloc}'")
        eng.sql("INSERT INTO asf5 VALUES (7)")
        assert [r[0] for r in eng.sql("SELECT * FROM asf5").collect()] == [7]
        assert any(f.endswith(".parquet") for f in os.listdir(newloc))
        eng.sql("DROP TABLE asf5")

    def test_set_column_stats_surfaces_and_texts(self, spark):
        from impala_spark.engine import ImpalaAnalysisError

        eng = self._eng(spark)
        eng.sql("DROP TABLE IF EXISTS asf6")
        eng.sql("CREATE TABLE asf6 (a INT, s STRING)")
        eng.sql("ALTER TABLE asf6 SET COLUMN STATS a ('numDVs'='42','numNulls'='7')")
        row = {r[0]: r for r in eng.sql("SHOW COLUMN STATS asf6").collect()}["a"]
        assert (row["ndv"], row["num_nulls"]) == (42, 7)
        # manual stats also apply to fixture tables (any catalog table)
        eng.sql("ALTER TABLE nation SET COLUMN STATS n_name ('maxSize'='25')")
        with pytest.raises(ImpalaAnalysisError, match="Invalid column stats key: foo"):
            eng.sql("ALTER TABLE asf6 SET COLUMN STATS a ('foo'='1')")
        with pytest.raises(
            ImpalaAnalysisError,
            match=r"Expected a positive integer or -1 for unknown",
        ):
            eng.sql("ALTER TABLE asf6 SET COLUMN STATS a ('numDVs'='-5')")
        with pytest.raises(
            ImpalaAnalysisError,
            match=r"only allowed for variable-length columns",
        ):
            eng.sql("ALTER TABLE asf6 SET COLUMN STATS a ('maxSize'='9')")
        with pytest.raises(
            ImpalaAnalysisError, match=r"Column 'zz' does not exist in table"
        ):
            eng.sql("ALTER TABLE asf6 SET COLUMN STATS zz ('numDVs'='1')")
        eng.sql("DROP TABLE asf6")


def test_modify_on_empty_table(spark):
    """UPDATE/DELETE/UPSERT on a freshly created (zero-file) table must
    see the declared schema, not UNABLE_TO_INFER_SCHEMA (found by
    tools/dml_fuzz.py)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS empty_mod")
    eng.sql("CREATE TABLE empty_mod (k BIGINT, v STRING, PRIMARY KEY (k))")
    eng.sql("UPDATE empty_mod SET v = 'x' WHERE k > 0")
    eng.sql("DELETE FROM empty_mod WHERE k = 1")
    eng.sql("UPSERT INTO empty_mod VALUES (1, 'a')")
    rows = eng.sql("SELECT k, v FROM empty_mod").collect()
    assert [(r.k, r.v) for r in rows] == [(1, "a")]
    eng.sql("DROP TABLE empty_mod")


def test_upsert_duplicate_key_in_batch_last_wins(spark):
    """A primary key repeated WITHIN one UPSERT batch applies in row
    order, last wins (Kudu op ordering) — one row must remain (found by
    tools/dml_fuzz.py, which saw both rows land)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS up_dup")
    eng.sql("CREATE TABLE up_dup (k BIGINT, v STRING, PRIMARY KEY (k))")
    eng.sql("UPSERT INTO up_dup VALUES (1, 'first'), (2, 'x'), (1, 'last')")
    rows = {r.k: r.v for r in eng.sql("SELECT k, v FROM up_dup").collect()}
    assert rows == {1: "last", 2: "x"}
    assert eng.sql("SELECT count(*) AS n FROM up_dup").collect()[0][0] == 2
    # partitioned variant: the duplicate key may also move partitions
    eng.sql("DROP TABLE IF EXISTS up_dup_p")
    eng.sql(
        "CREATE TABLE up_dup_p (k BIGINT, v STRING, PRIMARY KEY (k))"
        " PARTITIONED BY (p INT)"
    )
    eng.sql("UPSERT INTO up_dup_p VALUES (1, 'a', 1), (1, 'b', 2)")
    got = [(r.k, r.v, r.p) for r in eng.sql("SELECT * FROM up_dup_p").collect()]
    assert got == [(1, "b", 2)]
    eng.sql("DROP TABLE up_dup")
    eng.sql("DROP TABLE up_dup_p")


def test_alter_columns_repin_declared_schema(spark):
    """TRUNCATE -> ADD COLUMNS -> UPSERT/UPDATE must use the POST-alter
    schema on a zero-file table (found by tools/dml_fuzz.py: the
    declared-schema fallback served the pre-ALTER column list)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS evo3")
    eng.sql("CREATE TABLE evo3 (k BIGINT, v INT, PRIMARY KEY (k))")
    eng.sql("TRUNCATE TABLE evo3")
    eng.sql("ALTER TABLE evo3 ADD COLUMNS (w INT)")
    eng.sql("UPSERT INTO evo3 VALUES (4, 1, 9)")
    assert [tuple(r) for r in eng.sql("SELECT * FROM evo3").collect()] == [(4, 1, 9)]
    # DROP COLUMN on the emptied table re-pins too
    eng.sql("TRUNCATE TABLE evo3")
    eng.sql("ALTER TABLE evo3 DROP COLUMN v")
    eng.sql("UPSERT INTO evo3 VALUES (5, 2)")
    assert [tuple(r) for r in eng.sql("SELECT * FROM evo3").collect()] == [(5, 2)]
    # CHANGE on empty: type change visible through the fallback read
    eng.sql("TRUNCATE TABLE evo3")
    eng.sql("ALTER TABLE evo3 CHANGE w w2 BIGINT")
    eng.sql("UPDATE evo3 SET w2 = 1 WHERE k > 0")  # no rows; must not error
    eng.sql("UPSERT INTO evo3 VALUES (6, 3)")
    assert dict(eng.sql("SELECT * FROM evo3").dtypes) == {"k": "bigint", "w2": "bigint"}
    eng.sql("DROP TABLE evo3")


def test_create_table_from_avro_schema_literal(spark):
    """CREATE TABLE ... STORED AS AVRO with no column list derives the
    columns from avro.schema.literal (CreateTableStmt.analyzeAvroSchema
    + util/AvroSchemaParser.java type mapping: nullable-union unwrap,
    long->BIGINT, decimal logicalType, complex types)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.sources import avro_schema_to_cols

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS av_infer")
    lit = (
        '{"type":"record","name":"r","fields":['
        '{"name":"id","type":["null","long"]},'
        '{"name":"name","type":["null","string"]},'
        '{"name":"flag","type":"boolean"},'
        '{"name":"price","type":{"type":"bytes","logicalType":"decimal",'
        '"precision":9,"scale":2}},'
        '{"name":"tags","type":{"type":"array","items":"string"}}]}'
    )
    eng.sql(
        "CREATE TABLE av_infer STORED AS AVRO "
        f"TBLPROPERTIES ('avro.schema.literal'='{lit}')"
    )
    assert dict(spark.table("av_infer").dtypes) == {
        "id": "bigint", "name": "string", "flag": "boolean",
        "price": "decimal(9,2)", "tags": "array<string>",
    }
    eng.sql("INSERT INTO av_infer VALUES (1, 'a', true, 9.50, array('x'))")
    assert spark.table("av_infer").count() == 1
    eng.sql("DROP TABLE av_infer")
    # reference error surfaces
    with _pt.raises(ImpalaUnsupportedError, match="must be of type RECORD"):
        avro_schema_to_cols('{"type":"enum","name":"e","symbols":["A"]}')
    with _pt.raises(ImpalaUnsupportedError, match="logicalType for column 'b'"):
        avro_schema_to_cols(
            '{"type":"record","name":"r","fields":'
            '[{"name":"b","type":"bytes"}]}')
    with _pt.raises(ImpalaUnsupportedError, match="Unsupported logicalType: 'uuid'"):
        avro_schema_to_cols(
            '{"type":"record","name":"r","fields":'
            '[{"name":"b","type":{"type":"bytes","logicalType":"uuid"}}]}')
    with _pt.raises(ImpalaUnsupportedError, match="No 'precision' property"):
        avro_schema_to_cols(
            '{"type":"record","name":"r","fields":[{"name":"b","type":'
            '{"type":"bytes","logicalType":"decimal","scale":2}}]}')
    # nested record -> STRUCT; map -> MAP<STRING, v>
    cols = avro_schema_to_cols(
        '{"type":"record","name":"r","fields":['
        '{"name":"m","type":{"type":"map","values":"int"}},'
        '{"name":"s","type":{"type":"record","name":"inner","fields":'
        '[{"name":"x","type":"long"}]}}]}')
    assert cols == "m MAP<STRING,INT>, s STRUCT<x:BIGINT>"


def test_create_table_from_avro_schema_url(spark, tmp_path):
    """avro.schema.url sibling: the schema file on disk supplies the
    column list (AvroSchemaUtils.readWriteAndGetSchema)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaEngine, ImpalaAnalysisError

    eng = ImpalaEngine(spark)
    f = tmp_path / "s.avsc"
    f.write_text(
        '{"type":"record","name":"r","fields":'
        '[{"name":"k","type":"long"},{"name":"v","type":["null","string"]}]}'
    )
    eng.sql("DROP TABLE IF EXISTS av_url")
    eng.sql(
        "CREATE TABLE av_url STORED AS AVRO "
        f"TBLPROPERTIES ('avro.schema.url'='file://{f}')"
    )
    assert dict(spark.table("av_url").dtypes) == {"k": "bigint", "v": "string"}
    eng.sql("DROP TABLE av_url")
    with _pt.raises(ImpalaAnalysisError, match="Failed to read Avro schema"):
        eng.sql(
            "CREATE TABLE av_url2 STORED AS AVRO "
            f"TBLPROPERTIES ('avro.schema.url'='file://{tmp_path}/missing.avsc')"
        )


def test_avro_schema_reconciles_declared_columns(spark):
    """Declared columns + Avro schema: the schema wins (names, extra or
    fewer columns), except string-typed declarations keep their
    CHAR/VARCHAR type under the Avro name
    (util/AvroSchemaUtils.java reconcileSchemas:119-157)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    lit = (
        '{"type":"record","name":"r","fields":['
        '{"name":"av_id","type":"long"},'
        '{"name":"av_name","type":["null","string"]}]}'
    )
    # same arity: names come from avro; VARCHAR keeps its declared type
    eng.sql("DROP TABLE IF EXISTS av_rec1")
    eng.sql(
        "CREATE TABLE av_rec1 (decl_id INT, decl_name VARCHAR(10)) "
        f"STORED AS AVRO TBLPROPERTIES ('avro.schema.literal'='{lit}')"
    )
    # Spark surfaces varchar as string in visible types (the engine's
    # established convention, pinned on plain_t); the reconcile itself
    # keeps the declared VARCHAR — unit-asserted below
    assert dict(spark.table("av_rec1").dtypes) == {
        "av_id": "bigint", "av_name": "string",
    }
    from impala_spark.sources import reconcile_avro_cols

    assert reconcile_avro_cols(
        [("decl_id", "INT"), ("decl_name", "VARCHAR(10)")],
        [("av_id", "BIGINT"), ("av_name", "STRING")],
    ) == [("av_id", "BIGINT"), ("av_name", "VARCHAR(10)")]
    # arity mismatch: the avro schema wins entirely
    eng.sql("DROP TABLE IF EXISTS av_rec2")
    eng.sql(
        "CREATE TABLE av_rec2 (only_one INT) "
        f"STORED AS AVRO TBLPROPERTIES ('avro.schema.literal'='{lit}')"
    )
    assert dict(spark.table("av_rec2").dtypes) == {
        "av_id": "bigint", "av_name": "string",
    }
    eng.sql("DROP TABLE av_rec1")
    eng.sql("DROP TABLE av_rec2")


def test_insert_existing_key_discarded(spark):
    """Kudu-surface INSERT: a row whose primary key exists is discarded
    and the statement continues; within the batch the FIRST occurrence
    wins (Impala reports Kudu key collisions as row errors, not
    statement failures)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS ins_pk")
    eng.sql("CREATE TABLE ins_pk (k BIGINT, v STRING, PRIMARY KEY (k))")
    eng.sql("INSERT INTO ins_pk VALUES (1, 'a')")
    eng.sql("INSERT INTO ins_pk VALUES (1, 'b'), (2, 'c'), (2, 'd')")
    assert sorted(tuple(r) for r in spark.table("ins_pk").collect()) == [
        (1, "a"), (2, "c"),
    ]
    # OVERWRITE replaces the table; intra-batch first still wins
    eng.sql("INSERT OVERWRITE ins_pk VALUES (5, 'x'), (5, 'y')")
    assert [tuple(r) for r in spark.table("ins_pk").collect()] == [(5, "x")]
    eng.sql("DROP TABLE ins_pk")


def test_create_table_like_kudu_rejected(spark):
    """Cloning a Kudu-surface table (hash/range layout or primary key)
    via CREATE TABLE LIKE is rejected with the reference's text
    (IMPALA-4052, CreateTableLikeStmt.java:147-149) — a silent clone
    would drop the layout and key."""
    import pytest as _pt

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS ctl_src")
    eng.sql(
        "CREATE TABLE ctl_src (k BIGINT, v STRING, PRIMARY KEY (k))"
        " PARTITION BY HASH (k) PARTITIONS 4 STORED AS KUDU"
    )
    with _pt.raises(
        ImpalaUnsupportedError,
        match=r"Cloning a Kudu table using CREATE TABLE LIKE is not supported\.",
    ):
        eng.sql("CREATE TABLE ctl_dst LIKE ctl_src")
    eng.sql("DROP TABLE ctl_src")


def test_strict_mode_rejects_modifying_non_kudu_table(spark):
    """Strict engines pin ModifyStmt's Kudu-only analysis: UPDATE/DELETE
    on a PK-less (HDFS-analog) table raises the reference text; the
    permissive default keeps the documented read-modify-overwrite
    superset (AnalyzeModifyStmtsTest)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError

    strict = ImpalaEngine(spark, strict=True)
    strict.sql("DROP TABLE IF EXISTS hdfs_t")
    strict.sql("CREATE TABLE hdfs_t (k BIGINT, v STRING)")
    for stmt in ("UPDATE hdfs_t SET v = 'b' WHERE k = 1",
                 "DELETE FROM hdfs_t WHERE k = 1"):
        with _pt.raises(
            ImpalaUnsupportedError,
            match="Impala does not support modifying a non-Kudu table:"
                  " default.hdfs_t",
        ):
            strict.sql(stmt)
    # permissive default still modifies parquet tables
    loose = ImpalaEngine(spark)
    loose.sql("INSERT INTO hdfs_t VALUES (1, 'a')")
    loose.sql("UPDATE hdfs_t SET v = 'b' WHERE k = 1")
    assert [tuple(r) for r in spark.table("hdfs_t").collect()] == [(1, "b")]
    strict.sql("DROP TABLE hdfs_t")


def test_update_key_column_rejected(spark):
    """Key columns cannot be updated (ModifyStmt.java:267 exact text);
    PK-less tables have no key columns, so any SET stays legal there."""
    import pytest as _pt

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS upk")
    eng.sql("CREATE TABLE upk (k BIGINT, v STRING, PRIMARY KEY (k))")
    eng.sql("INSERT INTO upk VALUES (1, 'a')")
    with _pt.raises(ImpalaUnsupportedError, match=r"Key column 'k' cannot be updated\."):
        eng.sql("UPDATE upk SET k = 9 WHERE v = 'a'")
    eng.sql("UPDATE upk SET v = 'b' WHERE k = 1")  # non-key ok
    assert [tuple(r) for r in spark.table("upk").collect()] == [(1, "b")]
    eng.sql("DROP TABLE upk")


def test_show_range_partitions(spark, sf_dir):
    """SHOW RANGE PARTITIONS lists the Kudu range layout; error surface
    per A/ShowStatsStmt.java:78-97 (AnalyzeDDLTest.TestShowRangePartitions
    exact texts)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS srp_t")
    eng.sql(
        "CREATE TABLE srp_t (k BIGINT, v STRING, PRIMARY KEY (k)) "
        "PARTITION BY RANGE (k) "
        "(PARTITION VALUES < 10, PARTITION 10 <= VALUES < 20, "
        "PARTITION VALUE = 99) STORED AS KUDU"
    )
    df = eng.sql("SHOW RANGE PARTITIONS srp_t")
    assert df.columns == ["RANGE (k)"]
    assert [r[0] for r in df.collect()] == [
        "VALUES < 10", "10 <= VALUES < 20", "VALUE = 99",
    ]
    with _pt.raises(ImpalaAnalysisError, match="must target a Kudu table: default.region"):
        eng.sql("SHOW RANGE PARTITIONS region")
    with _pt.raises(ImpalaAnalysisError, match="Table does not exist: default.nope_t"):
        eng.sql("SHOW RANGE PARTITIONS nope_t")
    eng.sql("DROP TABLE IF EXISTS srp_h")
    eng.sql(
        "CREATE TABLE srp_h (k BIGINT, PRIMARY KEY (k)) "
        "PARTITION BY HASH (k) PARTITIONS 2 STORED AS KUDU"
    )
    with _pt.raises(
        ImpalaAnalysisError,
        match="requested but table does not have range partitions",
    ):
        eng.sql("SHOW RANGE PARTITIONS srp_h")
    eng.sql("DROP TABLE srp_t")
    eng.sql("DROP TABLE srp_h")


def test_drop_table_view_kind_mismatch(spark, sf_dir):
    """DROP TABLE on a view / DROP VIEW on a table pin the reference's
    kind-mismatch texts (DropTableOrViewStmt.java:94-99)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    spark.sql("DROP VIEW IF EXISTS v_kind")
    eng.sql("CREATE VIEW v_kind AS SELECT 1 AS x")
    with _pt.raises(ImpalaAnalysisError, match="DROP TABLE not allowed on a view: default.v_kind"):
        eng.sql("DROP TABLE v_kind")
    with _pt.raises(ImpalaAnalysisError, match="DROP VIEW not allowed on a table: default.region"):
        eng.sql("DROP VIEW region")
    eng.sql("DROP VIEW v_kind")
    eng.sql("DROP VIEW IF EXISTS v_kind")  # IF EXISTS on missing: silent


def test_alter_view_on_table_rejected(spark, sf_dir):
    """ALTER VIEW on a table pins AlterViewStmt.java:50-53 — without the
    guard the redefinition silently replaced the table's session view."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    with _pt.raises(ImpalaAnalysisError, match="ALTER VIEW not allowed on a table: default.region"):
        eng.sql("ALTER VIEW region AS SELECT 1 AS x")
    # region still reads as the fixture
    assert spark.table("region").count() == 5


def test_write_statements_reject_views(spark, sf_dir):
    """INSERT/UPSERT/UPDATE/DELETE targeting a view pin the reference
    texts (InsertStmt.java:386-390; ModifyStmt analysis)."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    spark.sql("DROP VIEW IF EXISTS v_w")
    eng.sql("CREATE VIEW v_w AS SELECT r_regionkey AS k FROM region")
    with _pt.raises(ImpalaAnalysisError, match="INSERTing into views: default.v_w"):
        eng.sql("INSERT INTO v_w VALUES (1)")
    with _pt.raises(ImpalaAnalysisError, match="UPSERTing into views: default.v_w"):
        eng.sql("UPSERT INTO v_w VALUES (1)")
    with _pt.raises(ImpalaAnalysisError, match="modifying a non-Kudu table: default.v_w"):
        eng.sql("UPDATE v_w SET k = 2 WHERE k = 1")
    with _pt.raises(ImpalaAnalysisError, match="modifying a non-Kudu table: default.v_w"):
        eng.sql("DELETE FROM v_w WHERE k = 1")
    eng.sql("DROP VIEW v_w")


def test_database_ddl_error_parity(spark):
    """CREATE/DROP DATABASE pin the reference texts (Analyzer.java:
    113-114, DropDbStmt.java:73-76); Spark's SCHEMA_* errors never
    surface. IF [NOT] EXISTS stays silent; CASCADE drops non-empty."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine

    eng = ImpalaEngine(spark)
    eng.sql("DROP DATABASE IF EXISTS dbddl CASCADE")
    eng.sql("CREATE DATABASE dbddl")
    with _pt.raises(ImpalaAnalysisError, match="Database already exists: dbddl"):
        eng.sql("CREATE DATABASE dbddl")
    eng.sql("CREATE DATABASE IF NOT EXISTS dbddl")
    with _pt.raises(ImpalaAnalysisError, match="Cannot drop current default database: default"):
        eng.sql("DROP DATABASE default")
    with _pt.raises(ImpalaAnalysisError, match="Database does not exist: dbmissing"):
        eng.sql("DROP DATABASE dbmissing")
    spark.sql("CREATE TABLE dbddl.t1 (k INT) USING parquet")
    with _pt.raises(ImpalaAnalysisError, match="Cannot drop non-empty database: dbddl"):
        eng.sql("DROP DATABASE dbddl")
    eng.sql("DROP DATABASE dbddl CASCADE")
    assert not any(d.name == "dbddl" for d in spark.catalog.listDatabases())


def test_strict_create_blocks_existing_names(spark, sf_dir):
    """Strict CREATE TABLE/CTAS over ANY resolvable name (fixture view,
    engine view, managed table) raises 'Table already exists' — without
    the guard a strict CREATE TABLE region silently shadowed the
    fixture. Permissive mode keeps create-or-replace."""
    import pytest as _pt

    from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    strict = ImpalaEngine(spark, sf_dir, strict=True)
    for stmt in ("CREATE TABLE region (k INT)",
                 "CREATE TABLE region AS SELECT 1 AS x"):
        with _pt.raises(ImpalaAnalysisError, match="Table already exists: default.region"):
            strict.sql(stmt)
    assert spark.table("region").count() == 5
    spark.sql("DROP VIEW IF EXISTS v_guard")
    strict.sql("CREATE VIEW v_guard AS SELECT 1 AS x")
    with _pt.raises(ImpalaAnalysisError, match="Table already exists: default.v_guard"):
        strict.sql("CREATE TABLE v_guard (k INT)")
    strict.sql("CREATE TABLE IF NOT EXISTS region (k INT)")  # silent keep
    assert spark.table("region").count() == 5
    strict.sql("DROP VIEW v_guard")


def test_ctas_if_not_exists_keeps_existing(spark, sf_dir):
    """CREATE TABLE IF NOT EXISTS ... AS SELECT over an existing name is
    a no-op — it must not replace the table's rows
    (CreateTableAsSelectStmt semantics; found by probing)."""
    from impala_spark.engine import ImpalaEngine
    from impala_spark.session import register_tables

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS cine_t")
    eng.sql("CREATE TABLE cine_t AS SELECT 1 AS k")
    eng.sql("CREATE TABLE IF NOT EXISTS cine_t AS SELECT 2 AS k, 3 AS v")
    assert [tuple(r) for r in spark.table("cine_t").collect()] == [(1,)]
    # fixtures keep too
    eng.sql("CREATE TABLE IF NOT EXISTS region AS SELECT 1 AS k")
    assert spark.table("region").count() == 5
    eng.sql("DROP TABLE cine_t")


def test_create_table_like_missing_source_text(spark):
    """CREATE TABLE LIKE with a missing source pins the analyzer text,
    never Spark's TABLE_OR_VIEW_NOT_FOUND."""
    import pytest as _pt

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError

    eng = ImpalaEngine(spark)
    with _pt.raises(ImpalaUnsupportedError, match="Table does not exist: default.no_such_src"):
        eng.sql("CREATE TABLE liket LIKE no_such_src")
