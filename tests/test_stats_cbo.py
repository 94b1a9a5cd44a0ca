"""COMPUTE STATS -> catalog stats -> CBO plans on PLAIN query texts
(r9 verdict task #1).

The reference's planner makes its broadcast-vs-partitioned and join-order
choices from COMPUTE STATS numbers (P/DistributedPlanner.java:420-536
costing C/ColumnStats.java); the registry's hand /*+ BROADCAST */ hints
exist only because stats-less Catalyst can't see through multi-table
filters. These tests pin the engine-level equivalent: after COMPUTE
STATS, `engine.sql(<plain TPC-H text>)` plans with CBO + join reorder in
the stats session and produces the broadcast shapes WITHOUT hints —
no SortMergeJoin, no ShuffledHashJoin, no fact exchange.
"""

import os

import pytest

from impala_spark.engine import ImpalaEngine
from impala_spark.session import get_spark

SF_001 = "/root/testdata/sf0.001"
SF_01 = "/root/testdata/sf0.01"
SF_10 = "/root/repo/.bench_sf10"

TPCH = ("customer", "orders", "lineitem", "supplier", "nation", "region")

Q3 = """
SELECT l_orderkey, SUM(l_extendedprice*(1-l_discount)) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment='BUILDING' AND c_custkey=o_custkey AND l_orderkey=o_orderkey
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate LIMIT 10
"""

Q5 = """
SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name ORDER BY revenue DESC
"""

Q10 = """
SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC LIMIT 20
"""


@pytest.fixture(scope="module")
def spark():
    s = get_spark("impala_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _norm_rows(rows):
    return [
        tuple(round(v, 4) if isinstance(v, float) else v for v in r)
        for r in rows
    ]


def _stats_routed(df, sf_dir: str) -> bool:
    """True when `df` plans in `sf_dir`'s stats session or a posture
    clone of it (tiny queries hand their plan to one): the session's
    current database is the stats database and it parses LTZ literals.
    False for the engine session and its clones."""
    from impala_spark.session import stats_db_name

    s = df.sparkSession
    return (
        s.catalog.currentDatabase() == stats_db_name(sf_dir)
        and s.conf.get("spark.sql.timestampType") == "TIMESTAMP_LTZ"
    )


def _executed(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_compute_stats_promotes_and_routes(spark):
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    default_df = eng.sql(Q3)
    assert not _stats_routed(default_df, SF_01)
    default_rows = _norm_rows(default_df.collect())
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    assert eng._stats_tables == set(TPCH)
    df = eng.sql(Q3)
    # routed to the stats session, Impala-parity NTZ output schema
    assert _stats_routed(df, SF_01)
    assert [f.dataType.typeName() for f in df.schema.fields if
            f.name == "o_orderdate"] == ["timestamp_ntz"]
    # identical results (double-sum accumulation order may differ by ULPs)
    assert _norm_rows(df.collect()) == default_rows


def test_routing_guards(spark):
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    # a view (even over a promoted table) keeps the default session
    eng.sql("CREATE VIEW stats_guard_v AS SELECT * FROM orders")
    df = eng.sql(
        "SELECT COUNT(*) AS n FROM stats_guard_v JOIN orders"
        " ON stats_guard_v.o_orderkey = orders.o_orderkey"
    )
    assert not _stats_routed(df, SF_01)
    # non-SELECT statements keep the default session
    assert eng.sql("SHOW TABLES").sparkSession is spark


def test_nano_timestamp_table_never_promotes(spark, tmp_path):
    """A fixture stored with parquet TIMESTAMP(NANOS) reads as epoch-nano
    longs under nanosAsLong — a catalog TIMESTAMP_LTZ column would
    misread it, so promotion must refuse (the temp-view path keeps
    handling it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impala_spark.session import register_stats_table

    sf_dir = str(tmp_path)
    tbl = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1000, 2000], pa.timestamp("ns")),
    })
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    assert register_stats_table(spark, sf_dir, "events") is False


def test_ineligible_compute_stats_keeps_temp_view_path(spark, tmp_path):
    """COMPUTE STATS over a table promotion refuses (nanosecond parquet
    timestamps) still returns the reference's child-query stats via the
    temp-view path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    tbl = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1000, 2000], pa.timestamp("ns")),
    })
    pq.write_table(tbl, f"{sf_dir}/events.parquet")
    eng = ImpalaEngine(spark, sf_dir=sf_dir)
    df = eng.sql("COMPUTE STATS events")
    assert "row_count" in df.columns
    assert "events" not in eng._stats_tables


@pytest.mark.skipif(not os.path.isdir(SF_10), reason="sf10 fixtures absent")
def test_stats_plans_broadcast_shapes_sf10(spark):
    """The r9-verdict done-criterion: at a scale where the filtered build
    sides exceed the stats-less 16 MB threshold, the PLAIN texts plan as
    pure broadcast-join trees — zero SortMergeJoin / ShuffledHashJoin /
    CartesianProduct, and at most the aggregate + ordering exchanges."""
    eng = ImpalaEngine(spark, sf_dir=SF_10)
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    for name, q, min_rows in (("q3", Q3, 10), ("q5", Q5, 1), ("q10", Q10, 20)):
        df = eng.sql(q)
        assert _stats_routed(df, SF_10), name
        assert len(df.collect()) >= min_rows, name
        plan = _executed(df)
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "ShuffledHashJoin" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert plan.count("Exchange hashpartitioning") <= 2, (name, plan)


def test_stats_path_matches_duckdb_oracle(spark):
    """The stats-planned plain texts are value-identical to DuckDB
    running the same SQL over the same parquet — the same contract the
    driver's oracle gate enforces for registry queries."""
    import duckdb

    con = duckdb.connect()
    for t in TPCH:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_01}/{t}.parquet'"
        )
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    for name, q in (("q3", Q3), ("q5", Q5), ("q10", Q10)):
        df = eng.sql(q)
        assert _stats_routed(df, SF_01), name
        got = sorted(
            tuple(
                round(v, 2) if isinstance(v, float) else str(v)
                for v in r
            )
            for r in df.collect()
        )
        want = sorted(
            tuple(
                round(v, 2) if isinstance(v, float) else str(v)
                for v in r
            )
            for r in con.execute(q).fetchall()
        )
        assert got == want, (name, got[:3], want[:3])


def test_stats_broadcast_budget_flips_at_scale(spark, monkeypatch):
    """The stats-driven broadcast decision must FLIP to partitioned
    joins when estimates exceed the budget (the reference's cost-model
    flip, DistributedPlanner.java:425-506) — simulated by shrinking the
    budget to 1 KB, the same plan the estimates produce at ~sf100+."""
    import impala_spark.session as S

    monkeypatch.setattr(S, "STATS_BROADCAST_THRESHOLD_BYTES", 1024)
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    # a fresh clone must exist for the patched budget to apply
    S._state(spark).stats.pop(SF_01, None)
    df = eng.sql(Q3)
    assert _stats_routed(df, SF_01)
    plan = _executed(df)
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    S._state(spark).stats.pop(SF_01, None)


def test_rewrite_composes_with_stats_routing(spark, monkeypatch):
    """A plain multi-DISTINCT aggregate both rewrites (two-phase CTEs,
    no Expand) AND routes to the stats session — the two engine-level
    plan mechanisms compose."""
    import impala_spark.rewrites as RW

    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    q = (
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS cd1,"
        " COUNT(DISTINCT o_orderpriority) AS cd2, COUNT(*) AS n"
        " FROM orders GROUP BY o_orderstatus"
    )
    df = eng.sql(q)
    assert _stats_routed(df, SF_01)  # routed
    plan = _executed(df)
    assert "Expand" not in plan, plan  # rewritten
    # values match DuckDB on the same parquet
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_01}/orders.parquet'"
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, con.execute(q).fetchall()))
    assert got == want


def test_catalog_table_compute_stats_ntz_safe(spark):
    """The non-fixture COMPUTE STATS path (genuine catalog tables, e.g.
    write_bucketed outputs) must not store NTZ column stats: with CBO
    enabled they crash Spark 4.1.2's FilterEstimation on the first join
    + NTZ comparison (MatchError at FilterEstimation.scala:281)."""
    from impala_spark import operators as ops
    from impala_spark.session import table

    eng = ImpalaEngine(spark, sf_dir=SF_001)
    o = table(spark, SF_001, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = table(spark, SF_001, "customer").select("c_custkey", "c_acctbal")
    ops.write_bucketed(o, "ntz_stats_o", ["o_orderkey"], buckets=4)
    ops.write_bucketed(c, "ntz_stats_c", ["c_custkey"], buckets=4)
    try:
        eng.sql("COMPUTE STATS bucketed_db.ntz_stats_o")
        eng.sql("COMPUTE STATS bucketed_db.ntz_stats_c")
        n = eng.sql(
            "SELECT COUNT(*) AS n FROM bucketed_db.ntz_stats_o o"
            " JOIN bucketed_db.ntz_stats_c c ON o.o_custkey = c.c_custkey"
            " WHERE o.o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"
        ).collect()[0][0]
        assert n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_db.ntz_stats_o")
        spark.sql("DROP TABLE IF EXISTS bucketed_db.ntz_stats_c")
        spark.conf.set("spark.sql.cbo.enabled", "false")


def test_drop_stats_demotes_routing(spark):
    """DROP STATS reverts the planner to the stats-less posture — the
    reference's behavior when the metastore stats are dropped."""
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    for t in TPCH:
        eng.sql(f"COMPUTE STATS {t}")
    assert _stats_routed(eng.sql(Q3), SF_01)
    eng.sql("DROP STATS orders")
    assert not _stats_routed(eng.sql(Q3), SF_01)  # orders left the set
    eng.sql("COMPUTE STATS orders")  # re-promote: routing returns
    assert _stats_routed(eng.sql(Q3), SF_01)


def test_two_sf_dirs_promote_into_isolated_databases(spark):
    """Two engines over different scale dirs promote into per-sf_dir
    databases and route independently — no catalog name fights."""
    from impala_spark.session import stats_db_name

    a = ImpalaEngine(spark, sf_dir=SF_001)
    b = ImpalaEngine(spark, sf_dir=SF_01)
    a.sql("COMPUTE STATS nation")
    b.sql("COMPUTE STATS nation")
    assert stats_db_name(SF_001) != stats_db_name(SF_01)
    ra = a.sql("SELECT COUNT(*) AS n FROM nation").collect()[0][0]
    rb = b.sql("SELECT COUNT(*) AS n FROM nation").collect()[0][0]
    assert ra == rb == 25  # nation is 25 rows at every SF
    # each routed session reads its OWN db
    da = a.sql("SELECT COUNT(*) AS n FROM nation")
    db = b.sql("SELECT COUNT(*) AS n FROM nation")
    assert _stats_routed(da, SF_001) and _stats_routed(db, SF_01)
    sa, sb = da.sparkSession, db.sparkSession
    assert sa.catalog.currentDatabase() != sb.catalog.currentDatabase()


# ---------------------------------------------------------------------------
# r11: COMPUTE STATS on ENGINE-CREATED tables (verdict task #1) — the
# reference's ComputeStatsStmt works on any catalog table
# (A/ComputeStatsStmt.java:218-242); derived CTAS/INSERT outputs have no
# inherent stats, which is exactly when promotion matters.
# ---------------------------------------------------------------------------


def test_managed_table_compute_stats_promotes_and_routes(spark):
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    eng.sql(
        "CREATE TABLE stats_mgd AS SELECT c_custkey, c_nationkey"
        " FROM customer WHERE c_mktsegment = 'BUILDING'"
    )
    stats = eng.sql("COMPUTE STATS stats_mgd")
    assert "row_count" in stats.columns
    eng.sql("COMPUTE STATS orders")
    q = (
        "SELECT o_orderpriority, COUNT(*) AS n FROM stats_mgd, orders"
        " WHERE c_custkey = o_custkey GROUP BY o_orderpriority"
    )
    df = eng.sql(q)
    assert _stats_routed(df, SF_01), "managed+fixture join must route"
    plan = _executed(df)
    # CBO broadcasts the (small, stats-known) derived table
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan, plan
    eng.sql("DROP TABLE stats_mgd")


def test_managed_mutation_demotes_until_recompute(spark):
    """Any write after ANALYZE must demote the table from the CBO posture
    (stale catalog listing would silently read pre-write files); a re-run
    COMPUTE STATS re-ANALYZEs and re-promotes with FRESH data."""
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    eng.sql(
        "CREATE TABLE stats_mut AS SELECT c_custkey, c_nationkey"
        " FROM customer WHERE c_mktsegment = 'BUILDING'"
    )
    eng.sql("COMPUTE STATS stats_mut")
    eng.sql("COMPUTE STATS orders")
    q = (
        "SELECT COUNT(*) AS n FROM stats_mut, orders"
        " WHERE c_custkey = o_custkey"
    )
    assert _stats_routed(eng.sql(q), SF_01)
    eng.sql(
        "INSERT INTO stats_mut SELECT c_custkey, c_nationkey"
        " FROM customer WHERE c_mktsegment = 'AUTOMOBILE'"
    )
    demoted = eng.sql(q)
    assert not _stats_routed(demoted, SF_01), "post-INSERT must demote"
    want = demoted.collect()[0][0]
    eng.sql("COMPUTE STATS stats_mut")
    df = eng.sql(q)
    assert _stats_routed(df, SF_01), "recompute must re-promote"
    assert df.collect()[0][0] == want, "routed read must see the INSERT"
    # DROP TABLE: neither path may resolve the name afterwards
    eng.sql("DROP TABLE stats_mut")
    with pytest.raises(Exception):
        eng.sql(q).collect()


def test_gate_input_bytes_prefers_catalog_stats(spark):
    """The size-gated rewrites read per-table catalog stats once promoted
    (r10 verdict task #5), falling back to file sizes / the fixture dir
    only when a referenced table has none."""
    from impala_spark.parser import scanned_tables
    from impala_spark.session import _dir_total_bytes

    eng = ImpalaEngine(spark, sf_dir=SF_01)
    whole_dir = _dir_total_bytes(SF_01)
    orders = scanned_tables("SELECT COUNT(*) FROM orders")
    # unpromoted fixture: per-table file size, not the whole dir
    per_file = eng._gate_input_bytes(orders)[0]
    assert 0 < per_file < whole_dir
    eng.sql("COMPUTE STATS orders")
    with_stats = eng._gate_input_bytes(orders)[0]
    assert with_stats > 0
    # catalog sizeInBytes of a parquet LOCATION table ~= its file bytes
    assert abs(with_stats - per_file) <= per_file  # same order of magnitude
    # an inline view does not hide the tables read beside it
    assert eng._gate_input_bytes(
        scanned_tables("SELECT 1 FROM (SELECT 1) s, orders"))[0] == with_stats
    # no table, or an unknown name: the conservative whole-dir fallback,
    # which bounds nothing for the posture
    assert eng._gate_input_bytes(frozenset())[0] == whole_dir
    assert eng._gate_input_bytes(frozenset({"no_such_table"})) == (whole_dir, None)


# ---------------------------------------------------------------------------
# r11: persistent stats catalog (verdict task #4) — with
# SPARK_GRAFT_PERSIST_CATALOG a Derby-backed metastore keeps promotions
# across processes; a second process re-attaches WITHOUT re-running
# ANALYZE, so the one-time layout/stats cost genuinely amortizes.
# ---------------------------------------------------------------------------

_PERSIST_SCRIPT = """
import sys
sys.path.insert(0, "/root/repo")
from impala_spark.session import PROMOTION_MODE, get_spark, stats_db_name
from impala_spark.engine import ImpalaEngine

spark = get_spark("persist_probe")
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.001"
eng = ImpalaEngine(spark, sf_dir=SF)
eng.sql("COMPUTE STATS nation")
eng.sql("COMPUTE STATS region")
mode = PROMOTION_MODE[(SF, "nation")]
assert mode == "{want_mode}", f"promotion mode: {{mode}}"
df = eng.sql(
    "SELECT COUNT(*) AS n FROM nation JOIN region"
    " ON n_regionkey = r_regionkey"
)
assert df.sparkSession.catalog.currentDatabase() == stats_db_name(SF), \\
    "must route to the stats session"
print("PROBE_OK", "{want_mode}", df.collect()[0][0], flush=True)
"""


def test_stats_persist_across_processes(tmp_path):
    """Process 1 promotes (full ANALYZE into the Derby metastore);
    process 2 re-attaches the SAME promotion without ANALYZE and routes
    stats-backed plans immediately. Derby is single-process, so the two
    runs are sequential subprocesses with an isolated warehouse."""
    import os
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_PERSIST_CATALOG="1",
        IMPALA_SPARK_WAREHOUSE=str(tmp_path / "wh"),
    )
    for want in ("analyzed", "reattached"):
        out = subprocess.run(
            [sys.executable, "-c", _PERSIST_SCRIPT.format(want_mode=want)],
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
            cwd="/root/repo",
        )
        assert f"PROBE_OK {want} 25" in out.stdout, (
            want, out.stdout[-2000:], out.stderr[-4000:],
        )


_PERSIST_BKT_P1 = """
import sys
sys.path.insert(0, "/root/repo")
from impala_spark.session import get_spark
from impala_spark.engine import ImpalaEngine

spark = get_spark("bkt_persist1")
spark.sparkContext.setLogLevel("ERROR")
eng = ImpalaEngine(spark, sf_dir="/root/testdata/sf0.001")
eng.sql(
    "CREATE TABLE pbkt_o PARTITION BY HASH(o_orderkey) PARTITIONS 4"
    " AS SELECT o_orderkey, o_orderpriority FROM orders"
)
eng.sql(
    "CREATE TABLE pbkt_l PARTITION BY HASH(l_orderkey) PARTITIONS 4"
    " AS SELECT l_orderkey, l_quantity FROM lineitem"
)
print("P1OK", spark.table("bucketed_db.pbkt_o").count(), flush=True)
"""

_PERSIST_BKT_P2 = """
import re
import sys
sys.path.insert(0, "/root/repo")
from impala_spark.session import get_spark

spark = get_spark("bkt_persist2")
spark.sparkContext.setLogLevel("ERROR")
# fresh process: NO rebuild — the metastore still has both bucketed tables
df = spark.sql(
    "SELECT /*+ SHUFFLE_HASH(l) */ o_orderpriority, COUNT(*) AS n"
    " FROM bucketed_db.pbkt_o o JOIN bucketed_db.pbkt_l l"
    " ON o.o_orderkey = l.l_orderkey GROUP BY o_orderpriority"
)
rows = df.collect()
plan = df._jdf.queryExecution().executedPlan().toString()
assert not re.search(
    r"Exchange hashpartitioning\\((?:o_orderkey|l_orderkey)", plan
), plan[:600]
print("P2OK", len(rows), flush=True)
"""


def test_bucketed_layout_persists_across_processes(tmp_path):
    """The other half of verdict task #4: the one-time bucketed LAYOUT
    build survives restarts under the persistent catalog — a second
    process joins the tables with zero join-key exchanges WITHOUT
    rebuilding them."""
    import os
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_PERSIST_CATALOG="1",
        IMPALA_SPARK_WAREHOUSE=str(tmp_path / "wh"),
    )
    for script, marker in ((_PERSIST_BKT_P1, "P1OK"), (_PERSIST_BKT_P2, "P2OK")):
        out = subprocess.run(
            [sys.executable, "-c", script],
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
            cwd="/root/repo",
        )
        assert marker in out.stdout, (
            marker, out.stdout[-1500:], out.stderr[-4000:],
        )


def test_stats_persist_auto_attach_without_env(tmp_path):
    """r12 (verdict task #6): a fresh process over a warehouse that
    already carries the Derby metastore auto-attaches — stats-routed
    planning with NO env var. =0 opts back out; creating the metastore
    still requires the explicit opt-in."""
    import os
    import subprocess
    import sys

    base = dict(os.environ, IMPALA_SPARK_WAREHOUSE=str(tmp_path / "wh"))
    base.pop("SPARK_GRAFT_PERSIST_CATALOG", None)
    runs = [
        # create + promote (explicit opt-in, first process)
        (dict(base, SPARK_GRAFT_PERSIST_CATALOG="1"), "analyzed"),
        # fresh process, NO env var: auto-attach from the existing
        # metastore, no re-ANALYZE
        (base, "reattached"),
        # explicit opt-out over the same warehouse: session-local again
        (dict(base, SPARK_GRAFT_PERSIST_CATALOG="0"), "analyzed"),
    ]
    for env, want in runs:
        out = subprocess.run(
            [sys.executable, "-c", _PERSIST_SCRIPT.format(want_mode=want)],
            env=env,
            capture_output=True,
            text=True,
            timeout=420,
            cwd="/root/repo",
        )
        assert f"PROBE_OK {want} 25" in out.stdout, (
            want, out.stdout[-2000:], out.stderr[-4000:],
        )
