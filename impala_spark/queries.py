"""Operator showcase: every implemented operator as a (Spark query, DuckDB
oracle SQL) pair, keyed by SURVEY.md §2 rows.

Contract (driver): each Spark callable takes (spark, sf_dir) and returns a
DataFrame; the oracle SQL is ANSI SQL DuckDB runs on the same parquet
views. Column names and types are aligned on both sides (computed columns
explicitly aliased and cast) because the driver hash-compares values after
sorting columns by name.

Determinism rules used throughout:
- money/quantity sums go through DECIMAL(18,4) casts so partial-agg order
  cannot perturb the result; final outputs cast back to DOUBLE.
- any LIMIT/TopN query orders by a key suffix that makes the prefix unique.
- timestamps are emitted as 'yyyy-MM-dd HH:mm:ss' strings (session tz UTC).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import wraps

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from impala_spark import functions as ifn
from impala_spark import operators as ops
from impala_spark.engine import ImpalaEngine
from impala_spark.parser import translate
from impala_spark.session import (
    _dir_total_bytes,
    _state,
    live_states,
    posture_session,
    register_tables,
    table,
)

SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def register(name: str, oracle: str | None = None, family: str = "parallel"):
    """Register a DataFrame-built query; it is built anew on every call,
    in a session PINNED at the posture of its `family` for the fixture
    dir's bytes (posture_session). Most builders are LLM ops, the
    compute-parallel family: the shuffle-partition default rides their
    DataFrames, so interleaved relational builds cannot narrow it to 1
    (r8 ADVICE)."""

    def deco(fn):
        @wraps(fn)
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return fn(posture_session(spark, _dir_total_bytes(sf_dir), family), sf_dir)

        SPARK_QUERIES[name] = run
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


class _RegistryEngines:
    """The registry's engines: each session's state holds one per fixture
    dir (session._state(spark).engines), and every sql_query entry is a
    statement through its ImpalaEngine.sql — the front door's sizing,
    admission, per-statement posture, broadcast-hint gate and plan cache
    (a repeat runs as a NEW DataFrame over the cached analyzed plan;
    nothing of an earlier execution is reused). clear() drops the
    engines of every live session, so the next call plans afresh."""

    def clear(self) -> None:
        for st in live_states():
            st.engines.clear()


_PLAN_CACHE = _RegistryEngines()


def sql_query(name: str, impala_sql: str, oracle: str | None = None) -> None:
    """Register an Impala-dialect SQL query; oracle defaults to same text."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        engines = _state(spark).engines
        if sf_dir not in engines:
            engines[sf_dir] = ImpalaEngine(spark, sf_dir)
        return engines[sf_dir].sql(impala_sql)

    run.__name__ = f"q_{name}"
    run.__doc__ = impala_sql
    SPARK_QUERIES[name] = run
    ORACLE_SQL[name] = oracle if oracle is not None else impala_sql


# =====================================================================
# 1. Scan -> filter -> aggregate -> sort  (the flagship; TPC-H Q1 shape)
#    HdfsScanNode + AggregationNode + SortNode (SURVEY §2.2)
# =====================================================================

#: the oracle (and reference semantics): exact DECIMAL(18,4) money sums.
_PRICING_SUMMARY_DECIMAL = """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
      CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * (1 + CAST(l_tax AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_charge,
      ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""

# Spark-side kernel (r4 verdict task #4 escalation): Spark's DECIMAL sum
# leaves the compact-long representation for per-row Java BigDecimal once
# precision widens past 18 — measured ~20x DuckDB's int128 and 2x the
# whole query. The rewrite quantizes each measure to a SCALED LONG at scan
# (exactly the DECIMAL(18,4) quantization: round(x*1e4)), computes the
# products in long arithmetic (charge needs <= 1e17 < 2^63), and splits
# each partial sum into three base-1e6 digits so every SUM stays in long
# range up to ~9.2e12 rows PER GROUP — above the 100 TB design point
# (TPC-H sf100k: ~6e11 lineitem rows over 4 groups). The digits recombine
# exactly into DECIMAL(38,0) AFTER aggregation (merge-side widening), so
# the result is bit-identical to the decimal oracle (verified at sf0.01/
# sf1/sf10) while the hot loop is whole-stage-codegen long arithmetic:
# measured 2.05x faster than the decimal plan at sf1, 6.7x at sf10.
sql_query(
    "pricing_summary",
    """
    WITH q AS (
      SELECT l_returnflag, l_linestatus,
        CAST(l_quantity * 10000 + SIGN(l_quantity) * 0.5 AS BIGINT) AS qty4,
        CAST(l_extendedprice * 10000 + SIGN(l_extendedprice) * 0.5 AS BIGINT) AS ext4,
        CAST(l_discount * 10000 + SIGN(l_discount) * 0.5 AS BIGINT) AS disc4,
        CAST(l_tax * 10000 + SIGN(l_tax) * 0.5 AS BIGINT) AS tax4
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    ), p AS (
      SELECT l_returnflag, l_linestatus, qty4, ext4, disc4,
        ext4 * (10000 - disc4) AS dp8,
        ext4 * (10000 - disc4) * (10000 + tax4) AS ch12
      FROM q
    ), a AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        SUM(qty4 % 1000000) AS q0, SUM(qty4 DIV 1000000 % 1000000) AS q1, SUM(qty4 DIV 1000000000000) AS q2,
        SUM(ext4 % 1000000) AS e0, SUM(ext4 DIV 1000000 % 1000000) AS e1, SUM(ext4 DIV 1000000000000) AS e2,
        SUM(disc4 % 1000000) AS d0, SUM(disc4 DIV 1000000 % 1000000) AS d1, SUM(disc4 DIV 1000000000000) AS d2,
        SUM(dp8 % 1000000) AS p0, SUM(dp8 DIV 1000000 % 1000000) AS p1, SUM(dp8 DIV 1000000000000) AS p2,
        SUM(ch12 % 1000000) AS c0, SUM(ch12 DIV 1000000 % 1000000) AS c1, SUM(ch12 DIV 1000000000000) AS c2
      FROM p GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
      CAST(((CAST(q2 AS DECIMAL(38,0)) * 1000000 + q1) * 1000000 + q0) / 10000.0 AS DOUBLE) AS sum_qty,
      CAST(ROUND(((CAST(e2 AS DECIMAL(38,0)) * 1000000 + e1) * 1000000 + e0) / 10000, 2) AS DOUBLE) AS sum_base_price,
      CAST(ROUND(((CAST(p2 AS DECIMAL(38,0)) * 1000000 + p1) * 1000000 + p0) / 100000000, 2) AS DOUBLE) AS sum_disc_price,
      CAST(ROUND(((CAST(c2 AS DECIMAL(38,0)) * 1000000 + c1) * 1000000 + c0) / 1000000000000, 2) AS DOUBLE) AS sum_charge,
      ROUND(CAST(((CAST(q2 AS DECIMAL(38,0)) * 1000000 + q1) * 1000000 + q0) / 10000.0 AS DOUBLE) / n, 6) AS avg_qty,
      ROUND(CAST(((CAST(e2 AS DECIMAL(38,0)) * 1000000 + e1) * 1000000 + e0) / 10000.0 AS DOUBLE) / n, 6) AS avg_price,
      ROUND(CAST(((CAST(d2 AS DECIMAL(38,0)) * 1000000 + d1) * 1000000 + d0) / 10000.0 AS DOUBLE) / n, 6) AS avg_disc,
      CAST(n AS BIGINT) AS count_order
    FROM a ORDER BY l_returnflag, l_linestatus
    """,
    oracle=_PRICING_SUMMARY_DECIMAL,
)

# =====================================================================
# 2. Core relational operators (SURVEY §2.2 rows 17-19, 23, 25-27)
# =====================================================================

# SelectNode — residual filter; pushed to the parquet scan by Catalyst.
sql_query(
    "filter_predicates",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus <> 'F'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)

# Projection / column pruning.
sql_query(
    "projection",
    "SELECT c_custkey, upper(c_name) AS name_upper, c_acctbal FROM customer",
)

# EmptySetNode: WHERE FALSE -> 0 rows (PropagateEmptyRelation).
sql_query(
    "empty_set_where_false",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE 1 = 0",
)

# limit 0 variant.
sql_query("empty_set_limit0", "SELECT o_orderkey FROM orders LIMIT 0")


# SortNode with TopN (limit+offset) — TakeOrderedAndProject.
@register(
    "topn_limit_offset",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 5
    """,
)
def q_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return ops.topn(
        orders.select("o_orderkey", "o_totalprice"),
        [("o_totalprice", "desc"), ("o_orderkey", "asc")],
        limit=15,
        offset=5,
    )


# Total sort with Impala NULL ordering (nulls injected via nullif).
sql_query(
    "sort_null_ordering",
    """
    SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    ORDER BY seg ASC, c_custkey LIMIT 25
    """,
    oracle="""
    SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    ORDER BY seg ASC NULLS LAST, c_custkey LIMIT 25
    """,
)

# UnionNode: n-ary UNION ALL with constant operands (ValuesStmt shape).
sql_query(
    "union_all",
    """
    SELECT n_name AS name, 'nation' AS src FROM nation
    UNION ALL
    SELECT r_name AS name, 'region' AS src FROM region
    UNION ALL
    SELECT 'sentinel' AS name, 'const' AS src
    """,
)

sql_query(
    "union_distinct",
    """
    SELECT n_regionkey AS k FROM nation
    UNION
    SELECT r_regionkey AS k FROM region
    """,
)

# SELECT DISTINCT = group-by-all (AggregateInfo.createDistinct).
sql_query(
    "select_distinct",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)

# VALUES statement (analysis/ValuesStmt.java — a UNION ALL of const selects).
sql_query(
    "values_stmt",
    """
    SELECT CAST(id AS BIGINT) AS id, name FROM (
      VALUES (1, 'impala'), (2, 'spark'), (3, 'engine')
    ) AS v(id, name)
    """,
)

# WITH clause (non-recursive CTE, analysis/WithClause.java).
sql_query(
    "with_cte",
    """
    WITH big AS (SELECT * FROM orders WHERE o_totalprice > 200000),
         cnt AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM big GROUP BY o_custkey)
    SELECT CAST(n AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM cnt GROUP BY n ORDER BY n
    """,
)

# HAVING (post-aggregation filter, evaluated after the merge phase —
# DistributedPlanner.java:835).
sql_query(
    "group_by_having",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3 AND SUM(CAST(o_totalprice AS DECIMAL(18,4))) > 100000
    """,
)

# =====================================================================
# 3. Joins — all 10 operators (analysis/JoinOperator.java:23-36)
# =====================================================================

sql_query(
    "join_inner",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)


@register(
    "join_left_outer",
    """
    SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c LEFT OUTER JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 250000
    GROUP BY c.c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    j = ops.hash_join(c, o, c.c_custkey == o.o_custkey, "LEFT_OUTER")
    return j.groupBy("c_custkey").agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))


sql_query(
    "join_right_outer",
    """
    SELECT o.o_orderkey, c.c_name
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    RIGHT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 300000
    """,
)

sql_query(
    "join_full_outer",
    """
    SELECT k, CAST(COUNT(ln) AS BIGINT) AS n_left, CAST(COUNT(rn) AS BIGINT) AS n_right
    FROM (
      SELECT COALESCE(l.k, r.k) AS k, l.n_name AS ln, r.r_name AS rn
      FROM (SELECT n_regionkey AS k, n_name FROM nation WHERE n_regionkey <= 2) l
      FULL OUTER JOIN (SELECT r_regionkey AS k, r_name FROM region WHERE r_regionkey >= 2) r
        ON l.k = r.k
    ) t GROUP BY k
    """,
)


@register(
    "join_left_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 280000)
    """,
)
def q_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 280000)
    return ops.hash_join(
        c, o, c.c_custkey == o.o_custkey, "LEFT_SEMI"
    ).select("c_custkey", "c_name")


@register(
    "join_right_semi",
    """
    SELECT o_orderkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
    """,
)
def q_join_right_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RIGHT SEMI JOIN customer -> orders, planned as inverted LEFT SEMI
    # (planner/Planner.java:433-489).
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    o = table(spark, sf_dir, "orders")
    return ops.hash_join(c, o, c.c_custkey == o.o_custkey, "RIGHT_SEMI").select("o_orderkey")


@register(
    "join_left_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return ops.hash_join(c, o, c.c_custkey == o.o_custkey, "LEFT_ANTI").select(
        "c_custkey", "c_name"
    )


@register(
    "join_right_anti",
    """
    SELECT o_orderkey FROM orders
    WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
      AND o_custkey IS NOT NULL
    """,
)
def q_join_right_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return ops.hash_join(c, o, c.c_custkey == o.o_custkey, "RIGHT_ANTI").select("o_orderkey")


sql_query(
    "join_cross",
    """
    SELECT r_name, n_name FROM region CROSS JOIN nation
    WHERE r_regionkey <> n_regionkey
    """,
)

# NULL_AWARE_LEFT_ANTI (StmtRewriter.java:493-520) — NOT IN with NULLs on
# both sides. nullif() manufactures NULL keys deterministically.
_naa_oracle = """
    SELECT c_custkey FROM
      (SELECT c_custkey, nullif(c_nationkey, 13) AS k FROM customer) t
    WHERE k NOT IN (SELECT nullif(n_nationkey, 20) FROM nation WHERE n_regionkey <= 1)
"""
sql_query("null_aware_anti_sql", _naa_oracle)


@register("null_aware_anti_df", _naa_oracle)
def q_naa_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", F.expr("nullif(c_nationkey, 13)").alias("k")
    )
    n = table(spark, sf_dir, "nation").filter(F.col("n_regionkey") <= 1).select(
        F.expr("nullif(n_nationkey, 20)").alias("rk")
    )
    return ops.null_aware_anti_join(c, n, "k", "rk").select("c_custkey")


@register(
    "join_non_equi",
    """
    SELECT s.s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_richer_customers
    FROM supplier s JOIN customer c ON c.c_acctbal > s.s_acctbal + 4000
    GROUP BY s.s_suppkey
    """,
)
def q_join_non_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    j = ops.nested_loop_join(s, c, c.c_acctbal > s.s_acctbal + 4000)
    return j.groupBy("s_suppkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_richer_customers"))


# 3-way join with broadcast dimensions — the TPC-H Q5 shape; exercises the
# reference's broadcast-vs-partitioned decision (DistributedPlanner.java:420).
sql_query(
    "join_three_way",
    """
    SELECT r_name, n_name,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)

# Fact-to-fact join: lineitem x orders (shuffle join at scale).
sql_query(
    "join_fact_fact",
    # NOT converted to the scaled-long kernel: dominated by the join
    # exchanges, not the decimal term. Two pre-aggregation variants were
    # measured and REJECTED: lineitem-by-orderkey BEFORE the join (r5 at
    # sf10; re-measured r9 at sf30 — lost every interleaved rep, the
    # 45M-group hash agg costs more than it saves).
    # r9 SHIPPED variant: two-level aggregate AFTER the join. The
    # (o_orderpriority, o_orderkey) group-by rides the join's existing
    # hash partitioning on the order key (ClusteredDistribution is
    # satisfied — NO new exchange), so COUNT(DISTINCT)'s Expand x2 over
    # the joined rows (360M expanded at sf30) and its 44M-row mid
    # exchange both disappear; the final per-priority agg collapses
    # map-side to 5 rows/partition. Interleaved A/B (results identical):
    # sf30 114 -> 57 s median, new arm won EVERY rep (the smaller spill
    # surface is also far less steal-burst-sensitive); sf10 a wash
    # (+1%) — better at scale, equal small, the right trade for the
    # 100 TB design point.
    # r12: the per-order revenue sum is now the scaled-long kernel after
    # all — not for the quantize (the join still dominates) but for the
    # ACCUMULATOR: SUM(DECIMAL(18,4)) widens to DECIMAL(28,4), which
    # leaves Spark's compact-long decimal representation and pays a
    # per-row Java BigDecimal add across every joined lineitem row.
    # A per-order long sum is exact forever (<= ~7 lineitems/order, each
    # ext4 <= 1e9); the second level digit-splits exactly like
    # pricing_summary, safe to ~9.2e12 orders/priority (above sf100k).
    # Interleaved noop A/B at sf0.1: 4/5 clean pairs won, median
    # 1.128 -> 1.003 s (-11%); results hash-identical to the oracle.
    """
    WITH pa AS (
      SELECT o_orderpriority, o.o_orderkey,
             SUM(CAST(l_extendedprice * 10000 + SIGN(l_extendedprice) * 0.5 AS BIGINT)) AS e4
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'O'
      GROUP BY o_orderpriority, o.o_orderkey
    ), a AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             SUM(e4 % 1000000) AS s0, SUM(e4 DIV 1000000 % 1000000) AS s1,
             SUM(e4 DIV 1000000000000) AS s2
      FROM pa GROUP BY o_orderpriority
    )
    SELECT o_orderpriority,
           CAST(n AS BIGINT) AS n_orders,
           CAST(((CAST(s2 AS DECIMAL(38,0)) * 1000000 + s1) * 1000000 + s0) / 10000 AS DOUBLE) AS revenue
    FROM a ORDER BY o_orderpriority
    """,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)

# =====================================================================
# 4. Aggregates (catalog/BuiltinsDb.java:666-950)
# =====================================================================

sql_query(
    "agg_basic",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(l_quantity) AS BIGINT) AS cnt_nonnull,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity), 6) AS avg_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)

sql_query(
    "agg_count_distinct",
    # r9 rewrite: two distinct aggs + COUNT(*) made Catalyst EXPAND the
    # input 3x before the partial agg (135M intermediate rows at sf30).
    # Splitting the high-cardinality distinct into a two-level aggregate
    # — group by (status, custkey) first, then count the groups — and
    # joining the cheap low-cardinality distinct keeps every shuffle at
    # or below the input's distinct-pair count. Interleaved A/B at sf30
    # (results asserted identical): medians 7.6 vs 8.4 s in calm reps,
    # and 13.4 vs 40.1 s inside a contention burst — the smaller shuffle
    # footprint is strictly more robust, and at the 100 TB design point
    # the Expand tripling is exactly what a distributed plan must avoid.
    """
    WITH pc AS (
      SELECT o_orderstatus, o_custkey, COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus, o_custkey
    ), c AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(n) AS BIGINT) AS n_orders
      FROM pc GROUP BY o_orderstatus
    ), pr AS (
      SELECT o_orderstatus,
             CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities
      FROM orders GROUP BY o_orderstatus
    )
    SELECT c.o_orderstatus, c.n_customers, pr.n_priorities, c.n_orders
    FROM c JOIN pr ON c.o_orderstatus <=> pr.o_orderstatus
    """,
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)

# group_concat (BuiltinsDb.java:928-951) — sorted for determinism.
sql_query(
    "agg_group_concat",
    """
    SELECT n_regionkey,
           listagg(n_name, ', ') WITHIN GROUP (ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ', ' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)


# ndv (approximate — HLL differs from DuckDB's, so the checkable contract
# is the tolerance-boolean pattern: the oracle reproduces the exact count
# and a literal TRUE; Spark emits TRUE iff the estimate is within 5%).
@register(
    "agg_ndv",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custkey,
           TRUE AS ndv_ok
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_distinct("o_custkey").cast("bigint").alias("exact_custkey"),
        (
            F.abs(ifn.ndv("o_custkey", rsd=0.01) - F.count_distinct("o_custkey"))
            / F.count_distinct("o_custkey")
            < 0.05
        ).alias("ndv_ok"),
    )


# appx_median / histogram (approximate): emit the EXACT median (both
# engines interpolate linearly, so values match at round-2) plus
# tolerance booleans for the approximate estimates. The histogram array
# is reduced to a boolean — round 2's driver hasher crashed on raw
# array columns (CORRECTNESS_r02: unhashable numpy.ndarray).
@register(
    "agg_appx_median",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS median_exact,
           TRUE AS appx_ok,
           TRUE AS hist_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_appx_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    exact_q = [0.25, 0.5, 0.75]
    agg = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 2).alias("median_exact"),
        ifn.appx_median("l_extendedprice").alias("_appx"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("_ex_med"),
        ifn.histogram("l_quantity", 4).alias("_hist"),
        F.percentile("l_quantity", F.array(*[F.lit(q) for q in exact_q])).alias("_ex_hist"),
    )
    hist_err = F.zip_with(
        F.col("_hist").cast("array<double>"),
        F.col("_ex_hist"),
        lambda a, e: F.abs(a - e) / F.greatest(F.abs(e), F.lit(1.0)),
    )
    return agg.select(
        "l_returnflag",
        "median_exact",
        (F.abs(F.col("_appx") - F.col("_ex_med")) / F.col("_ex_med") < 0.01).alias("appx_ok"),
        (F.array_max(hist_err) < 0.05).alias("hist_ok"),
    )


sql_query(
    "agg_stddev_variance",
    # Float aggregates accumulate in engine-dependent order, so agreement
    # is only guaranteed to ~12-14 significant digits — fixed-decimal
    # rounding breaks once values outgrow it (variance ~2e10 at sf1.0
    # differed in the 15th digit). Contract: 9 SIGNIFICANT digits via the
    # constant-scale mantissa trick (Spark's ROUND scale must be foldable):
    # ROUND(x / 10^(floor(log10|x|)-8), 0) -> 9-digit integer mantissa.
    """
    SELECT o_orderstatus,
           CASE WHEN STDDEV_SAMP(o_totalprice) IS NULL THEN NULL
                WHEN STDDEV_SAMP(o_totalprice) = 0 THEN 0
                ELSE ROUND(STDDEV_SAMP(o_totalprice)
                     / POWER(10, FLOOR(LOG10(ABS(STDDEV_SAMP(o_totalprice)))) - 8), 0)
           END AS sd_samp,
           CASE WHEN STDDEV_POP(o_totalprice) IS NULL THEN NULL
                WHEN STDDEV_POP(o_totalprice) = 0 THEN 0
                ELSE ROUND(STDDEV_POP(o_totalprice)
                     / POWER(10, FLOOR(LOG10(ABS(STDDEV_POP(o_totalprice)))) - 8), 0)
           END AS sd_pop,
           CASE WHEN VAR_SAMP(o_totalprice) IS NULL THEN NULL
                WHEN VAR_SAMP(o_totalprice) = 0 THEN 0
                ELSE ROUND(VAR_SAMP(o_totalprice)
                     / POWER(10, FLOOR(LOG10(ABS(VAR_SAMP(o_totalprice)))) - 8), 0)
           END AS v_samp,
           CASE WHEN VAR_POP(o_totalprice) IS NULL THEN NULL
                WHEN VAR_POP(o_totalprice) = 0 THEN 0
                ELSE ROUND(VAR_POP(o_totalprice)
                     / POWER(10, FLOOR(LOG10(ABS(VAR_POP(o_totalprice)))) - 8), 0)
           END AS v_pop
    FROM orders GROUP BY o_orderstatus
    """,
)


# sample() reservoir aggregate — our stand-in is deterministic (first n
# values ascending), so DuckDB list ops give an exact oracle.
@register(
    "agg_sample",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list_sort(list(n_name))[1:3], ', ') AS sampled
    FROM nation GROUP BY n_regionkey
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(ifn.sample("n_name", 3).alias("sampled"))


# =====================================================================
# 5. Analytic functions (BuiltinsDb.java:953-1054, AnalyticWindow.java)
# =====================================================================

sql_query(
    "analytic_ranking",
    """
    SELECT c_custkey, c_nationkey,
           CAST(RANK()       OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS drnk,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn
    FROM customer
    """,
)

sql_query(
    "analytic_ntile_pct",
    """
    SELECT o_orderkey,
           CAST(NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           ROUND(CUME_DIST() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cume
    FROM orders WHERE o_totalprice > 300000
    """,
)

sql_query(
    "analytic_lag_lead",
    """
    SELECT o_orderkey,
           LAG(o_totalprice, 1, -1.0)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           LEAD(o_totalprice, 1, -1.0) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders WHERE o_custkey <= 50
    """,
)

# first_value / last_value with IGNORE NULLS (BuiltinsDb.java:984-1030);
# NULLs manufactured with nullif.
sql_query(
    "analytic_first_last",
    """
    SELECT o_orderkey,
           FIRST_VALUE(p) IGNORE NULLS OVER w AS first_p,
           LAST_VALUE(p)  IGNORE NULLS OVER w AS last_p
    FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                 nullif(o_totalprice, 0) AS p
          FROM orders WHERE o_custkey <= 30) t
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    oracle="""
    SELECT o_orderkey,
           FIRST_VALUE(p IGNORE NULLS) OVER w AS first_p,
           LAST_VALUE(p IGNORE NULLS) OVER w AS last_p
    FROM (SELECT o_orderkey, o_custkey, o_orderdate,
                 nullif(o_totalprice, 0) AS p
          FROM orders WHERE o_custkey <= 30) t
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)

# Explicit ROWS frame (AnalyticWindow.java:40-99).
sql_query(
    "analytic_rows_frame",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS neighborhood
    FROM orders WHERE o_custkey <= 40
    """,
)

# Default frame = RANGE UNBOUNDED PRECEDING..CURRENT ROW
# (AnalyticWindow.java:40-43) — running aggregate without explicit frame.
sql_query(
    "analytic_default_frame",
    """
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS DOUBLE) AS running_total
    FROM orders WHERE o_custkey <= 40
    """,
)


# Same analytic surface via the DataFrame Window API.
@register(
    "analytic_df_api",
    """
    SELECT c_custkey,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rn,
           ROUND(CAST(c_acctbal
                      - CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                             OVER (PARTITION BY c_nationkey) AS DOUBLE)
                        / COUNT(*) OVER (PARTITION BY c_nationkey)
                  AS DOUBLE), 4) AS bal_vs_nation
    FROM customer
    """,
)
def q_analytic_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    w_ord = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w_all = Window.partitionBy("c_nationkey")
    # tie-robust (r5 verdict #1): exact decimal SUM over the window, one
    # double division — window AVG(double) is accumulation-order-dependent
    # and ROUND(...,4) of a 2-decimal-grid mean can sit on an exact tie.
    nation_avg = (
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).over(w_all).cast("double")
        / F.count(F.lit(1)).over(w_all)
    )
    return c.select(
        "c_custkey",
        F.row_number().over(w_ord).cast("bigint").alias("rn"),
        F.round((F.col("c_acctbal") - nation_avg).cast("double"), 4).alias(
            "bal_vs_nation"
        ),
    )

# =====================================================================
# 6. Subqueries (analysis/StmtRewriter.java — rewrite table, SURVEY §4)
# =====================================================================

# uncorrelated scalar subquery
sql_query(
    "subquery_scalar",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > 2 * (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                                     / COUNT(*) FROM orders)
    """,
)

# correlated scalar-agg subquery -> LEFT OUTER join rewrite
# (StmtRewriter.java:374-393)
sql_query(
    "subquery_correlated_scalar",
    """
    SELECT c.c_custkey FROM customer c
    WHERE c.c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                / COUNT(*) + 2000 FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
)

# IN (subquery) -> LEFT SEMI (StmtRewriter.java:366)
sql_query(
    "subquery_in",
    """
    SELECT n_name FROM nation
    WHERE n_nationkey IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9000)
    """,
)

# NOT IN -> NULL_AWARE_LEFT_ANTI (StmtRewriter.java:493-515)
sql_query(
    "subquery_not_in",
    """
    SELECT n_name FROM nation
    WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer WHERE c_acctbal > 9500)
    """,
)

# correlated EXISTS -> LEFT SEMI (StmtRewriter.java:402-421)
sql_query(
    "subquery_exists",
    """
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
    """,
)

# correlated NOT EXISTS -> LEFT ANTI
sql_query(
    "subquery_not_exists",
    """
    SELECT p_partkey FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_discount < 0.01)
    """,
)

# =====================================================================
# 7. Expressions & predicates (SURVEY §2.3)
# =====================================================================

# CASE (simple + searched) and DECODE (null-safe =) — CaseExpr.java:37-60.
sql_query(
    "expr_case_decode",
    """
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished' ELSE 'partial' END AS status_simple,
           CASE WHEN o_totalprice >= 300000 THEN 'large' WHEN o_totalprice >= 100000 THEN 'medium' ELSE 'small' END AS size_searched,
           CASE WHEN nullif(o_orderpriority, '5-LOW') IS NOT DISTINCT FROM NULL THEN 'low' ELSE 'not-low' END AS prio_decoded
    FROM orders
    """,
)

# BETWEEN -> compound rewrite (rewrite/BetweenToCompoundRule.java:20-45).
sql_query(
    "expr_between",
    """
    SELECT l_orderkey, l_linenumber FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 15 AND l_shipdate NOT BETWEEN
      TIMESTAMP '1994-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
    """,
)

# IN value-list (InPredicate.java:49).
sql_query(
    "expr_in_list",
    """
    SELECT p_partkey, p_brand FROM part
    WHERE p_size IN (1, 5, 9, 14) AND p_brand NOT IN ('Brand#11', 'Brand#22')
    """,
)

# LIKE family (LikePredicate.java:35-39): LIKE / ILIKE / RLIKE / IREGEXP.
sql_query(
    "expr_like_family",
    """
    SELECT p_partkey,
           p_name LIKE '%gold%' AS has_gold,
           p_name ILIKE '%BLUE%' AS has_blue_ci,
           p_name REGEXP '^[a-f]' AS starts_af,
           p_name IREGEXP 'RED|GREEN' AS has_color_ci
    FROM part
    """,
    oracle="""
    SELECT p_partkey,
           p_name LIKE '%gold%' AS has_gold,
           p_name ILIKE '%BLUE%' AS has_blue_ci,
           regexp_matches(p_name, '^[a-f]') AS starts_af,
           regexp_matches(p_name, '(?i)RED|GREEN') AS has_color_ci
    FROM part
""",
)

# IS [NOT] DISTINCT FROM / null-safe equality (BinaryPredicate.java:53-64).
sql_query(
    "expr_null_safe_eq",
    """
    SELECT a.c_custkey,
           nullif(a.c_nationkey, 13) IS NOT DISTINCT FROM nullif(a.c_custkey % 25, 13) AS ns_eq,
           nullif(a.c_nationkey, 13) IS DISTINCT FROM NULL AS not_null_check
    FROM customer a
    """,
)

# IS NULL / IS NOT NULL + IsNotEmptyPredicate analog (size(col) > 0).
sql_query(
    "expr_is_null",
    """
    SELECT c_custkey, nullif(c_mktsegment, 'AUTOMOBILE') IS NULL AS seg_is_null,
           c_acctbal IS NOT NULL AS bal_not_null
    FROM customer
    """,
)

# CAST + implicit casts (CastExpr.java:41-101).
sql_query(
    "expr_casts",
    """
    SELECT o_orderkey,
           CAST(o_totalprice AS BIGINT) AS price_int,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING) AS price_str,
           CAST(o_orderkey AS DOUBLE) / 7 AS key_div,
           CAST(SUBSTR(CAST(o_orderdate AS STRING), 1, 4) AS INT) AS year_from_str
    FROM orders WHERE o_orderkey <= 500
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(trunc(o_totalprice) AS BIGINT) AS price_int,
           CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS price_str,
           CAST(o_orderkey AS DOUBLE) / 7 AS key_div,
           CAST(SUBSTR(CAST(o_orderdate AS VARCHAR), 1, 4) AS INT) AS year_from_str
    FROM orders WHERE o_orderkey <= 500
    """,
)

# Arithmetic incl. DIV, %, bitwise (ArithmeticExpr.java:40-50).
sql_query(
    "expr_arithmetic",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey DIV 7 AS BIGINT) AS int_div,
           CAST(l_orderkey % 7 AS BIGINT) AS modulo,
           CAST(l_orderkey & 255 AS BIGINT) AS bit_and,
           CAST(l_orderkey | 16 AS BIGINT) AS bit_or,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * CAST(0.01 AS DECIMAL(6,4)), 4) AS DOUBLE) AS unit_net
    FROM lineitem WHERE l_orderkey <= 300
    """,
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey // 7 AS BIGINT) AS int_div,
           CAST(l_orderkey % 7 AS BIGINT) AS modulo,
           CAST(l_orderkey & 255 AS BIGINT) AS bit_and,
           CAST(l_orderkey | 16 AS BIGINT) AS bit_or,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4))) * CAST(0.01 AS DECIMAL(6,4)), 4) AS DOUBLE) AS unit_net
    FROM lineitem WHERE l_orderkey <= 300
    """,
)

# String builtins (ScalarBuiltins; Impala is 1-indexed substr/instr/locate).
sql_query(
    "expr_string_funcs",
    """
    SELECT c_custkey,
           CONCAT(c_name, '-', c_mktsegment) AS joined,
           SUBSTR(c_name, 1, 8) AS prefix,
           CAST(INSTR(c_name, '0') AS BIGINT) AS zero_pos,
           UPPER(c_mktsegment) AS seg_up, LOWER(c_name) AS name_lo,
           CAST(LENGTH(c_name) AS BIGINT) AS name_len,
           TRIM(CONCAT('  ', c_mktsegment, ' ')) AS trimmed,
           LPAD(CAST(c_custkey AS STRING), 8, '0') AS padded,
           REVERSE(c_mktsegment) AS rev,
           REGEXP_REPLACE(c_name, '[0-9]+', '#') AS digits_masked,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS first_digits,
           REPLACE(c_mktsegment, 'MACH', 'mach') AS replaced
    FROM customer
    """,
    oracle="""
    SELECT c_custkey,
           CONCAT(c_name, '-', c_mktsegment) AS joined,
           SUBSTR(c_name, 1, 8) AS prefix,
           CAST(INSTR(c_name, '0') AS BIGINT) AS zero_pos,
           UPPER(c_mktsegment) AS seg_up, LOWER(c_name) AS name_lo,
           CAST(LENGTH(c_name) AS BIGINT) AS name_len,
           TRIM('  ' || c_mktsegment || ' ') AS trimmed,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS padded,
           REVERSE(c_mktsegment) AS rev,
           REGEXP_REPLACE(c_name, '[0-9]+', '#', 'g') AS digits_masked,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS first_digits,
           REPLACE(c_mktsegment, 'MACH', 'mach') AS replaced
    FROM customer
    """,
)

# Math builtins.
sql_query(
    "expr_math_funcs",
    """
    SELECT o_orderkey,
           ABS(-o_totalprice) AS abs_v,
           CAST(CEIL(o_totalprice) AS BIGINT) AS ceil_v,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS floor_v,
           ROUND(o_totalprice, 1) AS round_v,
           ROUND(SQRT(o_totalprice), 6) AS sqrt_v,
           ROUND(POW(o_totalprice, 0.25), 6) AS pow_v,
           ROUND(LN(o_totalprice), 6) AS ln_v,
           ROUND(LOG10(o_totalprice), 6) AS log10_v,
           CAST(SIGN(o_totalprice - 200000) AS DOUBLE) AS sign_v,
           GREATEST(o_totalprice, 250000.0) AS greatest_v,
           LEAST(o_totalprice, 250000.0) AS least_v,
           CAST(MOD(o_orderkey, 13) AS BIGINT) AS mod_v
    FROM orders WHERE o_orderkey <= 400
    """,
)

# Timestamp arithmetic + EXTRACT (TimestampArithmeticExpr.java:30-60,
# ExtractFromExpr.java:28-52).
sql_query(
    "expr_date_funcs",
    """
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(MONTH(o_orderdate) AS BIGINT) AS m,
           CAST(DAY(o_orderdate) AS BIGINT) AS d,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS ext_year,
           CAST(o_orderdate + INTERVAL 30 DAY AS STRING) AS plus_30d,
           CAST(o_orderdate - INTERVAL 2 MONTH AS STRING) AS minus_2mo,
           CAST(DATE_TRUNC('MONTH', o_orderdate) AS STRING) AS month_start,
           CAST(DATEDIFF(TIMESTAMP '1998-12-01 00:00:00', o_orderdate) AS BIGINT) AS days_to_cutoff,
           DATE_FORMAT(o_orderdate, 'yyyy-MM') AS ym
    FROM orders WHERE o_orderkey <= 400
    """,
    oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(MONTH(o_orderdate) AS BIGINT) AS m,
           CAST(DAY(o_orderdate) AS BIGINT) AS d,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS ext_year,
           strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d %H:%M:%S') AS plus_30d,
           strftime(o_orderdate - INTERVAL 2 MONTH, '%Y-%m-%d %H:%M:%S') AS minus_2mo,
           strftime(DATE_TRUNC('MONTH', o_orderdate), '%Y-%m-%d %H:%M:%S') AS month_start,
           CAST(DATEDIFF('day', o_orderdate, TIMESTAMP '1998-12-01 00:00:00') AS BIGINT) AS days_to_cutoff,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders WHERE o_orderkey <= 400
    """,
)

# Conditional builtins: if/nvl/coalesce/nullif/zeroifnull
# (Impala conditional functions; translated by parser.py).
sql_query(
    "expr_conditional",
    """
    SELECT c_custkey,
           IF(c_acctbal > 5000, 'high', 'low') AS bal_class,
           NVL(nullif(c_mktsegment, 'BUILDING'), 'none') AS seg_nvl,
           COALESCE(nullif(c_mktsegment, 'BUILDING'), nullif(c_mktsegment, 'AUTOMOBILE'), 'both') AS seg_coal,
           CAST(ZEROIFNULL(nullif(c_nationkey, 13)) AS BIGINT) AS nation_z,
           CAST(NULLIFZERO(c_nationkey % 5) AS BIGINT) AS mod5_nz,
           ISNULL(nullif(c_mktsegment, 'BUILDING'), 'was-building') AS seg_isnull
    FROM customer
    """,
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal > 5000 THEN 'high' ELSE 'low' END AS bal_class,
           COALESCE(nullif(c_mktsegment, 'BUILDING'), 'none') AS seg_nvl,
           COALESCE(nullif(c_mktsegment, 'BUILDING'), nullif(c_mktsegment, 'AUTOMOBILE'), 'both') AS seg_coal,
           CAST(COALESCE(nullif(c_nationkey, 13), 0) AS BIGINT) AS nation_z,
           CAST(NULLIF(c_nationkey % 5, 0) AS BIGINT) AS mod5_nz,
           COALESCE(nullif(c_mktsegment, 'BUILDING'), 'was-building') AS seg_isnull
    FROM customer
""",
)

# Impala boolean-operator aliases && / || / ! (sql-scanner.flex:56).
sql_query(
    "expr_bool_aliases",
    """
    SELECT o_orderkey FROM orders
    WHERE (o_totalprice > 300000 && o_orderstatus = 'O')
       || (! (o_orderpriority != '1-URGENT') && o_totalprice < 50000)
    """,
    oracle="""
    SELECT o_orderkey FROM orders
    WHERE (o_totalprice > 300000 AND o_orderstatus = 'O')
       OR (NOT (o_orderpriority != '1-URGENT') AND o_totalprice < 50000)
""",
)

# Nested collections: Unnest/Subplan — posexplode over array<float>
# (planner/UnnestNode.java; Impala `item`/`pos` path fields).
@register(
    "nested_unnest_pos",
    """
    SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS item
    FROM embeddings WHERE vec_id < 20
    """,
)
def q_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    un = ops.unnest(e.select("vec_id", "embedding"), "embedding")
    return un.select(
        "vec_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.round(F.col("item").cast("double"), 6).alias("item"),
    )


# IsNotEmptyPredicate analog: size(col) > 0 (IsNotEmptyPredicate.java:25-34).
sql_query(
    "nested_is_not_empty",
    """
    SELECT vec_id, SIZE(embedding) > 0 AS non_empty,
           CAST(SIZE(embedding) AS BIGINT) AS dim
    FROM embeddings WHERE vec_id < 50
    """,
    oracle="""
    SELECT vec_id, len(embedding) > 0 AS non_empty,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings WHERE vec_id < 50
    """,
)

# =====================================================================
# 8. LLM-pipeline operators (llm_ops.py; north-star additions)
# =====================================================================

from impala_spark import llm_ops  # noqa: E402
from impala_spark import streaming as stm  # noqa: E402


@register(
    "llm_text_stats",
    """
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS char_len,
           CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT) AS token_count,
           ROUND(LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g')) /
                 GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
           ROUND(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) /
                 GREATEST(LENGTH(text), 1), 6) AS digit_ratio
    FROM documents
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.text_stats(d).select(
        "doc_id", "char_len", "token_count", "punct_ratio", "digit_ratio"
    )


@register(
    "llm_fingerprint",
    """
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.fingerprint(d).select("doc_id", "fp")


@register(
    "llm_dedup_exact",
    """
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.dedup_exact(d)


# Heuristic language ID — same stopword logic on both sides.
@register(
    "llm_language_id",
    """
    WITH scored AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|in|is|that|for|with|was|are)\\b')) AS en,
        len(regexp_extract_all(text, '(?i)\\b(el|la|los|las|de|que|en|es|por|con|una?)\\b')) AS es,
        len(regexp_extract_all(text, '(?i)\\b(le|la|les|des|de|que|est|une?|dans|pour|avec)\\b')) AS fr
      FROM documents)
    SELECT doc_id,
           CASE WHEN en >= es AND en >= fr AND en > 0 THEN 'en'
                WHEN es >= fr AND es > 0 THEN 'es'
                WHEN fr > 0 THEN 'fr'
                ELSE 'unknown' END AS lang_pred
    FROM scored
    """,
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.language_id(d).select("doc_id", "lang_pred")


# Quality score (rows-only: composite heuristic, not worth re-deriving in SQL).
@register(
    "llm_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS token_count,
             ROUND(len(regexp_replace(text, '[^.!?,;:]', '', 'g')) * 1.0 / greatest(len(text), 1), 6) AS punct_ratio,
             len(regexp_extract_all(text, '(?i)\\b(the|and|of|to|in|is|that|for|with|was|are)\\b')) AS stop_hits
      FROM documents
    )
    SELECT doc_id, token_count,
           ROUND(0.4 * least(token_count / 50.0, 1.0)
               + 0.3 * (1.0 - least(punct_ratio * 5, 1.0))
               + 0.3 * least(stop_hits * 3.0 / greatest(token_count, 1), 1.0), 6) AS quality_score
    FROM t
    """,
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.quality_score(d).select("doc_id", "token_count", "quality_score")


# Shared DuckDB CTE mirroring llm_ops.shingles (lower, strip
# non-alphanumerics, split on whitespace, k=3 word shingles, distinct,
# drop empties). Candidate pairs come from a shared-shingle equi-join —
# the oracle mirrors the engine's bucketed (never all-pairs) shape.
_DUCK_SHINGLES = r"""
    WITH w AS (
      SELECT doc_id,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+') AS words
      FROM documents
    ), s AS (
      SELECT doc_id,
        list_filter(list_distinct(
          list_transform(range(1, greatest(len(words)-2, 0)+1),
                         i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
        ), x -> x <> '') AS sh
      FROM w
    ), e AS (
      SELECT doc_id, unnest(sh) AS g FROM s
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
    )
"""

_DUCK_JACCARD_PAIRS = (
    _DUCK_SHINGLES
    + """
    SELECT c.a_id, c.b_id,
      ROUND(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))), 6) AS jaccard
    FROM cand c JOIN s sa ON sa.doc_id = c.a_id JOIN s sb ON sb.doc_id = c.b_id
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
"""
)


# MinHash-LSH near-dup pairs, exact-rescored: banded LSH candidate
# generation (the 100 TB path) + exact shingle-Jaccard verification, so
# the answer is deterministic ground truth checkable against the exact
# oracle. At this fixture's near-dup band (all true pairs >= 0.9 Jaccard,
# next pair down is 0.11) a missed pair needs (1-s^2)^16 < 1e-11 — the
# banded join's recall is exactly 1.0 here, and hashes are seeded, so the
# result is stable across runs. Plan asserted cartesian-free in tests.
@register("llm_minhash_lsh", oracle=_DUCK_JACCARD_PAIRS)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.minhash_lsh_pairs_exact(d, threshold=0.5)


#: doc COVERAGE of the bounded pair contract: the docs its pairs touch
#: must be exactly the docs involved in ANY exact qualifying pair (the
#: chain links every bucket member; skip links at neighbors_per_doc=2
#: tolerate an isolated false candidate). The PAIR SET is a deliberate
#: subset — quadratic enumeration is the hazard being bounded — so the
#: oracle checks coverage, the invariant dedup_clusters depends on.
_DUCK_DUP_DOC_COVERAGE = (
    _DUCK_SHINGLES
    + """
    , p AS (
      SELECT c.a_id, c.b_id
      FROM cand c JOIN s sa ON sa.doc_id = c.a_id
                  JOIN s sb ON sb.doc_id = c.b_id
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id, TRUE AS in_near_dup
    FROM (SELECT a_id AS doc_id FROM p
          UNION SELECT b_id AS doc_id FROM p) u
"""
)


@register("llm_minhash_bounded", oracle=_DUCK_DUP_DOC_COVERAGE)
def q_minhash_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: skew-safe near-dup pairs — per band bucket each doc links
    only to its next 2 bucket-mates (window LEAD, no self-join), so the
    candidate AND output volume is linear in corpus size even under
    extreme duplication (the all-pairs contract measured quadratic at
    500k docs, r11). Oracle checks doc coverage: the bounded pairs must
    touch exactly the docs the exact contract pairs touch."""
    d = table(spark, sf_dir, "documents")
    pairs = llm_ops.minhash_lsh_pairs_bounded(
        d, threshold=0.5, neighbors_per_doc=2
    )
    return (
        pairs.select(
            F.explode(F.array("a_id", "b_id")).alias("doc_id")
        )
        .distinct()
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.lit(True).alias("in_near_dup"),
        )
    )


# SimHash consistency: signatures are engine-defined (xxhash64 mixes), so
# the checkable contract is the invariant that defines correctness —
# exact duplicates (same normalized text, same md5 both engines agree on)
# MUST collide to one simhash value. The fixture has no exact dups at
# sf0.01, so the query unions a shifted copy of the corpus: every
# distinct normalized text becomes a dup group whose simhashes must all
# agree. This also pins md5-normalization parity between engines.
@register(
    "llm_simhash",
    oracle="""
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(2 * count(*) AS BIGINT) AS n_docs,
           TRUE AS simhash_consistent
    FROM documents
    GROUP BY 1
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 1000000))
    sh = llm_ops.simhash(llm_ops.fingerprint(corpus))
    return (
        sh.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.count_distinct("simhash") == 1).alias("simhash_consistent"),
        )
        .filter(F.col("n_docs") > 1)
    )


# n-gram Jaccard near-dup pairs — exact PPJoin (prefix filter is lossless;
# max_df=None disables the skew guard so there is zero recall loss) vs the
# exact shared-shingle oracle.
@register("llm_ngram_jaccard", oracle=_DUCK_JACCARD_PAIRS)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.ngram_jaccard_pairs(d, threshold=0.5, max_df=None)


# Brute-force cosine top-k vs the vec_id=1 query vector — oracle does the
# identical double math via UNNEST + join (no float library funcs).
@register(
    "llm_ann_bruteforce",
    """
    WITH q AS (
      SELECT generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id = 1
    ), c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS y
      FROM embeddings
    ), dots AS (
      SELECT c.vec_id,
             SUM(c.y * q.x) AS dot,
             SQRT(SUM(c.y * c.y)) AS ny,
             SQRT(SUM(q.x * q.x)) AS nx
      FROM c JOIN q ON c.pos = q.pos
      GROUP BY c.vec_id
    )
    SELECT vec_id, ROUND(dot / (ny * nx), 4) AS cos_sim
    FROM dots
    ORDER BY dot / (ny * nx) DESC, vec_id
    LIMIT 10
    """,
)
def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 1)
    out = llm_ops.cosine_topk_bruteforce(e, query, k=10)
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))


# LSH-bucketed ANN. Approximate by construction, so the checkable
# contract is the tolerance pattern: this VERIFICATION query compares the
# ANN answer to the exact top-k (both DataFrame-only, no collect) and
# emits (n_results, recall_ok); the oracle reproduces both from the spec.
# The production operator (llm_ops.lsh_bucketed_ann) never runs the
# brute-force side — that scan belongs to this harness only. Measured
# recall@10 at sf0.01 with planes=4/H1 probing: 0.8 (deterministic
# seeded hyperplanes); bound set at 0.5 for margin.
@register(
    "llm_ann_lsh",
    oracle="""
    SELECT CAST(LEAST(10, count(*)) AS BIGINT) AS n_results, TRUE AS recall_ok
    FROM embeddings
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    query = e.filter(F.col("vec_id") == 1)
    ann = llm_ops.lsh_bucketed_ann(e, query, k=10, planes=4)
    brute = llm_ops.cosine_topk_bruteforce(e, query, k=10)
    n = ann.agg(F.count(F.lit(1)).cast("bigint").alias("n_results"))
    overlap = (
        ann.select("vec_id")
        .join(brute.select("vec_id"), "vec_id")
        .agg((F.count(F.lit(1)) >= 5).alias("recall_ok"))
    )
    return n.crossJoin(overlap)


# Embedding metadata/norms — multimodal array<float> handling.
@register(
    "llm_embedding_stats",
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           ROUND(SQRT(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
    FROM embeddings WHERE vec_id < 100
    """,
)
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    v = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        "label",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(
            F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
            4,
        ).alias("l2_norm"),
    )


# Multimodal plumbing: binary payload -> mapInPandas feature extraction.
# The deterministic fake derives feat_dim from payload byte length, which
# DuckDB reproduces as octet_length(encode(text)) — an exact end-to-end
# check of the Arrow batch plumbing (schema, null payloads, batch shape).
@register(
    "llm_multimodal_features",
    oracle="""
    SELECT doc_id, 'text' AS modality,
           CAST(octet_length(encode(text)) % 512 AS INT) AS feat_dim
    FROM documents WHERE doc_id < 100
    """,
)
def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    payload = d.select(
        "doc_id",
        F.lit("text").alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    feats = llm_ops.extract_media_features(payload)
    # feat_hash (md5-derived) is stable too but kept out: the driver's
    # DuckDB side has no clean hex->int64 of a blob digest.
    return feats.select("doc_id", "modality", "feat_dim")


# =====================================================================
# 9. Events/streaming surface (streaming.py; north-star additions)
# =====================================================================


@register(
    "events_tumbling_window",
    """
    SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return stm.tumbling_counts(e)


# Sliding windows: DuckDB has no hop-window surface, but with width=2*slide
# every event lands in exactly two windows — bucket(ts) and bucket(ts)-slide —
# so a UNION ALL of the two shifted tumbling buckets is an exact oracle.
@register(
    "events_sliding_window",
    oracle="""
    WITH cand AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE, event_type FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM cand GROUP BY ws, event_type
    """,
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return stm.sliding_counts(e)


# Session windows: oracle reconstructs Spark's session_window semantics
# (session = run of events with gaps <= 15 min; end = last_ts + gap) with
# a lag/cumsum break detector.
@register(
    "events_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 15 MINUTE THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 15 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS session_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return stm.session_windows(e)


@register(
    "events_first_per_user",
    """
    SELECT user_id, event_type,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
           CAST(first(event_id ORDER BY ts, event_id) AS BIGINT) AS first_event_id
    FROM events GROUP BY user_id, event_type
    """,
)
def q_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return stm.first_event_per_user_type(e)


@register(
    "events_dedup",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_unique FROM
      (SELECT DISTINCT event_id FROM events) t
    """,
)
def q_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return stm.dedup_events(e).agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))


@register(
    "events_user_state",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           last(value ORDER BY ts, event_id) AS last_value
    FROM events GROUP BY user_id
    """,
)
def q_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return stm.running_user_state(e)


# =====================================================================
# 10. DDL / writes (ddl.py) — write -> read-back, oracle = equivalent SELECT
# =====================================================================

from impala_spark import ddl  # noqa: E402


@register(
    "ddl_ctas_readback",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
    """,
)
def q_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    ddl.create_table_as_select(
        spark,
        "ctas_open_orders",
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority
        """,
    )
    return spark.table("ctas_open_orders")


@register(
    "ddl_insert_overwrite_partition",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 'F2' ELSE o_orderstatus END AS o_orderstatus
      FROM orders
    ) t GROUP BY o_orderstatus
    """,
)
def q_insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    # partitioned CTAS, then dynamic-partition overwrite of one partition
    ddl.create_table_as_select(
        spark,
        "orders_part",
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
        partition_cols=["o_orderstatus"],
    )
    ddl.insert(
        spark,
        "orders_part",
        "SELECT o_orderkey, o_totalprice, 'F2' AS o_orderstatus FROM orders WHERE o_orderstatus = 'F'",
        overwrite=True,
    )
    # remove the replaced partition to mimic INSERT OVERWRITE PARTITION('F')
    ddl.modify(spark, "DELETE FROM orders_part WHERE o_orderstatus = 'F'")
    return spark.table("orders_part").groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@register(
    "ddl_update_delete",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CASE WHEN c_mktsegment = 'PROMOTED' THEN c_acctbal * 1.1
                              ELSE c_acctbal END AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM (
      SELECT CASE WHEN c_acctbal > 8000 THEN 'PROMOTED' ELSE c_mktsegment END AS c_mktsegment,
             c_acctbal
      FROM customer WHERE NOT (c_acctbal < 0)
    ) t
    """,
)
def q_update_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    ddl.create_table_as_select(spark, "cust_mut", "SELECT * FROM customer", primary_key=["c_custkey"])
    # UPDATE ... SET two columns with WHERE (ModifyStmt semantics)
    ddl.modify(
        spark,
        "UPDATE cust_mut SET c_mktsegment = 'PROMOTED', c_acctbal = c_acctbal * 1.1 WHERE c_acctbal > 8000",
    )
    ddl.modify(spark, "DELETE FROM cust_mut WHERE c_acctbal < 0")
    return spark.table("cust_mut").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias("total_bal"),
    )


@register(
    "ddl_upsert",
    """
    WITH target AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
         source AS (SELECT n_nationkey, 'RENAMED' AS n_name, n_regionkey FROM nation WHERE n_nationkey < 5
                    UNION ALL SELECT 99, 'NEWLAND', 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN n_name = 'RENAMED' THEN 1 ELSE 0 END) AS BIGINT) AS n_renamed
    FROM (
      SELECT t.n_nationkey, COALESCE(s.n_name, t.n_name) AS n_name
      FROM target t LEFT JOIN source s ON t.n_nationkey = s.n_nationkey
      UNION ALL
      SELECT s.n_nationkey, s.n_name FROM source s
      WHERE s.n_nationkey NOT IN (SELECT n_nationkey FROM target)
    ) merged
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    ddl.create_table_as_select(
        spark, "nation_mut", "SELECT n_nationkey, n_name, n_regionkey FROM nation",
        primary_key=["n_nationkey"],
    )
    src = spark.sql(
        """
        SELECT n_nationkey, 'RENAMED' AS n_name, n_regionkey FROM nation WHERE n_nationkey < 5
        UNION ALL SELECT CAST(99 AS INT), 'NEWLAND', CAST(0 AS INT)
        """
    )
    ddl.upsert(spark, "nation_mut", src)
    return spark.table("nation_mut").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("n_name") == "RENAMED", 1).otherwise(0)).cast("bigint").alias("n_renamed"),
    )


@register(
    "ddl_truncate",
    "SELECT CAST(0 AS BIGINT) AS n",
)
def q_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    ddl.create_table_as_select(spark, "trunc_me", "SELECT * FROM region")
    ddl.truncate(spark, "TRUNCATE TABLE trunc_me")
    return spark.table("trunc_me").agg(F.count(F.lit(1)).cast("bigint").alias("n"))


# =====================================================================
# 11. Metadata / statement surfaces (engine.py facade)
#     COMPUTE STATS, LOAD DATA, SHOW/DESCRIBE, SET/USE, EXPLAIN, UDF/UDA
#     (service/Frontend.java statement dispatch; SURVEY §2.1 rows 9-14, 62)
# =====================================================================

from impala_spark.functions import register_udfs  # noqa: E402


@register(
    "meta_compute_stats",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS row_count,
           CAST(COUNT(DISTINCT n_regionkey) AS BIGINT) AS ndv_n_regionkey
    FROM nation
    """,
)
def q_compute_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPUTE STATS nation -> row count + per-column NDV child queries
    (reference analysis/ComputeStatsStmt.java:218-242). Only exact-at-this-
    cardinality NDVs are compared (HLL is approximate by contract)."""
    eng = ImpalaEngine(spark, sf_dir)
    stats = eng.sql("COMPUTE STATS nation")
    return stats.select(
        F.col("row_count").cast("bigint"),
        F.col("ndv_n_regionkey").cast("bigint"),
    )


#: plain multi-DISTINCT aggregate — the engine-level two-phase rewrite
#: showcase (rewrites.two_level_distinct; A/AggregateInfo.java:42-60).
_PLAIN_MULTI_DISTINCT = """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderstatus
"""


@register("agg_multi_distinct_rewrite", oracle=_PLAIN_MULTI_DISTINCT, family="relational")
def q_multi_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The generalized two-phase multi-DISTINCT rewrite (r10;
    rewrites.two_level_distinct — the reference's AggregateInfo.java:
    42-60 shape on plain user SQL), driver-verified: the rewritten text
    must match the PLAIN text's oracle exactly, and its executed plan
    must contain no Expand (Catalyst's default for >=2 distinct groups
    replicates the input one copy per group — the thing a 100 TB plan
    must avoid). engine.sql applies this above 1 GiB of input; here the
    rewrite is invoked directly so the equivalence is pinned at the
    driver's scale too."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_PLAIN_MULTI_DISTINCT)
    assert rw is not None, "rewrite must fire on two distinct groups"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: plain, hint-free TPC-H Q3 (fixture dialect) — the stats-path showcase.
#: Rounded + string-cast outputs and a full tiebreak make the top-10
#: deterministic across engines (registry float-compare conventions).
_PLAIN_Q3_STATS = """
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2)
                AS DOUBLE) AS revenue,
           CAST(o_orderdate AS STRING) AS o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
"""


@register("meta_stats_cbo_plain_q3", oracle=_PLAIN_Q3_STATS)
def q_stats_cbo_plain_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPUTE STATS -> stats-costed CBO planning of PLAIN user SQL,
    end-to-end through engine.sql() (r10; the reference's coupling:
    A/ComputeStatsStmt.java feeds P/DistributedPlanner.java:420-536's
    cost model). No hints anywhere: after promotion the statement plans
    in the CBO stats session — broadcast of the filtered build sides
    from row-count estimates, plan-asserted no CartesianProduct — and
    must match the same SQL on DuckDB."""
    eng = ImpalaEngine(spark, sf_dir)
    for t in ("customer", "orders", "lineitem"):
        eng.sql(f"COMPUTE STATS {t}")
    df = eng.sql(_PLAIN_Q3_STATS)
    # routed to the stats session (silent demotion would hide the path)
    assert df.sparkSession is not spark, "stats routing did not engage"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:800]
    return df


#: the DuckDB equivalent computes the derived table inline (the oracle
#: engine has no CTAS side effects); column names match the Spark side.
_CTAS_STATS_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
    FROM (SELECT c_custkey, c_nationkey FROM customer
          WHERE c_mktsegment = 'BUILDING') bldg_stats_ctas
    JOIN orders ON c_custkey = o_custkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register("meta_stats_cbo_ctas", oracle=_CTAS_STATS_ORACLE)
def q_stats_cbo_ctas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPUTE STATS on an ENGINE-CREATED table (r11; the reference's
    ComputeStatsStmt works on ANY catalog table, A/ComputeStatsStmt.java:
    218-242): CTAS output + a promoted fixture plan together in the CBO
    stats session — plain SQL, no hints, plan-asserted broadcast of the
    (stats-known, small) derived side. Derived tables are exactly where
    stats matter most: they have none by construction, so without this
    path their joins keep Catalyst's stats-less left-deep plans."""
    from impala_spark.engine import ImpalaEngine as _Eng

    eng = _Eng(spark, sf_dir)
    eng.sql(
        "CREATE TABLE bldg_stats_ctas AS SELECT c_custkey, c_nationkey"
        " FROM customer WHERE c_mktsegment = 'BUILDING'"
    )
    eng.sql("COMPUTE STATS bldg_stats_ctas")
    eng.sql("COMPUTE STATS orders")
    df = eng.sql(
        "SELECT o_orderpriority,"
        " CAST(COUNT(*) AS BIGINT) AS n_orders,"
        " CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations"
        " FROM bldg_stats_ctas JOIN orders ON c_custkey = o_custkey"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    assert df.sparkSession is not spark, "managed-table stats routing did not engage"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:800]
    assert "CartesianProduct" not in plan, plan[:800]
    return df


#: HAVING + multi-column COUNT(DISTINCT a, b) through the widened
#: two-level rewrite (r11). Oracle spells the tuple count in ANSI SQL
#: (DuckDB lacks multi-arg COUNT): distinct all-non-null pairs.
_MULTI_DISTINCT_HAVING = """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey, o_orderpriority) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    HAVING COUNT(*) > 10
"""

_MULTI_DISTINCT_HAVING_ORACLE = """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT CASE WHEN o_custkey IS NOT NULL
                AND o_orderpriority IS NOT NULL
                THEN (o_custkey, o_orderpriority) END) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    HAVING COUNT(*) > 10
"""


@register("agg_multi_distinct_having", oracle=_MULTI_DISTINCT_HAVING_ORACLE, family="relational")
def q_multi_distinct_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 widening of the two-level DISTINCT rewrite (A/AggregateInfo
    .java:42-78 applies per aggregation node regardless of HAVING; the
    reference evaluates HAVING post-merge, P/DistributedPlanner.java:835):
    a HAVING block maps onto the joined two-phase result as an outer
    filter, and multi-column COUNT(DISTINCT a, b) forms one distinct
    group on the tuple. Plan-asserted no-Expand, oracle-matched."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_MULTI_DISTINCT_HAVING)
    assert rw is not None, "rewrite must fire on HAVING + tuple-distinct"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: WITH-prefixed multi-DISTINCT block (r11): the CTE list re-emits
#: verbatim, the final SELECT rewrites two-phase — same text runs on
#: both engines.
_MULTI_DISTINCT_WITH = """
    WITH open_orders AS (
      SELECT o_custkey, o_orderpriority, o_totalprice
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_prices,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM open_orders
    GROUP BY o_orderpriority
    HAVING COUNT(*) > 5
"""


@register("agg_multi_distinct_with_cte", oracle=_MULTI_DISTINCT_WITH, family="relational")
def q_multi_distinct_with_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: the two-level DISTINCT rewrite through a WITH prefix — the
    reference plans per aggregation node regardless of the enclosing
    WITH (A/AggregateInfo.java applies inside any inline view); here the
    generated __tla CTEs append to the user's WITH list (later members
    see earlier ones). Plan-asserted no-Expand, oracle-matched."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_MULTI_DISTINCT_WITH)
    assert rw is not None, "rewrite must fire through the WITH prefix"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: SUM/AVG(DISTINCT) through the widened rewrite (r11): same-expr
#: distinct calls share one CTE group. Money goes through DECIMAL(18,4)
#: (exact, order-insensitive sums — the registry float convention) and
#: the average divides the exact sum in DOUBLE on BOTH engines.
_SUM_AVG_DISTINCT = """
    SELECT o_orderstatus,
           CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_distinct_price,
           ROUND(CAST(SUM(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(DISTINCT CAST(o_totalprice AS DECIMAL(18,4))), 6)
               AS avg_distinct_price,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    HAVING COUNT(*) > 10
"""


@register("agg_sum_avg_distinct_rewrite", oracle=_SUM_AVG_DISTINCT, family="relational")
def q_sum_avg_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11 widening of the two-level DISTINCT rewrite beyond COUNT: a
    group is keyed by the distinct expr LIST and carries EVERY distinct
    aggregate over it (AggregateInfo.java keys the second-level grouping
    on the exprs, not the function) — here SUM(DISTINCT price) and
    COUNT(DISTINCT price) share one CTE while COUNT(DISTINCT custkey)
    gets its own, joined back null-safely. Plan-asserted no-Expand,
    oracle-matched; HAVING maps post-merge."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_SUM_AVG_DISTINCT)
    assert rw is not None, "rewrite must fire on SUM/AVG(DISTINCT)"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: atomic-call expression grouping key through the widened rewrite
#: (r11): YEAR(o_orderdate) keys the two-phase CTEs and substitutes
#: precedence-safely in select/ORDER BY.
_EXPR_KEY_DISTINCT = """
    SELECT YEAR(o_orderdate) AS yr,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY YEAR(o_orderdate)
    ORDER BY YEAR(o_orderdate)
"""


@register("agg_expr_key_distinct_rewrite", oracle=_EXPR_KEY_DISTINCT, family="relational")
def q_expr_key_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: expression grouping keys in the two-level DISTINCT rewrite —
    ATOMIC call expressions (upper(k), YEAR(ts), CAST(...)) key the CTEs
    as generated __k aliases and substitute anywhere an atom can appear
    (the reference's AggregateInfo keys on arbitrary grouping exprs).
    Open exprs like x + 1 stay conservatively out (not precedence-safe
    as a token span). Plan-asserted no-Expand, oracle-matched."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_EXPR_KEY_DISTINCT)
    assert rw is not None, "rewrite must fire on an atomic expression key"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: OPEN expression grouping key (r12): `YEAR(d)*100 + MONTH(d)` is not
#: an atomic call, so it substitutes only where it forms a COMPLETE
#: select/ORDER item — which this statement's references all do.
_OPEN_KEY_DISTINCT = """
    SELECT YEAR(o_orderdate) * 100 + MONTH(o_orderdate) AS yyyymm,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE YEAR(o_orderdate) = 1996
    GROUP BY YEAR(o_orderdate) * 100 + MONTH(o_orderdate)
    ORDER BY YEAR(o_orderdate) * 100 + MONTH(o_orderdate)
"""


@register("agg_open_key_distinct_rewrite", oracle=_OPEN_KEY_DISTINCT, family="relational")
def q_open_key_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: OPEN expression grouping keys in the two-level DISTINCT
    rewrite — arbitrary expressions (arithmetic, CASE) key the CTEs and
    substitute where they constitute complete select/ORDER items (the
    only precedence-safe placement for a non-atomic span; embedded
    references still keep the default plan). Plan-asserted no-Expand,
    oracle-matched."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_OPEN_KEY_DISTINCT)
    assert rw is not None, "rewrite must fire on an open expression key"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: ranking window over multi-distinct aggregates through the widened
#: rewrite (r11): the CTE join is a bijection on the grouping keys, so
#: the re-emitted RANK over the joined rows is rank-preserving.
_RANK_OVER_DISTINCT = """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
           CAST(RANK() OVER (ORDER BY COUNT(DISTINCT o_custkey) DESC,
                             o_orderpriority) AS BIGINT) AS rnk
    FROM orders
    GROUP BY o_orderpriority
    HAVING n_customers > 0
    ORDER BY rnk, o_orderpriority
"""


@register("agg_rank_over_distinct_rewrite", oracle=_RANK_OVER_DISTINCT, family="relational")
def q_rank_over_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r11: pure ranking windows (RANK/DENSE_RANK/ROW_NUMBER) ride the
    two-level DISTINCT rewrite — the OVER clause's aggregate refs
    substitute like any region (window AGGREGATES ride too since r12,
    see agg_window_over_distinct_rewrite), and a select alias resolves
    in HAVING by body inlining. Plan-asserted no-Expand,
    oracle-matched."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_RANK_OVER_DISTINCT)
    assert rw is not None, "rewrite must fire on a ranking window"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: window AGGREGATES over the grouped result through the widened
#: rewrite (r12): the CTE join is key-bijective with the grouped rows,
#: so COUNT/SUM(...) OVER maps onto the joined columns — running totals
#: and share-of-total over distinct counts without an Expand.
_WINDOW_AGG_OVER_DISTINCT = """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(SUM(COUNT(DISTINCT o_custkey))
                OVER (ORDER BY o_orderstatus) AS BIGINT) AS running_customers,
           CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@register("agg_window_over_distinct_rewrite", oracle=_WINDOW_AGG_OVER_DISTINCT, family="relational")
def q_window_agg_over_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: window AGGREGATES (SUM/COUNT/AVG ... OVER) over the grouped
    result ride the two-level DISTINCT rewrite — the window call's
    argument substitutes its aggregate refs like any region and the
    head passes through (reference two-phase distinct planning,
    AggregateInfo.java:42-60, composed with AnalyticEvalNode on top of
    the merge aggregation). Plan-asserted no-Expand, oracle-matched."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_WINDOW_AGG_OVER_DISTINCT)
    assert rw is not None, "rewrite must fire on a window aggregate"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: GROUP_CONCAT(DISTINCT expr, sep) through the rewrite (r12): the
#: group is keyed on the EXPR alone — the separator is a constant
#: (BuiltinsDb.java:928-951) — so the call rides the same CTE as
#: COUNT(DISTINCT expr). LENGTH() keeps the checkable contract
#: order-invariant (concat order is nondeterministic in both engines);
#: DuckDB runs the identical text (GROUP_CONCAT is its string_agg alias).
_GROUP_CONCAT_DISTINCT = """
    SELECT o_orderstatus,
           CAST(LENGTH(GROUP_CONCAT(DISTINCT o_orderpriority, ',')) AS BIGINT)
               AS prio_len,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
"""


@register("agg_group_concat_distinct_rewrite", oracle=_GROUP_CONCAT_DISTINCT, family="relational")
def q_group_concat_distinct_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12 widening: GROUP_CONCAT(DISTINCT) splits like any distinct
    aggregate (AggregateInfo.java keys the second-level grouping on the
    distinct exprs, not the function), keyed on the expr with the
    constant separator re-emitted verbatim. Plan-asserted no-Expand;
    the LENGTH contract is order-invariant so the oracle hash-matches."""
    from impala_spark.rewrites import two_level_distinct

    register_tables(spark, sf_dir)
    rw = two_level_distinct(_GROUP_CONCAT_DISTINCT)
    assert rw is not None, "rewrite must fire on GROUP_CONCAT(DISTINCT)"
    df = spark.sql(translate(rw))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan[:800]
    return df


#: scale-safe GLOBAL rank (r12, VERDICT r11 #4): RANK over a total order
#: with NO partition key — Spark's default is a single-task WindowExec
#: over the whole input; operators.global_rank splits it into a range
#: exchange + slice-local windows + a broadcast offset join. The oracle
#: is the plain single-window SQL (results must be plan-invariant).
_GLOBAL_RANK_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice AS DOUBLE) AS price,
           CAST(RANK() OVER (ORDER BY l_extendedprice DESC,
                             l_orderkey, l_linenumber) AS INT) AS rnk
    FROM lineitem
    ORDER BY rnk
    LIMIT 100
"""


@register("analytic_global_rank_twopass", oracle=_GLOBAL_RANK_ORACLE, family="relational")
def q_global_rank_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: two-pass global rank over the FACT table (the single-node
    sort the reference gets from planner/AnalyticPlanner.java, split for
    a cluster). Mixed sort directions, so the range partitioning uses
    the first key only — rows equal on it co-locate, and every
    cross-partition comparison is decided by it. Plan-asserted: zero
    unpartitioned window specs."""
    import re as _re

    from impala_spark.functions import asc_impala, desc_impala
    from impala_spark.operators import global_rank

    register_tables(spark, sf_dir)
    lt = spark.table("lineitem")
    sort_cols = [
        desc_impala(F.col("l_extendedprice")),
        asc_impala(F.col("l_orderkey")),
        asc_impala(F.col("l_linenumber")),
    ]
    ranked = global_rank(
        lt, sort_cols, partition_order_by=sort_cols[:1],
        kind="rank", out_col="rnk",
    )
    df = (
        ranked.select(
            "l_orderkey", "l_linenumber",
            F.col("l_extendedprice").cast("double").alias("price"),
            "rnk",
        )
        .orderBy(asc_impala(F.col("rnk")))
        .limit(100)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _re.findall(r"Window \[[^\]]*\], \[\]", plan), plan[:800]
    return df


#: the oracle computes the same join/aggregate from the base fixtures
#: (the layout is a physical property; results must be layout-invariant)
_HASH_BUCKETED_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_quantity) AS DOUBLE) AS qty
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register("ddl_hash_bucketed_join", oracle=_HASH_BUCKETED_ORACLE)
def q_hash_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed layout from the SQL surface (r11; the reference's
    Kudu PARTITION BY HASH, A/KuduPartitionParam.java + cup
    tbl_partition_clauses, realized as Spark bucketBy): two CTAS tables
    bucketed on the join key, joined with the Impala [SHUFFLE] hint
    (= partitioned join; on pre-partitioned storage the reference does
    no exchange, P/DistributedPlanner.java:554-620 partition-compat) —
    plan-asserted ZERO exchanges on the join key. At 100 TB this is the
    one-time layout that removes the per-query fact-fact shuffle (the
    r10 jff result: 0.98x DuckDB at sf30, was Python-API-only)."""
    import re as _re

    from impala_spark.engine import ImpalaEngine as _Eng

    eng = _Eng(spark, sf_dir)
    eng.sql(
        "CREATE TABLE bkt_hash_o PARTITION BY HASH(o_orderkey) PARTITIONS 8"
        " AS SELECT o_orderkey, o_orderpriority FROM orders"
    )
    eng.sql(
        "CREATE TABLE bkt_hash_l PARTITION BY HASH(l_orderkey) INTO 8 BUCKETS"
        " AS SELECT l_orderkey, l_quantity FROM lineitem"
    )
    df = eng.sql(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,"
        " CAST(SUM(l_quantity) AS DOUBLE) AS qty"
        " FROM bkt_hash_o o JOIN [shuffle] bkt_hash_l l"
        " ON o.o_orderkey = l.l_orderkey"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert not _re.search(
        r"Exchange hashpartitioning\((?:o_orderkey|l_orderkey)", plan
    ), plan[:800]
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan[:800]
    return df


#: results are layout-invariant; the oracle computes from the fixture
_RANGE_VALUE_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@register("ddl_range_partition_value", oracle=_RANGE_VALUE_ORACLE)
def q_range_partition_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kudu RANGE partitioning, VALUE form (r12; A/KuduPartitionParam.java
    + cup tbl_partition_clauses — analysis-only before): PARTITION
    VALUE = v maps to a Hive-style value-partitioned parquet layout, so
    an equality predicate on the range key prunes whole partitions at
    PLANNING time — plan-asserted PartitionFilters on the key. At 100 TB
    this is the partition-elimination lever for enum-keyed scans."""
    import re as _re

    from impala_spark.engine import ImpalaEngine as _Eng

    eng = _Eng(spark, sf_dir)
    eng.sql(
        "CREATE TABLE rngp_v PARTITION BY RANGE (o_orderstatus)"
        " (PARTITION VALUE = 'O', PARTITION VALUE = 'F',"
        " PARTITION VALUE = 'P')"
        " AS SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders"
    )
    df = eng.sql(
        "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,"
        # decimal sum: double accumulation order diverges from DuckDB at
        # sf1 magnitudes (same fix as the bounds-form entry)
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total"
        " FROM rngp_v WHERE o_orderstatus = 'O'"
        " GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PartitionFilters: \[[^\]]*o_orderstatus", plan), plan[:800]
    return df


_RANGE_BOUNDS_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_custkey < 400
"""


@register("ddl_range_partition_bounds", oracle=_RANGE_BOUNDS_ORACLE)
def q_range_partition_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kudu RANGE partitioning, bound form (r12): PARTITION lo <= VALUES
    < hi maps to a range-CLUSTERED parquet layout (repartitionByRange +
    sortWithinPartitions), so every row group spans a narrow key interval
    and a range predicate skips row groups at SCAN time via footer
    min/max — plan-asserted pushed filter on the key. Out-of-range and
    NULL keys are rejected at write time like Kudu."""
    import re as _re

    from impala_spark.engine import ImpalaEngine as _Eng

    eng = _Eng(spark, sf_dir)
    eng.sql(
        "CREATE TABLE rngp_b PARTITION BY RANGE (o_custkey)"
        " (PARTITION VALUES < 400, PARTITION 400 <= VALUES < 1000,"
        " PARTITION 1000 <= VALUES)"
        " AS SELECT o_custkey, o_totalprice FROM orders"
    )
    df = eng.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n,"
        " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total"
        " FROM rngp_b WHERE o_custkey < 400"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(r"PushedFilters: \[[^\]]*LessThan\(o_custkey,400\)", plan), plan[:800]
    return df


_RANGE_MULTI_ORACLE = """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
    FROM lineitem WHERE l_returnflag >= 'N'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@register("ddl_range_partition_multi", oracle=_RANGE_MULTI_ORACLE)
def q_range_partition_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column Kudu RANGE key (r12; A/KuduPartitionParam.java
    multi-column range rows): bounds are FULL key tuples compared
    lexicographically — `('N','F') <= VALUES < ('R','F')` — and the
    layout range-clusters on the same column order (repartitionByRange is
    lexicographic too), so a predicate on the leading key column still
    skips row groups via footer min/max. Out-of-range tuples and NULL in
    any key column are rejected at write time like Kudu."""
    import re as _re

    from impala_spark.engine import ImpalaEngine as _Eng

    eng = _Eng(spark, sf_dir)
    eng.sql(
        "CREATE TABLE rngp_mc PARTITION BY RANGE (l_returnflag, l_linestatus)"
        " (PARTITION VALUES < ('N', 'F'),"
        " PARTITION ('N', 'F') <= VALUES < ('R', 'F'),"
        " PARTITION ('R', 'F') <= VALUES)"
        " AS SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem"
    )
    df = eng.sql(
        "SELECT l_returnflag, l_linestatus,"
        " CAST(COUNT(*) AS BIGINT) AS n,"
        " CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty"
        " FROM rngp_mc WHERE l_returnflag >= 'N'"
        " GROUP BY l_returnflag, l_linestatus"
        " ORDER BY l_returnflag, l_linestatus"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert _re.search(
        r"PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_returnflag,N\)", plan
    ), plan[:800]
    return df


@register(
    "meta_load_data",
    "SELECT CAST(COUNT(*) * 2 AS BIGINT) AS n FROM region",
)
def q_load_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOAD DATA INPATH ... INTO TABLE (cup:678; analysis/LoadDataStmt.java):
    file-move ingest — append the staged parquet to the managed table."""
    import os
    import tempfile

    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "region_loaded")
    ddl.create_table_as_select(spark, "region_loaded", "SELECT * FROM region")
    stage = os.path.join(tempfile.gettempdir(), "impala_spark_load_stage")
    table(spark, sf_dir, "region").write.mode("overwrite").parquet(stage)
    eng = ImpalaEngine(spark)
    eng.sql(f"LOAD DATA INPATH '{stage}' INTO TABLE region_loaded")
    return spark.table("region_loaded").agg(F.count(F.lit(1)).cast("bigint").alias("n"))


@register(
    "meta_show_describe",
    """
    SELECT * FROM (VALUES
      ('n_nationkey', 'int'), ('n_name', 'string'), ('n_regionkey', 'int')
    ) AS t(col_name, data_type)
    """,
)
def q_show_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE nation (service/MetadataOp.java getColumns analog); SHOW
    TABLES exercised as a side assertion (nation must be listed)."""
    eng = ImpalaEngine(spark, sf_dir)
    shown = {r.tableName for r in eng.show_tables().collect()}
    assert "nation" in shown, "SHOW TABLES must list registered fixture views"
    return eng.describe("nation").select("col_name", "data_type")


@register(
    "meta_set_use",
    """
    SELECT * FROM (VALUES
      ('num_nodes', 'set'), ('current_db', 'default')
    ) AS t(option, status)
    """,
)
def q_set_use(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET query-option + USE db (analysis/SetStmt, UseStmt). num_nodes is
    a no-op on Spark (execution parallelism comes from partitioning) but
    must parse and ack like the reference."""
    eng = ImpalaEngine(spark, sf_dir)
    set_ack = eng.sql("SET num_nodes=1")
    use_ack = eng.sql("USE default").select(
        F.lit("current_db").alias("option"), F.col("db").alias("status")
    )
    return set_ack.unionAll(use_ack)


# EXPLAIN surface: the plan text itself is engine-defined, so the
# checkable contract is the plan PROPERTIES the reference's
# DistributedPlanner guarantees for this query shape — a broadcast hash
# join on the dim side and a parquet scan. EXPLAIN is inherently a
# driver-side metadata op; inspecting the plan text here is its job, not
# a query-path hygiene violation.
@register(
    "meta_explain",
    oracle="""
    SELECT TRUE AS dim_join_broadcast, TRUE AS has_parquet_scan,
           TRUE AS has_aggregation
    """,
)
def q_explain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN -> Impala-style plan tree (Frontend.getExplainString:596,
    planner/PlanNode.getExplainString). Emits the broadcast decision the
    reference's DistributedPlanner would make for a dim-table join."""
    eng = ImpalaEngine(spark, sf_dir)
    df = eng.sql(
        "EXPLAIN SELECT n_name, count(*) AS c FROM nation "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY n_name"
    )
    text = "\n".join(r.explain_string for r in df.collect())
    return spark.createDataFrame(
        [
            (
                "HASH JOIN [BROADCAST]" in text,
                "SCAN PARQUET" in text,
                "AGGREGATE" in text,
            )
        ],
        "dim_join_broadcast: boolean, has_parquet_scan: boolean, has_aggregation: boolean",
    )


@register(
    "udf_scalar_and_uda",
    """
    SELECT o_orderpriority,
           ROUND(CAST(SUM(CAST(o_totalprice * 1.1 AS DECIMAL(18,4))) AS DOUBLE), 4) AS taxed_total,
           ROUND(EXP(AVG(LN(o_totalprice))), 4) AS geomean_price
    FROM orders
    WHERE o_totalprice > 0
    GROUP BY o_orderpriority
    """,
)
def q_udf_uda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE FUNCTION surface (analysis/CreateUdfStmt.java/CreateUdaStmt
    .java -> spark.udf.register): scalar pandas UDF + grouped-agg pandas
    UDA, both Arrow-batched, used from SQL like any builtin."""
    register_tables(spark, sf_dir)
    register_udfs(spark)
    # a grouped-agg pandas UDF cannot share an Aggregate with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — run it in its own agg
    # and join on the group key.
    taxed = spark.sql(
        """
        SELECT o_orderpriority,
               ROUND(CAST(SUM(CAST(add_tax(o_totalprice) AS DECIMAL(18,4))) AS DOUBLE), 4) AS taxed_total
        FROM orders WHERE o_totalprice > 0 GROUP BY o_orderpriority
        """
    )
    geo = spark.sql(
        """
        SELECT o_orderpriority, ROUND(geomean(o_totalprice), 4) AS geomean_price
        FROM orders WHERE o_totalprice > 0 GROUP BY o_orderpriority
        """
    )
    return taxed.join(geo, "o_orderpriority")


@register(
    "ddl_create_view_database",
    """
    SELECT r_name, CAST(n AS BIGINT) AS n FROM (
      SELECT r_name, COUNT(*) AS n
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
    ) v WHERE n >= 5 ORDER BY r_name
    """,
)
def q_create_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW / DROP VIEW / CREATE DATABASE / SHOW DATABASES
    (analysis/CreateViewStmt.java, CreateDbStmt.java). Views resolve
    through the catalog like the reference's LocalView."""
    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    spark.sql("CREATE DATABASE IF NOT EXISTS analytics_db")
    assert "analytics_db" in {r.namespace for r in eng.show_databases().collect()}
    spark.sql("DROP VIEW IF EXISTS nations_per_region")
    spark.sql(
        """
        CREATE TEMPORARY VIEW nations_per_region AS
        SELECT r_name, COUNT(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    )
    out = spark.sql(
        "SELECT r_name, CAST(n AS BIGINT) AS n FROM nations_per_region "
        "WHERE n >= 5 ORDER BY r_name"
    )
    return out


@register(
    "ddl_create_table_like",
    "SELECT CAST(0 AS BIGINT) AS n, CAST(3 AS BIGINT) AS n_cols",
)
def q_create_table_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE LIKE: clone schema, zero rows
    (analysis/CreateTableLikeStmt.java)."""
    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "nation_like")
    ddl.create_table_as_select(spark, "nation_src", "SELECT * FROM nation")
    ddl.create_table_like(spark, "nation_like", "nation_src")
    t = spark.table("nation_like")
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.lit(len(t.columns)).cast("bigint").alias("n_cols"),
    )


@register(
    "scan_pushdown_pruning",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity < 10
    """,
)
def q_scan_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HdfsScanNode parity (planner/HdfsScanNode.java:61-96): predicates
    reach the parquet reader (PushedFilters) and the scan schema is pruned
    to referenced columns only — asserted on the physical plan, the same
    checks the reference's planner tests make on scan ranges."""
    lf = table(spark, sf_dir, "lineitem")
    q = lf.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_quantity") < 10)
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double").alias("total"),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "IsNotNull(l_quantity)" in plan, plan[:800]
    # column pruning: the scan schema must not include unreferenced cols
    import re as _re

    m = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_comment" not in m.group(1) and "l_orderkey" not in m.group(1), plan[:800]
    return q


@register(
    "ddl_alter_table",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN r_regionkey >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS key_as_bigint_ok
    FROM region
    """,
)
def q_alter_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD COLUMNS / CHANGE type / DROP COLUMN / RENAME TO
    (analysis/AlterTableStmt.java family) as schema evolution on managed
    parquet."""
    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    ddl.drop_table(spark, "region_alt")
    ddl.drop_table(spark, "region_alt2")
    ddl.create_table_as_select(spark, "region_alt", "SELECT * FROM region")
    eng.sql("ALTER TABLE region_alt ADD COLUMNS (note string, score double)")
    assert "note" in spark.table("region_alt").columns
    eng.sql("ALTER TABLE region_alt CHANGE r_regionkey r_regionkey bigint")
    eng.sql("ALTER TABLE region_alt DROP COLUMN note")
    assert "note" not in spark.table("region_alt").columns
    eng.sql("ALTER TABLE region_alt RENAME TO region_alt2")
    t = spark.table("region_alt2")
    assert dict(t.dtypes)["r_regionkey"] == "bigint"
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("r_regionkey") >= 0, 1).otherwise(0)).cast("bigint").alias("key_as_bigint_ok"),
    )


@register(
    "ddl_alter_replace_props",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(n_name) AS BIGINT) AS names,
           CAST(0 AS BIGINT) AS flags
    FROM nation
    """,
)
def q_alter_replace_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE REPLACE COLUMNS (AlterTableAddReplaceColsStmt,
    replace=true: the list replaces every non-partition column — existing
    names keep their data, new names NULL-fill, unlisted drop) and SET
    TBLPROPERTIES/SERDEPROPERTIES (AlterTableSetTblProperties.java),
    surfaced through SHOW CREATE TABLE like the reference's ToSqlUtils."""
    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    ddl.drop_table(spark, "nation_rep")
    ddl.create_table_as_select(spark, "nation_rep", "SELECT * FROM nation")
    eng.sql(
        "ALTER TABLE nation_rep REPLACE COLUMNS"
        " (n_nationkey BIGINT, n_name STRING, flag STRING)"
    )
    eng.sql("ALTER TABLE nation_rep SET TBLPROPERTIES ('origin'='ctas')")
    stmt = eng.sql("SHOW CREATE TABLE nation_rep").first()[0]
    assert "TBLPROPERTIES ('origin'='ctas')" in stmt
    t = spark.table("nation_rep")
    assert set(t.columns) == {"n_nationkey", "n_name", "flag"}
    assert dict(t.dtypes)["n_nationkey"] == "bigint"
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("n_name").cast("bigint").alias("names"),
        F.count("flag").cast("bigint").alias("flags"),
    )


@register(
    "ddl_alter_set_surfaces",
    """
    SELECT CAST(COUNT(*) * 2 AS BIGINT) AS recovered_rows,
           CAST(42 AS BIGINT) AS manual_ndv,
           CAST(7 AS BIGINT) AS manual_nulls
    FROM region
    """,
)
def q_alter_set_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RECOVER PARTITIONS (external k=v dir discovered), SET
    FILEFORMAT (validated + SHOW CREATE round-trip), SET CACHED/UNCACHED
    (Spark storage-level cache), SET COLUMN STATS (manual metastore stats
    shadow the computed ones in SHOW COLUMN STATS) — the remaining
    alter_tbl_stmt forms (AlterTableSet*.java,
    AlterTableRecoverPartitionsStmt.java, AlterTableSetColumnStats.java)."""
    import os
    import shutil

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    ddl.drop_table(spark, "region_set")
    ddl.create_table_as_select(
        spark, "region_set",
        "SELECT r_regionkey, r_name, 'a' AS p FROM region",
        partition_cols=["p"],
    )
    t = ddl.table_info("region_set")
    shutil.copytree(os.path.join(t.path, "p=a"), os.path.join(t.path, "p=b"))
    eng.sql("ALTER TABLE region_set RECOVER PARTITIONS")
    eng.sql("ALTER TABLE region_set SET FILEFORMAT PARQUET")
    eng.sql("ALTER TABLE region_set SET CACHED IN 'pool1'")
    eng.sql("ALTER TABLE region_set SET UNCACHED")
    eng.sql(
        "ALTER TABLE region_set SET COLUMN STATS r_regionkey"
        " ('numDVs'='42','numNulls'='7')"
    )
    stats = {
        r["column"]: r for r in eng.sql("SHOW COLUMN STATS region_set").collect()
    }
    return spark.table("region_set").agg(
        F.count(F.lit(1)).cast("bigint").alias("recovered_rows"),
        F.lit(stats["r_regionkey"]["ndv"]).cast("bigint").alias("manual_ndv"),
        F.lit(stats["r_regionkey"]["num_nulls"]).cast("bigint").alias("manual_nulls"),
    )


@register(
    "meta_show_partitions_files",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS num_rows
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_show_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW PARTITIONS / SHOW FILES / SHOW CREATE TABLE over a partitioned
    managed table (catalog/HdfsTable.java partition+file descriptors)."""
    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    ddl.drop_table(spark, "orders_by_status")
    ddl.create_table_as_select(
        spark, "orders_by_status",
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
        partition_cols=["o_orderstatus"],
    )
    files = eng.show_files("orders_by_status").collect()
    assert len(files) > 0 and all(f.size_bytes > 0 for f in files)
    ct = eng.show_create_table("orders_by_status").first().createtab_stmt
    assert "PARTITIONED BY (o_orderstatus)" in ct and "STORED AS PARQUET" in ct
    return eng.show_partitions("orders_by_status").withColumnRenamed(
        "o_orderstatus", "o_orderstatus"
    )


@register(
    "nested_struct_map_access",
    """
    SELECT n_nationkey,
           n_name AS via_struct,
           n_regionkey AS via_map,
           UPPER(n_name) AS via_struct_fn
    FROM nation ORDER BY n_nationkey
    """,
)
def q_nested_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SlotRef nested path access a.b.c + map key/value access
    (analysis/SlotRef.java, Path.java:30-80): build struct/map columns,
    read them back through dotted paths and element_at."""
    n = table(spark, sf_dir, "nation")
    nested = n.select(
        "n_nationkey",
        F.struct(
            F.col("n_name").alias("name"),
            F.struct(F.col("n_regionkey").alias("rk")).alias("geo"),
        ).alias("info"),
        F.create_map(F.lit("rk"), F.col("n_regionkey")).alias("attrs"),
    )
    return nested.select(
        "n_nationkey",
        F.col("info.name").alias("via_struct"),
        F.element_at("attrs", "rk").alias("via_map"),
        F.upper(F.col("info.name")).alias("via_struct_fn"),
    ).orderBy("n_nationkey")


# =====================================================================
# 12. Multi-join workload shapes (TPC-H public spec Q3/Q5/Q10 shapes) —
#     the scale showcases: dim broadcasts + fact shuffles + runtime
#     filters, the plan the reference's DistributedPlanner would pick.
# =====================================================================

sql_query(
    "tpch_q3_shipping_priority",
    # scaled-long revenue kernel (see pricing_summary): the decimal
    # product leaves compact-long for BigDecimal; quantizing to the same
    # DECIMAL(18,4) grid as longs and digit-splitting the partial sums is
    # bit-identical (oracle keeps the decimal form) and ~2x at sf10.
    # r6 (verdict task #4, q3 34x at sf10): profiled — the cost was the
    # fact-fact SortMergeJoin's two sort stages, not an unpushed filter
    # (PushedFilters reach both scans). Fixed at the ENGINE level:
    # preferSortMergeJoin=false (session.py) — 6.1s -> 2.0s at sf10. An
    # eager-aggregation rewrite (pre-aggregate lineitem by l_orderkey
    # below the join) was tried and REJECTED (aggregates the 52%
    # shipdate survivors before the selective orders side prunes them).
    # r9: the BUILDING+date-filtered customer x orders side is ~1% of
    # orders — small enough to BROADCAST into the lineitem probe (the
    # reference's DistributedPlanner broadcast choice; the explicit hint
    # is needed because non-CBO size estimates multiply through the
    # subquery join, and the engine's broadcast-hint gate strips it at
    # scale). The 30M-row (sf10) filtered-lineitem exchange disappears:
    # executed plan = 2 broadcast joins + the single partial-agg
    # exchange. Interleaved A/B (results identical): sf10 4.10 -> 1.04 s
    # (-75%); sf30 29.8 -> 3.04 s. vs-DuckDB ratios for this query vary
    # with the measurement window — clean-window ~1.9x, steal-burst
    # medians up to 8x (BENCH_sf30_r9.json runs_note) — quote
    # CROSSOVER.md's bounded ranges, never a point ratio.
    """
    WITH co AS (
      SELECT o_orderkey, o_orderdate, o_orderpriority
      FROM customer JOIN orders ON c_custkey = o_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
    ), j AS (
      SELECT /*+ BROADCAST(co) */ l_orderkey, o_orderdate, o_orderpriority,
        CAST(l_extendedprice * 10000 + SIGN(l_extendedprice) * 0.5 AS BIGINT)
          * (10000 - CAST(l_discount * 10000 + SIGN(l_discount) * 0.5 AS BIGINT)) AS dp8
      FROM lineitem JOIN co ON l_orderkey = o_orderkey
      WHERE l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    ), a AS (
      SELECT l_orderkey, o_orderdate, o_orderpriority,
        SUM(dp8 % 1000000) AS r0, SUM(dp8 DIV 1000000 % 1000000) AS r1,
        SUM(dp8 DIV 1000000000000) AS r2
      FROM j GROUP BY l_orderkey, o_orderdate, o_orderpriority
    )
    SELECT l_orderkey,
           CAST(ROUND(((CAST(r2 AS DECIMAL(38,0)) * 1000000 + r1) * 1000000 + r0) / 100000000, 2) AS DOUBLE) AS revenue,
           CAST(o_orderdate AS STRING) AS o_orderdate, o_orderpriority
    FROM a
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    """
    SELECT l_orderkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)

sql_query(
    "tpch_q5_local_supplier",
    # scaled-long revenue kernel (see pricing_summary); measured 2.1x at
    # sf10 (11.0 -> 5.3 s), bit-identical to the decimal oracle.
    # r9 join-order rewrite (r8 verdict task #2): the old left-deep
    # customer->orders->lineitem chain shuffled ALL 60M lineitem rows on
    # l_orderkey before the region filter pruned anything. Joining
    # lineitem FIRST to the ASIA-filtered supplier (broadcast, ~20k
    # rows/SF10 — the /*+ BROADCAST */ hint is needed because non-CBO
    # size estimates multiply through the 3-way dim join) cuts the fact
    # exchange 5x (60M -> 12M rows) BEFORE it happens; customer then
    # broadcasts too after column pruning. Executed plan: 4 broadcast
    # joins + ONE fact exchange of the supplier-pruned rows + the agg
    # exchange — the same shape a 1000-executor cluster wants (dims
    # broadcast, single co-partitioned fact exchange). Interleaved A/B
    # at sf10 (drift-canceling arms, results asserted identical): new
    # arm faster in every rep, medians 5.9s vs 59s under heavy external
    # load; clean-window medians in BASELINE.md round 9.
    # Earlier rewrites measured and REJECTED stand: runtime bloom into
    # the lineitem scan (build jobs cost more than the pruning saves at
    # memory-speed scans), dp8 before the exchange (no win), and
    # (orderkey,suppkey) pre-aggregation (TPC-H lineitem is ~unique on
    # that pair — nothing to combine).
    """
    WITH s_asia AS (
      SELECT s_suppkey, s_nationkey, n_name
      FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
    ), j AS (
      SELECT /*+ BROADCAST(s_asia) */ n_name,
        CAST(l_extendedprice * 10000 + SIGN(l_extendedprice) * 0.5 AS BIGINT)
          * (10000 - CAST(l_discount * 10000 + SIGN(l_discount) * 0.5 AS BIGINT)) AS dp8
      FROM lineitem
        JOIN s_asia   ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ), a AS (
      SELECT n_name,
        SUM(dp8 % 1000000) AS r0, SUM(dp8 DIV 1000000 % 1000000) AS r1,
        SUM(dp8 DIV 1000000000000) AS r2
      FROM j GROUP BY n_name
    )
    SELECT n_name,
           CAST(ROUND(((CAST(r2 AS DECIMAL(38,0)) * 1000000 + r1) * 1000000 + r0) / 100000000, 2) AS DOUBLE) AS revenue
    FROM a
    ORDER BY revenue DESC, n_name
    """,
    oracle="""
    SELECT n_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

sql_query(
    "tpch_q10_returned_items",
    # scaled-long revenue kernel (see pricing_summary).
    # r9: the 3-month orders window is ~3.5% of orders — the
    # orders x customer x nation side broadcasts into the R-filtered
    # lineitem probe (same DistributedPlanner-style choice and scale
    # gate as q3). Interleaved A/B at sf10 (results identical):
    # 4.00 -> 2.98 s (-25%); executed plan = 3 broadcast joins + the
    # single partial-agg exchange.
    """
    WITH co AS (
      SELECT o_orderkey, c_custkey, c_name, c_acctbal, n_name
      FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    ), j AS (
      SELECT /*+ BROADCAST(co) */ c_custkey, c_name, c_acctbal, n_name,
        CAST(l_extendedprice * 10000 + SIGN(l_extendedprice) * 0.5 AS BIGINT)
          * (10000 - CAST(l_discount * 10000 + SIGN(l_discount) * 0.5 AS BIGINT)) AS dp8
      FROM lineitem JOIN co ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
    ), a AS (
      SELECT c_custkey, c_name, c_acctbal, n_name,
        SUM(dp8 % 1000000) AS r0, SUM(dp8 DIV 1000000 % 1000000) AS r1,
        SUM(dp8 DIV 1000000000000) AS r2
      FROM j GROUP BY c_custkey, c_name, c_acctbal, n_name
    )
    SELECT c_custkey, c_name,
           CAST(ROUND(((CAST(r2 AS DECIMAL(38,0)) * 1000000 + r1) * 1000000 + r0) / 100000000, 2) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM a
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    oracle="""
    SELECT c_custkey, c_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)


@register(
    "outer_join_inline_view_nulls",
    """
    SELECT c.c_custkey, v.n_orders
    FROM customer c LEFT JOIN (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    ) v ON c.c_custkey = v.o_custkey
    WHERE c.c_custkey <= 200
    ORDER BY c.c_custkey
    """,
)
def q_tuple_is_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TupleIsNullPredicate semantics (analysis/TupleIsNullPredicate.java:
    28-38): an inline-view count(*) must come back NULL (not 0) for
    non-matching outer-join rows. Spark handles this natively — this query
    pins the behavior so a regression (e.g. a coalesce-0 'optimization')
    is caught."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    v = o.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    return (
        c.filter(F.col("c_custkey") <= 200)
        .join(v, c.c_custkey == v.o_custkey, "left")
        .select("c_custkey", "n_orders")
        .orderBy("c_custkey")
    )


@register(
    "ddl_insert_append",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_sources
    FROM (
      SELECT 'base' AS src, r_regionkey FROM region
      UNION ALL
      SELECT 'appended' AS src, r_regionkey FROM region WHERE r_regionkey < 3
    ) t
    """,
)
def q_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO (append mode — analysis/InsertStmt.java:114-116 without
    overwrite; HdfsTableSink append)."""
    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "region_ins")
    ddl.create_table_as_select(
        spark, "region_ins", "SELECT 'base' AS src, r_regionkey FROM region"
    )
    ddl.insert(
        spark, "region_ins",
        "SELECT 'appended' AS src, r_regionkey FROM region WHERE r_regionkey < 3",
        overwrite=False,
    )
    t = spark.table("region_ins")
    return t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_distinct(F.col("src")).cast("bigint").alias("n_sources"),
    )


@register(
    "ddl_with_insert",
    """
    SELECT n_regionkey AS k, CAST(COUNT(*) AS BIGINT) AS n
    FROM nation GROUP BY n_regionkey ORDER BY k
    """,
)
def q_with_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH-prefixed INSERT (A/InsertStmt.java: withClause_ — Impala's
    grammar puts the CTE list BEFORE the statement; Spark only accepts
    it on the source query, so engine.sql hoists it, engine.py
    _hoist_with_clause)."""
    from impala_spark.engine import ImpalaEngine

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS with_ins_t")
    eng.sql("CREATE TABLE with_ins_t (k BIGINT, n BIGINT)")
    eng.sql(
        """
        WITH per_region AS (
          SELECT n_regionkey AS k, COUNT(*) AS n
          FROM nation GROUP BY n_regionkey
        )
        INSERT INTO with_ins_t SELECT k, n FROM per_region
        """
    )
    return eng.sql("SELECT k, n FROM with_ins_t ORDER BY k")


@register(
    "ddl_insert_permutation",
    """
    SELECT CAST(n_regionkey AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(NULL AS STRING) AS tag
    FROM nation GROUP BY n_regionkey ORDER BY k
    """,
)
def q_insert_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT with a column permutation (InsertStmt.java:73-90): values
    bind by position to the mentioned columns, the unmentioned `tag`
    column is NULL-filled."""
    from impala_spark.engine import ImpalaEngine

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS perm_ins_t")
    eng.sql("CREATE TABLE perm_ins_t (k BIGINT, n BIGINT, tag STRING)")
    eng.sql(
        """
        INSERT INTO perm_ins_t (n, k)
        SELECT COUNT(*), n_regionkey FROM nation GROUP BY n_regionkey
        """
    )
    return eng.sql("SELECT k, n, tag FROM perm_ins_t ORDER BY k")


@register(
    "ddl_modify_from_join",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS k,
           CAST(100 + n_regionkey AS BIGINT) AS v
    FROM nation WHERE n_regionkey <> 0 ORDER BY k
    """,
)
def q_modify_from_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE <alias> FROM <refs> and UPDATE <alias> SET ... FROM <refs>
    (ModifyStmt.java: the FROM clause names the target by alias; the
    source statement selects key columns + assignment exprs through the
    join)."""
    from impala_spark.engine import ImpalaEngine

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS modfrom_t")
    eng.sql("CREATE TABLE modfrom_t (k BIGINT, v BIGINT, PRIMARY KEY (k))")
    eng.sql("INSERT INTO modfrom_t SELECT n_nationkey, 100 FROM nation")
    eng.sql(
        "DELETE modfrom_t FROM modfrom_t JOIN nation"
        " ON modfrom_t.k = n_nationkey AND n_regionkey = 0"
    )
    eng.sql(
        "UPDATE modfrom_t SET v = v + n_regionkey FROM modfrom_t"
        " JOIN nation ON modfrom_t.k = n_nationkey"
    )
    return eng.sql("SELECT k, v FROM modfrom_t ORDER BY k")


@register(
    "ddl_upsert_permutation",
    """
    SELECT CAST(n_nationkey AS BIGINT) AS k, CAST(2 AS BIGINT) AS v,
           CASE WHEN n_nationkey < 10 THEN 'base' END AS s
    FROM nation WHERE n_nationkey < 15 ORDER BY k
    """,
)
def q_upsert_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPSERT with a column permutation (InsertStmt.java:73-90 + the
    Kudu key-coverage rule): mentioned cells are written, unmentioned
    cells keep the existing row's value on a key match and are NULL for
    new keys."""
    from impala_spark.engine import ImpalaEngine

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir=sf_dir)
    eng.sql("DROP TABLE IF EXISTS upperm_t")
    eng.sql("CREATE TABLE upperm_t (k BIGINT, v BIGINT, s STRING,"
            " PRIMARY KEY (k))")
    eng.sql("INSERT INTO upperm_t"
            " SELECT n_nationkey, 1, 'base' FROM nation WHERE n_nationkey < 10")
    eng.sql("UPSERT INTO upperm_t (k, v)"
            " SELECT n_nationkey, 2 FROM nation WHERE n_nationkey < 15")
    return eng.sql("SELECT k, v, s FROM upperm_t ORDER BY k")


@register(
    "llm_embedding_near_dup",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS planted_pairs_found,
           CAST(1.0 AS DOUBLE) AS min_sim
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-bucketed (llm_ops.
    embedding_near_dup_pairs). The fixture has no true near-dups (max pair
    cosine 0.51 at sf0.01), so the query plants one exact copy per
    original at vec_id+1M; identical vectors get identical hyperplane
    signatures in every table, so LSH recall on the planted pairs is
    exactly 1.0 and the count is oracle-reproducible (every non-null,
    non-zero vector yields its pair). Noisy-perturbation recall is pinned
    in tests/test_llm_ops.py."""
    from impala_spark import llm_ops

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.withColumn("vec_id", F.col("vec_id") + 1000000)
    corpus = emb.unionByName(planted)
    pairs = llm_ops.embedding_near_dup_pairs(corpus, threshold=0.99)
    found = pairs.filter(F.col("b_id") == F.col("a_id") + 1000000)
    return found.agg(
        F.count(F.lit(1)).cast("bigint").alias("planted_pairs_found"),
        F.round(F.min("cos_sim"), 3).cast("double").alias("min_sim"),
    )


@register(
    "agg_ndv_incremental",
    oracle="""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
           TRUE AS sketch_ok
    FROM orders
    """,
)
def q_ndv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPUTE INCREMENTAL STATS core (analysis/ComputeStatsStmt.java +
    BuiltinsDb ndv_no_finalize): per-partition HLL sketches merged to a
    global NDV without rescanning — new partitions only add their own
    sketch. Tolerance-boolean contract: sketch_ok iff the merged estimate
    is within 5% of the exact count the oracle reproduces."""
    o = table(spark, sf_dir, "orders")
    per_part = o.groupBy("o_orderstatus").agg(ifn.ndv_sketch(F.col("o_custkey")).alias("sk"))
    merged = per_part.agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("ndv_est")
    )
    exact = o.agg(F.count_distinct(F.col("o_custkey")).alias("ndv_exact"))
    return merged.crossJoin(exact).select(
        F.col("ndv_exact").cast("bigint"),
        (
            F.abs(F.col("ndv_est") - F.col("ndv_exact")) / F.col("ndv_exact") < 0.05
        ).alias("sketch_ok"),
    )


sql_query(
    "expr_bit_xor_not_factorial",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber ^ 3 AS BIGINT) AS bit_xor,
           CAST(~l_linenumber AS BIGINT) AS bit_not,
           CAST(FACTORIAL(CAST(l_linenumber % 10 AS INT)) AS BIGINT) AS fact
    FROM lineitem WHERE l_orderkey <= 100
    """,
    """
    SELECT l_orderkey, l_linenumber,
           CAST(xor(l_linenumber, 3) AS BIGINT) AS bit_xor,
           CAST(~l_linenumber AS BIGINT) AS bit_not,
           CAST(factorial(CAST(l_linenumber % 10 AS INT)) AS BIGINT) AS fact
    FROM lineitem WHERE l_orderkey <= 100
    """,
)


@register(
    "join_skewed_salted",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join (operators.salted_join): hot keys spread over 8
    salt buckets, small side replicated. Oracle = the plain join — salting
    must be result-invariant."""
    lf = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = ops.salted_join(
        lf.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on=["k"],
        salt=8,
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double").alias("qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_skewed_salted",
    """
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (operators.salted_agg) on a low-NDV
    (i.e. maximally skewed) grouping key. Oracle = plain groupBy."""
    lf = table(spark, sf_dir, "lineitem")
    out = ops.salted_agg(
        lf.select("l_returnflag", "l_quantity", "l_extendedprice"),
        keys=["l_returnflag"],
        salt=16,
        n=("count", F.col("l_quantity")),
        max_price=("max", F.col("l_extendedprice")),
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("bigint"),
        F.col("max_price").cast("double"),
    ).orderBy("l_returnflag")


@register(
    "events_asof_join",
    """
    SELECT c.event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           c.user_id,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward AS-OF join (operators.asof_join): for every click, the
    user's most recent purchase value at or before the click. No native
    Spark equivalent — union+window formulation, one shuffle on user_id;
    oracle is DuckDB's native ASOF LEFT JOIN."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    out = ops.asof_join(clicks, purchases, key="user_id", value_cols=["value"])
    return out.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "user_id",
        F.col("value").alias("last_purchase_value"),
    ).orderBy("event_id")


@register(
    "events_range_join",
    oracle="""
    SELECT e.event_id, w.user_id, CAST(w.n_in_window AS BIGINT) AS n_in_window
    FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click') e
    JOIN (
      SELECT user_id, ts AS w_start, ts + INTERVAL 30 MINUTE AS w_end,
             COUNT(*) OVER (PARTITION BY user_id) AS n_in_window
      FROM events WHERE event_type = 'signup'
    ) w ON e.user_id = w.user_id AND e.ts >= w.w_start AND e.ts <= w.w_end
    ORDER BY e.event_id, w.w_start
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators.range_join): clicks inside each
    signup's 30-minute window — hash-shuffle on (bucket, user_id), never a
    nested-loop/cartesian plan; asserted on the physical plan."""
    e = table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "ts", "user_id")
    wins = (
        e.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("w_user"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("w_end"),
        )
        .withColumn("n_in_window", F.count(F.lit(1)).over(__import__("pyspark").sql.window.Window.partitionBy("w_user")))
    )
    j = ops.range_join(
        clicks.withColumnRenamed("user_id", "w_user"),
        wins, "ts", "w_start", "w_end", bucket_seconds=1800, extra_key="w_user",
    )
    plan = j._jdf.queryExecution().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan[:400]
    return (
        j.select(
            "event_id",
            F.col("w_user").alias("user_id"),
            F.col("n_in_window").cast("bigint"),
        ).orderBy("event_id", "w_start")
    )


@register(
    "ddl_sql_lifecycle",
    """
    SELECT CAST(3 AS BIGINT) AS ctas_rows, CAST(0 AS BIGINT) AS like_rows,
           CAST(3 AS BIGINT) AS inserted_rows
    """,
)
def q_sql_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DDL lifecycle through SQL strings only (the reference's
    statement surface end-to-end): CTAS -> CREATE LIKE -> INSERT ->
    DROP TABLE (service/Frontend.java dispatch + CatalogOpExecutor)."""
    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS lc_a")
    eng.sql("DROP TABLE IF EXISTS lc_b")
    eng.sql("CREATE TABLE lc_a AS SELECT r_regionkey, r_name FROM region WHERE r_regionkey < 3")
    ctas_rows = spark.table("lc_a").count()
    eng.sql("CREATE TABLE lc_b LIKE lc_a")
    like_rows = spark.table("lc_b").count()
    eng.sql("INSERT INTO lc_b SELECT * FROM lc_a")
    inserted = spark.table("lc_b").count()
    eng.sql("DROP TABLE lc_a")
    eng.sql("DROP TABLE lc_b")
    return spark.createDataFrame(
        [(ctas_rows, like_rows, inserted)],
        "ctas_rows: bigint, like_rows: bigint, inserted_rows: bigint",
    )


# IVF ANN verification harness (approximate by design — tolerance
# pattern, DataFrame-only, no collect). The brute-force comparison scan
# belongs to THIS harness; the production operator (llm_ops.ivf_ann)
# computes only its answer. Measured recall@10 at sf0.01 with
# nlist=16/nprobe=8: 0.8 on near-orthogonal random vectors (the IVF
# worst case); bound set at 0.5 for margin.
@register(
    "llm_ann_ivf",
    oracle="""
    SELECT CAST(LEAST(10, count(*)) AS BIGINT) AS n_results, TRUE AS recall_ok
    FROM embeddings
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (llm_ops.ivf_ann): k-means coarse quantizer, probe the
    nprobe nearest lists, exact rescore."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 42).select("embedding")
    ivf = llm_ops.ivf_ann(emb, qv, k=10, nlist=16, nprobe=8)
    brute = llm_ops.cosine_topk_bruteforce(emb, qv, k=10)
    n = ivf.agg(F.count(F.lit(1)).cast("bigint").alias("n_results"))
    overlap = (
        ivf.select("vec_id")
        .join(brute.select("vec_id"), "vec_id")
        .agg((F.count(F.lit(1)) >= 5).alias("recall_ok"))
    )
    return n.crossJoin(overlap)


@register(
    "agg_avg_timestamp",
    """
    SELECT o_orderstatus,
           strftime(to_timestamp(AVG(epoch(o_orderdate))), '%Y-%m-%d %H:%M:%S') AS avg_orderdate
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_avg_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impala avg(TIMESTAMP) (BuiltinsDb.java:885-927 — avg has a timestamp
    overload). Spark lacks it natively; same semantics via epoch-seconds
    average converted back, second precision."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.date_format(
            F.timestamp_seconds(F.avg(F.unix_timestamp(F.col("o_orderdate").cast("timestamp")))),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("avg_orderdate")
    )


@register(
    "meta_show_stats",
    """
    SELECT 'nation' AS tbl, CAST(COUNT(*) AS BIGINT) AS num_rows,
           CAST((SELECT COUNT(DISTINCT n_regionkey) FROM nation) AS BIGINT) AS ndv_regionkey,
           CAST((SELECT COUNT(*) FILTER (WHERE n_name IS NULL) FROM nation) AS BIGINT) AS null_names
    FROM nation
    """,
)
def q_show_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHOW TABLE STATS + SHOW COLUMN STATS (catalog/HdfsTable.java,
    ComputeStatsStmt child queries)."""
    eng = ImpalaEngine(spark, sf_dir)
    ts = eng.show_table_stats("nation").first()
    cs = {r.column: r for r in eng.show_column_stats("nation").collect()}
    return spark.createDataFrame(
        [("nation", ts.num_rows, cs["n_regionkey"].ndv, cs["n_name"].num_nulls)],
        "tbl: string, num_rows: bigint, ndv_regionkey: bigint, null_names: bigint",
    )


sql_query(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(CAST(100.00 * SUM(CASE WHEN p_brand LIKE 'Brand#1%'
                        THEN CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
                        ELSE CAST(0 AS DECIMAL(18,4)) END)
                 / SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
    """,
)


@register(
    "scan_partition_pruning",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning on a partitioned table (HdfsScanNode.java:311
    prunePartitions): a partition-key predicate must become a
    PartitionFilter that selects 1 of 3 directories — asserted on the
    physical plan, the check PlannerTest makes on scan ranges."""
    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "orders_pp")
    ddl.create_table_as_select(
        spark, "orders_pp",
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders",
        partition_cols=["o_orderstatus"],
    )
    q = (
        spark.table("orders_pp")
        .filter(F.col("o_orderstatus") == "O")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
        )
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PartitionFilters")[1][:120], plan[:900]
    return q


sql_query(
    "analytic_range_offset_frame",
    """
    SELECT o_orderkey,
           ROUND(CAST(o_totalprice AS DOUBLE), 2) AS price,
           CAST(COUNT(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_within_1000,
           CAST(COUNT(*) OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice
             RANGE BETWEEN CURRENT ROW AND 500.0 FOLLOWING
           ) AS BIGINT) AS n_next_500
    FROM orders WHERE o_orderkey <= 2000
    """,
)


# =====================================================================
# 12. TPC-H suite completion — the reference's own capability bar is its
# 22-query planner test (fe/src/test/java/org/apache/impala/planner/
# PlannerTest.java:195-216, testdata/workloads/functional-planner/
# queries/PlannerTest/tpch-all.test). Q1/Q3/Q5/Q10/Q14 are registered
# above; the remaining 17 SHAPES follow, adapted to the fixture schema
# (no partsupp table and no comment/phone/shipmode columns — lineitem
# stands in for partsupp where needed, o_orderpriority for o_comment
# filters, l_shipdate > o_orderdate for the commit/receipt lateness
# predicate). What is preserved is the plan shape the reference tests:
# the join graph, the subquery nesting, and the aggregation structure.
# =====================================================================

# Q2: correlated scalar MIN subquery selecting the best supplier per part
# (StmtRewriter scalar-subquery rewrite; PlannerTest tpch-all Q2).
sql_query(
    "tpch_q2_min_cost_supplier",
    """
    SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
           p_partkey, p_name
    FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE p_size = 15 AND r_name = 'EUROPE'
      AND l_extendedprice = (
        SELECT MIN(l2.l_extendedprice)
        FROM lineitem l2
          JOIN supplier s2 ON s2.s_suppkey = l2.l_suppkey
          JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE l2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
    GROUP BY s_acctbal, s_name, n_name, p_partkey, p_name
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)

# Q4: EXISTS with a correlated lateness predicate.
sql_query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (
        SELECT * FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

# Q6: single-scan filter + aggregate (predicate pushdown proof query).
sql_query(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

# Q7: volume shipping between two nations (double nation join + disjunctive
# pair predicate + derived-table aggregation).
sql_query(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l_shipdate) AS INT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_8')
          OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_7'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                           AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

# Q8: market share — CASE-inside-ratio aggregate over an 8-way join.
sql_query(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4))) AS volume,
             n2.n_name AS nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                            AND TIMESTAMP '1997-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)

# Q9: product-type profit (LIKE filter + 5-way join + year/nation agg;
# p_retailprice*0.6 stands in for ps_supplycost).
sql_query(
    "tpch_q9_product_profit",
    """
    SELECT nation, o_year, CAST(ROUND(SUM(amount), 2) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(18,4)))
               - CAST(p_retailprice AS DECIMAL(18,4))
                 * CAST(l_quantity AS DECIMAL(18,4))
                 * CAST(0.6 AS DECIMAL(18,4)) AS amount
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

# Q11: important stock — HAVING against a global scalar subquery
# (lineitem value per part stands in for partsupp value).
sql_query(
    "tpch_q11_important_stock",
    """
    SELECT l_partkey,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS part_value
    FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_11'
    GROUP BY l_partkey
    HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,4))
               * CAST(l_quantity AS DECIMAL(18,4)))
           > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                         * CAST(l_quantity AS DECIMAL(18,4)))
                     * CAST(0.001 AS DECIMAL(10,6))
              FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_11')
    ORDER BY part_value DESC, l_partkey
    """,
)

# Q12: shipping-mode priority counts — conditional aggregation
# (l_linestatus stands in for l_shipmode, lateness via ship>order date).
sql_query(
    "tpch_q12_shipping_priority_counts",
    """
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > o_orderdate
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)

# Q13: customer order-count distribution — LEFT OUTER with ON-clause
# filter, then GROUP BY an aggregate of an aggregate.
sql_query(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

# Q15: top supplier — CTE reused twice, equality against a scalar MAX
# subquery over the CTE (the view-based shape of the reference test).
sql_query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(ROUND(total_rev, 2) AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s_suppkey
    """,
)

# Q16: supplier counts by part attributes — NOT IN subquery + COUNT(DISTINCT)
# over a grouped join (lineitem stands in for partsupp).
sql_query(
    "tpch_q16_parts_supplier",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 2, 3, 4, 5, 10, 15, 20)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)

# Q17: small-quantity-order revenue — correlated scalar AVG subquery in the
# WHERE clause (StmtRewriter correlated-scalar rewrite).
sql_query(
    "tpch_q17_small_quantity",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) / 7.0, 4) AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_size < 5
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)

# Q18: large-volume customers — IN over a grouped HAVING subquery.
sql_query(
    "tpch_q18_large_volume",
    """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)

# Q19: disjunction of conjunctions over a join — the OR-of-ANDs pushdown
# shape (p_size stands in for p_container).
sql_query(
    "tpch_q19_discounted_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)

# Q20: nested IN subquery whose inner WHERE carries a correlated scalar
# subquery (the double-nesting StmtRewriter exercises on Q20).
sql_query(
    "tpch_q20_potential_promotion",
    """
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem l1
        WHERE l1.l_quantity > (
          SELECT 0.9 * MAX(l2.l_quantity)
          FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey))
    ORDER BY s_suppkey
    """,
)

# Q21: suppliers who kept orders waiting — EXISTS + NOT EXISTS, both
# correlated, over a multi-join (lateness = l_shipdate > o_orderdate).
sql_query(
    "tpch_q21_suppliers_waiting",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders     ON o_orderkey = l1.l_orderkey
      JOIN nation     ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_5'
      AND l1.l_shipdate > o_orderdate
      AND EXISTS (
        SELECT * FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT * FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)

# Q22: global-sales opportunity — substring grouping, scalar AVG subquery,
# anti-join via NOT EXISTS (c_name digits stand in for c_phone country code).
sql_query(
    "tpch_q22_global_sales",
    """
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(ROUND(SUM(CAST(acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
    FROM (
      SELECT SUBSTR(c_name, 16, 2) AS cntrycode, c_acctbal AS acctbal
      FROM customer
      WHERE SUBSTR(c_name, 16, 2) IN ('00', '01', '02', '10', '11', '12', '20')
        AND c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                / COUNT(*)
                         FROM customer WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT * FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderpriority = '1-URGENT')
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)


# =====================================================================
# 13. Translator-surface queries: DECODE, timestamp builtin family,
# postfix factorial (round-3 additions; parser.py structural rewrites).
# =====================================================================

# DECODE -> CASE with null-safe <=> (analysis/CaseExpr.java:37-60). The
# NULL search value must match NULL inputs (<=> semantics) — pinned by
# routing priority NULLs through a NULL search arm.
sql_query(
    "expr_decode",
    """
    SELECT o_orderkey,
           DECODE(o_orderstatus, 'O', 'open', 'F', 'finished', 'P', 'pending', 'other') AS status_word,
           DECODE(NULLIF(o_orderpriority, '1-URGENT'), NULL, 'urgent', 'normal') AS urgency
    FROM orders WHERE o_orderkey <= 200
    """,
    """
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'O' THEN 'open' WHEN 'F' THEN 'finished'
                              WHEN 'P' THEN 'pending' ELSE 'other' END AS status_word,
           CASE WHEN NULLIF(o_orderpriority, '1-URGENT') IS NULL THEN 'urgent'
                ELSE 'normal' END AS urgency
    FROM orders WHERE o_orderkey <= 200
    """,
)

# Impala timestamp builtin family: years_add/months_sub/days_add/... and
# date_add/date_sub day forms (generated ScalarBuiltins). Each becomes
# `ts +/- make_interval(...)` — NOT Spark's date_add, which silently
# returns DATE.
sql_query(
    "expr_ts_builtins",
    """
    SELECT o_orderkey,
           CAST(years_add(o_orderdate, 2) AS STRING) AS plus_2y,
           CAST(months_sub(o_orderdate, 3) AS STRING) AS minus_3mo,
           CAST(weeks_add(o_orderdate, 6) AS STRING) AS plus_6w,
           CAST(days_add(o_orderdate, 45) AS STRING) AS plus_45d,
           CAST(hours_add(o_orderdate, 30) AS STRING) AS plus_30h,
           CAST(minutes_sub(o_orderdate, 90) AS STRING) AS minus_90min,
           CAST(seconds_add(o_orderdate, 3601) AS STRING) AS plus_3601s,
           CAST(date_add(o_orderdate, 10) AS STRING) AS plus_10d,
           CAST(date_sub(o_orderdate, 10) AS STRING) AS minus_10d
    FROM orders WHERE o_orderkey <= 200
    """,
    """
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 2 YEAR, '%Y-%m-%d %H:%M:%S') AS plus_2y,
           strftime(o_orderdate - INTERVAL 3 MONTH, '%Y-%m-%d %H:%M:%S') AS minus_3mo,
           strftime(o_orderdate + INTERVAL 42 DAY, '%Y-%m-%d %H:%M:%S') AS plus_6w,
           strftime(o_orderdate + INTERVAL 45 DAY, '%Y-%m-%d %H:%M:%S') AS plus_45d,
           strftime(o_orderdate + INTERVAL 30 HOUR, '%Y-%m-%d %H:%M:%S') AS plus_30h,
           strftime(o_orderdate - INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS minus_90min,
           strftime(o_orderdate + INTERVAL 3601 SECOND, '%Y-%m-%d %H:%M:%S') AS plus_3601s,
           strftime(o_orderdate + INTERVAL 10 DAY, '%Y-%m-%d %H:%M:%S') AS plus_10d,
           strftime(o_orderdate - INTERVAL 10 DAY, '%Y-%m-%d %H:%M:%S') AS minus_10d
    FROM orders WHERE o_orderkey <= 200
    """,
)

# Sentry-style authorization (r12; SURVEY §2 row 15, previously out of
# scope): CREATE/DROP ROLE, GRANT/REVOKE role + privileges, SHOW
# surfaces, and query-time enforcement (authz.py; AnalyzeAuthStmtsTest
# texts pinned in tests/test_authz.py). The policy catalog is
# deterministic engine state, so the SHOW GRANT ROLE surface is the
# oracle-checkable result.
@register(
    "meta_authz_roles",
    oracle="""
    SELECT * FROM (VALUES
      ('database', 'default', '', '', '', 'all', TRUE),
      ('table', 'default', 'orders', '', '', 'select', FALSE),
      ('table', 'default', 'lineitem', 'l_orderkey', '', 'select', FALSE),
      ('table', 'default', 'lineitem', 'l_quantity', '', 'select', FALSE)
    ) AS t(scope, "database", "table", "column", uri, privilege, grant_option)
    ORDER BY scope, "table", "column"
    """,
)
def q_authz_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role + privilege lifecycle (analysis/CreateDropRoleStmt.java,
    GrantRevokePrivStmt.java, ShowGrantRoleStmt.java; enforcement
    authorization/AuthorizationChecker.java): create a role, grant it to
    a group, grant table/database/column privileges, verify enforcement
    denies an ungranted read, and return the SHOW GRANT ROLE surface."""
    eng = ImpalaEngine(
        spark, sf_dir=sf_dir, server_name="server1", user="authz_demo"
    )
    eng._authz.user_groups = {"authz_demo": {"demo_group"}}
    for stmt in (
        "CREATE ROLE demo_reader",
        "GRANT ROLE demo_reader TO GROUP demo_group",
        "GRANT SELECT ON TABLE orders TO ROLE demo_reader",
        "GRANT ALL ON DATABASE default TO ROLE demo_reader"
        " WITH GRANT OPTION",
        "GRANT SELECT (l_orderkey, l_quantity) ON TABLE lineitem"
        " TO ROLE demo_reader",
    ):
        eng.sql(stmt)
    # enforcement sanity inside the entry: an unprivileged user is denied
    denied = ImpalaEngine(
        spark, sf_dir=sf_dir, server_name="server1", user="stranger"
    )
    try:
        denied.sql("SELECT COUNT(*) FROM orders")
        raise AssertionError("enforcement did not deny an ungranted read")
    except Exception as exc:  # noqa: BLE001 - text is the contract
        assert "does not have privileges" in str(exc)
    df = eng.sql("SHOW GRANT ROLE demo_reader")
    eng.sql("DROP ROLE demo_reader")
    return df.orderBy("scope", "table", "column")


# Hash + utility builtin tail (r12; BuiltinsDb fnv_hash/murmur_hash +
# UtilityFunctions + ScalarBuiltins math predicates). fnv/murmur are
# exact-value implementations (FNV-1a 64 public vectors; MurmurHash2 64A
# seed 0) as Arrow-batched UDFs; the rest are pure translate rewrites.
# Boolean-contract oracle: DuckDB can't compute these hashes, so the
# Spark side reduces to literal-checkable booleans the oracle re-emits.
@register(
    "expr_hash_utility_builtins",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_names,
           TRUE AS fnv_vectors_ok, TRUE AS murmur_vectors_ok,
           TRUE AS hashes_injective_here,
           TRUE AS inf_nan_ok, TRUE AS datetime_tail_ok, TRUE AS escape_ok,
           TRUE AS bit_ops_ok, TRUE AS subsecond_bounds_ok
    FROM nation
    """,
)
def q_hash_utility_builtins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impala builtins with no Spark twin: fnv_hash/murmur_hash (exact
    64-bit values, signed wrap like the reference), is_inf/is_nan (NULL
    propagating), regexp_escape (RE2 QuoteMeta), int_months_between,
    millisecond, utc_timestamp, effective_user, pid, coordinator.
    catalog/BuiltinsDb.java + generated ScalarBuiltins surface."""
    from impala_spark.functions import register_hash_udfs

    register_hash_udfs(spark)
    register_tables(spark, sf_dir)
    q = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_names,
           bool_and(fnv_hash('a') = -5808556873153909620
                    AND fnv_hash('abc') = -1792535898324117685
                    AND fnv_hash(CAST(NULL AS STRING)) IS NULL) AS fnv_vectors_ok,
           bool_and(murmur_hash('abc') = -7148968302806999301
                    AND murmur_hash('abcdefgh') = -5775019520204625256
                    AND murmur_hash('') = 0) AS murmur_vectors_ok,
           (COUNT(DISTINCT fnv_hash(n_name)) = COUNT(DISTINCT n_name)
            AND COUNT(DISTINCT murmur_hash(n_name)) = COUNT(DISTINCT n_name))
               AS hashes_injective_here,
           bool_and(is_inf(CAST('Infinity' AS DOUBLE))
                    AND NOT is_inf(CAST(n_nationkey AS DOUBLE))
                    AND is_nan(CAST('NaN' AS DOUBLE)) AND NOT is_nan(1.0)
                    AND is_nan(CAST(NULL AS DOUBLE)) IS NULL) AS inf_nan_ok,
           bool_and(int_months_between('2020-03-15', '2020-01-01') = 2
                    AND millisecond(CAST('2020-01-01 00:00:00.123' AS TIMESTAMP)) = 123
                    AND utc_timestamp() IS NOT NULL
                    AND effective_user() IS NOT NULL
                    AND pid() > 0 AND length(coordinator()) > 0) AS datetime_tail_ok,
           bool_and(regexp_escape('a.b+c') = 'a\\\\.b\\\\+c') AS escape_ok,
           bool_and(bitand(6,3) = 2 AND bitor(6,3) = 7 AND bitxor(6,3) = 5
                    AND bitnot(6) = -7 AND getbit(11,1) = 1
                    AND setbit(8,0) = 9 AND setbit(9,0,0) = 8
                    AND countset(7) = 3 AND rotateleft(8,1) = 16
                    AND rotateright(16,1) = 8) AS bit_ops_ok,
           bool_and(microsecond(CAST('2020-01-01 00:00:00.123456' AS TIMESTAMP)) = 123456
                    AND nanosecond(CAST('2020-01-01 00:00:00.123456' AS TIMESTAMP)) = 123456000
                    AND week('2020-01-08') = 2
                    AND timestamp_cmp(CAST('2020-01-02' AS TIMESTAMP),
                                      CAST('2020-01-01' AS TIMESTAMP)) = 1
                    AND max_tinyint() = 127 AND min_int() = -2147483648
                    AND max_bigint() = 9223372036854775807
                    AND le_dst('abc','abd') = 1) AS subsecond_bounds_ok
    FROM nation
    """
    return spark.sql(translate(q))


# HS2/JDBC metadata operations (service/MetadataOp.java; behavior pinned
# by T/service/JdbcTest.java, adapted in tests/test_jdbc_metadata.py).
# The entry exercises GetSchemas/GetTables/GetColumns over the fixture
# catalog; the oracle re-emits the expected constants (lineitem's JDBC
# column descriptors are fully determined by its parquet schema).
@register(
    "meta_jdbc_metadata",
    oracle="""
    SELECT * FROM (VALUES
      ('schemas',  'default',        CAST(NULL AS INT), CAST(NULL AS INT)),
      ('tables',   'lineitem',       NULL, NULL),
      ('col',      'l_quantity',     8,  15),
      ('col',      'l_returnflag',   12, 2147483647),
      ('col',      'l_orderkey',     -5, 19)
    ) AS t(surface, name, data_type, column_size)
    ORDER BY surface, name
    """,
)
def q_jdbc_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DatabaseMetaData surface: getSchemas pattern, getTables pattern,
    getColumns JDBC type descriptors (java.sql.Types codes, COLUMN_SIZE
    per the reference's Type.getColumnSize)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("SELECT 1 FROM lineitem LIMIT 1")  # register fixtures
    rows = []
    for r in eng.get_schemas("", "d_f%").collect():
        rows.append(("schemas", r["TABLE_SCHEM"], None, None))
    for r in eng.get_tables("", "default", "%line_tem", None).collect():
        rows.append(("tables", r["TABLE_NAME"], None, None))
    cols = eng.get_columns(
        None, "default", "lineitem", "l_%").collect()
    want = {"l_quantity", "l_returnflag", "l_orderkey"}
    for r in cols:
        if r["COLUMN_NAME"] in want:
            rows.append(("col", r["COLUMN_NAME"], r["DATA_TYPE"],
                         r["COLUMN_SIZE"]))
    return spark.createDataFrame(
        rows, "surface: string, name: string, data_type: int,"
        " column_size: int"
    ).orderBy("surface", "name")


# Statement-level predicate rewriting (stmtrewriter.rewrite_predicates_sql
# — top-level WHERE/HAVING spans through the three ExprRewriteRules,
# spliced back in place; unparseable spans bail verbatim). The Spark side
# executes the REWRITTEN statement, the oracle the ORIGINAL.
_STMT_RW_ORIG = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_ext2
    FROM lineitem
    WHERE (l_quantity between 5 and 15 and l_discount < 0.04)
       or (l_tax >= 0.03 and l_quantity between 5 and 15)
       or (l_quantity between 5 and 15 and l_linenumber < 2 + 2)
    GROUP BY l_returnflag
    HAVING COUNT(*) > 10 * 10
"""


@register("stmt_rewrite_predicates", oracle=_STMT_RW_ORIG, family="relational")
def q_stmt_rewrite_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the splice-rewritten statement; oracle runs the original."""
    from impala_spark.stmtrewriter import rewrite_predicates_sql

    register_tables(spark, sf_dir)
    rewritten, n_changes = rewrite_predicates_sql(_STMT_RW_ORIG)
    assert n_changes > 0, "statement rewrite did not fire"
    return spark.sql(translate(rewritten))


# Access-event auditing (A/Analyzer.java addAccessEvent; verdicts pinned
# by T/analysis/AuditingTest.java — full adaptation in
# tests/test_auditing.py). The entry audits four statement kinds through
# ImpalaEngine.access_events and emits the captured (statement, object,
# type, privilege) rows; the oracle re-emits the expected constants.
@register(
    "meta_access_events",
    oracle="""
    SELECT * FROM (VALUES
      ('ctas',   'default.audit_ev_t', 'TABLE', 'CREATE'),
      ('ctas',   'default.region',     'TABLE', 'SELECT'),
      ('insert', 'default.nation',     'TABLE', 'INSERT'),
      ('insert', 'default.region',     'TABLE', 'SELECT'),
      ('select', 'default.audit_ev_v', 'VIEW',  'SELECT'),
      ('select', 'default.orders',     'TABLE', 'SELECT'),
      ('show',   'default.lineitem',   'TABLE', 'VIEW_METADATA')
    ) AS t(stmt, object, object_type, privilege)
    ORDER BY stmt, object
    """,
)
def q_access_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit events for a SELECT-through-view, INSERT..SELECT, CTAS and
    SHOW CREATE TABLE, captured without executing the statements."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("CREATE VIEW audit_ev_v AS SELECT * FROM orders")
    stmts = {
        "select": "SELECT * FROM audit_ev_v",
        "insert": "INSERT INTO nation SELECT * FROM region",
        "ctas": "CREATE TABLE audit_ev_t AS SELECT * FROM region",
        "show": "SHOW CREATE TABLE lineitem",
    }
    rows = []
    try:
        for label, stmt in stmts.items():
            for name, objtype, priv in eng.access_events(stmt):
                rows.append((label, name, objtype, priv))
    finally:
        eng.sql("DROP VIEW audit_ev_v")
    return spark.createDataFrame(
        rows, "stmt: string, object: string, object_type: string,"
        " privilege: string"
    ).orderBy("stmt", "object")


# Expression rewrite rules (rewrite/BetweenToCompoundRule.java,
# ExtractCommonConjunctRule.java, FoldConstantsRule.java, driven by
# ExprRewriter.java:36-99; all 36 RewritesOk pins from
# T/analysis/ExprRewriteRulesTest.java live in tests/test_exprrules.py).
# Semantic-preservation gate: the Spark side executes the REWRITTEN
# predicate, the oracle executes the ORIGINAL — equal results prove the
# rewrite preserved semantics on real data. The predicate exercises all
# three rules: common BETWEEN conjunct across the OR disjuncts, and a
# foldable constant subexpression.
_EXPRRULES_PRED_ORIG = (
    "((l_quantity between 10 and 20 and l_discount < 0.05) or "
    "(l_tax > 0.02 and l_quantity between 10 and 20)) "
    "and l_linenumber < 1 + 3"
)


def _exprrules_rewritten_pred() -> str:
    from impala_spark.exprrules import rewrite_sql as _rw

    rewritten, n_changes = _rw(
        _EXPRRULES_PRED_ORIG,
        ["between_to_compound", "extract_common_conjuncts",
         "fold_constants"],
    )
    assert n_changes > 0, "rewrite rules did not fire"
    return rewritten


_EXPRRULES_SELECT = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS sum_qty2,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_ext2
    FROM lineitem
    WHERE {pred}
    GROUP BY l_returnflag
"""


@register(
    "expr_rewrite_rules",
    oracle=_EXPRRULES_SELECT.format(pred=_EXPRRULES_PRED_ORIG),
    family="relational",
)
def q_expr_rewrite_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute the rule-rewritten predicate; oracle runs the original."""
    register_tables(spark, sf_dir)
    sql = _EXPRRULES_SELECT.format(pred=_exprrules_rewritten_pred())
    return spark.sql(translate(sql))


# Postfix `!` factorial vs prefix `!` NOT (analysis/ArithmeticExpr.java:
# 40-50): `n!` computes factorial, `!bool` negates — position decides.
sql_query(
    "expr_factorial_postfix",
    """
    SELECT l_orderkey, l_linenumber,
           CAST((l_linenumber % 10)! AS BIGINT) AS fact_postfix,
           (!(l_linenumber > 3)) AS not_prefix
    FROM lineitem WHERE l_orderkey <= 100
    """,
    """
    SELECT l_orderkey, l_linenumber,
           CAST(factorial(CAST(l_linenumber % 10 AS INT)) AS BIGINT) AS fact_postfix,
           (NOT (l_linenumber > 3)) AS not_prefix
    FROM lineitem WHERE l_orderkey <= 100
    """,
)


# CREATE [AGGREGATE] FUNCTION SQL routing (analysis/CreateUdfStmt.java:
# 35-75, CreateUdaStmt.java:30-60): SYMBOL resolves into the engine's
# Arrow-batched UDF library, LOCATION is accepted and ignored. The
# created functions then run inside a plain SQL query; the oracle
# reproduces their arithmetic.
@register(
    "ddl_create_function",
    oracle="""
    SELECT o_orderpriority,
           ROUND(CAST(SUM(CAST(o_totalprice * 1.1 AS DECIMAL(18,4))) AS DOUBLE), 2) AS taxed_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql(
        "CREATE FUNCTION taxed(DOUBLE) RETURNS DOUBLE "
        "LOCATION '/dev/null' SYMBOL='add_tax'"
    )
    out = spark.sql(translate(
        """
        SELECT o_orderpriority,
               ROUND(CAST(SUM(CAST(taxed(o_totalprice) AS DECIMAL(18,4))) AS DOUBLE), 2) AS taxed_total
        FROM orders GROUP BY o_orderpriority
        """
    ))
    eng.sql("DROP FUNCTION IF EXISTS taxed(DOUBLE)")
    return out


# Nested array<struct> through the SQL front door (analysis/Path.java:
# 30-80, planner/SubplanNode.java:30-55, UnnestNode): build a nested
# table (orders with a collected array<struct> of its lineitems — the
# tpch_nested layout the reference tests against), then query it with
# Impala's implicit collection join `FROM order_items o, o.items i` and
# dotted paths. The oracle reproduces the flat join: nest -> unnest must
# be lossless.
@register(
    "nested_collection_sql",
    oracle="""
    SELECT o_orderkey,
           CAST(l_linenumber AS BIGINT) AS ln,
           CAST(l_quantity AS DOUBLE) AS qty,
           CAST(l_extendedprice AS DOUBLE) AS price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey <= 1000 AND l_quantity > 30
    """,
)
def q_nested_collection_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    spark.sql(
        """
        CREATE OR REPLACE TEMP VIEW order_items AS
        SELECT o_orderkey,
               collect_list(named_struct(
                 'ln', l_linenumber, 'qty', l_quantity, 'price', l_extendedprice
               )) AS items
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderkey <= 1000
        GROUP BY o_orderkey
        """
    )
    return spark.sql(translate(
        """
        SELECT o.o_orderkey,
               CAST(i.ln AS BIGINT) AS ln,
               CAST(i.qty AS DOUBLE) AS qty,
               CAST(i.price AS DOUBLE) AS price
        FROM order_items o, o.items i
        WHERE i.qty > 30
        """
    ))


# Multi-format scan/sink round trip (planner/HdfsScanNode.java:61-96
# multi-format scan ranges, planner/HdfsTableSink.java TEXT/PARQUET
# sinks): write an orders slice as Impala TEXTFILE ('\001'-delimited),
# ORC, and JSON via sources.write_table, read each back via
# sources.read_table, and aggregate the union. The oracle recomputes
# from the parquet originals (x3 — one per format copy): the round trip
# through every format must be lossless.
@register(
    "scan_multi_format",
    oracle="""
    SELECT o_orderstatus,
           CAST(3 * COUNT(*) AS BIGINT) AS n,
           CAST(3 * SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey <= 5000
    GROUP BY o_orderstatus
    """,
)
def q_multi_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from impala_spark import sources

    # absolute path: the driver's SparkSession may run with a different
    # cwd, and a relative path would write outside the allowed tree
    from impala_spark.ddl import WAREHOUSE

    base = os.path.join(WAREHOUSE, "multi_format_demo")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    parts = []
    for fmt in ("TEXTFILE", "ORC", "JSON"):
        path = os.path.join(base, fmt.lower())
        sources.write_table(o, path, fmt)
        parts.append(sources.read_table(spark, path, fmt, schema=schema))
    allf = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return allf.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
    )


# Parquet schema evolution: one table directory whose part files carry
# DIFFERENT schemas (a column added over time — the reference's ALTER
# TABLE ADD COLUMNS + name-based parquet slot resolution,
# A/AlterTableAddReplaceColsStmt.java; at 100 TB a table is ALWAYS a mix
# of file generations, so the scan must resolve by name and null-fill
# the missing column rather than fail or misalign positionally).
@register(
    "scan_schema_evolution",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(rk) AS BIGINT) AS n_with_region,
           CAST(SUM(rk) AS BIGINT) AS region_sum
    FROM (
      SELECT n_nationkey, CAST(NULL AS BIGINT) AS rk FROM nation
      UNION ALL
      SELECT n_nationkey, CAST(n_regionkey AS BIGINT) AS rk FROM nation
    ) t
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from impala_spark.ddl import WAREHOUSE

    base = os.path.join(WAREHOUSE, "schema_evolution_demo")
    n = table(spark, sf_dir, "nation")
    # generation 1: written before the column existed
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(
        os.path.join(base, "gen1")
    )
    # generation 2: written after ALTER TABLE ADD COLUMNS (n_regionkey)
    n.select(
        "n_nationkey", "n_name", F.col("n_regionkey").cast("bigint")
    ).write.mode("overwrite").parquet(os.path.join(base, "gen2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(base)
    )
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("n_regionkey").cast("bigint").alias("n_with_region"),
        F.sum("n_regionkey").cast("bigint").alias("region_sum"),
    )


# Stream-stream interval join (Structured Streaming's watermarked
# two-sided join — state bounded by watermark+interval; north-star
# streaming surface beyond the reference). The registered query runs the
# batch plan; tests drive the same helper through readStream.
@register(
    "events_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(e.event_id) AS BIGINT) AS first_error_id
    FROM events c JOIN events e
      ON c.user_id = e.user_id
     AND c.event_type = 'click' AND e.event_type = 'error'
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    pairs = stm.click_error_interval_join(e)
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("error_id").cast("bigint").alias("first_error_id"),
        )
        .orderBy("user_id")
    )


# Exchange / DataPartition kinds (planner/DataPartition.java:53-76,
# ExchangeNode): apply all four partitioning kinds through ops.exchange
# and prove each yields the same relation (exchanges are data-neutral);
# plan shape per kind is asserted in tests/test_operators.py. Output is
# one row per kind with the row count surviving the exchange.
@register(
    "exchange_kinds",
    oracle="""
    SELECT kind, CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n
    FROM (VALUES ('UNPARTITIONED'), ('RANDOM'), ('HASH_PARTITIONED'),
                 ('RANGE_PARTITIONED')) t(kind)
    ORDER BY kind
    """,
)
def q_exchange_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    parts = []
    for kind, cols in [
        ("UNPARTITIONED", ()),
        ("RANDOM", ()),
        ("HASH_PARTITIONED", ("o_orderstatus",)),
        ("RANGE_PARTITIONED", ("o_orderkey",)),
    ]:
        ex = ops.exchange(o, kind, *cols)
        parts.append(
            ex.agg(F.count(F.lit(1)).cast("bigint").alias("n")).select(
                F.lit(kind).alias("kind"), "n"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("kind")


# Literal type inference (analysis/LiteralExpr.java + types.py smallest-
# fit rules): Spark-side typeof() must agree with the Impala inference
# table; the oracle reproduces the VALUES and literal TRUEs. The driver
# compares VALUES, so the booleans are the checkable contract while the
# numbers pin arithmetic-result widths.
@register(
    "expr_literals_inference",
    oracle="""
    SELECT CAST(127 AS BIGINT) AS i8, CAST(32767 AS BIGINT) AS i16,
           CAST(2147483647 AS BIGINT) AS i32, CAST(9223372036854775807 AS BIGINT) AS i64,
           CAST(3.14 AS DOUBLE) AS dec_lit,
           TRUE AS int_is_smallest_fit, TRUE AS decimal_is_exact,
           TRUE AS sum_widens_to_bigint
    """,
)
def q_literals_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from impala_spark.types import smallest_int_literal_type

    checks = spark.sql(
        """
        SELECT CAST(127 AS BIGINT) AS i8, CAST(32767 AS BIGINT) AS i16,
               CAST(2147483647 AS BIGINT) AS i32, CAST(9223372036854775807 AS BIGINT) AS i64,
               CAST(3.14 AS DOUBLE) AS dec_lit,
               typeof(3.14) = 'decimal(3,2)' AS decimal_is_exact,
               typeof(CAST(1 AS TINYINT) + CAST(1 AS TINYINT)) IN ('smallint', 'tinyint')
                 AS sum_widens_to_bigint
        """
    )
    ok = (
        smallest_int_literal_type(127) == T.ByteType()
        and smallest_int_literal_type(32767) == T.ShortType()
        and smallest_int_literal_type(2147483647) == T.IntegerType()
        and smallest_int_literal_type(9223372036854775807) == T.LongType()
    )
    return checks.withColumn("int_is_smallest_fit", F.lit(ok)).select(
        "i8", "i16", "i32", "i64", "dec_lit",
        "int_is_smallest_fit", "decimal_is_exact", "sum_widens_to_bigint",
    )


# Bucketed co-located fact-fact join (the persistent analog of the
# reference's partitioned join, DistributedPlanner.java:520-536): orders
# and lineitem bucketed by the join key join WITHOUT an exchange on
# either side — asserted on the plan, since that claim is the entire
# point of bucketing at 100 TB.
@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey <= 10000
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 10000).select(
        "o_orderkey", "o_orderpriority"
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 10000).select(
        "l_orderkey", "l_extendedprice"
    )
    ob = ops.write_bucketed(o, "orders_bkt", ["o_orderkey"], buckets=8)
    lb = ops.write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_bkt",
        ["o_orderkey"], buckets=8,
    )
    joined = ops.colocated_join(ob, lb, ["o_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan[:800]
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
        .cast("double").alias("total_price"),
    )


# Misc ScalarBuiltins breadth: d-prefixed math variants, lcase/ucase,
# fmod, quotient (integer division), dayname/monthname (generated
# ScalarBuiltins; catalog/BuiltinsDb.java init path).
sql_query(
    "expr_misc_builtins",
    """
    SELECT o_orderkey,
           LCASE(o_orderpriority) AS prio_lower,
           UCASE(o_orderstatus) AS status_upper,
           CAST(QUOTIENT(o_orderkey, 7) AS BIGINT) AS q7,
           ROUND(FMOD(CAST(o_totalprice AS DOUBLE), 100.0), 4) AS price_mod,
           CAST(DCEIL(o_totalprice / 1000.0) AS DOUBLE) AS ceil_k,
           DAYNAME(o_orderdate) AS day_name,
           MONTHNAME(o_orderdate) AS month_name
    FROM orders WHERE o_orderkey <= 300
    """,
    """
    SELECT o_orderkey,
           LOWER(o_orderpriority) AS prio_lower,
           UPPER(o_orderstatus) AS status_upper,
           CAST(o_orderkey // 7 AS BIGINT) AS q7,
           ROUND(FMOD(CAST(o_totalprice AS DOUBLE), 100.0), 4) AS price_mod,
           CAST(CEIL(o_totalprice / 1000.0) AS DOUBLE) AS ceil_k,
           DAYNAME(o_orderdate) AS day_name,
           MONTHNAME(o_orderdate) AS month_name
    FROM orders WHERE o_orderkey <= 300
    """,
)


# ALTER TABLE ADD/DROP PARTITION (analysis/AlterTableAddPartitionStmt /
# AlterTableDropPartitionStmt; cup alter_tbl_stmt): ADD materializes an
# empty Hive-style partition dir, DROP removes a partition's directory
# AND its data. The oracle reproduces the surviving rows.
@register(
    "ddl_add_drop_partition",
    oracle="""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS added_dir_exists
    FROM orders WHERE o_orderkey <= 2000 AND o_orderstatus <> 'F'
    GROUP BY o_orderstatus
    """,
)
def q_add_drop_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "orders_part_ops")
    ddl.create_table_as_select(
        spark, "orders_part_ops",
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey <= 2000",
        partition_cols=["o_orderstatus"],
    )
    ddl.alter_table(spark, "ALTER TABLE orders_part_ops ADD PARTITION (o_orderstatus='X')")
    t = ddl.table_info("orders_part_ops")
    added = os.path.isdir(os.path.join(t.path, "o_orderstatus=X"))
    ddl.alter_table(spark, "ALTER TABLE orders_part_ops DROP PARTITION (o_orderstatus='F')")
    return (
        spark.table("orders_part_ops")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn("added_dir_exists", F.lit(added))
    )


# CHAR(n)/VARCHAR(n) cast-time length semantics (analysis/CastExpr.java;
# Impala pads CHAR to exactly n and truncates VARCHAR to at most n at
# CAST time — Spark only enforces lengths on table writes, so the
# translator rewrites to rpad/left).
sql_query(
    "expr_char_varchar_cast",
    """
    SELECT n_nationkey,
           CAST(n_name AS CHAR(12)) AS name_c12,
           CAST(LENGTH(CAST(n_name AS CHAR(12))) AS BIGINT) AS c12_len,
           CAST(n_name AS VARCHAR(6)) AS name_v6
    FROM nation
    """,
    """
    SELECT n_nationkey,
           CASE WHEN LENGTH(n_name) >= 12 THEN SUBSTR(n_name, 1, 12)
                ELSE n_name || REPEAT(' ', 12 - LENGTH(n_name)) END AS name_c12,
           CAST(12 AS BIGINT) AS c12_len,
           SUBSTR(n_name, 1, 6) AS name_v6
    FROM nation
    """,
)

# Decimal arithmetic result types: Impala 2.7's precision/scale rules
# (analysis/TypesUtil.java:98-158) — Spark's decimal result rules agree
# on +,*,/ for in-range precisions; typeof() is compared against
# types.decimal_arithmetic_result so a divergence fails the hash.
@register(
    "expr_decimal_result_types",
    oracle="""
    SELECT TRUE AS add_rule_ok, TRUE AS mul_rule_ok, TRUE AS div_rule_ok,
           CAST(3.75 AS DOUBLE) AS add_val,
           CAST(3.375 AS DOUBLE) AS mul_val
    """,
)
def q_decimal_result_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from impala_spark.types import decimal_arithmetic_result

    exp_add = "decimal(%d,%d)" % decimal_arithmetic_result("+", 10, 2, 8, 3)
    exp_mul = "decimal(%d,%d)" % decimal_arithmetic_result("*", 10, 2, 8, 3)
    exp_div = "decimal(%d,%d)" % decimal_arithmetic_result("/", 10, 2, 8, 3)
    return spark.sql(
        f"""
        SELECT typeof(CAST(1.5 AS DECIMAL(10,2)) + CAST(2.25 AS DECIMAL(8,3))) = '{exp_add}' AS add_rule_ok,
               typeof(CAST(1.5 AS DECIMAL(10,2)) * CAST(2.25 AS DECIMAL(8,3))) = '{exp_mul}' AS mul_rule_ok,
               typeof(CAST(1.5 AS DECIMAL(10,2)) / CAST(2.25 AS DECIMAL(8,3))) = '{exp_div}' AS div_rule_ok,
               CAST(CAST(1.5 AS DECIMAL(10,2)) + CAST(2.25 AS DECIMAL(8,3)) AS DOUBLE) AS add_val,
               CAST(CAST(1.5 AS DECIMAL(10,2)) * CAST(2.25 AS DECIMAL(8,3)) AS DOUBLE) AS mul_val
        """
    )


# Deterministic train/test split (llm_ops.train_test_split): the split
# is a pure function of doc_id, so the checkable invariants are
# completeness (train+test == total), disjointness, and the test
# fraction landing inside a binomial tolerance band. The oracle
# reproduces the total and the literal TRUEs.
@register(
    "llm_train_test_split",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS partitions_complete,
           TRUE AS ratio_ok
    FROM documents
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    s = llm_ops.train_test_split(d, test_permille=100)
    agg = s.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("_n_train"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("_n_test"),
    )
    return agg.select(
        "n_total",
        (F.col("_n_train") + F.col("_n_test") == F.col("n_total")).alias("partitions_complete"),
        # 10% target; allow [5%, 15%] — far beyond 5 sigma at 500 docs
        ((F.col("_n_test") / F.col("n_total") > 0.05)
         & (F.col("_n_test") / F.col("n_total") < 0.15)).alias("ratio_ok"),
    )


# Sequence packing (llm_ops.pack_sequences): bucketed first-fit-
# decreasing via applyInPandas. Checkable invariants: every document in
# exactly one pack (count preserved, ids distinct), no pack over budget
# unless it is a single oversized doc, and pack count sits between the
# theoretical floor (ceil(total/budget)) and the doc count. The oracle
# reproduces the exact totals and the literal TRUEs.
@register(
    "llm_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT len(string_split_regex(trim(text), '\\s+')) AS tc
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tc) AS BIGINT) AS total_tokens,
           TRUE AS every_doc_once,
           TRUE AS packs_within_budget,
           TRUE AS pack_count_sane
    FROM t
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    budget = 512
    d = table(spark, sf_dir, "documents")
    packed = llm_ops.pack_sequences(d, max_tokens=budget)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("token_count").alias("pack_tokens"),
        F.count(F.lit(1)).alias("pack_docs"),
    )
    over_budget_multi = per_pack.filter(
        (F.col("pack_tokens") > budget) & (F.col("pack_docs") > 1)
    ).agg(F.count(F.lit(1)).alias("n"))
    stats = packed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("id").alias("_n_ids"),
        F.sum("token_count").cast("bigint").alias("total_tokens"),
        F.count_distinct("pack_id").alias("_n_packs"),
    )
    return (
        stats.crossJoin(over_budget_multi)
        .select(
            "n_docs",
            "total_tokens",
            (F.col("_n_ids") == F.col("n_docs")).alias("every_doc_once"),
            (F.col("n") == 0).alias("packs_within_budget"),
            (
                (F.col("_n_packs") >= F.ceil(F.col("total_tokens") / budget))
                & (F.col("_n_packs") <= F.col("n_docs"))
            ).alias("pack_count_sane"),
        )
    )


# Weighted dataset mixing (llm_ops.mix_sources): seeded-hash downsampling
# per source. weight-1.0 sources survive exactly (oracle-exact count);
# fractional sources land in a wide binomial band; every kept row is a
# subset of the input (kept <= total per source).
@register(
    "llm_mix_sources",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE source IN ('src0','src1','src2','src3','src4')) AS BIGINT)
             AS n_full,
           TRUE AS partial_ratio_ok,
           TRUE AS no_unknown_sources
    FROM documents
    """,
)
def q_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    full = ["src0", "src1", "src2", "src3", "src4"]
    partial = [f"src{i}" for i in range(5, 20)]
    weights = {s: 1.0 for s in full} | {s: 0.25 for s in partial}
    mixed = llm_ops.mix_sources(d, weights, default_weight=0.0)
    totals = d.filter(F.col("source").isin(partial)).agg(
        F.count(F.lit(1)).alias("n_partial_in")
    )
    agg = mixed.agg(
        F.sum(F.when(F.col("source").isin(full), 1).otherwise(0))
        .cast("bigint").alias("n_full"),
        F.sum(F.when(F.col("source").isin(partial), 1).otherwise(0)).alias("_n_partial"),
        F.sum(F.when(~F.col("source").isin(full + partial), 1).otherwise(0)).alias("_n_other"),
    )
    return agg.crossJoin(totals).select(
        "n_full",
        ((F.col("_n_partial") / F.col("n_partial_in") > 0.10)
         & (F.col("_n_partial") / F.col("n_partial_in") < 0.40)).alias("partial_ratio_ok"),
        (F.col("_n_other") == 0).alias("no_unknown_sources"),
    )


# SHOW statement SQL routing (service/MetadataOp.java; sql-parser.cup
# show_stmt): SHOW TABLE STATS through the SQL front door, row count
# oracle-reproduced (size/format are engine-side constants here).
@register(
    "meta_show_sql_stmts",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS num_rows, 'PARQUET' AS format,
           TRUE AS files_listed
    FROM nation
    """,
)
def q_show_sql_stmts(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = ImpalaEngine(spark, sf_dir)
    ts = eng.sql("SHOW TABLE STATS nation")
    files = eng.sql("SHOW FILES IN nation")
    n_files = files.agg((F.count(F.lit(1)) >= 1).alias("files_listed"))
    return ts.select(F.col("num_rows").cast("bigint"), "format").crossJoin(n_files)


# Vocabulary building (llm_ops.token_frequencies): corpus token counts,
# the input to BPE training. Exact oracle via DuckDB unnest.
@register(
    "llm_token_frequencies",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(
        trim(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g')), '\\s+')) AS token
      FROM documents
    )
    SELECT token,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_total
    FROM w WHERE token <> ''
    GROUP BY token HAVING count(*) >= 5
    """,
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.token_frequencies(d, min_count=5)


# Implicit comma joins (sql-parser.cup from_clause; PlannerTest
# implicit-joins suite): comma-separated FROM refs with WHERE-clause
# equi-conjuncts must plan as hash joins, not cartesians.
sql_query(
    "join_implicit_comma",
    """
    SELECT n_name, r_name
    FROM nation, region
    WHERE n_regionkey = r_regionkey AND r_name IN ('ASIA', 'EUROPE')
    ORDER BY n_name
    """,
)


# Metadata-only partition-key scan (SingleNodePlanner.java:603-606 fast
# partition-key scans): DISTINCT over the partition column answered from
# the partition directory listing — zero data files read. The oracle
# computes the same distinct from the data.
@register(
    "scan_partition_keys_metadata_only",
    oracle="""
    SELECT DISTINCT o_orderstatus FROM orders WHERE o_orderkey <= 2000
    """,
)
def q_partition_key_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir)
    ddl.drop_table(spark, "orders_pkscan")
    ddl.create_table_as_select(
        spark, "orders_pkscan",
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey <= 2000",
        partition_cols=["o_orderstatus"],
    )
    return ops.partition_key_scan(spark, "orders_pkscan").select("o_orderstatus")


# =====================================================================
# 14. TPC-DS query shapes (PlannerTest.java:218-223 tpcds-all): the
# retail-star shapes the reference also pins — date-dimension star
# joins with grouped top-n. orders stands in for date_dim/store_sales'
# date side, lineitem for the fact, part for item.
# =====================================================================

# TPC-DS Q3 shape: item x date star join, grouped by year+brand, top-n
# by aggregate.
sql_query(
    "tpcds_q3_shape",
    """
    SELECT CAST(YEAR(o_orderdate) AS INT) AS d_year, p_brand,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_agg
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part   ON l_partkey = p_partkey
    WHERE p_type = 'PROMO' AND MONTH(o_orderdate) = 12
    GROUP BY YEAR(o_orderdate), p_brand
    ORDER BY d_year, sum_agg DESC, p_brand
    LIMIT 100
    """,
)

# TPC-DS Q42 shape: date-filtered star, category rollup by year.
sql_query(
    "tpcds_q42_shape",
    """
    SELECT CAST(YEAR(o_orderdate) AS INT) AS d_year, p_type,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_sales
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part   ON l_partkey = p_partkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY YEAR(o_orderdate), p_type
    ORDER BY sum_sales DESC, p_type
    LIMIT 100
    """,
)

# TPC-DS Q52 shape: brand revenue by year/month with ordered output.
sql_query(
    "tpcds_q52_shape",
    """
    SELECT CAST(YEAR(o_orderdate) AS INT) AS d_year,
           CAST(MONTH(o_orderdate) AS INT) AS d_moy, p_brand,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS brand_rev
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part   ON l_partkey = p_partkey
    WHERE p_size BETWEEN 10 AND 20
      AND o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-09-01 00:00:00'
    GROUP BY YEAR(o_orderdate), MONTH(o_orderdate), p_brand
    ORDER BY d_year, d_moy, brand_rev DESC, p_brand
    LIMIT 100
    """,
)


# TPC-DS Q34 shape: order-size buckets via derived aggregate + HAVING
# count BETWEEN — the "party size" bucketing pattern.
sql_query(
    "tpcds_q34_shape",
    """
    SELECT c_custkey, c_name, cnt
    FROM (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_custkey
      HAVING COUNT(*) BETWEEN 3 AND 8
    ) buckets
    JOIN customer ON c_custkey = o_custkey
    ORDER BY cnt DESC, c_custkey
    LIMIT 50
    """,
)

# TPC-DS Q90 shape: ratio of two independent scalar subqueries (am/pm
# count ratio). Impala 2.7 would reject select-list subqueries (strict
# mode pins that); the engine's permissive superset plans them as
# scalar-subquery joins like the reference's StmtRewriter would after
# manual rewrite.
sql_query(
    "tpcds_q90_shape",
    """
    SELECT ROUND(CAST(am.cnt AS DOUBLE) / CAST(pm.cnt AS DOUBLE), 6) AS am_pm_ratio
    FROM (SELECT COUNT(*) AS cnt FROM events WHERE HOUR(ts) BETWEEN 6 AND 11) am,
         (SELECT COUNT(*) AS cnt FROM events WHERE HOUR(ts) BETWEEN 18 AND 23) pm
    """,
)


# Embedding int8 quantization (llm_ops.quantize_embeddings): exact
# deterministic arithmetic, value-checked against DuckDB computing the
# identical formula. The q8 array is emitted as a joined string (the
# driver's hasher rejects raw arrays).
@register(
    "llm_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 50
    ), s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    )
    SELECT vec_id,
           array_to_string(list_transform(e, x -> CAST(CAST(round(x / scale, 0) AS INT) AS VARCHAR)), ',') AS q8_csv,
           ROUND(scale, 9) AS scale
    FROM s
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    q = llm_ops.quantize_embeddings(e)
    return q.select(
        "vec_id",
        F.array_join(F.transform("q8", lambda x: x.cast("string")), ",").alias("q8_csv"),
        "scale",
    )


# Connected-components dedup clustering (llm_ops.dedup_clusters):
# iterative min-label propagation over near-dup pairs — the iterative-
# algorithm shape on Spark. The oracle replicates it exactly with a
# DuckDB recursive CTE (min reachable id per node over the same exact
# Jaccard >= 0.5 pair set).
@register(
    "llm_dedup_clusters",
    oracle=_DUCK_SHINGLES.replace("WITH w AS", "WITH RECURSIVE w AS") + """
    , pairs AS (
      SELECT c.a_id, c.b_id
      FROM cand c JOIN s sa ON sa.doc_id = c.a_id JOIN s sb ON sb.doc_id = c.b_id
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ), edges AS (
      SELECT a_id AS x, b_id AS y FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), reach AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
    )
    SELECT x AS id, CAST(LEAST(x, MIN(y)) AS BIGINT) AS cluster_id
    FROM reach GROUP BY x
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    pairs = llm_ops.minhash_lsh_pairs_exact(d, threshold=0.5)
    return llm_ops.dedup_clusters(pairs)


# End-to-end corpus cleaning (the pipeline users actually run): exact
# dedup + near-dup clustering -> keep only cluster canonicals (min id)
# and non-duplicated docs. Composes fingerprint/minhash/clusters into
# one materialization; the oracle replicates both pruning rules.
@register(
    "llm_clean_corpus",
    oracle=_DUCK_SHINGLES.replace("WITH w AS", "WITH RECURSIVE w AS") + """
    , pairs AS (
      SELECT c.a_id, c.b_id
      FROM cand c JOIN s sa ON sa.doc_id = c.a_id JOIN s sb ON sb.doc_id = c.b_id
      WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ), edges AS (
      SELECT a_id AS x, b_id AS y FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), reach AS (
      SELECT x, y FROM edges
      UNION
      SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
    ), losers AS (
      SELECT x AS id FROM reach GROUP BY x HAVING LEAST(x, MIN(y)) <> x
    ), exact_losers AS (
      SELECT doc_id AS id FROM (
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
               MIN(doc_id) OVER (PARTITION BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS keep
        FROM documents
      ) WHERE doc_id <> keep
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum,
           CAST(MIN(doc_id) AS BIGINT) AS kept_id_min,
           CAST(MAX(doc_id) AS BIGINT) AS kept_id_max,
           CAST(SUM(CASE WHEN doc_id IN (SELECT id FROM losers)
                           OR doc_id IN (SELECT id FROM exact_losers)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
    FROM documents
    WHERE doc_id NOT IN (SELECT id FROM losers)
      AND doc_id NOT IN (SELECT id FROM exact_losers)
    """,
)
def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    fp = llm_ops.fingerprint(d)
    exact_keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keep"))
    exact_losers = (
        fp.join(exact_keep, "fp").filter(F.col("doc_id") != F.col("keep")).select("doc_id")
    )
    pairs = llm_ops.minhash_lsh_pairs_exact(d, threshold=0.5)
    clusters = llm_ops.dedup_clusters(pairs)
    near_losers = clusters.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias("doc_id")
    )
    # Materialize the (tiny) loser-id set once: it feeds BOTH the anti-join
    # and the leak re-join below, and each consumer otherwise re-executes
    # the full exact+near dedup chain above it (r12, same plan-tree
    # argument as the curation-funnel checkpoints; measured 2.49 -> 2.14 s
    # at sf0.01, result identical). Eager and per-invocation.
    # ops.materialize_stage = localCheckpoint locally, reliable
    # checkpoint under spark.graft.checkpoint.mode=reliable (r12 #3).
    losers = ops.materialize_stage(
        exact_losers.unionByName(near_losers).distinct()
    )
    kept = d.join(losers, "doc_id", "left_anti")
    # The oracle recomputes the kept SET independently (recursive CTE +
    # window dedup), so the id-sum/min/max checksums verify the surviving
    # set itself, not just its size. n_leaked is computed, not a literal:
    # kept rejoined against the loser set (exercises the anti-join).
    leaked = kept.select("doc_id").join(losers, "doc_id", "inner")
    return kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
        F.min("doc_id").cast("bigint").alias("kept_id_min"),
        F.max("doc_id").cast("bigint").alias("kept_id_max"),
    ).crossJoin(leaked.agg(F.count(F.lit(1)).cast("bigint").alias("n_leaked")))


# =====================================================================
# Round-4 LLM-pipeline additions: BM25 corpus scoring + benchmark
# decontamination (training-data hygiene ops; no reference analog —
# first-class additions per the build brief).
# =====================================================================

# BM25 over a fixed query-term bag. ln()/double math rounded to 4
# decimals for cross-engine determinism (same contract as cosine).
@register(
    "llm_bm25_scoring",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    d AS (SELECT doc_id, len(words) AS dl FROM w WHERE len(words) > 0),
    st AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d),
    e AS (SELECT doc_id, unnest(words) AS token FROM w),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM e
      WHERE token IN ('hash', 'join', 'vector', 'stream')
      GROUP BY 1, 2
    ),
    dfq AS (SELECT token, COUNT(DISTINCT doc_id) AS dfc FROM tf GROUP BY 1)
    SELECT tf.doc_id,
           ROUND(SUM(
             ln((n_docs - dfc + 0.5) / (dfc + 0.5) + 1.0)
             * tf * (1.2 + 1.0)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / avgdl))
           ), 4) AS bm25
    FROM tf JOIN dfq USING (token) JOIN d ON d.doc_id = tf.doc_id CROSS JOIN st
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, tf.doc_id
    LIMIT 10
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.bm25_scores(d, ["hash", "join", "vector", "stream"], topk=10)


# Benchmark decontamination: the "benchmark set" is the doc_id%50==0
# subset re-keyed as an external suite; every source doc in the corpus
# shares all its 8-grams with its bench copy, so the result is
# guaranteed non-vacuous and catches near-dups of bench docs too.
# NB the oracle's range uses greatest(len-7, 1) to mirror Spark's
# sequence(0, greatest(size-8, 0)) partial-gram semantics on short docs.
@register(
    "llm_decontaminate",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        list_filter(list_distinct(
          list_transform(range(1, greatest(len(words) - 7, 1) + 1),
            i -> concat_ws(' ', words[i], words[i+1], words[i+2], words[i+3],
                           words[i+4], words[i+5], words[i+6], words[i+7]))
        ), x -> x <> '') AS sh
      FROM w
    ),
    te AS (SELECT doc_id, unnest(sh) AS g FROM s),
    be AS (SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % 50 = 0)
    SELECT te.doc_id, CAST(COUNT(DISTINCT te.g) AS BIGINT) AS n_shared_ngrams
    FROM te JOIN be ON te.g = be.g
    GROUP BY te.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return llm_ops.contamination_flags(d, bench, n=8)


# Stream-stream LEFT OUTER interval join (round 4): completes the
# streaming join-mode matrix — unmatched clicks survive null-extended,
# which on a real stream requires watermark-driven null finalization
# (streaming.click_error_left_join). Batch plan checked here; the
# streaming plan is driven through Trigger.AvailableNow in tests.
@register(
    "events_stream_outer_join",
    oracle="""
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_matched,
           CAST(COUNT(*) - COUNT(e.event_id) AS BIGINT) AS n_unmatched_clicks
    FROM events c LEFT JOIN events e
      ON c.user_id = e.user_id
     AND e.event_type = 'error'
     AND e.ts >= c.ts AND e.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    rows = stm.click_error_left_join(e)
    return (
        rows.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count("error_id").cast("bigint").alias("n_matched"),
            (F.count(F.lit(1)) - F.count("error_id")).cast("bigint").alias("n_unmatched_clicks"),
        )
        .orderBy("user_id")
    )


# Unigram-LM perplexity filter (CCNet-style quality gate) — per-doc mean
# log-prob under the corpus unigram distribution; the cheap filter that
# runs before any model-based scoring in a training-data pipeline.
@register(
    "llm_perplexity_filter",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    e AS (SELECT doc_id, unnest(words) AS token FROM w),
    v AS (SELECT token, COUNT(*) AS n_tok FROM e GROUP BY token),
    tot AS (SELECT COUNT(*) AS n_all FROM e)
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ln(v.n_tok / tot.n_all) AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_logprob
    FROM e JOIN v USING (token) CROSS JOIN tot
    GROUP BY e.doc_id
    """,
)
def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.unigram_logprob_scores(d)


# Document chunking (context-window preprocessing): overlapping 64-word
# windows, step 56. Narrow generate — no shuffle; oracle reproduces the
# same starts/slices with DuckDB list ops.
@register(
    "llm_chunk_documents",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    c AS (
      SELECT doc_id, words,
             unnest(range(1, greatest(len(words), 1) + 1, 56)) AS start,
             generate_subscripts(range(1, greatest(len(words), 1) + 1, 56), 1) AS idx1
      FROM w WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST(idx1 - 1 AS BIGINT) AS chunk_idx,
           array_to_string(words[start:start+63], ' ') AS chunk_text,
           CAST(len(words[start:start+63]) AS BIGINT) AS n_words
    FROM c WHERE len(words[start:start+63]) > 0
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.chunk_documents(d, chunk_words=64, overlap=8)


# Gopher repetition rule: repeated word-3-gram fraction per document.
@register(
    "llm_repetition_ratio",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        list_filter(list_transform(range(1, greatest(len(words) - 2, 1) + 1),
                                   i -> concat_ws(' ', words[i], words[i+1], words[i+2])),
                    x -> x <> '') AS g
      FROM w WHERE len(words) > 0
    )
    SELECT doc_id,
           CAST(len(g) AS BIGINT) AS n_ngrams,
           CASE WHEN len(g) > 0
                THEN ROUND((len(g) - len(list_distinct(g))) / len(g), 6)
                ELSE 0.0 END AS rep_ratio
    FROM s
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.repetition_ratio(d, k=3)


# Stratified sampling to per-source target counts (llm_ops.
# stratified_sample). The seeded-hash ranking is engine-defined, so the
# cross-engine contract is the invariant set: per-source kept counts hit
# min(target, available), the sample is a subset of the source, and two
# independent executions pick the IDENTICAL rows (id-sum checksum) —
# the reproducibility property that makes curated mixes re-buildable.
@register(
    "llm_stratified_sample",
    oracle="""
    SELECT source,
           CAST(LEAST(CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 5
                                  WHEN 'src2' THEN 25 WHEN 'src3' THEN 40
                                  ELSE 0 END, COUNT(*)) AS BIGINT) AS n_kept,
           TRUE AS subset_ok, TRUE AS deterministic_ok
    FROM documents
    WHERE source IN ('src0', 'src1', 'src2', 'src3')
    GROUP BY source
    ORDER BY source
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    targets = {"src0": 10, "src1": 5, "src2": 25, "src3": 40}
    s1 = llm_ops.stratified_sample(d, targets)
    s2 = llm_ops.stratified_sample(d, targets)  # independent rebuild
    per1 = s1.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("doc_id").alias("ck1"),
    )
    per2 = s2.groupBy("source").agg(F.sum("doc_id").alias("ck2"))
    base = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_avail"))
    return (
        per1.join(per2, "source")
        .join(base, "source")
        .select(
            "source",
            "n_kept",
            (F.col("n_kept") <= F.col("n_avail")).alias("subset_ok"),
            (F.col("ck1") == F.col("ck2")).alias("deterministic_ok"),
        )
        .orderBy("source")
    )


# Incremental (continual-ingestion) dedup: the odd-id half of documents
# is "today's batch", the even-id half the existing corpus. Survivors =
# batch docs that are neither exact- nor near-duplicates (Jaccard >= 0.5
# on word-3-shingles) of history. Checksummed so the surviving SET, not
# just its size, is verified (r3 verdict lesson from llm_clean_corpus).
@register(
    "llm_incremental_dedup",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
        string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+') AS words
      FROM documents
    ),
    s AS (
      SELECT doc_id, fp,
        list_filter(list_distinct(
          list_transform(range(1, greatest(len(words)-2, 0)+1),
                         i -> concat_ws(' ', words[i], words[i+1], words[i+2]))
        ), x -> x <> '') AS sh
      FROM w
    ),
    batch AS (SELECT * FROM s WHERE doc_id % 2 = 1),
    hist AS (SELECT * FROM s WHERE doc_id % 2 = 0),
    no_exact AS (
      SELECT b.* FROM batch b WHERE b.fp NOT IN (SELECT fp FROM hist)
    ),
    be AS (SELECT doc_id, unnest(sh) AS g FROM no_exact),
    he AS (SELECT doc_id, unnest(sh) AS g FROM hist),
    cand AS (SELECT DISTINCT be.doc_id AS b_id, he.doc_id AS h_id
             FROM be JOIN he ON be.g = he.g),
    near AS (
      SELECT DISTINCT c.b_id
      FROM cand c JOIN no_exact b ON b.doc_id = c.b_id
                  JOIN hist h ON h.doc_id = c.h_id
      WHERE CAST(len(list_intersect(b.sh, h.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(b.sh, h.sh))) >= 0.5
    ),
    surv AS (SELECT doc_id FROM no_exact WHERE doc_id NOT IN (SELECT b_id FROM near))
    SELECT CAST((SELECT COUNT(*) FROM batch) AS BIGINT) AS n_batch,
           CAST(COUNT(*) AS BIGINT) AS n_survivors,
           CAST(SUM(doc_id) AS BIGINT) AS surv_id_sum,
           CAST(MIN(doc_id) AS BIGINT) AS surv_id_min,
           CAST(MAX(doc_id) AS BIGINT) AS surv_id_max
    FROM surv
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 2 == 1)
    history = d.filter(F.col("doc_id") % 2 == 0)
    # candidates='prefix' is the EXACT (recall-1) PPJoin mode, matching
    # the any-shared-shingle SQL oracle below bit-for-bit; the default
    # banded-MinHash mode is the scale path (sub-quadratic candidates)
    # but probabilistic at the threshold boundary, so it is exercised by
    # the recall test in tests/test_llm_ops.py rather than a hash oracle.
    surv = llm_ops.incremental_dedup(
        batch, history, threshold=0.5, candidates="prefix"
    )
    # n_batch joins in as a 1-row aggregate: no driver-side action inside
    # a result-bearing query (r3 verdict "what's wrong" #5).
    n_batch = batch.agg(F.count(F.lit(1)).cast("bigint").alias("n_batch"))
    return surv.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_survivors"),
        F.sum("doc_id").cast("bigint").alias("surv_id_sum"),
        F.min("doc_id").cast("bigint").alias("surv_id_min"),
        F.max("doc_id").cast("bigint").alias("surv_id_max"),
    ).crossJoin(n_batch)


# TPC-DS Q7 shape: multi-dim star (customer segment x part x date) with
# four averages — the "catalog average by demographic" pattern.
sql_query(
    "tpcds_q7_shape",
    """
    SELECT p_brand,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
           ROUND(CAST(SUM(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_tax
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN part     ON l_partkey = p_partkey
    WHERE c_mktsegment = 'AUTOMOBILE'
      AND YEAR(o_orderdate) = 1997
    GROUP BY p_brand
    ORDER BY p_brand
    LIMIT 100
    """,
)

# TPC-DS Q55 shape: single-brand-manager month slice, revenue by brand.
sql_query(
    "tpcds_q55_shape",
    """
    SELECT p_brand,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS ext_price
    FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part   ON l_partkey = p_partkey
    WHERE MONTH(o_orderdate) = 11 AND YEAR(o_orderdate) = 1997
      AND p_size < 15
    GROUP BY p_brand
    ORDER BY ext_price DESC, p_brand
    LIMIT 100
    """,
)

# TPC-DS Q68 shape: per-order extended rollup with a selective dimension
# filter and an inner aggregate inline view joined back to the customer —
# the "big order detail page" pattern (inline-view agg + re-join).
sql_query(
    "tpcds_q68_shape",
    """
    SELECT c_name, v.o_orderkey, v.n_lines, v.order_rev
    FROM (
      SELECT o_orderkey, o_custkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS order_rev
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_orderkey, o_custkey
      HAVING COUNT(*) >= 5
    ) v
    JOIN customer ON v.o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    ORDER BY v.order_rev DESC, v.o_orderkey
    LIMIT 100
    """,
)

# TPC-DS Q79 shape: per-(customer, order) agg compared against the
# customer's own average via a window — the "above-their-usual-spend"
# pattern (agg + analytic over agg).
sql_query(
    "tpcds_q79_shape",
    """
    WITH per_order AS (
      SELECT o_custkey, o_orderkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS order_total
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_custkey, o_orderkey
    )
    SELECT o_custkey, o_orderkey, order_total
    FROM (
      SELECT o_custkey, o_orderkey, order_total,
             CAST(SUM(CAST(order_total AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY o_custkey) AS cust_avg
      FROM per_order
    ) x
    WHERE order_total > 1.5 * cust_avg
    ORDER BY order_total DESC, o_orderkey
    LIMIT 100
    """,
)


# Time-series gap filling (densification): emit EVERY 5-minute bucket in
# the observed span per event_type, zero-filled where no events landed —
# the dashboard/training-feature op that turns sparse event streams into
# dense series. Spark: sequence() over the global span (two scalar
# aggregates, broadcast), explode, left join the observed buckets.
# Scale: the bucket spine is (span/5min) x |types| rows — tiny relative
# to events — and the join is bucket+type keyed; observed aggregation is
# the only full shuffle.
@register(
    "events_gap_fill",
    oracle="""
    WITH obs AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS b, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT MIN(b) AS lo, MAX(b) AS hi FROM obs),
    spine AS (
      SELECT unnest(generate_series(span.lo, span.hi, INTERVAL '5 minutes')) AS b,
             t.event_type
      FROM span CROSS JOIN (SELECT DISTINCT event_type FROM events) t
    )
    SELECT strftime(s.b, '%Y-%m-%d %H:%M:%S') AS window_start,
           s.event_type,
           COALESCE(o.n_events, 0) AS n_events
    FROM spine s LEFT JOIN obs o ON s.b = o.b AND s.event_type = o.event_type
    """,
)
def q_events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    bucket = F.expr("timestamp_seconds(floor(unix_timestamp(ts) / 300) * 300)")
    obs = (
        e.withColumn("b", bucket)
        .groupBy("b", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    span = obs.agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    types = e.select("event_type").distinct()
    spine = (
        span.select(
            F.explode(F.expr("sequence(lo, hi, interval 5 minutes)")).alias("b")
        )
        .crossJoin(F.broadcast(types))
    )
    return spine.join(obs, ["b", "event_type"], "left").select(
        F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
    )


# Corpus card: the per-source dataset report (docs, token volume, length
# spread, quality mean) a curation pipeline publishes with every release.
sql_query(
    "llm_corpus_report",
    """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)


# Cohort retention: per day, how many active users return the next day —
# the canonical event-analytics self-join (distinct daily activity,
# user+date keyed; scale-safe shuffle on the user key).
@register(
    "events_retention",
    oracle="""
    WITH act AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    )
    SELECT strftime(a.d, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(COUNT(b.user_id) AS BIGINT) AS n_retained,
           ROUND(CAST(COUNT(b.user_id) AS DOUBLE) / COUNT(*), 6) AS retention
    FROM act a LEFT JOIN act b
      ON b.user_id = a.user_id AND b.d = a.d + INTERVAL 1 DAY
    GROUP BY a.d
    ORDER BY a.d
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    act = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    nxt = act.select(F.col("d").alias("d2"), F.col("user_id").alias("u2"))
    joined = act.join(
        nxt,
        (act.user_id == nxt.u2) & (nxt.d2 == F.date_add(act.d, 1)),
        "left",
    )
    return (
        joined.groupBy("d")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active"),
            F.count("u2").cast("bigint").alias("n_retained"),
            F.round(F.count("u2") / F.count(F.lit(1)), 6).alias("retention"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_active", "n_retained", "retention",
        )
        .orderBy("day")
    )


# Conversion funnel: view -> click -> purchase within 30 minutes of the
# step before, per user (sequence detection via min-next-ts as-of
# semantics expressed with plain aggregation + interval joins — all
# user-keyed shuffles, no window over the raw stream).
@register(
    "events_funnel",
    oracle="""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    vc AS (
      SELECT DISTINCT v.user_id, v.ts AS v_ts
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
    ),
    vcp AS (
      SELECT DISTINCT vc.user_id
      FROM vc JOIN c ON c.user_id = vc.user_id
       AND c.ts > vc.v_ts AND c.ts <= vc.v_ts + INTERVAL 30 MINUTE
              JOIN p ON p.user_id = vc.user_id
       AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    )
    SELECT CAST((SELECT COUNT(DISTINCT user_id) FROM v) AS BIGINT) AS n_viewers,
           CAST((SELECT COUNT(DISTINCT user_id) FROM vc) AS BIGINT) AS n_clicked_after_view,
           CAST((SELECT COUNT(*) FROM vcp) AS BIGINT) AS n_full_funnel
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select("user_id", F.col("ts").alias("v_ts"))
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    half_hour = F.expr("INTERVAL 30 MINUTES")
    vc = (
        v.join(
            c,
            (v.user_id == c.c_user) & (c.c_ts > v.v_ts) & (c.c_ts <= v.v_ts + half_hour),
        )
        .select("user_id", "v_ts")
        .distinct()
    )
    c2 = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c2_user"), F.col("ts").alias("c2_ts")
    )
    vcp = (
        vc.join(
            c2,
            (vc.user_id == c2.c2_user)
            & (c2.c2_ts > vc.v_ts)
            & (c2.c2_ts <= vc.v_ts + half_hour),
        )
        .join(
            p,
            (vc.user_id == p.p_user)
            & (p.p_ts > c2.c2_ts)
            & (p.p_ts <= c2.c2_ts + half_hour),
        )
        .select("user_id")
        .distinct()
    )
    n_viewers = v.agg(F.count_distinct("user_id").cast("bigint").alias("n_viewers"))
    n_vc = vc.agg(F.count_distinct("user_id").cast("bigint").alias("n_clicked_after_view"))
    n_vcp = vcp.agg(F.count(F.lit(1)).cast("bigint").alias("n_full_funnel"))
    return n_viewers.crossJoin(n_vc).crossJoin(n_vcp)


# Bucket-level anomaly detection: 5-min buckets whose event count sits
# >2 sigma from that type's mean bucket count. Two aggregations (bucket,
# then per-type moments joined back via broadcast) — no window over the
# raw stream. Float moments go through the 9-significant-digit z
# contract only implicitly: the emitted columns are exact counts plus a
# boolean, so cross-engine float drift cannot reach the hash.
@register(
    "events_anomaly",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) AS w, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, AVG(n) AS mu, STDDEV_POP(n) AS sigma
      FROM b GROUP BY event_type
    )
    SELECT strftime(b.w, '%Y-%m-%d %H:%M:%S') AS window_start,
           b.event_type, b.n
    FROM b JOIN m USING (event_type)
    WHERE m.sigma > 0 AND ABS(b.n - m.mu) > 2 * m.sigma
    ORDER BY b.event_type, window_start
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    bucket = F.expr("timestamp_seconds(floor(unix_timestamp(ts) / 300) * 300)")
    b = (
        e.withColumn("w", bucket)
        .groupBy("w", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    m = b.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    )
    return (
        b.join(F.broadcast(m), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(F.col("n") - F.col("mu")) > 2 * F.col("sigma")))
        .select(
            F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
        .orderBy("event_type", "window_start")
    )


# Exact interpolated percentiles (Spark percentile() == DuckDB
# quantile_cont, both linear-interpolation on the sorted set — exact,
# not a sketch; values rounded to 6 to absorb summation-free float
# formatting only).
sql_query(
    "agg_exact_percentiles",
    """
    SELECT o_orderstatus,
           ROUND(PERCENTILE(o_totalprice, 0.5), 6) AS p50,
           ROUND(PERCENTILE(o_totalprice, 0.9), 6) AS p90,
           ROUND(PERCENTILE(o_totalprice, 0.99), 6) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
    oracle="""
    SELECT o_orderstatus,
           ROUND(QUANTILE_CONT(o_totalprice, 0.5), 6) AS p50,
           ROUND(QUANTILE_CONT(o_totalprice, 0.9), 6) AS p90,
           ROUND(QUANTILE_CONT(o_totalprice, 0.99), 6) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
)


# =====================================================================
# 18. Privacy / filtering / selection ops (training-data pipeline,
#     round-4 additions — llm_ops.redact_pii / gopher_filter /
#     block_dedup / token_budget_select)
# =====================================================================

# PII redaction. The fixture corpus carries no PII, so both sides seed
# each document with the same deterministic synthetic PII (email, IPv4,
# phone, card number derived from doc_id) and the redaction chain must
# then find and mask every instance — counts on the original text,
# masked text compared verbatim.
@register(
    "llm_pii_redaction",
    oracle=r"""
    WITH seeded AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.7 tel 555-010-' || printf('%04d', doc_id % 10000)
                  || ' card 4111222233334444' AS text
      FROM documents
    )
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      CAST(len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
      CAST(len(regexp_extract_all(text, '\b\d{13,16}\b')) AS BIGINT) AS n_ids,
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
          '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        '\b\d{13,16}\b', '<ID>', 'g') AS text_redacted
    FROM seeded
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    seeded = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel 555-010-"), F.format_string("%04d", F.col("doc_id") % 10000),
            F.lit(" card 4111222233334444"),
        ),
    )
    return llm_ops.redact_pii(seeded).select(
        "doc_id", "n_emails", "n_ips", "n_phones", "n_ids", "text_redacted"
    )


# Composite Gopher-style quality filter with auditable drop reasons.
@register(
    "llm_gopher_filter",
    oracle=r"""
    WITH s AS (
      SELECT doc_id,
        len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_words,
        length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alpha_chars,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
        greatest(length(text), 1) AS t_len,
        len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|for|with|was|are)\b')) AS stop_hits
      FROM documents
    ),
    r AS (
      SELECT doc_id,
        n_words,
        ROUND(alpha_chars / greatest(n_words, 1), 4) AS avg_word_len,
        ROUND(digit_chars / t_len, 6) AS digit_ratio,
        stop_hits,
        concat_ws(',',
          CASE WHEN n_words < 10 THEN 'too_short' END,
          CASE WHEN n_words > 1000 THEN 'too_long' END,
          CASE WHEN alpha_chars / greatest(n_words, 1) < 2.0
                 OR alpha_chars / greatest(n_words, 1) > 12.0 THEN 'word_len' END,
          CASE WHEN digit_chars / t_len > 0.2 THEN 'digit_heavy' END,
          CASE WHEN stop_hits < 2 THEN 'no_stopwords' END
        ) AS drop_reasons
      FROM s
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, avg_word_len, digit_ratio,
           CAST(stop_hits AS BIGINT) AS stop_hits, drop_reasons,
           drop_reasons = '' AS keep
    FROM r
    """,
)
def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.gopher_filter(d).select(
        "doc_id", "n_words", "avg_word_len", "digit_ratio", "stop_hits", "drop_reasons", "keep"
    )


# Block-level (paragraph) dedup. The fixture texts are unique word
# streams, so the input is the corpus UNION an id-shifted copy of
# itself — every copied block must lose to its original (first
# occurrence by (doc_id, position) wins) and reassembly must reproduce
# originals verbatim while copies empty out.
@register(
    "llm_block_dedup",
    oracle=r"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents
    ),
    w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM src
    ),
    b0 AS (
      SELECT doc_id, words,
             unnest(range(1, greatest(len(words), 1) + 1, 20)) AS start,
             generate_subscripts(range(1, greatest(len(words), 1) + 1, 20), 1) - 1 AS block_idx
      FROM w WHERE len(words) > 0
    ),
    b AS (
      SELECT doc_id, block_idx,
             array_to_string(words[start:start+19], ' ') AS block_text
      FROM b0
    ),
    k AS (
      SELECT doc_id, block_idx, block_text,
             row_number() OVER (PARTITION BY block_text ORDER BY doc_id, block_idx) AS rn
      FROM b WHERE block_text <> ''
    ),
    tot AS (
      SELECT doc_id, COUNT(*) AS n_blocks FROM b WHERE block_text <> '' GROUP BY doc_id
    ),
    surv AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(block_text, ' ' ORDER BY block_idx) AS text_deduped
      FROM k WHERE rn = 1 GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n_blocks AS BIGINT) AS n_blocks,
           CAST(COALESCE(s.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(s.text_deduped, '') AS text_deduped
    FROM tot t LEFT JOIN surv s USING (doc_id)
    """,
)
def q_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return llm_ops.block_dedup(d.unionAll(copies), block_words=20)


# Token-budget selection: fill 500 whitespace-tokens per source in
# doc_id (ingestion) order; running totals + keep flags are exact on
# both engines.
@register(
    "llm_token_budget",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source,
        CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    )
    SELECT doc_id, source, n_tok,
      CAST(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok,
      SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 500 AS kept
    FROM t
    """,
)
def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.token_budget_select(d, budget_tokens=500)


# =====================================================================
# 19. More TPC-DS shapes (round-4 widening of the capability bar)
# =====================================================================

# TPC-DS Q65 shape: "underperforming items" — per-(supplier, part) revenue
# vs 10% of the supplier's average part revenue. Agg -> agg-over-agg ->
# join-back. The boundary comparison multiplies through (rev * cnt <=
# 0.1 * total) so no engine-specific decimal-division scale rules touch
# the predicate; all inputs are decimal-exact quantities cast to double,
# making the IEEE arithmetic bit-identical on both engines.
sql_query(
    "tpcds_q65_shape",
    """
    WITH pr AS (
      SELECT l_suppkey, l_partkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS part_rev
      FROM lineitem
      GROUP BY l_suppkey, l_partkey
    ),
    sa AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(part_rev AS DECIMAL(18,4))) AS DOUBLE) AS tot_rev,
             CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM pr
      GROUP BY l_suppkey
    )
    SELECT pr.l_suppkey, pr.l_partkey, pr.part_rev
    FROM pr JOIN sa ON pr.l_suppkey = sa.l_suppkey
    WHERE pr.part_rev * sa.n_parts <= 0.1 * sa.tot_rev
    ORDER BY pr.l_suppkey, pr.l_partkey
    """,
)

# TPC-DS Q98 shape: revenue share of each item within its class — agg
# inline view + window SUM partitioned by class. The window sum runs on
# DECIMAL so partial-order cannot perturb the ratio on either engine.
sql_query(
    "tpcds_q98_shape",
    """
    WITH pr AS (
      SELECT p_type, p_partkey,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS item_rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00'
      GROUP BY p_type, p_partkey
    )
    SELECT p_type, p_partkey, item_rev,
           ROUND(item_rev * 100 / CAST(SUM(CAST(item_rev AS DECIMAL(18,4)))
                 OVER (PARTITION BY p_type) AS DOUBLE), 4) AS rev_ratio
    FROM pr
    ORDER BY p_type, p_partkey
    """,
)

# TPC-DS Q51 shape: two daily revenue streams FULL OUTER JOINed on date,
# cumulative sums compared. Cumulatives are partitioned by month (the
# scale-safe form of q51's per-item partitioning — a partition-less
# global ORDER BY window would serialize on one task at 100 TB).
sql_query(
    "tpcds_q51_shape",
    """
    WITH web AS (
      SELECT l_shipdate AS d,
             CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
      FROM lineitem WHERE YEAR(l_shipdate) = 1997 GROUP BY l_shipdate
    ),
    store AS (
      SELECT o_orderdate AS d,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev
      FROM orders WHERE YEAR(o_orderdate) = 1997 GROUP BY o_orderdate
    )
    SELECT CAST(v.d AS DATE) AS d, v.web_cum, v.store_cum
    FROM (
      SELECT COALESCE(w.d, s.d) AS d,
             CAST(ROUND(SUM(CAST(COALESCE(w.rev, 0) AS DECIMAL(18,4)))
                   OVER (PARTITION BY YEAR(COALESCE(w.d, s.d)) * 100 + MONTH(COALESCE(w.d, s.d))
                         ORDER BY COALESCE(w.d, s.d)
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS web_cum,
             CAST(ROUND(SUM(CAST(COALESCE(s.rev, 0) AS DECIMAL(18,4)))
                   OVER (PARTITION BY YEAR(COALESCE(w.d, s.d)) * 100 + MONTH(COALESCE(w.d, s.d))
                         ORDER BY COALESCE(w.d, s.d)
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS store_cum
      FROM web w FULL OUTER JOIN store s ON w.d = s.d
    ) v
    WHERE v.web_cum > v.store_cum
    ORDER BY d
    """,
)

# TPC-DS Q88 shape: several scalar-aggregate subqueries cross-joined into
# one row (the "counts by time band" dashboard query). Each side is a
# 1-row broadcastable aggregate; the joins are 1x1 nested loops.
sql_query(
    "tpcds_q88_shape",
    """
    SELECT a.n AS q1_10, b.n AS q11_20, c.n AS q21_30, d.n AS q31_40
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) a,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity BETWEEN 11 AND 20) b,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity BETWEEN 21 AND 30) c,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem WHERE l_quantity BETWEEN 31 AND 40) d
    """,
)


# =====================================================================
# 20. Substring dedup, novelty scoring, embedding QA (round-4)
# =====================================================================

# Cross-doc repeated-substring detection. Natural 64-char collisions are
# ~impossible in the fixture's random word streams, so the input is the
# corpus plus id-shifted copies — every window of a copied doc must be
# flagged shared, originals included (symmetric flagging).
@register(
    "llm_substring_dedup",
    oracle=r"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    w AS (
      SELECT doc_id,
             unnest(range(1, greatest(length(text) - 63, 1) + 1, 32)) AS pos,
             text
      FROM src WHERE text IS NOT NULL
    ),
    h AS (SELECT doc_id, md5(substring(text, pos, 64)) AS hash FROM w),
    g AS (SELECT hash, COUNT(DISTINCT doc_id) AS n_docs FROM h GROUP BY hash)
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           ROUND(SUM(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) / COUNT(*), 6) AS shared_frac
    FROM h JOIN g USING (hash)
    GROUP BY h.doc_id
    """,
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return llm_ops.substring_dedup(d.unionAll(copies))


# Per-document k-gram novelty vs all earlier documents (id order).
@register(
    "llm_ngram_novelty",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
        list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
                    x -> x <> '') AS words
      FROM documents
    ),
    dg AS (
      SELECT DISTINCT doc_id, gram
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(words) - 2, 1) + 1),
                      i -> concat_ws(' ', words[i], words[i+1], words[i+2]))) AS gram
        FROM w WHERE len(words) >= 3
      ) WHERE gram <> ''
    ),
    first AS (SELECT gram, MIN(doc_id) AS first_doc FROM dg GROUP BY gram)
    SELECT dg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = dg.doc_id THEN 1 ELSE 0 END) / COUNT(*), 6) AS novelty
    FROM dg JOIN first f USING (gram)
    GROUP BY dg.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.ngram_novelty(d, k=3)


# Embedding QA: per-dimension mean/variance/min/max with decimal-exact
# sums (order-insensitive on both engines).
@register(
    "llm_embedding_dim_stats",
    oracle=r"""
    WITH e AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS x
      FROM embeddings
    ),
    s AS (
      SELECT dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12))) AS s,
             SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) AS DECIMAL(30,14))) AS s2,
             MIN(CAST(x AS DOUBLE)) AS dim_min,
             MAX(CAST(x AS DOUBLE)) AS dim_max
      FROM e GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, n,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS dim_mean,
           ROUND((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n, 6) AS dim_var,
           ROUND(dim_min, 6) AS dim_min,
           ROUND(dim_max, 6) AS dim_max
    FROM s
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return llm_ops.embedding_dim_stats(e)


# Per-source adaptive length filter: exact interpolated percentile
# thresholds per group, broadcast back; Spark percentile() == DuckDB
# quantile_cont (both linear interpolation).
@register(
    "llm_length_filter",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, source AS grp,
        CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n_words
      FROM documents
    ),
    b AS (
      SELECT grp,
             quantile_cont(n_words, 0.05) AS lo_words,
             quantile_cont(n_words, 0.95) AS hi_words
      FROM t GROUP BY grp
    )
    SELECT t.doc_id, t.grp, t.n_words,
           ROUND(b.lo_words, 4) AS lo_words, ROUND(b.hi_words, 4) AS hi_words,
           t.n_words >= b.lo_words AND t.n_words <= b.hi_words AS kept
    FROM t JOIN b USING (grp)
    """,
)
def q_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.length_percentile_filter(d, group_col="source")


# Cross-source duplication matrix. The fixture corpus is duplicate-free,
# so both sides union in a 'mirror' feed (every 5th doc re-ingested under
# a different source) — the matrix must report exactly those pair counts.
@register(
    "llm_source_overlap",
    oracle=r"""
    WITH src AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text, 'mirror' AS source
      FROM documents WHERE doc_id % 5 = 0
    ),
    fp AS (
      SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
             source AS src
      FROM src
    ),
    per_fp AS (SELECT fp, src, COUNT(*) AS n FROM fp GROUP BY fp, src)
    SELECT a.src AS src_a, b.src AS src_b,
           CAST(SUM(a.n * b.n) AS BIGINT) AS dup_pairs
    FROM per_fp a JOIN per_fp b USING (fp)
    WHERE a.src < b.src
    GROUP BY a.src, b.src
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    mirror = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", F.lit("mirror").alias("source")
    )
    return llm_ops.source_overlap_matrix(d.unionAll(mirror))


# get_json_object (BuiltinsDb JSON surface) + parse_url over synthesized
# JSON/URL columns; DuckDB mirrors via json_extract_string and regexes.
sql_query(
    "expr_json_url_funcs",
    """
    SELECT o_orderkey,
           get_json_object(j, '$.cust') AS cust,
           get_json_object(j, '$.status') AS status,
           get_json_object(j, '$.tags[1]') AS tag2,
           get_json_object(j, '$.missing') AS missing,
           parse_url(u, 'HOST') AS host,
           parse_url(u, 'PATH') AS path
    FROM (
      SELECT o_orderkey,
             CONCAT('{"cust":', CAST(o_custkey AS STRING), ',"status":"', o_orderstatus,
                    '","tags":["a","t', CAST(o_orderkey % 7 AS STRING), '"]}') AS j,
             CONCAT('https://shard', CAST(o_custkey % 10 AS STRING),
                    '.example.com/orders/', CAST(o_orderkey AS STRING)) AS u
      FROM orders WHERE o_orderkey < 500
    ) t
    """,
    oracle="""
    SELECT o_orderkey,
           json_extract_string(j, '$.cust') AS cust,
           json_extract_string(j, '$.status') AS status,
           json_extract_string(j, '$.tags[1]') AS tag2,
           json_extract_string(j, '$.missing') AS missing,
           regexp_extract(u, 'https://([^/]+)/', 1) AS host,
           regexp_extract(u, 'https://[^/]+(/.*)', 1) AS path
    FROM (
      SELECT o_orderkey,
             CONCAT('{"cust":', CAST(o_custkey AS VARCHAR), ',"status":"', o_orderstatus,
                    '","tags":["a","t', CAST(o_orderkey % 7 AS VARCHAR), '"]}') AS j,
             CONCAT('https://shard', CAST(o_custkey % 10 AS VARCHAR),
                    '.example.com/orders/', CAST(o_orderkey AS VARCHAR)) AS u
      FROM orders WHERE o_orderkey < 500
    ) t
    """,
)


# Per-document top-3 TF-IDF terms (ln-smoothed IDF, term tie-break).
@register(
    "llm_top_terms",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
               x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * ln((n.n + 1) / (dfreq.df + 1)), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df, tfidf
    FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return llm_ops.top_tfidf_terms(d, topk=3)


# Hypertable-style continuous aggregate: hourly bucket partials rolled up
# to daily — the daily result must equal aggregating raw events directly
# (counts and decimal sums are exactly re-aggregatable), which is what
# the oracle computes.
@register(
    "events_two_level_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_two_level_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    hourly = ops.time_bucket_rollup(e, "ts", "hour", ["event_type"], "value")
    daily = ops.rollup_reaggregate(hourly, "day", ["event_type"])
    return daily.select(
        "bucket", "event_type", "n_events",
        F.round("sum_value", 2).cast("double").alias("sum_value"),
    )


# Key-skew diagnostic over the events user_id key (the decide-before-
# salting report; operators.salted_join/salted_agg are the mitigation).
# NOTE: the global row_number()<=5 never executes as a full sort:
# Catalyst's LimitPushDownThroughWindow plans it as a distributed
# TakeOrderedAndProject(limit=5) whose 5-row output feeds the window —
# enforced by tests/test_meta_surfaces.py::test_skew_report_topk_is_
# take_ordered so a Spark upgrade can't regress it to one task.
@register(
    "meta_skew_report",
    oracle="""
    WITH counts AS (
      SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(n) AS BIGINT) AS max_freq
      FROM counts
    )
    SELECT CAST(rk AS INTEGER) AS rk, key, n, n_rows, n_keys, max_freq,
           ROUND(n / n_rows, 6) AS share,
           ROUND(max_freq * n_keys / n_rows, 4) AS skew_ratio
    FROM (
      SELECT *, row_number() OVER (ORDER BY n DESC, key) AS rk FROM counts
    ) CROSS JOIN stats
    WHERE rk <= 5
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return ops.skew_report(e, "user_id", topk=5)


# Distributed global prefix sum (operators.global_running_sum — the r7
# replacement for unpartitioned running-sum windows): exact long-integer
# cumulative sum over a global total order, computed with range
# partitioning + per-slice offsets instead of the single-partition
# WindowExec the oracle's SUM() OVER (ORDER BY ...) plans. Bit-exact vs
# the oracle because integer addition is associative under any slicing.
@register(
    "exchange_global_prefix_sum",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(cents) OVER (ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_cents
    FROM (SELECT o_orderkey, o_orderdate,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders WHERE o_custkey <= 200) t
    """,
)
def q_global_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 200)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )
    out = ops.global_running_sum(
        o, "cents", [F.col("o_orderdate"), F.col("o_orderkey")],
        out_col="cum_cents",
    )
    return out.select(
        "o_orderkey", F.col("cum_cents").cast("bigint").alias("cum_cents")
    )


# SemDeDup-style semantic dedup: cluster-then-pairwise verdicts. The
# fixture has no natural near-dups (max pair cosine ~0.51), so the query
# plants one exact copy per original at vec_id+1M; every copy lands in its
# original's cluster (identical sign bits) and is dropped at cosine 1.0,
# while all originals survive. The oracle replicates the ENTIRE pipeline
# (sign-quantized cluster key, within-cluster pairwise cosine, drop-earlier
# policy) in DuckDB SQL — verdicts match value-for-value, not just counts.
@register(
    "llm_semantic_dedup",
    oracle="""
    WITH corpus AS (
      SELECT vec_id AS id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS id, embedding FROM embeddings
    ),
    base AS (
      SELECT id, embedding,
             CAST((CASE WHEN embedding[1]  > 0 THEN 1   ELSE 0 END)
                + (CASE WHEN embedding[8]  > 0 THEN 2   ELSE 0 END)
                + (CASE WHEN embedding[15] > 0 THEN 4   ELSE 0 END)
                + (CASE WHEN embedding[22] > 0 THEN 8   ELSE 0 END)
                + (CASE WHEN embedding[29] > 0 THEN 16  ELSE 0 END)
                + (CASE WHEN embedding[36] > 0 THEN 32  ELSE 0 END)
                + (CASE WHEN embedding[43] > 0 THEN 64  ELSE 0 END)
                + (CASE WHEN embedding[50] > 0 THEN 128 ELSE 0 END) AS BIGINT)
               AS cluster
      FROM corpus
    ),
    dropped AS (
      SELECT b.id AS b_id,
             MAX(ROUND(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])
             ), 6)) AS drop_sim
      FROM base a JOIN base b
        ON a.cluster = b.cluster AND a.id < b.id
      WHERE ROUND(list_cosine_similarity(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])
            ), 6) >= 0.97
      GROUP BY b.id
    )
    SELECT base.id, base.cluster,
           dropped.drop_sim IS NULL AS kept,
           dropped.drop_sim
    FROM base LEFT JOIN dropped ON base.id = dropped.b_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over embeddings (llm_ops.semantic_dedup; SemDeDup,
    arXiv:2303.09540). Clusters via deterministic sign quantization (the
    paper's k-means stand-in that both engines express exactly), then
    drops within-cluster items whose cosine to an earlier member is
    >= 0.97."""
    from impala_spark import llm_ops

    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.withColumn("vec_id", F.col("vec_id") + 1000000)
    corpus = emb.unionByName(planted)
    return llm_ops.semantic_dedup(corpus, threshold=0.97, bits=8, stride=7)


# DSIR-style data selection: importance weights for every non-target doc
# against the src0 "target domain" sample. Oracle replicates the hashed
# (md5-bucket) unigram distributions and the smoothed log-ratio exactly.
@register(
    "llm_dsir_weights",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(token), 1, 8))::BIGINT % 1024 AS bucket
      FROM (
        SELECT doc_id, source,
          unnest(list_filter(
            string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
            x -> x <> '')) AS token
        FROM documents
      )
    ),
    t_counts AS (
      SELECT bucket, COUNT(*) AS t_cnt FROM tok WHERE source = 'src0' GROUP BY bucket
    ),
    t_total AS (SELECT COUNT(*) AS t_all FROM tok WHERE source = 'src0'),
    r_counts AS (
      SELECT bucket, COUNT(*) AS r_cnt FROM tok WHERE source <> 'src0' GROUP BY bucket
    ),
    r_total AS (SELECT COUNT(*) AS r_all FROM tok WHERE source <> 'src0')
    SELECT tok.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(
             ln((COALESCE(t_cnt, 0) + 0.5) / (t_all + 0.5 * 1024))
             - ln((COALESCE(r_cnt, 0) + 0.5) / (r_all + 0.5 * 1024))
           AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 4) AS logratio
    FROM tok
    LEFT JOIN t_counts USING (bucket)
    LEFT JOIN r_counts USING (bucket)
    CROSS JOIN t_total CROSS JOIN r_total
    WHERE tok.source <> 'src0'
    GROUP BY tok.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (llm_ops.dsir_importance_weights;
    arXiv:2302.03169): hashed-unigram log-likelihood ratio of the
    target-domain sample ('src0' docs) vs the rest of the corpus."""
    from impala_spark import llm_ops

    d = table(spark, sf_dir, "documents")
    target = d.filter(F.col("source") == "src0")
    raw = d.filter(F.col("source") != "src0")
    return llm_ops.dsir_importance_weights(raw, target)


# Streaming keyed upsert (CDC landing): run the foreachBatch latest-wins
# sink over the events stream TWICE with one checkpoint — the second
# trigger must be a WAL no-op — then read the final table. The oracle is
# the batch argmax per user; any duplicate application, lost batch, or
# batch-order dependence changes the emitted rows and fails the hash.
@register(
    "events_streaming_upsert",
    oracle="""
    SELECT user_id, event_id AS last_event_id, value AS last_value
    FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming upsert into a managed table
    (streaming.upsert_stream_to_table — the Kudu UPSERT analog,
    sql-parser.cup:1128, on Structured Streaming + parquet)."""
    import tempfile

    from impala_spark import ddl as _ddl
    from impala_spark import streaming as stm

    name = "events_upsert_state"
    _ddl.drop_table(spark, name)
    ckpt = tempfile.mkdtemp(prefix="impala_spark_upsert_ckpt_")
    cols = ["event_id", "ts", "user_id", "value"]
    for _ in range(2):  # second trigger: exactly-once no-op via the WAL
        stream = stm.read_events_stream(spark, sf_dir).select(*cols)
        stm.upsert_stream_to_table(
            spark, stream, name, ["user_id"], ["ts", "event_id"], ckpt
        )
    return spark.table(name).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
    )


# Plain CREATE TABLE (explicit column defs + typed partition columns +
# PRIMARY KEY) exercised end-to-end: typed empty table, static- and
# dynamic-partition INSERTs, PK UPSERT; final table state vs a VALUES
# oracle.
@register(
    "ddl_create_table_cols",
    oracle="""
    SELECT * FROM (VALUES
      (CAST(1 AS BIGINT), 'x', CAST(9.5 AS DOUBLE), CAST(2026 AS INTEGER)),
      (CAST(2 AS BIGINT), 'z', CAST(4.0 AS DOUBLE), CAST(2025 AS INTEGER))
    ) AS t(id, name, price, year)
    """,
)
def q_create_table_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE with column definitions (sql-parser.cup:2373
    create_tbl_stmt; analysis/CreateTableStmt.java) through the engine
    front door."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark)
    eng.sql("DROP TABLE IF EXISTS ct_cols_probe")
    eng.sql(
        "CREATE TABLE ct_cols_probe (id BIGINT, name VARCHAR(20), "
        "price DECIMAL(18,4), PRIMARY KEY (id)) "
        "PARTITIONED BY (year INT) STORED AS PARQUET"
    )
    eng.sql("INSERT INTO ct_cols_probe PARTITION (year=2026) SELECT 1, 'x', 9.5")
    eng.sql("INSERT INTO ct_cols_probe SELECT 2, 'y', CAST(3.25 AS DECIMAL(18,4)), 2025")
    eng.sql("UPSERT INTO ct_cols_probe VALUES (2, 'z', CAST(4.0 AS DECIMAL(18,4)), 2025)")
    return spark.table("ct_cols_probe").select(
        "id", "name", F.col("price").cast("double").alias("price"), "year"
    )


# Persisted IVF index: build once as managed tables (partitioned by
# list_id), query many. Probing ALL lists makes the search exhaustive, so
# the result must EXACTLY equal the brute-force top-k — the oracle
# recomputes that directly; any lost vector, wrong assignment, or broken
# partition layout changes the answer.
@register(
    "llm_ann_index_persisted",
    oracle="""
    WITH q AS (
      SELECT generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings WHERE vec_id = 1
    ), c AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS pos, CAST(unnest(embedding) AS DOUBLE) AS y
      FROM embeddings
    ), dots AS (
      SELECT c.vec_id,
             SUM(c.y * q.x) AS dot,
             SQRT(SUM(c.y * c.y)) AS ny,
             SQRT(SUM(q.x * q.x)) AS nx
      FROM c JOIN q ON c.pos = q.pos
      GROUP BY c.vec_id
    )
    SELECT vec_id, ROUND(dot / (ny * nx), 4) AS cos_sim
    FROM dots
    ORDER BY dot / (ny * nx) DESC, vec_id
    LIMIT 10
    """,
)
def q_ann_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once/query-many IVF index persisted as managed tables
    (llm_ops.build_ivf_index / query_ivf_index — the FAISS-IVF layout on
    parquet, list partitions pruned at scan). nprobe=nlist => exhaustive
    => must equal brute force exactly."""
    from impala_spark import llm_ops

    e = table(spark, sf_dir, "embeddings")
    llm_ops.build_ivf_index(e, prefix="ann_probe_idx", nlist=8)
    query = e.filter(F.col("vec_id") == 1)
    return llm_ops.query_ivf_index(
        spark, query, prefix="ann_probe_idx", k=10, nprobe=8
    )


# =====================================================================
# TPC-DS shapes, round-4 batch 2 (adapted to the fixture schema like the
# reference's tpcds-all planner suite). Each pins a distinct plan shape.
# =====================================================================

# Q1 shape: CTE aggregate re-read with a CORRELATED scalar subquery over
# itself (per-group average threshold) — the decorrelation signature.
# Amounts aggregate as DECIMAL (exact) and the 1.2x threshold compares
# decimal-to-decimal, so the filter is boundary-stable on both engines.
sql_query(
    "tpcds_q1_shape",
    """
    WITH cust_tot AS (
      SELECT o_custkey AS c, c_nationkey AS nat,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderstatus = 'F'
      GROUP BY o_custkey, c_nationkey
    )
    SELECT c, CAST(total AS DOUBLE) AS total
    FROM cust_tot r1
    WHERE total > (SELECT CAST(SUM(total) AS DOUBLE) / COUNT(*) * 1.2
                   FROM cust_tot r2 WHERE r2.nat = r1.nat)
    ORDER BY c
    LIMIT 100
    """,
)

# Q6 shape: items priced over 1.2x the average of their own type —
# correlated average against the dimension itself, then join to facts.
sql_query(
    "tpcds_q6_shape",
    """
    SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM part p1 JOIN lineitem ON l_partkey = p_partkey
    WHERE CAST(p1.p_retailprice AS DECIMAL(18,4)) >
          (SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) * 1.05
           FROM part p2 WHERE p2.p_type = p1.p_type)
    GROUP BY p_type
    HAVING COUNT(*) >= 2
    ORDER BY n, p_type
    LIMIT 100
    """,
)

# Q15 shape: geography/segment disjunctive filter -> group -> HAVING on
# the aggregate (the catalog-sales-by-zip report).
sql_query(
    "tpcds_q15_shape",
    """
    SELECT c_mktsegment,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM customer JOIN orders ON c_custkey = o_custkey
    WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
       OR c_acctbal > 9900
    GROUP BY c_mktsegment
    HAVING SUM(CAST(o_totalprice AS DECIMAL(18,4))) > 1000
    ORDER BY c_mktsegment
    """,
)

# Q23 shape: frequent-item CTE (HAVING count) feeding an IN-subquery
# semi-join against the fact — the two-phase frequent-buyer pattern.
sql_query(
    "tpcds_q23_shape",
    """
    WITH frequent_parts AS (
      SELECT l_partkey FROM lineitem GROUP BY l_partkey HAVING COUNT(*) > 30
    )
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS rev,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_partkey IN (SELECT l_partkey FROM frequent_parts)
      AND YEAR(l_shipdate) = 1996
    """,
)

# Q33/Q56 shape: three filtered aggregate streams UNION ALLed then
# re-aggregated per brand (agg-over-union-of-aggs; revenue stays DECIMAL
# until the final round).
sql_query(
    "tpcds_q33_shape",
    """
    WITH s1 AS (
      SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_returnflag = 'A' AND YEAR(l_shipdate) = 1995 GROUP BY p_brand
    ),
    s2 AS (
      SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_returnflag = 'N' AND YEAR(l_shipdate) = 1995 GROUP BY p_brand
    ),
    s3 AS (
      SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_returnflag = 'R' AND YEAR(l_shipdate) = 1995 GROUP BY p_brand
    )
    SELECT p_brand, CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS total_rev
    FROM (
      SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
    ) u
    GROUP BY p_brand
    ORDER BY total_rev DESC, p_brand
    LIMIT 50
    """,
)


# Corpus topography: top terms per semantic (embedding-sign) cluster —
# the cross-modal embeddings-x-documents join. Oracle replicates the
# sign-quantized cluster key, tokenization, and windowed top-k exactly.
@register(
    "llm_cluster_topics",
    oracle=r"""
    WITH clusters AS (
      SELECT vec_id AS doc_id,
             CAST((CASE WHEN embedding[1]  > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN embedding[8]  > 0 THEN 2 ELSE 0 END)
                + (CASE WHEN embedding[15] > 0 THEN 4 ELSE 0 END)
                + (CASE WHEN embedding[22] > 0 THEN 8 ELSE 0 END) AS BIGINT) AS cluster
      FROM embeddings
    ),
    toks AS (
      SELECT doc_id,
        unnest(list_filter(
          string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
          x -> x <> '')) AS term
      FROM documents
    ),
    counts AS (
      SELECT cluster, term, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks JOIN clusters USING (doc_id)
      GROUP BY cluster, term
    )
    SELECT cluster, CAST(rk AS INTEGER) AS rk, term, n FROM (
      SELECT cluster, term, n,
             row_number() OVER (PARTITION BY cluster ORDER BY n DESC, term) AS rk
      FROM counts
    ) WHERE rk <= 5
    """,
)
def q_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per embedding-sign cluster (llm_ops.cluster_topics) —
    cross-modal corpus topography."""
    from impala_spark import llm_ops

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    return llm_ops.cluster_topics(d, e, topk=5, bits=4, stride=7)


# Multimodal video plumbing: frame sampling at 0.5 fps over synthetic
# video payloads (text bytes + n_chars*10 ms duration). The oracle
# reproduces the frame fan-out and the per-frame md5 identity exactly.
@register(
    "llm_frame_sampling",
    oracle="""
    WITH v AS (
      SELECT doc_id, encode(text) AS payload, n_chars * 10 AS duration_ms
      FROM documents WHERE doc_id < 50
    ),
    f AS (
      SELECT doc_id, payload,
             unnest(range(0, CAST(duration_ms // 2000 AS BIGINT) + 1)) AS frame_idx
      FROM v WHERE duration_ms > 0
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(frame_idx * 2000 AS BIGINT) AS ts_ms,
           md5(decode(payload) || CAST(frame_idx AS VARCHAR)) AS frame_hash
    FROM f
    """,
)
def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (llm_ops.sample_frames): narrow generate,
    md5 frame identity, no shuffle."""
    from impala_spark import llm_ops

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    v = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        (F.col("n_chars") * 10).alias("duration_ms"),
    )
    return llm_ops.sample_frames(v, fps=0.5)


# Flagship curation pipeline v2 — the modern training-data recipe end to
# end: Gopher quality gate -> exact dedup -> SemDeDup semantic dedup ->
# DSIR target-domain selection under a token budget. Emits the stage
# funnel plus kept-set checksums so the oracle verifies the surviving SET
# at every stage, not just its size (the r3 lesson from clean_corpus).
@register(
    "llm_curation_pipeline",
    oracle=r"""
    WITH s AS (
      SELECT doc_id, source, text,
        len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '')) AS n_words,
        length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) AS alpha_chars,
        length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit_chars,
        greatest(length(text), 1) AS t_len,
        len(regexp_extract_all(text, '(?i)\b(the|and|of|to|in|is|that|for|with|was|are)\b')) AS stop_hits
      FROM documents
    ),
    quality AS (
      SELECT doc_id, source, text, n_words FROM s
      WHERE NOT (n_words < 10 OR n_words > 1000
                 OR alpha_chars / greatest(n_words, 1) < 2.0
                 OR alpha_chars / greatest(n_words, 1) > 12.0
                 OR digit_chars / t_len > 0.2
                 OR stop_hits < 2)
    ),
    exact AS (
      SELECT * FROM quality q WHERE doc_id = (
        SELECT MIN(doc_id) FROM quality q2
        WHERE md5(lower(regexp_replace(trim(q2.text), '\s+', ' ', 'g')))
            = md5(lower(regexp_replace(trim(q.text), '\s+', ' ', 'g')))
      )
    ),
    clustered AS (
      SELECT e.doc_id, e.source, e.text, e.n_words, emb.embedding,
             CAST((CASE WHEN embedding[1]  > 0 THEN 1   ELSE 0 END)
                + (CASE WHEN embedding[8]  > 0 THEN 2   ELSE 0 END)
                + (CASE WHEN embedding[15] > 0 THEN 4   ELSE 0 END)
                + (CASE WHEN embedding[22] > 0 THEN 8   ELSE 0 END)
                + (CASE WHEN embedding[29] > 0 THEN 16  ELSE 0 END)
                + (CASE WHEN embedding[36] > 0 THEN 32  ELSE 0 END)
                + (CASE WHEN embedding[43] > 0 THEN 64  ELSE 0 END)
                + (CASE WHEN embedding[50] > 0 THEN 128 ELSE 0 END) AS BIGINT) AS cluster
      FROM exact e JOIN embeddings emb ON emb.vec_id = e.doc_id
    ),
    semantic AS (
      SELECT c.* FROM clustered c WHERE NOT EXISTS (
        SELECT 1 FROM clustered a
        WHERE a.cluster = c.cluster AND a.doc_id < c.doc_id
          AND ROUND(list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) >= 0.97
      )
    ),
    tok AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(token), 1, 8))::BIGINT % 1024 AS bucket
      FROM (
        SELECT doc_id, source,
          unnest(list_filter(
            string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g')), '\s+'),
            x -> x <> '')) AS token
        FROM semantic
      )
    ),
    t_counts AS (SELECT bucket, COUNT(*) AS t_cnt FROM tok WHERE source = 'src0' GROUP BY bucket),
    t_total AS (SELECT COUNT(*) AS t_all FROM tok WHERE source = 'src0'),
    r_counts AS (SELECT bucket, COUNT(*) AS r_cnt FROM tok WHERE source <> 'src0' GROUP BY bucket),
    r_total AS (SELECT COUNT(*) AS r_all FROM tok WHERE source <> 'src0'),
    scores AS (
      SELECT tok.doc_id,
             ROUND(CAST(SUM(CAST(
               ln((COALESCE(t_cnt, 0) + 0.5) / (t_all + 0.5 * 1024))
               - ln((COALESCE(r_cnt, 0) + 0.5) / (r_all + 0.5 * 1024))
             AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 4) AS logratio
      FROM tok
      LEFT JOIN t_counts USING (bucket)
      LEFT JOIN r_counts USING (bucket)
      CROSS JOIN t_total CROSS JOIN r_total
      WHERE tok.source <> 'src0'
      GROUP BY tok.doc_id
    ),
    ranked AS (
      SELECT sem.doc_id, sem.n_words, sc.logratio,
             SUM(sem.n_words) OVER (
               ORDER BY sc.logratio DESC, sem.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM semantic sem JOIN scores sc USING (doc_id)
    ),
    selected AS (SELECT * FROM ranked WHERE cum_tokens <= 20000)
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_input,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM quality) AS n_quality,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM semantic) AS n_semantic,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM selected) AS n_selected,
      (SELECT CAST(COALESCE(SUM(n_words), 0) AS BIGINT) FROM selected) AS tokens_selected,
      (SELECT CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) FROM selected) AS sel_id_sum,
      (SELECT CAST(COALESCE(MIN(doc_id), -1) AS BIGINT) FROM selected) AS sel_id_min,
      (SELECT CAST(COALESCE(MAX(doc_id), -1) AS BIGINT) FROM selected) AS sel_id_max
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel: Gopher filter (llm_ops.gopher_filter)
    -> exact dedup (dedup_exact) -> SemDeDup (semantic_dedup) -> DSIR
    selection (dsir_importance_weights) under a 20k-token budget. Every
    stage is the already-verified operator; the pipeline checks their
    COMPOSITION with set-level checksums.

    The global token-budget running sum uses operators.global_running_sum
    (range-partitioned distributed prefix sum) — never an unpartitioned
    window; tests/test_llm_ops.py asserts zero unpartitioned windowspecs
    in this query's executed plan."""
    from impala_spark import llm_ops
    from impala_spark.operators import global_running_sum

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    g = llm_ops.gopher_filter(d)
    # Materialize each funnel stage once (guide-standard plan
    # truncation): the stage DataFrames fan out to several consumers
    # (the next stage, the DSIR raw/target split, the funnel counters, and
    # global_running_sum's range-bound sampling pass), and Catalyst plans
    # are trees — filter pushdown specializes each consumer's copy of the
    # subtree so ReuseExchange can't dedup them, multiplying the full
    # upstream chain ~6x (measured r12 at sf0.01: warm pipeline 7.9 ->
    # 4.6 s). ops.materialize_stage = localCheckpoint locally, reliable
    # checkpoint under spark.graft.checkpoint.mode=reliable (r12 #3);
    # either way eager and per-invocation — every run still computes
    # from the parquet inputs; nothing survives across runs.
    quality = ops.materialize_stage(
        d.join(g.filter(F.col("keep")).select("doc_id", "n_words"), "doc_id")
    )
    keepers = llm_ops.dedup_exact(quality).select(
        F.col("keep_id").alias("doc_id")
    )
    exact = ops.materialize_stage(quality.join(keepers, "doc_id"))
    sem_in = e.join(
        exact.select(F.col("doc_id").alias("vec_id")), "vec_id"
    ).select("vec_id", "embedding")
    sem_kept = (
        llm_ops.semantic_dedup(sem_in, threshold=0.97, bits=8, stride=7)
        .filter(F.col("kept"))
        .select(F.col("id").alias("doc_id"))
    )
    semantic = ops.materialize_stage(exact.join(sem_kept, "doc_id"))
    target = semantic.filter(F.col("source") == "src0")
    raw = semantic.filter(F.col("source") != "src0")
    scores = llm_ops.dsir_importance_weights(raw, target).select(
        "doc_id", "logratio"
    )
    # Materialize the ranked input (r13): global_running_sum's
    # repartitionByRange samples its child for range bounds, so the whole
    # DSIR chain (token explodes + distribution joins) executed TWICE —
    # once for the sampling job, once for the real pass. With the blocks
    # materialized the sampler reads them instead. Interleaved A/B at
    # sf0.01, identical funnel row: median 4.97 -> 4.21 s, 4/5 wins.
    ranked_in = ops.materialize_stage(semantic.join(scores, "doc_id"))
    ranked = global_running_sum(
        ranked_in,
        "n_words",
        [F.col("logratio").desc(), F.col("doc_id")],
        out_col="cum_tokens",
    )
    selected = ranked.filter(F.col("cum_tokens") <= 20000)
    funnel = selected.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_selected"),
        F.coalesce(F.sum("n_words"), F.lit(0)).cast("bigint").alias("tokens_selected"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("sel_id_sum"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).cast("bigint").alias("sel_id_min"),
        F.coalesce(F.max("doc_id"), F.lit(-1)).cast("bigint").alias("sel_id_max"),
    )
    return (
        # n_input joins the same lazy cross-joined aggregate chain as the
        # other funnel counters — no eager d.count() on the driver, so no
        # extra full corpus scan before the funnel starts (r7 verdict #3)
        funnel.crossJoin(
            d.agg(F.count(F.lit(1)).cast("bigint").alias("n_input"))
        )
        .crossJoin(
            quality.agg(F.count(F.lit(1)).cast("bigint").alias("n_quality"))
        )
        .crossJoin(exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact")))
        .crossJoin(
            semantic.agg(F.count(F.lit(1)).cast("bigint").alias("n_semantic"))
        )
        .select(
            "n_input", "n_quality", "n_exact", "n_semantic", "n_selected",
            "tokens_selected", "sel_id_sum", "sel_id_min", "sel_id_max",
        )
    )


# TPC-DS shapes, round-4 batch 3.

# Q96 shape: pure selective-count star probe (count over a multi-way
# filtered join) — the simplest star shape, planner floor.
sql_query(
    "tpcds_q96_shape",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_size = 10 AND o_orderpriority = '1-URGENT'
      AND l_quantity BETWEEN 10 AND 30
    """,
)

# Q59 shape: same aggregate computed over two adjacent periods, joined
# back on the group key to form week-over-week style ratios.
sql_query(
    "tpcds_q59_shape",
    """
    WITH y1 AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders WHERE YEAR(o_orderdate) = 1996 GROUP BY o_custkey
    ),
    y2 AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
      FROM orders WHERE YEAR(o_orderdate) = 1997 GROUP BY o_custkey
    )
    SELECT y1.o_custkey,
           CAST(y1.rev AS DOUBLE) AS rev_1996,
           CAST(y2.rev AS DOUBLE) AS rev_1997,
           ROUND(CAST(y2.rev AS DOUBLE) / CAST(y1.rev AS DOUBLE), 4) AS yoy
    FROM y1 JOIN y2 ON y1.o_custkey = y2.o_custkey
    ORDER BY yoy DESC, y1.o_custkey
    LIMIT 50
    """,
)

# Q45 shape: customers qualifying via EITHER an attribute predicate OR a
# frequency-subquery membership. Impala 2.7 REJECTS subqueries under OR
# (StmtRewriter.java:135 — our parser pins that rejection), so the shape
# is expressed the way an Impala user must write it: the disjunction
# becomes a UNION DISTINCT of the two qualifying key sets, semi-joined
# back to the facts.
sql_query(
    "tpcds_q45_shape",
    """
    WITH qualifying AS (
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000
      UNION
      SELECT o_custkey AS c_custkey FROM orders
      GROUP BY o_custkey HAVING COUNT(*) > 25
    )
    SELECT c_mktsegment,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    WHERE c_custkey IN (SELECT c_custkey FROM qualifying)
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

# Q19 shape: brand revenue with a multi-predicate dimension filter and
# fact-side date restriction, grouped by two dim attributes.
sql_query(
    "tpcds_q19_shape",
    """
    SELECT p_brand, p_type,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size BETWEEN 1 AND 15
      AND YEAR(l_shipdate) = 1996
    GROUP BY p_brand, p_type
    HAVING SUM(CAST(l_extendedprice AS DECIMAL(18,4))) > 1000
    ORDER BY revenue DESC, p_brand, p_type
    LIMIT 40
    """,
)

# ---- r11 widening of the tpcds-all corpus (PlannerTest.java:218-223):
# eleven more distinct plan shapes from the reference's suite, adapted to
# the fixture star schema (lineitem = fact, orders = date side,
# part/customer = dims, l_returnflag/l_linestatus/l_linenumber = channel
# stand-ins). Determinism rules: money through DECIMAL(18,4) (exact
# sums), averages as exact-sum / count in DOUBLE, window averages over
# integer cents, every LIMIT totally tie-broken.

# TPC-DS Q13 shape: OR-ed band predicates over dim x fact attributes
# feeding global averages (one row).
sql_query(
    "tpcds_q13_shape",
    """
    SELECT ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_disc
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
    WHERE (c_mktsegment = 'BUILDING' AND l_quantity BETWEEN 1 AND 15)
       OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 16 AND 35)
       OR (c_mktsegment = 'HOUSEHOLD' AND l_quantity BETWEEN 36 AND 50)
    """,
)

# TPC-DS Q31 shape: per-period CTEs self-joined into a quarter-over-
# quarter growth ratio per nation.
sql_query(
    "tpcds_q31_shape",
    """
    WITH p1 AS (
      SELECT c_nationkey AS nk, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s1
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY c_nationkey
    ), p2 AS (
      SELECT c_nationkey AS nk, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s2
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY c_nationkey
    )
    SELECT p1.nk AS nationkey,
           CAST(ROUND(p1.s1, 2) AS DOUBLE) AS q1_sales,
           CAST(ROUND(p2.s2, 2) AS DOUBLE) AS q2_sales,
           ROUND(CAST(p2.s2 AS DOUBLE) / CAST(p1.s1 AS DOUBLE), 6) AS growth
    FROM p1 JOIN p2 ON p1.nk = p2.nk
    ORDER BY growth DESC, nationkey
    LIMIT 10
    """,
)

# TPC-DS Q39 shape: coefficient-of-variation filter per part-month with
# a consecutive-month self-join. The CoV itself stays in the WHERE (a
# raw-double threshold compare is ulp-safe); the OUTPUT emits only
# deterministic columns — a ROUND of a short-terminating quotient like
# ROUND(0.7071/2.0, 4) diverges across engines (Spark rounds the
# shortest decimal repr "0.35355" half-up, DuckDB rounds the binary
# value down; caught live at sf1).
sql_query(
    "tpcds_q39_shape",
    """
    WITH inv AS (
      SELECT l_partkey AS pk, CAST(MONTH(l_shipdate) AS INT) AS moy,
             STDDEV_SAMP(l_quantity) AS sd,
             ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS mean_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, MONTH(l_shipdate)
      HAVING COUNT(*) >= 2
    )
    SELECT a.pk AS partkey, a.moy AS moy_a, b.moy AS moy_b,
           a.mean_qty AS mean_a, b.mean_qty AS mean_b
    FROM inv a JOIN inv b ON a.pk = b.pk AND b.moy = a.moy + 1
    WHERE a.sd / a.mean_qty > 0.3 AND b.sd / b.mean_qty > 0.3
    ORDER BY partkey, moy_a
    LIMIT 100
    """,
)

# TPC-DS Q48 shape: banded OR predicates over customer segment x order
# value; single quantity total.
sql_query(
    "tpcds_q48_shape",
    """
    SELECT CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 0) AS BIGINT) AS total_qty,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
    WHERE ((c_mktsegment = 'AUTOMOBILE' AND o_totalprice BETWEEN 500 AND 100000)
       OR (c_mktsegment = 'FURNITURE' AND o_totalprice BETWEEN 100000 AND 200000)
       OR (c_mktsegment = 'BUILDING' AND o_totalprice BETWEEN 200000 AND 400000))
      AND l_returnflag <> 'R'
    """,
)

# TPC-DS Q58 shape: three channel CTEs (returnflag stands in for the
# store/catalog/web channels) joined per item, kept when the channels
# agree within a band.
sql_query(
    "tpcds_q58_shape",
    """
    WITH cha AS (
      SELECT l_partkey AS pk, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_partkey
    ), chn AS (
      SELECT l_partkey AS pk, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey
    ), chr AS (
      SELECT l_partkey AS pk, SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_partkey
    )
    SELECT cha.pk AS partkey,
           CAST(ROUND(cha.rev, 2) AS DOUBLE) AS rev_a,
           CAST(ROUND(chn.rev, 2) AS DOUBLE) AS rev_n,
           CAST(ROUND(chr.rev, 2) AS DOUBLE) AS rev_r
    FROM cha JOIN chn ON cha.pk = chn.pk JOIN chr ON cha.pk = chr.pk
    WHERE CAST(cha.rev AS DOUBLE) BETWEEN 0.5 * CAST(chn.rev AS DOUBLE)
                                      AND 1.5 * CAST(chn.rev AS DOUBLE)
      AND CAST(cha.rev AS DOUBLE) BETWEEN 0.5 * CAST(chr.rev AS DOUBLE)
                                      AND 1.5 * CAST(chr.rev AS DOUBLE)
    ORDER BY partkey
    LIMIT 100
    """,
)

# TPC-DS Q71 shape: UNION ALL of three channels under one star join,
# month breakdown of brand revenue.
sql_query(
    "tpcds_q71_shape",
    """
    SELECT p_brand, CAST(MONTH(o_orderdate) AS INT) AS d_moy, chan,
           CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS ext_price
    FROM (
      SELECT l_partkey AS pk, l_orderkey AS ok,
             CAST(l_extendedprice AS DECIMAL(18,4)) AS rev, 'web' AS chan
      FROM lineitem WHERE l_linenumber = 1
      UNION ALL
      SELECT l_partkey, l_orderkey,
             CAST(l_extendedprice AS DECIMAL(18,4)), 'catalog'
      FROM lineitem WHERE l_linenumber = 2
      UNION ALL
      SELECT l_partkey, l_orderkey,
             CAST(l_extendedprice AS DECIMAL(18,4)), 'store'
      FROM lineitem WHERE l_linenumber >= 3
    ) u
    JOIN orders ON ok = o_orderkey
    JOIN part ON pk = p_partkey
    WHERE p_type = 'PROMO' AND YEAR(o_orderdate) = 1997
    GROUP BY p_brand, MONTH(o_orderdate), chan
    ORDER BY ext_price DESC, p_brand, d_moy, chan
    LIMIT 100
    """,
)

# TPC-DS Q72 shape: date-inequality join condition between fact and
# date side (late shipments against urgent orders).
sql_query(
    "tpcds_q72_shape",
    """
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAYS
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY p_brand
    ORDER BY n_late DESC, p_brand
    LIMIT 50
    """,
)

# TPC-DS Q75 shape: year-over-year decline per brand via a self-joined
# per-year CTE.
sql_query(
    "tpcds_q75_shape",
    """
    WITH yr AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS d_year, p_brand,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS amt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
      WHERE YEAR(o_orderdate) IN (1995, 1996)
      GROUP BY YEAR(o_orderdate), p_brand
    )
    SELECT c.p_brand AS brand,
           CAST(ROUND(p.qty, 0) AS BIGINT) AS prev_qty,
           CAST(ROUND(c.qty, 0) AS BIGINT) AS curr_qty,
           CAST(ROUND(c.amt - p.amt, 2) AS DOUBLE) AS sales_delta
    FROM yr c JOIN yr p ON c.p_brand = p.p_brand
    WHERE c.d_year = 1996 AND p.d_year = 1995 AND c.qty < p.qty
    ORDER BY sales_delta, brand
    LIMIT 100
    """,
)

# TPC-DS Q89 shape: monthly sales vs the brand/type average via window
# functions — deviation filter. Money goes through INTEGER CENTS so the
# window average is exact-integer division (order-free on both engines).
sql_query(
    "tpcds_q89_shape",
    """
    WITH m AS (
      SELECT p_brand, p_type, CAST(MONTH(o_orderdate) AS INT) AS d_moy,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
      WHERE YEAR(o_orderdate) = 1996 AND p_type IN ('PROMO', 'STANDARD')
      GROUP BY p_brand, p_type, MONTH(o_orderdate)
    ), w AS (
      SELECT p_brand, p_type, d_moy, cents,
             SUM(cents) OVER (PARTITION BY p_brand, p_type) AS tot_cents,
             COUNT(*) OVER (PARTITION BY p_brand, p_type) AS n_moy
      FROM m
    )
    SELECT p_brand, p_type, d_moy,
           CAST(cents AS DOUBLE) / 100 AS sum_sales,
           ROUND(CAST(tot_cents AS DOUBLE) / n_moy / 100, 6) AS avg_monthly
    FROM w
    WHERE n_moy > 1
      AND ABS(CAST(cents AS DOUBLE) * n_moy - CAST(tot_cents AS DOUBLE))
          > CAST(tot_cents AS DOUBLE) * 0.1
    ORDER BY p_brand, p_type, d_moy
    LIMIT 100
    """,
)

# TPC-DS Q93 shape: returns-adjusted actual sales per supplier
# (returned lines contribute the discounted price instead).
sql_query(
    "tpcds_q93_shape",
    """
    SELECT l_suppkey AS suppkey,
           CAST(ROUND(SUM(CASE WHEN l_returnflag = 'R'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4))
                      * (1 - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(l_extendedprice AS DECIMAL(18,4)) END), 2) AS DOUBLE) AS act_sales
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY act_sales, suppkey
    LIMIT 100
    """,
)

# TPC-DS Q97 shape: FULL OUTER JOIN of two DISTINCT channel CTEs
# counting exclusive/overlapping (customer, part) pairs.
sql_query(
    "tpcds_q97_shape",
    """
    WITH ord_f AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_linestatus = 'F'
    ), ord_o AS (
      SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_linestatus = 'O'
    )
    SELECT CAST(SUM(CASE WHEN f.ck IS NOT NULL AND o.ck IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_only,
           CAST(SUM(CASE WHEN f.ck IS NULL AND o.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS o_only,
           CAST(SUM(CASE WHEN f.ck IS NOT NULL AND o.ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both_status
    FROM ord_f f FULL OUTER JOIN ord_o o ON f.ck = o.ck AND f.pk = o.pk
    """,
)


# TPC-DS Q28 shape: six one-row aggregate brackets recombined by CROSS
# JOIN of derived tables (the reference plans nested-loop joins of
# UNPARTITIONED singletons).
sql_query(
    "tpcds_q28_shape",
    """
    SELECT CAST(b1.cnt AS BIGINT) AS cnt1, b1.avg_p AS avg1,
           CAST(b2.cnt AS BIGINT) AS cnt2, b2.avg_p AS avg2,
           CAST(b3.cnt AS BIGINT) AS cnt3, b3.avg_p AS avg3
    FROM (SELECT COUNT(*) AS cnt,
                 ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_p
          FROM lineitem WHERE l_quantity BETWEEN 1 AND 10) b1,
         (SELECT COUNT(*) AS cnt,
                 ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_p
          FROM lineitem WHERE l_quantity BETWEEN 11 AND 25) b2,
         (SELECT COUNT(*) AS cnt,
                 ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_p
          FROM lineitem WHERE l_quantity BETWEEN 26 AND 50) b3
    """,
)

# TPC-DS Q32 shape: correlated scalar-subquery threshold (rows above
# 1.3x their part's average) feeding a single excess-revenue sum —
# WHERE-clause correlated agg subquery, the reference's
# StmtRewriter.java:374-393 LEFT OUTER rewrite.
sql_query(
    "tpcds_q32_shape",
    """
    SELECT CAST(ROUND(SUM(CAST(l1.l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS excess_rev,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem l1 JOIN part ON l1.l_partkey = p_partkey
    WHERE p_type = 'PROMO'
      AND l1.l_extendedprice > (SELECT 1.3 * AVG(l2.l_extendedprice)
                                FROM lineitem l2
                                WHERE l2.l_partkey = l1.l_partkey)
    """,
)

# TPC-DS Q40 shape: before/after pivot around a boundary date per brand.
sql_query(
    "tpcds_q40_shape",
    """
    SELECT p_brand,
           CAST(ROUND(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE) AS sales_before,
           CAST(ROUND(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE) AS sales_after
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY p_brand
    ORDER BY p_brand
    LIMIT 100
    """,
)

# TPC-DS Q46 shape: per-order derived aggregate joined back to the
# customer dimension with a dimension filter on the outer block.
sql_query(
    "tpcds_q46_shape",
    """
    SELECT c_name, ok,
           CAST(ROUND(amt, 2) AS DOUBLE) AS amt,
           CAST(ROUND(disc, 2) AS DOUBLE) AS disc
    FROM (
      SELECT o_custkey AS ck, o_orderkey AS ok,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS amt,
             SUM(CAST(l_discount AS DECIMAL(18,4))) AS disc
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY o_custkey, o_orderkey
    ) dn JOIN customer ON ck = c_custkey
    WHERE c_mktsegment <> 'BUILDING'
    ORDER BY c_name, ok
    LIMIT 100
    """,
)

# TPC-DS Q49 shape: worst-return-ratio ranking via a window over a
# grouped CTE (integer-ratio ordering, fully tie-broken).
sql_query(
    "tpcds_q49_shape",
    """
    WITH r AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS ret,
             COUNT(*) AS tot
      FROM lineitem
      GROUP BY l_partkey
      HAVING COUNT(*) >= 5
    )
    SELECT pk AS partkey, ret, CAST(tot AS BIGINT) AS tot,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT pk, ret, tot,
             RANK() OVER (ORDER BY CAST(ret AS DOUBLE) / tot DESC, pk) AS rnk
      FROM r
    ) t
    WHERE rnk <= 20
    ORDER BY rnk, partkey
    """,
)

# TPC-DS Q50 shape: ship-lag day buckets per order priority (the
# 30/60/90/120 pivot; q62/q99 share the family).
sql_query(
    "tpcds_q50_shape",
    """
    SELECT o_orderpriority,
      CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAYS THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAYS
                     AND l_shipdate <= o_orderdate + INTERVAL 60 DAYS THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAYS
                     AND l_shipdate <= o_orderdate + INTERVAL 90 DAYS THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAYS
                     AND l_shipdate <= o_orderdate + INTERVAL 120 DAYS THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAYS THEN 1 ELSE 0 END) AS BIGINT) AS dmore
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

# TPC-DS Q84 shape: customer lookup with concat projection through two
# dimension joins.
sql_query(
    "tpcds_q84_shape",
    """
    SELECT c_custkey AS customer_id,
           concat(c_name, ' - seg ', c_mktsegment) AS customername,
           n_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_regionkey = 1 AND c_acctbal BETWEEN 1000 AND 3000
    ORDER BY c_custkey
    LIMIT 100
    """,
)


# TPC-DS Q4 shape: year-over-year spend ratio per customer — one
# grouped CTE self-joined across years, ratio filter between the two
# periods (the q11/q74 family).
sql_query(
    "tpcds_q4_shape",
    """
    WITH spend AS (
      SELECT o_custkey AS ck, CAST(YEAR(o_orderdate) AS INT) AS yr,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS total
      FROM orders
      WHERE YEAR(o_orderdate) IN (1995, 1996)
      GROUP BY o_custkey, YEAR(o_orderdate)
    )
    SELECT c.ck AS custkey,
           CAST(ROUND(p.total, 2) AS DOUBLE) AS spend_1995,
           CAST(ROUND(c.total, 2) AS DOUBLE) AS spend_1996
    FROM spend c JOIN spend p ON c.ck = p.ck
    WHERE c.yr = 1996 AND p.yr = 1995
      AND CAST(c.total AS DOUBLE) > 1.5 * CAST(p.total AS DOUBLE)
    ORDER BY custkey
    LIMIT 100
    """,
)

# TPC-DS Q35 shape: EXISTS + NOT EXISTS membership tests against two
# channels, demographic-style aggregates per group.
sql_query(
    "tpcds_q35_shape",
    """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(MIN(c_custkey) AS BIGINT) AS min_ck,
           CAST(MAX(c_custkey) AS BIGINT) AS max_ck
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

# TPC-DS Q37 shape: part-attribute range lookup gated by a date-ranged
# semi-join against the fact (IN subquery with its own filter).
sql_query(
    "tpcds_q37_shape",
    """
    SELECT p_partkey, p_brand, p_type
    FROM part
    WHERE p_size BETWEEN 10 AND 25
      AND p_partkey IN (SELECT l_partkey FROM lineitem
                        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                          AND l_shipdate < TIMESTAMP '1997-03-01 00:00:00')
    ORDER BY p_partkey
    LIMIT 100
    """,
)

# TPC-DS Q77 shape: per-channel aggregated CTEs (linestatus channels)
# recombined by UNION ALL with a grand-total arm — the reference's
# channel-totals report without GROUPING SETS (not in the 2.7 grammar).
sql_query(
    "tpcds_q77_shape",
    """
    WITH chf AS (
      SELECT 'F' AS chan,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sales,
             COUNT(*) AS n
      FROM lineitem WHERE l_linestatus = 'F'
    ), cho AS (
      SELECT 'O' AS chan,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS sales,
             COUNT(*) AS n
      FROM lineitem WHERE l_linestatus = 'O'
    )
    SELECT chan, CAST(ROUND(sales, 2) AS DOUBLE) AS sales,
           CAST(n AS BIGINT) AS n
    FROM chf
    UNION ALL
    SELECT chan, CAST(ROUND(sales, 2) AS DOUBLE) AS sales,
           CAST(n AS BIGINT) AS n
    FROM cho
    UNION ALL
    SELECT 'ALL' AS chan,
           CAST(ROUND(chf.sales + cho.sales, 2) AS DOUBLE) AS sales,
           CAST(chf.n + cho.n AS BIGINT) AS n
    FROM chf, cho
    ORDER BY chan
    """,
)

# TPC-DS Q69 shape: membership in one channel and absence from another,
# projected per demographic bucket (the q10 family).
sql_query(
    "tpcds_q69_shape",
    """
    SELECT c_nationkey AS nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM customer c
    WHERE c.c_custkey IN (SELECT o_custkey FROM orders
                          WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                            AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')
      AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderstatus = 'F'
                                AND o_totalprice > 300000)
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY nationkey, c_mktsegment
    LIMIT 100
    """,
)

# ---------------------------------------------------------------------------
# TPC-DS tranche 4 (r12): the shapes that need schema the fixtures lack —
# inventory, demographics, returns (tpcds-all, T/planner/PlannerTest.java:222).
# The analog tables are DERIVED CTEs over the fixture tables, deterministic
# arithmetic on keys only, so the exact same text runs on Spark and the
# driver's DuckDB oracle (which registers only the ten fixture views):
#   inventory      := lineitem lines with inv_qty = (7*orderkey + 3*linenumber) % 100,
#                     warehouse := supplier (referential integrity for free)
#   demographics   := customer with band(c_acctbal) x c_mktsegment attributes
#   returns        := lineitem WHERE l_returnflag = 'R' (line-grain PK intact)
# Families already covered elsewhere are NOT re-added: q16/q94/q95
# (EXISTS + NOT EXISTS fulfillment = tpch_q21_suppliers_waiting), q30/q81
# (returns above state average = tpcds_q1_shape), q10 (= q35), q22/q67
# (ROLLUP — grammar the reference rejects at 2.7).

# TPC-DS Q21 shape: per-warehouse per-item inventory before/after a pivot
# date, kept when the ratio stays inside the [2/3, 3/2] band.
sql_query(
    "tpcds_q21_shape",
    """
    WITH inv AS (
      SELECT l_partkey AS inv_pk, l_suppkey AS inv_wh, l_shipdate AS inv_d,
             CAST((l_orderkey * 7 + l_linenumber * 3) % 100 AS INT) AS inv_qty
      FROM lineitem
    ), w AS (
      SELECT s_name AS wh, inv_pk AS pk,
             SUM(CASE WHEN inv_d < TIMESTAMP '1998-01-01 00:00:00'
                      THEN inv_qty ELSE 0 END) AS before_qty,
             SUM(CASE WHEN inv_d >= TIMESTAMP '1998-01-01 00:00:00'
                      THEN inv_qty ELSE 0 END) AS after_qty
      FROM inv JOIN supplier ON inv_wh = s_suppkey
      GROUP BY s_name, inv_pk
    )
    SELECT wh, pk, CAST(before_qty AS BIGINT) AS inv_before,
           CAST(after_qty AS BIGINT) AS inv_after
    FROM w
    WHERE before_qty > 0
      AND after_qty * 3 >= before_qty * 2 AND after_qty * 2 <= before_qty * 3
    ORDER BY wh, pk
    LIMIT 100
    """,
)

# TPC-DS Q29 shape: sale -> return -> repurchase tri-fact chain on the
# (customer, part) grain with date-window inequality joins.
sql_query(
    "tpcds_q29_shape",
    """
    WITH sale AS (
      SELECT o_custkey AS ck, l_partkey AS pk, l_quantity AS qty,
             o_orderdate AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag <> 'R'
    ), ret AS (
      SELECT o_custkey AS ck, l_partkey AS pk, l_quantity AS qty,
             o_orderdate AS d
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
    )
    SELECT p_brand,
           CAST(ROUND(SUM(s.qty), 0) AS BIGINT) AS sold_qty,
           CAST(ROUND(SUM(r.qty), 0) AS BIGINT) AS ret_qty,
           CAST(ROUND(SUM(s2.qty), 0) AS BIGINT) AS rebuy_qty
    FROM sale s
    JOIN ret r ON s.ck = r.ck AND s.pk = r.pk AND r.d >= s.d
      AND r.d <= s.d + INTERVAL 365 DAYS
    JOIN sale s2 ON r.ck = s2.ck AND r.pk = s2.pk AND s2.d >= r.d
    JOIN part ON s.pk = p_partkey
    GROUP BY p_brand
    ORDER BY p_brand
    LIMIT 100
    """,
)

# TPC-DS Q41 shape: dimension self-probe — items whose brand carries at
# least one product matching a disjunction of attribute combinations.
sql_query(
    "tpcds_q41_shape",
    """
    SELECT p1.p_name AS p_name
    FROM part p1
    WHERE p1.p_size BETWEEN 1 AND 15
      AND EXISTS (
        SELECT 1 FROM part p2
        WHERE p2.p_brand = p1.p_brand
          AND ((p2.p_type = 'PROMO' AND p2.p_size BETWEEN 1 AND 5)
            OR (p2.p_type = 'STANDARD' AND p2.p_size BETWEEN 6 AND 10)
            OR (p2.p_type = 'ECONOMY' AND p2.p_size BETWEEN 11 AND 15)))
    GROUP BY p1.p_name
    ORDER BY p_name
    LIMIT 100
    """,
)

# TPC-DS Q44 shape: best/worst performing items — two opposite-order
# rankings of the same aggregate joined back on rank position. Money in
# integer ten-thousandths so the rank key is exact on both engines.
sql_query(
    "tpcds_q44_shape",
    """
    WITH perf AS (
      SELECT l_partkey AS pk,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                      AS BIGINT)) AS rev4
      FROM lineitem
      GROUP BY l_partkey
    ), ranked AS (
      SELECT pk,
             RANK() OVER (ORDER BY rev4 ASC, pk ASC) AS rnk_asc,
             RANK() OVER (ORDER BY rev4 DESC, pk ASC) AS rnk_desc
      FROM perf
    )
    SELECT a.rnk_asc AS rnk, pw.p_name AS worst_performing,
           pb.p_name AS best_performing
    FROM ranked a JOIN ranked b ON a.rnk_asc = b.rnk_desc
    JOIN part pw ON a.pk = pw.p_partkey
    JOIN part pb ON b.pk = pb.p_partkey
    WHERE a.rnk_asc <= 10
    ORDER BY rnk
    """,
)

# TPC-DS Q47 shape: monthly brand sales with LAG/LEAD adjacency and a
# deviation-from-partition-average filter (integer cents -> exact).
sql_query(
    "tpcds_q47_shape",
    """
    WITH m AS (
      SELECT p_brand, CAST(MONTH(o_orderdate) AS INT) AS moy,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
      WHERE YEAR(o_orderdate) = 1996
      GROUP BY p_brand, MONTH(o_orderdate)
    ), w AS (
      SELECT p_brand, moy, cents,
             LAG(cents) OVER (PARTITION BY p_brand ORDER BY moy) AS prev_c,
             LEAD(cents) OVER (PARTITION BY p_brand ORDER BY moy) AS next_c,
             CAST(SUM(cents) OVER (PARTITION BY p_brand) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY p_brand) AS avg_c
      FROM m
    )
    SELECT p_brand, moy,
           CAST(cents AS DOUBLE) / 100 AS sales,
           CAST(prev_c AS DOUBLE) / 100 AS prev_sales,
           CAST(next_c AS DOUBLE) / 100 AS next_sales
    FROM w
    WHERE prev_c IS NOT NULL AND next_c IS NOT NULL
      AND CAST(cents AS DOUBLE) > 1.1 * avg_c
    ORDER BY p_brand, moy
    LIMIT 100
    """,
)

# TPC-DS Q66 shape: warehouse (supplier) shipping pivot — twelve CASE
# month columns over a two-channel UNION ALL.
sql_query(
    "tpcds_q66_shape",
    """
    WITH u AS (
      SELECT l_suppkey AS wh, CAST(MONTH(l_shipdate) AS INT) AS moy,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
      WHERE l_linenumber <= 2 AND YEAR(l_shipdate) = 1996
      UNION ALL
      SELECT l_suppkey, CAST(MONTH(l_shipdate) AS INT),
             CAST(ROUND(l_extendedprice * 100) AS BIGINT)
      FROM lineitem
      WHERE l_linenumber > 2 AND YEAR(l_shipdate) = 1996
    )
    SELECT s_name AS warehouse,
      CAST(SUM(CASE WHEN moy = 1 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS jan_sales,
      CAST(SUM(CASE WHEN moy = 2 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS feb_sales,
      CAST(SUM(CASE WHEN moy = 3 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS mar_sales,
      CAST(SUM(CASE WHEN moy = 4 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS apr_sales,
      CAST(SUM(CASE WHEN moy = 5 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS may_sales,
      CAST(SUM(CASE WHEN moy = 6 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS jun_sales,
      CAST(SUM(CASE WHEN moy = 7 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS jul_sales,
      CAST(SUM(CASE WHEN moy = 8 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS aug_sales,
      CAST(SUM(CASE WHEN moy = 9 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS sep_sales,
      CAST(SUM(CASE WHEN moy = 10 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS oct_sales,
      CAST(SUM(CASE WHEN moy = 11 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS nov_sales,
      CAST(SUM(CASE WHEN moy = 12 THEN cents ELSE 0 END) AS DOUBLE) / 100 AS dec_sales
    FROM u JOIN supplier ON wh = s_suppkey
    GROUP BY s_name
    ORDER BY s_name
    LIMIT 100
    """,
)

# TPC-DS Q78 shape: returns excluded at line grain via LEFT JOIN ...
# IS NULL (outer-join-as-anti), then channel coupling on the
# (customer, part, year) grain with a cross-channel dominance filter.
sql_query(
    "tpcds_q78_shape",
    """
    WITH ret AS (
      SELECT l_orderkey AS rk, l_partkey AS rp, l_linenumber AS rl
      FROM lineitem WHERE l_returnflag = 'R'
    ), ss AS (
      SELECT o_custkey AS ck, l_partkey AS pk,
             CAST(YEAR(o_orderdate) AS INT) AS yr,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS amt
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN ret ON l_orderkey = rk AND l_partkey = rp
          AND l_linenumber = rl
      WHERE rk IS NULL AND l_linenumber <= 3
      GROUP BY o_custkey, l_partkey, YEAR(o_orderdate)
    ), ws AS (
      SELECT o_custkey AS ck, l_partkey AS pk,
             CAST(YEAR(o_orderdate) AS INT) AS yr,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN ret ON l_orderkey = rk AND l_partkey = rp
          AND l_linenumber = rl
      WHERE rk IS NULL AND l_linenumber > 3
      GROUP BY o_custkey, l_partkey, YEAR(o_orderdate)
    )
    SELECT ss.yr AS yr, ss.ck AS ck, ss.pk AS pk,
           CAST(ROUND(ss.qty, 0) AS BIGINT) AS store_qty,
           CAST(ROUND(COALESCE(ws.qty, 0), 0) AS BIGINT) AS other_qty,
           CAST(ROUND(ss.amt, 2) AS DOUBLE) AS store_amt
    FROM ss LEFT JOIN ws
      ON ss.ck = ws.ck AND ss.pk = ws.pk AND ss.yr = ws.yr
    WHERE ss.qty > COALESCE(ws.qty, 0) AND ss.qty >= 45
    ORDER BY yr, ck, pk
    LIMIT 100
    """,
)

# TPC-DS Q64 shape (cross_sales): sale-to-return fact-fact join on the
# composite line key, dims attached, aggregated to (part, customer,
# year) grain, then the aggregate SELF-JOINED across two years with a
# cross-year dominance filter (cs2.cnt <= cs1.cnt) — the composite the
# r11/r12 exclusion lists called q4-self-join x q78-returns x dims.
sql_query(
    "tpcds_q64_shape",
    """
    WITH cs AS (
      SELECT l.l_partkey AS pk, o.o_custkey AS ck,
             CAST(YEAR(o.o_orderdate) AS INT) AS yr,
             COUNT(*) AS cnt,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS sales
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN lineitem r ON r.l_orderkey = l.l_orderkey
           AND r.l_linenumber = l.l_linenumber AND r.l_returnflag = 'R'
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE YEAR(o.o_orderdate) IN (1995, 1996)
      GROUP BY l.l_partkey, o.o_custkey, YEAR(o.o_orderdate)
    )
    SELECT s1.pk AS partkey, s1.ck AS custkey,
           CAST(s1.cnt AS BIGINT) AS cnt_1995,
           CAST(ROUND(s1.sales, 2) AS DOUBLE) AS sales_1995,
           CAST(s2.cnt AS BIGINT) AS cnt_1996,
           CAST(ROUND(s2.sales, 2) AS DOUBLE) AS sales_1996
    FROM cs s1 JOIN cs s2 ON s1.pk = s2.pk AND s1.ck = s2.ck
    WHERE s1.yr = 1995 AND s2.yr = 1996 AND s2.cnt <= s1.cnt
    ORDER BY partkey, custkey
    LIMIT 100
    """,
)

# TPC-DS Q82 shape: attribute-banded items held in inventory within a
# quantity band and actually sold (IN semi-join to the fact).
sql_query(
    "tpcds_q82_shape",
    """
    WITH inv AS (
      SELECT l_partkey AS inv_pk,
             CAST((l_orderkey * 7 + l_linenumber * 3) % 100 AS INT) AS inv_qty
      FROM lineitem
    )
    SELECT p_name, p_brand, CAST(p_retailprice AS DOUBLE) AS price
    FROM part JOIN inv ON p_partkey = inv_pk
    WHERE p_size BETWEEN 5 AND 15
      AND p_retailprice BETWEEN 920 AND 960
      AND inv_qty BETWEEN 20 AND 60
      AND p_partkey IN (SELECT l_partkey FROM lineitem
                        WHERE l_returnflag = 'N')
    GROUP BY p_name, p_brand, p_retailprice
    ORDER BY p_name, p_brand
    LIMIT 100
    """,
)

# TPC-DS Q85 shape: returns joined to a derived demographics dimension
# (acctbal band x market segment) under disjunctive band predicates.
sql_query(
    "tpcds_q85_shape",
    """
    WITH cdemo AS (
      SELECT c_custkey, c_mktsegment AS seg,
             CASE WHEN c_acctbal < 0 THEN 'LOW'
                  WHEN c_acctbal < 5000 THEN 'MID'
                  ELSE 'HIGH' END AS band
      FROM customer
    )
    SELECT seg, band,
           CAST(ROUND(SUM(l_quantity), 0) AS BIGINT) AS ret_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS ret_amt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN cdemo ON o_custkey = c_custkey
    WHERE l_returnflag = 'R'
      AND ((seg = 'BUILDING' AND band = 'LOW')
        OR (seg = 'AUTOMOBILE' AND band IN ('MID', 'HIGH'))
        OR (seg IN ('MACHINERY', 'FURNITURE') AND band = 'MID'))
    GROUP BY seg, band
    ORDER BY seg, band
    """,
)

# TPC-DS Q2 shape: weekly sales split by priority class, the two years
# of one grouped CTE self-joined on week number with trend comparison
# (q2's week_seq year-over-year join; weeks derived as dayofyear/7 so
# both engines bucket identically — ISO-week edges differ by engine).
sql_query(
    "tpcds_q2_shape",
    """
    WITH wk AS (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
             CAST(FLOOR((DAYOFYEAR(o_orderdate) - 1) / 7) AS INT) AS wk,
             SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END)
               AS urgent_sales,
             SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END)
               AS routine_sales
      FROM orders
      WHERE YEAR(o_orderdate) IN (1995, 1996)
      GROUP BY YEAR(o_orderdate), FLOOR((DAYOFYEAR(o_orderdate) - 1) / 7)
    )
    SELECT a.wk AS wk,
           CAST(ROUND(a.urgent_sales, 2) AS DOUBLE) AS urgent_1995,
           CAST(ROUND(b.urgent_sales, 2) AS DOUBLE) AS urgent_1996,
           CASE WHEN b.urgent_sales > a.urgent_sales THEN 'UP'
                WHEN b.urgent_sales < a.urgent_sales THEN 'DOWN'
                ELSE 'FLAT' END AS urgent_trend,
           CASE WHEN b.routine_sales > a.routine_sales THEN 'UP'
                WHEN b.routine_sales < a.routine_sales THEN 'DOWN'
                ELSE 'FLAT' END AS routine_trend
    FROM wk a JOIN wk b ON a.wk = b.wk
    WHERE a.yr = 1995 AND b.yr = 1996
    ORDER BY wk
    """,
)

# TPC-DS Q16 shape: orders in a window that involve more than one
# supplier (correlated EXISTS with a non-equality correlate) and were
# never returned (correlated NOT EXISTS) — q16's ship-from-two-
# warehouses / no-returns pair of correlated subqueries.
sql_query(
    "tpcds_q16_shape",
    """
    SELECT CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
           CAST(SUM(CAST(ROUND(l1.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM lineitem l1 JOIN orders ON l1.l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_returnflag = 'R')
    """,
)

# TPC-DS Q24 shape: a grouped returns CTE consumed twice — once as the
# output relation and once inside a scalar-subquery threshold over the
# whole CTE (q24's sum(netpaid) > 0.05 * avg-over-all pattern).
sql_query(
    "tpcds_q24_shape",
    """
    WITH ret AS (
      SELECT c_name AS cust, s_name AS supp,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS ret_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_returnflag = 'R'
      GROUP BY c_name, s_name
    )
    SELECT cust, supp, CAST(ret_cents AS BIGINT) AS ret_cents
    FROM ret
    WHERE ret_cents > (SELECT AVG(ret_cents) * 3 FROM ret)
    ORDER BY cust, supp
    LIMIT 100
    """,
)

# TPC-DS Q43 shape: calendar pivot — one group with conditional sums
# per calendar bucket as columns (q43's day-of-week pivot, adapted to
# quarters: dayofweek numbering differs between engines, months don't).
sql_query(
    "tpcds_q43_shape",
    """
    SELECT n_name,
      CAST(ROUND(SUM(CASE WHEN MONTH(o_orderdate) IN (1, 2, 3)
        THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE)
        AS q1_sales,
      CAST(ROUND(SUM(CASE WHEN MONTH(o_orderdate) IN (4, 5, 6)
        THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE)
        AS q2_sales,
      CAST(ROUND(SUM(CASE WHEN MONTH(o_orderdate) IN (7, 8, 9)
        THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE)
        AS q3_sales,
      CAST(ROUND(SUM(CASE WHEN MONTH(o_orderdate) IN (10, 11, 12)
        THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE 0 END), 2) AS DOUBLE)
        AS q4_sales
    FROM orders JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE YEAR(o_orderdate) = 1995
    GROUP BY n_name
    ORDER BY n_name
    """,
)

# TPC-DS Q54 shape: per-customer spend rolled into a fixed-width
# revenue-segment histogram (q54's count-of-customers per 50-dollar
# segment; exact integer cents so the bucket edges are exact).
sql_query(
    "tpcds_q54_shape",
    """
    WITH spend AS (
      SELECT o_custkey AS ck,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents
      FROM orders
      WHERE YEAR(o_orderdate) = 1995
      GROUP BY o_custkey
    )
    SELECT CAST(FLOOR(total_cents / 5000000) AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS num_customers
    FROM spend
    GROUP BY FLOOR(total_cents / 5000000)
    ORDER BY segment
    LIMIT 100
    """,
)

# TPC-DS Q95 shape: conjunctive IN-subquery chain where one subquery is
# a grouped fact self-join (q95's ws_wh two-warehouse derived view
# feeding both IN predicates).
sql_query(
    "tpcds_q95_shape",
    """
    WITH multi_supp AS (
      SELECT l1.l_orderkey AS ok
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
      GROUP BY l1.l_orderkey
    )
    SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS order_count,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1995-04-01 00:00:00'
      AND o_orderkey IN (SELECT ok FROM multi_supp)
      AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                         WHERE l_returnflag = 'R')
    """,
)


# CREATE VIEW / ALTER VIEW through the engine front door (the round-4
# routing): create over a join, redefine via ALTER, read back through
# the catalog. VALUES oracle pins the final definition's rows.
@register(
    "ddl_view_lifecycle",
    oracle="""
    SELECT r_regionkey, CAST(n AS BIGINT) AS n FROM (
      SELECT r_regionkey, COUNT(*) AS n
      FROM region JOIN nation ON n_regionkey = r_regionkey
      WHERE r_regionkey < 3
      GROUP BY r_regionkey
    ) t ORDER BY r_regionkey
    """,
)
def q_view_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW + ALTER VIEW statements (analysis/CreateViewStmt.java,
    AlterViewStmt.java) via engine.sql; the view resolves through the
    session catalog like the reference's LocalView."""
    from impala_spark.engine import ImpalaEngine

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark)
    spark.sql("DROP VIEW IF EXISTS v_lifecycle_probe")
    eng.sql(
        "CREATE VIEW v_lifecycle_probe AS "
        "SELECT r_regionkey, COUNT(*) AS n "
        "FROM region JOIN nation ON n_regionkey = r_regionkey GROUP BY r_regionkey"
    )
    eng.sql(
        "ALTER VIEW v_lifecycle_probe AS "
        "SELECT r_regionkey, COUNT(*) AS n "
        "FROM region JOIN nation ON n_regionkey = r_regionkey "
        "WHERE r_regionkey < 3 GROUP BY r_regionkey"
    )
    return eng.sql(
        "SELECT r_regionkey, CAST(n AS BIGINT) AS n FROM v_lifecycle_probe "
        "ORDER BY r_regionkey"
    )


@register(
    "meta_request_pools",
    """
    SELECT * FROM (VALUES
      ('resolve_specified', 'root.queueA'),
      ('resolve_unknown_pool', 'rejected'),
      ('acl_user_direct', 'true'),
      ('acl_denied', 'false'),
      ('acl_via_os_group', 'true'),
      ('cfg_queueA_max_mem_mb', '1024'),
      ('cfg_default_max_queued', '200'),
      ('admit_under_mem_cap', 'admitted'),
      ('admit_over_mem_cap', 'rejected'),
      ('engine_query_under_pool', '5')
    ) AS t(case_name, result)
    ORDER BY case_name
    """,
)
def q_meta_request_pools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Request-pool resolution + admission control (the reference's
    RequestPoolService surface, util/RequestPoolService.java, pinned by
    T/util/TestRequestPoolService.java): fair-scheduler placement rules,
    submit ACLs (user leg and OS-group leg), llama-site per-pool limits,
    memory-cap admission, and a query executed through the engine under
    SET REQUEST_POOL."""
    import tempfile
    import textwrap as _tw

    from impala_spark.engine import ImpalaEngine
    from impala_spark.pools import (
        MB,
        AdmissionController,
        AdmissionRejectedError,
        RequestPoolService,
    )

    d = tempfile.mkdtemp(prefix="impala_spark_pools_")
    alloc = f"{d}/fair-scheduler.xml"
    with open(alloc, "w") as f:
        f.write(_tw.dedent("""\
            <?xml version="1.0"?>
            <allocations>
              <queue name="root">
                <queue name="queueA">
                  <aclSubmitApps>* </aclSubmitApps>
                  <maxResources>1024 mb, 2 vcores</maxResources>
                </queue>
                <queue name="queueB">
                  <aclSubmitApps>userB root</aclSubmitApps>
                </queue>
                <aclSubmitApps> </aclSubmitApps>
              </queue>
              <queuePlacementPolicy>
                <rule name="specified" create="false"/>
                <rule name="reject" />
              </queuePlacementPolicy>
            </allocations>
            """))
    svc = RequestPoolService(alloc)
    ctrl = AdmissionController(svc)
    rows: list[tuple[str, str]] = []
    rows.append(
        ("resolve_specified", svc.assign_to_pool("root.queueA", "userA") or "rejected")
    )
    rows.append(
        ("resolve_unknown_pool", svc.assign_to_pool("queueX", "userA") or "rejected")
    )
    rows.append(("acl_user_direct", str(svc.has_access("root.queueB", "userB")).lower()))
    rows.append(("acl_denied", str(svc.has_access("root.queueB", "userA")).lower()))
    # OS user 'root' is admitted through the group leg of 'userB root'
    rows.append(("acl_via_os_group", str(svc.has_access("root.queueB", "root")).lower()))
    cfg = svc.get_pool_config("root.queueA")
    rows.append(("cfg_queueA_max_mem_mb", str(cfg.max_mem_resources // MB)))
    rows.append(("cfg_default_max_queued", str(cfg.max_queued)))
    with ctrl.admit("root.queueA", "userA", estimate_bytes=512 * MB):
        rows.append(("admit_under_mem_cap", "admitted"))
    try:
        ctrl.admit("root.queueA", "userA", estimate_bytes=2048 * MB)
        rows.append(("admit_over_mem_cap", "admitted"))
    except AdmissionRejectedError:
        rows.append(("admit_over_mem_cap", "rejected"))
    eng = ImpalaEngine(spark, sf_dir, user="root")
    eng.configure_request_pools(alloc)
    eng.sql("SET REQUEST_POOL=root.queueA")
    n = eng.sql("SELECT count(*) AS n FROM region").collect()[0]["n"]
    rows.append(("engine_query_under_pool", str(n)))
    return spark.createDataFrame(
        sorted(rows), "case_name: string, result: string"
    )


@register(
    "meta_equiv_colocation",
    """
    SELECT * FROM (VALUES
      (1, 'lineitem.l_orderkey,orders.o_orderkey', 'lineitem,orders', 2),
      (2, 'customer.c_custkey,orders.o_custkey', 'customer,orders', 1),
      (3, 'nation.n_regionkey,region.r_regionkey', 'nation,region', 1)
    ) AS t(rank, equiv_class, tables, statements)
    ORDER BY rank
    """,
)
def q_meta_equiv_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key equivalence classes -> colocation layout advice
    (util/DisjointSet.java + the analyzer's equivClassMembers,
    A/Analyzer.java:277, re-aimed at the hash-bucketed layout): over a
    3-statement workload the advisor ranks orders-lineitem (2 uses)
    above the single-use classes."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    workload = [
        "SELECT o_orderpriority, count(*) FROM orders o JOIN lineitem l "
        "ON o.o_orderkey = l.l_orderkey GROUP BY o_orderpriority",
        "SELECT l_returnflag, sum(l_extendedprice) FROM orders o "
        "JOIN lineitem l ON o.o_orderkey = l.l_orderkey "
        "WHERE o.o_orderdate < '1995-01-01' GROUP BY l_returnflag",
        "SELECT c_mktsegment, count(*) FROM customer c JOIN orders o "
        "ON c.c_custkey = o.o_custkey "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        "GROUP BY c_mktsegment",
    ]
    # per-statement classes feed the workload-level advice
    per_stmt = eng.equiv_classes(workload[2])
    assert {"customer.c_custkey", "orders.o_custkey"} in per_stmt
    advice = eng.colocation_advice(workload)
    rows = [
        (i + 1, ",".join(a["columns"]), ",".join(a["tables"]), a["statements"])
        for i, a in enumerate(
            a for a in advice
            # the 3rd statement also yields customer-nation; keep the
            # oracle pinned to the named classes
            if a["tables"] != ["customer", "nation"]
        )
    ]
    return spark.createDataFrame(
        rows, "rank: int, equiv_class: string, tables: string, statements: int"
    )


@register(
    "meta_explain_dml",
    """
    SELECT * FROM (VALUES
      ('ctas', 'WRITE TO HDFS [default.expdml_probe, OVERWRITE=false]'),
      ('insert', 'WRITE TO HDFS [default.expdml_probe, OVERWRITE=false]'),
      ('overwrite', 'WRITE TO HDFS [default.expdml_probe, OVERWRITE=true]'),
      ('update', 'UPDATE [default.expdml_probe]'),
      ('delete', 'DELETE FROM [default.expdml_probe]'),
      ('upsert', 'UPSERT INTO [default.expdml_probe]'),
      ('ctas_no_side_effect', 'true')
    ) AS t(stmt_kind, sink_line)
    ORDER BY stmt_kind
    """,
)
def q_meta_explain_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN of write statements: the planner's table-sink line over
    the planned source (P/HdfsTableSink.java 'WRITE TO HDFS'; the
    Kudu-surface UPDATE/DELETE/UPSERT sinks) — and EXPLAIN CTAS must
    never execute the create."""
    from impala_spark.engine import ImpalaEngine

    register_tables(spark, sf_dir)
    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS expdml_probe")
    eng.sql("CREATE TABLE expdml_probe (k BIGINT, v STRING, PRIMARY KEY (k))")

    def first_line(stmt: str) -> str:
        return eng.sql(stmt).collect()[0].explain_string

    rows = [
        ("insert", first_line(
            "EXPLAIN INSERT INTO expdml_probe SELECT r_regionkey, r_name FROM region")),
        ("overwrite", first_line(
            "EXPLAIN INSERT OVERWRITE expdml_probe VALUES (1, 'a')")),
        ("update", first_line("EXPLAIN UPDATE expdml_probe SET v = 'x' WHERE k = 1")),
        ("delete", first_line("EXPLAIN DELETE FROM expdml_probe WHERE k = 2")),
        ("upsert", first_line("EXPLAIN UPSERT INTO expdml_probe VALUES (1, 'b')")),
    ]
    eng.sql("DROP TABLE expdml_probe")
    spark.sql("DROP TABLE IF EXISTS expdml_probe")
    ctas_first = first_line(
        "EXPLAIN CREATE TABLE expdml_probe AS SELECT r_regionkey FROM region")
    rows.append(("ctas", ctas_first))
    rows.append(
        ("ctas_no_side_effect",
         str(not spark.catalog.tableExists("expdml_probe")).lower())
    )
    return spark.createDataFrame(
        sorted(rows), "stmt_kind: string, sink_line: string"
    )


@register(
    "ddl_avro_schema_infer",
    """
    SELECT * FROM (VALUES
      ('flag', 'boolean'), ('id', 'bigint'), ('name', 'string'),
      ('price', 'decimal(9,2)'), ('tags', 'array<string>')
    ) AS t(col_name, data_type)
    ORDER BY col_name
    """,
)
def q_ddl_avro_schema_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE ... STORED AS AVRO with no column list: the columns
    derive from avro.schema.literal (CreateTableStmt.analyzeAvroSchema +
    util/AvroSchemaParser.java — nullable-union unwrap, long->BIGINT,
    BYTES decimal logicalType, complex types)."""
    from impala_spark.engine import ImpalaEngine

    eng = ImpalaEngine(spark, sf_dir)
    eng.sql("DROP TABLE IF EXISTS av_entry")
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
        "CREATE TABLE av_entry STORED AS AVRO "
        f"TBLPROPERTIES ('avro.schema.literal'='{lit}')"
    )
    rows = sorted(spark.table("av_entry").dtypes)
    eng.sql("DROP TABLE av_entry")
    return spark.createDataFrame(rows, "col_name: string, data_type: string")
