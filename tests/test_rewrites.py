"""Multi-DISTINCT aggregate rewrite (rewrites.py) — the reference's
AggregateInfo.java:42-60 two-phase distinct planning applied to plain
user SQL through engine.sql(), r9 verdict task #2.

Catalyst plans ONE distinct expression without row replication
(AggUtils.planAggregateWithOneDistinct) but EXPANDS the input for >=2
distinct groups (RewriteDistinctAggregates) — so the rewrite fires only
there, splitting each distinct group into its own single-distinct CTE
joined back on the grouping keys null-safely.

Three layers: shape routing (pure), semantic equivalence vs DuckDB on
NULL-heavy data (pure), and the engine-level plan assert: above the
input gate the executed Spark plan must contain NO Expand while
producing the same rows as Catalyst's default plan.
"""

import duckdb
import pytest


import re


def _duck(sql: str) -> str:
    """DuckDB has no <=> operator; it spells null-safe equality
    IS NOT DISTINCT FROM (the emitted text is Impala/Spark dialect).
    DuckDB also lacks multi-arg COUNT(DISTINCT a, b) (Spark: count of
    distinct tuples with ALL args non-null) — spell it as a distinct
    count of a CASE-guarded struct. Applied to BOTH texts, so the
    equivalence comparison itself stays engine-neutral."""
    sql = sql.replace("<=>", "IS NOT DISTINCT FROM")
    # backtick-quoted identifiers (emitted for group keys) -> ANSI quotes
    sql = sql.replace("`", '"')

    def _multi(m: "re.Match[str]") -> str:
        args = [a.strip() for a in m.group(1).split(",")]
        if len(args) == 1:
            return m.group(0)
        guard = " AND ".join(f"{a} IS NOT NULL" for a in args)
        return (
            f"COUNT(DISTINCT CASE WHEN {guard} THEN ({', '.join(args)}) END)"
        )

    # simple-column arg lists only (the tests'), not general expressions
    return re.sub(r"COUNT\(DISTINCT ([\w.]+(?:\s*,\s*[\w.]+)+)\)", _multi, sql,
                  flags=re.IGNORECASE)

from impala_spark.rewrites import two_level_distinct as tld

SF_001 = "/root/testdata/sf0.001"
SF_01 = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# shape routing
# ---------------------------------------------------------------------------

REWRITES = [
    "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS cd1,"
    " COUNT(DISTINCT o_orderpriority) AS cd2, COUNT(*) AS n"
    " FROM orders GROUP BY o_orderstatus",
    # global (no keys): one-row CTEs recombined by CROSS JOIN
    "SELECT COUNT(DISTINCT o_custkey) AS c1, COUNT(DISTINCT o_clerk) AS c2,"
    " SUM(o_totalprice) AS s FROM orders",
    # qualified keys, CAST wrapper, WHERE, ORDER BY alias, LIMIT, AVG rides
    "SELECT o.o_orderpriority, CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS c,"
    " COUNT(DISTINCT o_clerk) AS c2, AVG(o_totalprice) AS a"
    " FROM orders o WHERE o_orderstatus = 'O'"
    " GROUP BY o.o_orderpriority ORDER BY c DESC LIMIT 3",
    # joins in FROM stay inside the CTEs
    "SELECT o_orderpriority, COUNT(DISTINCT o.o_orderkey) AS n,"
    " COUNT(DISTINCT l_suppkey) AS ns, SUM(l_extendedprice) AS r"
    " FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey"
    " WHERE o.o_orderstatus = 'O' GROUP BY o_orderpriority"
    " ORDER BY o_orderpriority",
    # r11: HAVING maps onto the joined result as an outer WHERE
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2 FROM t"
    " GROUP BY k HAVING COUNT(*) > 1",
    # r11: multi-column COUNT(DISTINCT a, b) is one group on the tuple
    "SELECT k, COUNT(DISTINCT x, y) AS cd, COUNT(DISTINCT z) AS cd2 FROM t"
    " GROUP BY k",
    # r11: HAVING may introduce the second distinct group itself
    "SELECT k, COUNT(DISTINCT x) AS cd FROM t GROUP BY k"
    " HAVING COUNT(DISTINCT y) > 1",
    # r11: ranking window over multi-distinct aggregates
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " RANK() OVER (ORDER BY COUNT(DISTINCT x) DESC, k) AS r"
    " FROM t GROUP BY k",
    # r11: HAVING referencing a select ALIAS inlines the rewritten body
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2 FROM t"
    " GROUP BY k HAVING cd > 2",
    # r11: backquoted reserved-word grouping key survives re-emission
    "SELECT `order`, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2"
    " FROM t GROUP BY `order`",
    # r11: WITH-prefixed blocks — the final SELECT rewrites, the original
    # CTEs (subqueries inside them included) re-emit verbatim
    "WITH c AS (SELECT k, x, y FROM t WHERE x IS NOT NULL)"
    " SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2"
    " FROM c GROUP BY k",
    # r11: SUM/AVG(DISTINCT) join the group keyed on their expr; same-expr
    # calls share one CTE
    "SELECT k, SUM(DISTINCT x) AS sd, COUNT(DISTINCT y) AS cd2,"
    " COUNT(DISTINCT z) AS cd3 FROM t GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, SUM(DISTINCT x) AS sd,"
    " AVG(DISTINCT x) AS ad, COUNT(DISTINCT y) AS cd2 FROM t GROUP BY k",
    # r11: FROM/WHERE subqueries re-emit verbatim into every CTE
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2"
    " FROM (SELECT * FROM t) s GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2 FROM t"
    " WHERE k2 IN (SELECT k2 FROM t WHERE x > 3) GROUP BY k",
    # r11: atomic-call expression grouping keys (upper(k), CAST(...))
    "SELECT upper(k) AS uk, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2"
    " FROM t GROUP BY upper(k)",
    "SELECT upper(k) AS uk, abs(k2) AS ak, COUNT(DISTINCT x) AS cd,"
    " COUNT(DISTINCT y) AS cd2 FROM t GROUP BY upper(k), abs(k2)"
    " HAVING COUNT(*) > 1 ORDER BY upper(k)",
    # r12: OPEN expression keys as complete select/ORDER items
    "SELECT x + 1, COUNT(DISTINCT y), COUNT(DISTINCT k2) FROM t"
    " GROUP BY x + 1",
    "SELECT x + 1 AS xp, COUNT(DISTINCT y) AS cd, COUNT(DISTINCT k2) AS ck"
    " FROM t GROUP BY x + 1 ORDER BY x + 1 DESC",
    # r12: GROUP_CONCAT(DISTINCT expr[, sep]) keys its group on the EXPR
    # only (the separator is a constant) and rides the same CTE as other
    # distinct aggregates over that expr
    "SELECT k, GROUP_CONCAT(DISTINCT x), COUNT(DISTINCT y),"
    " COUNT(DISTINCT z) FROM t GROUP BY k",
    "SELECT k, GROUP_CONCAT(DISTINCT x, '|') AS g, COUNT(DISTINCT x) AS cd,"
    " COUNT(DISTINCT y) AS cd2 FROM t GROUP BY k",
]

BAILS = [
    # single distinct: Catalyst already plans it two-phase without Expand
    "SELECT k, COUNT(DISTINCT x), COUNT(*) FROM t GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) FROM t GROUP BY k HAVING COUNT(*) > 1",
    # subqueries in the REWRITTEN regions (select list / HAVING / ORDER)
    # stay out; FROM/WHERE subqueries rewrite since r11 (see REWRITES)
    "SELECT k, (SELECT 1), COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t"
    " GROUP BY k",
    "SELECT k, COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t GROUP BY k"
    " ORDER BY (SELECT 1)",
    # per-row nondeterministic functions / nested bare LIMIT: duplicating
    # FROM/WHERE per CTE could yield a different row set per copy
    "SELECT k, COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t"
    " WHERE rand() < 0.5 GROUP BY k",
    "SELECT k, COUNT(DISTINCT x), COUNT(DISTINCT y)"
    " FROM (SELECT * FROM t LIMIT 10) s GROUP BY k",
    "WITH c AS (SELECT k, x, y FROM t LIMIT 5)"
    " SELECT k, COUNT(DISTINCT x), COUNT(DISTINCT y) FROM c GROUP BY k",
    "SELECT DISTINCT k, COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) OVER (), COUNT(DISTINCT y) FROM t",
    "SELECT k, COUNT(*) FROM t GROUP BY k",
    # open keys substitute as COMPLETE items only (r12) — an embedded
    # occurrence inside a larger expression is not precedence-safe
    "SELECT (x + 1) * 2, COUNT(DISTINCT y), COUNT(DISTINCT k2) FROM t"
    " GROUP BY x + 1",
    # GROUP BY ordinal is a position, not an expression key
    "SELECT k, COUNT(DISTINCT y), COUNT(DISTINCT x) FROM t GROUP BY 1",
    # duplicate expression keys stay out
    "SELECT upper(k), COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t"
    " GROUP BY upper(k), upper(k)",
    # aggregate inside a grouping key is malformed for this rewrite
    "SELECT abs(count(x)), COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t"
    " GROUP BY abs(count(x))",
    # non-splittable DISTINCT aggregates stay out: GROUP_CONCAT with a
    # NON-LITERAL separator (can't re-emit exactly), wrong arity, UDAs
    "SELECT k, GROUP_CONCAT(DISTINCT x, k2), COUNT(DISTINCT y),"
    " COUNT(DISTINCT z) FROM t GROUP BY k",
    "SELECT k, GROUP_CONCAT(DISTINCT x, '|', '!'), COUNT(DISTINCT y),"
    " COUNT(DISTINCT z) FROM t GROUP BY k",
    # SUM/AVG take exactly one argument
    "SELECT k, SUM(DISTINCT x, y), COUNT(DISTINCT z) FROM t GROUP BY k",
    "SELECT a.k, b.k, COUNT(DISTINCT x), COUNT(DISTINCT y) FROM a JOIN b"
    " ON a.i = b.i GROUP BY a.k, b.k",  # bare-name key collision
    # WITH whose final block is not a plain select (set op) stays out
    "WITH c AS (SELECT 1 AS x) SELECT COUNT(DISTINCT x), COUNT(DISTINCT x+1)"
    " FROM c UNION ALL SELECT 1, 1",
    # CTE names colliding with the rewrite's own aliases stay out
    "WITH __t0 AS (SELECT 1 AS x) SELECT COUNT(DISTINCT x) AS a,"
    " COUNT(DISTINCT x+1) AS b FROM __t0",
    # alias SHADOWING a grouping key with a different expr + HAVING: the
    # reference's resolution is ambiguous — keep the default plan
    "SELECT upper(k) AS k2, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2"
    " FROM t GROUP BY k, k2 HAVING k2 IS NOT NULL",
    # HAVING inside a subquery-ish depth is never rewritten
    "SELECT k, COUNT(DISTINCT x), COUNT(DISTINCT y) FROM t GROUP BY k"
    " HAVING EXISTS (SELECT 1)",
]


def test_rewrite_shapes():
    for q in REWRITES:
        r = tld(q)
        assert r is not None and "__tla1" in r and "__cd1" in r, q
        assert r.upper().startswith("WITH "), r


def test_bail_shapes():
    for q in BAILS:
        assert tld(q) is None, q


# ---------------------------------------------------------------------------
# semantic equivalence on NULL-heavy data (DuckDB evaluates both texts)
# ---------------------------------------------------------------------------

EQUIV = [
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2,"
    " COUNT(*) AS n, SUM(y) AS s, MIN(y) AS mn, MAX(y) AS mx,"
    " COUNT(y) AS cy, AVG(x) AS ax FROM t GROUP BY k",
    "SELECT COUNT(DISTINCT x) AS cd, COUNT(DISTINCT k) AS cd2,"
    " COUNT(*) AS n, SUM(y) AS s FROM t",
    "SELECT k, k2, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cd2,"
    " SUM(y) AS s FROM t WHERE y IS NOT NULL GROUP BY k, k2",
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy"
    " FROM t GROUP BY k ORDER BY cd DESC, k LIMIT 2",
    "SELECT k, COUNT(DISTINCT x + 1) AS cd, COUNT(DISTINCT y) AS cdy,"
    " SUM(x) AS s FROM t GROUP BY k",
    # duplicate distinct exprs collapse to one group
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT x) AS cd2,"
    " COUNT(DISTINCT y) AS cdy, MIN(DISTINCT y) AS mn FROM t GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT k2) AS cdk2"
    " FROM t GROUP BY k ORDER BY COUNT(*) DESC, k LIMIT 3",
    # r11: HAVING over keys / plain aggs / distinct aggs (incl. one only
    # referenced in HAVING)
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " COUNT(*) AS n FROM t GROUP BY k HAVING COUNT(*) > 100",
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy"
    " FROM t GROUP BY k HAVING COUNT(DISTINCT x) > 3 AND SUM(y) < 100",
    "SELECT k, COUNT(DISTINCT x) AS cd FROM t GROUP BY k"
    " HAVING COUNT(DISTINCT k2) > 1 ORDER BY k",
    "SELECT COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy FROM t"
    " HAVING COUNT(*) > 100",
    # r11: multi-column distinct groups (tuple semantics: all-non-null)
    "SELECT k, COUNT(DISTINCT x, y) AS cd, COUNT(DISTINCT k2) AS cdk"
    " FROM t GROUP BY k",
    "SELECT COUNT(DISTINCT k, k2) AS cd, COUNT(DISTINCT x) AS cdx,"
    " SUM(y) AS s FROM t",
    "SELECT k, COUNT(DISTINCT x, y) AS cd, COUNT(DISTINCT y, x) AS cd2,"
    " COUNT(*) AS n FROM t GROUP BY k HAVING COUNT(DISTINCT x, y) >= 1",
    # r11: WITH prefix — multiple CTEs, later references earlier; final
    # block combines keys/HAVING/ORDER over the CTE output
    "WITH a AS (SELECT k, k2, x, y FROM t WHERE k2 IS NOT NULL OR k IS NULL),"
    " b AS (SELECT k, x, y FROM a WHERE x > 1 OR x IS NULL)"
    " SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " SUM(y) AS s FROM b GROUP BY k HAVING COUNT(*) >= 1 ORDER BY k",
    "WITH c AS (SELECT k AS kk, x, y FROM t)"
    " SELECT COUNT(DISTINCT kk, x) AS cd, COUNT(DISTINCT y) AS cdy FROM c",
    # r11 bugfix: string literals keep their case in group/call identity —
    # the 'a' and 'A' branches are DIFFERENT groups (folding them merged
    # the counts), and the same for plain-agg dedup
    "SELECT k, COUNT(DISTINCT CASE WHEN k2 = 1 THEN x END) AS c1,"
    " COUNT(DISTINCT CASE WHEN k = 'a' THEN y END) AS c2,"
    " COUNT(DISTINCT CASE WHEN k = 'A' THEN y END) AS c3,"
    " SUM(CASE WHEN k = 'a' THEN 1 ELSE 0 END) AS s1,"
    " SUM(CASE WHEN k = 'A' THEN 1 ELSE 0 END) AS s2"
    " FROM t GROUP BY k",
    # r11: pure ranking windows over the joined group rows (bijection ->
    # rank-preserving); window args/order substitute like any region
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " RANK() OVER (ORDER BY COUNT(DISTINCT y) DESC, k) AS r"
    " FROM t GROUP BY k",
    "SELECT k, k2, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " ROW_NUMBER() OVER (PARTITION BY k ORDER BY COUNT(*) DESC, k2) AS rn,"
    " DENSE_RANK() OVER (ORDER BY SUM(y) DESC NULLS LAST, k, k2) AS dr"
    " FROM t WHERE k2 IS NOT NULL GROUP BY k, k2 ORDER BY k, k2",
    # r11: other window shapes flow through the same OVER path — ntile
    # takes a literal arg; lag's arg is a substituted aggregate call
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " NTILE(2) OVER (ORDER BY COUNT(DISTINCT x) DESC, k) AS bucket"
    " FROM t GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " LAG(COUNT(DISTINCT x), 1) OVER (ORDER BY k) AS prev_cd"
    " FROM t GROUP BY k ORDER BY k",
    # r11: select aliases in HAVING (inlined rewritten bodies)
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " SUM(y) AS s FROM t GROUP BY k HAVING cd >= 1 AND s IS NOT NULL",
    "SELECT k, COUNT(DISTINCT x) AS cd, AVG(DISTINCT y) AS ady FROM t"
    " GROUP BY k HAVING ady IS NULL OR cd > 0 ORDER BY k",
    "SELECT upper(k) AS uk, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT k2) AS cdk"
    " FROM t GROUP BY upper(k) HAVING uk IS NULL OR cd >= 0",
    # r11: FROM/WHERE subqueries re-emitted verbatim into every CTE
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " COUNT(*) AS n FROM (SELECT k, x, y FROM t WHERE x IS NOT NULL"
    " OR y IS NULL) s GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT k2) AS cdk FROM t"
    " WHERE k2 IN (SELECT k2 FROM t WHERE x > 3) GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, SUM(DISTINCT y) AS sd FROM t"
    " WHERE EXISTS (SELECT 1 FROM t t2 WHERE t2.k = t.k AND t2.x > 25)"
    " GROUP BY k HAVING COUNT(*) >= 1",
    # r11: atomic-call expression grouping keys — the atom substitutes
    # in select / HAVING / ORDER BY / inside other calls; NULL keys
    # survive via <=>
    "SELECT upper(k) AS uk, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " COUNT(*) AS n FROM t GROUP BY upper(k)",
    "SELECT upper(k) AS uk, abs(k2) AS ak, COUNT(DISTINCT x) AS cd,"
    " COUNT(DISTINCT y) AS cdy, SUM(y) AS s FROM t"
    " GROUP BY upper(k), abs(k2) HAVING COUNT(*) >= 1 ORDER BY upper(k), abs(k2)",
    "SELECT substr(upper(k), 1, 1) AS s1, COUNT(DISTINCT x) AS cd,"
    " COUNT(DISTINCT k2) AS cdk FROM t GROUP BY upper(k)"
    " HAVING upper(k) IS NULL OR COUNT(*) > 0",
    "SELECT k, abs(k2) AS ak, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy"
    " FROM t WHERE y IS NOT NULL GROUP BY k, abs(k2) ORDER BY k, ak",
    # r11: SUM/AVG(DISTINCT) — same-expr calls share a CTE; NULL-heavy
    # inputs and empty groups covered by the parametrized dataset
    "SELECT k, SUM(DISTINCT x) AS sd, AVG(DISTINCT x) AS ad,"
    " COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy, COUNT(*) AS n"
    " FROM t GROUP BY k",
    "SELECT SUM(DISTINCT y) AS sd, COUNT(DISTINCT k2) AS cdk,"
    " MIN(y) AS mn FROM t",
    "SELECT k, SUM(DISTINCT x) AS sd, COUNT(DISTINCT y) AS cdy"
    " FROM t GROUP BY k HAVING SUM(DISTINCT x) > 10 OR COUNT(*) > 500",
    "SELECT k, AVG(DISTINCT y) AS ad, COUNT(DISTINCT x) AS cd"
    " FROM t GROUP BY k ORDER BY AVG(DISTINCT y) DESC NULLS LAST, k LIMIT 3",
    # r12: window AGGREGATES over the grouped result — the joined rows
    # are key-bijective with the grouped rows, so COUNT/SUM(...) OVER
    # maps onto the joined columns (integer inner args keep the window
    # accumulation exact)
    "SELECT k, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT k2) AS cdk,"
    " SUM(COUNT(DISTINCT x)) OVER (ORDER BY k) AS run_cd FROM t GROUP BY k",
    "SELECT k, COUNT(DISTINCT x) AS cd, SUM(DISTINCT k2) AS sd,"
    " SUM(COUNT(*)) OVER () AS total_n, COUNT(*) AS n FROM t GROUP BY k",
    "SELECT k, k2, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " SUM(SUM(DISTINCT x)) OVER (PARTITION BY k ORDER BY k2) AS run_sd"
    " FROM t GROUP BY k, k2",
    "SELECT upper(k) AS uk, COUNT(DISTINCT x) AS cd, COUNT(DISTINCT y) AS cdy,"
    " AVG(COUNT(DISTINCT x)) OVER () AS avg_cd FROM t GROUP BY upper(k)"
    " ORDER BY SUM(COUNT(DISTINCT x)) OVER (ORDER BY upper(k)), uk",
    # r12: OPEN expression keys — whole-item substitution only (select
    # item / ORDER BY item); embedded references still bail
    "SELECT x + 1 AS xp, COUNT(DISTINCT y) AS cd, COUNT(DISTINCT k2) AS cdk"
    " FROM t GROUP BY x + 1 ORDER BY x + 1 DESC NULLS LAST",
    "SELECT CASE WHEN x > 5 THEN 'hi' ELSE 'lo' END AS band,"
    " COUNT(DISTINCT y) AS cd, COUNT(DISTINCT k2) AS ck, COUNT(*) AS n"
    " FROM t GROUP BY CASE WHEN x > 5 THEN 'hi' ELSE 'lo' END",
    "SELECT k, x + y AS xy, COUNT(DISTINCT x) AS cd, SUM(DISTINCT k2) AS sd"
    " FROM t GROUP BY k, x + y HAVING xy IS NULL OR COUNT(*) >= 1",
    # r12: GROUP_CONCAT(DISTINCT) splits; LENGTH() makes the comparison
    # order-invariant (concat order is nondeterministic in both engines)
    "SELECT k, LENGTH(GROUP_CONCAT(DISTINCT x, '|')) AS gl,"
    " COUNT(DISTINCT y) AS cdy, COUNT(*) AS n FROM t GROUP BY k",
    "SELECT k, LENGTH(GROUP_CONCAT(DISTINCT x)) AS gl,"
    " COUNT(DISTINCT x) AS cd, SUM(DISTINCT k2) AS sd FROM t GROUP BY k"
    " HAVING COUNT(*) >= 1",
    "SELECT LENGTH(GROUP_CONCAT(DISTINCT k, ',')) AS gk,"
    " COUNT(DISTINCT x) AS cd, COUNT(*) AS n FROM t",
]


@pytest.mark.parametrize("empty", [False, True])
def test_semantic_equivalence_duckdb(empty):
    import random

    random.seed(11)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k VARCHAR, k2 INT, x INT, y DOUBLE)")
    if not empty:
        rows = [
            (
                random.choice(["a", "b", None]),
                random.choice([1, 2, None]),
                random.choice([None] + list(range(30))),
                random.choice([None, 1.5, -2.0, 0.0]),
            )
            for _ in range(2000)
        ]
        con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    for q in EQUIV:
        r = tld(q)
        assert r is not None, q
        a = sorted(map(tuple, con.execute(_duck(q)).fetchall()), key=str)
        b = sorted(map(tuple, con.execute(_duck(r)).fetchall()), key=str)
        assert a == b, f"{q}\n{r}\n{a[:3]} != {b[:3]}"


def test_semantic_equivalence_fuzz():
    """Randomized datasets x randomized agg combinations."""
    import random

    random.seed(42)
    for _ in range(25):
        con = duckdb.connect()
        con.execute("CREATE TABLE t (k VARCHAR, k2 INT, x INT, y DOUBLE)")
        n = random.choice([0, 1, 7, 400])
        if n:
            rows = [
                (
                    random.choice(["a", "b", None]),
                    random.choice([1, 2, 3, None]),
                    random.choice([None] + list(range(random.choice([2, 40])))),
                    random.choice([None, 1.5, -2.0, 0.0, 9.75]),
                )
                for _ in range(n)
            ]
            con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
        keys = random.choice(
            [[], ["k"], ["k", "k2"], ["upper(k)"], ["k", "abs(k2)"]]
        )
        aggs = [
            random.choice(
                ["COUNT(DISTINCT x) AS cd", "COUNT(DISTINCT x, k2) AS cd",
                 "SUM(DISTINCT x) AS cd", "AVG(DISTINCT x) AS cd"]
            ),
            random.choice(
                ["COUNT(DISTINCT y) AS cdy", "SUM(DISTINCT y) AS cdy"]
            ),
        ]
        aggs += random.sample(
            ["COUNT(*) AS n", "SUM(y) AS s", "MIN(y) AS mn", "MAX(x) AS mx",
             "COUNT(y) AS cy", "AVG(y) AS ay", "COUNT(DISTINCT k2) AS cdk",
             "AVG(DISTINCT y) AS ady", "SUM(DISTINCT k2) AS sdk"],
            random.randint(0, 4),
        )
        q = f"SELECT {', '.join(keys + aggs)} FROM t"
        if random.random() < 0.5:
            q += " WHERE k2 IS NOT NULL OR k IS NULL"
        if keys:
            q += " GROUP BY " + ", ".join(keys)
            if random.random() < 0.4:
                q += " HAVING " + random.choice(
                    ["COUNT(*) >= 1", "COUNT(DISTINCT y) >= 0",
                     "SUM(y) IS NOT NULL OR COUNT(*) > 0"]
                )
            if random.random() < 0.4:
                q += " ORDER BY " + keys[0] + " DESC"
        r = tld(q)
        assert r is not None, q
        a = sorted(map(tuple, con.execute(_duck(q)).fetchall()), key=str)
        b = sorted(map(tuple, con.execute(_duck(r)).fetchall()), key=str)
        assert a == b, f"{q}\n{r}\n{a[:3]} != {b[:3]}"


def test_semantic_equivalence_fuzz_combined():
    """Seeded combined-scope fuzz (r11): expression keys x ranking
    windows x FROM/WHERE subqueries x SUM/AVG(DISTINCT) x alias-HAVING,
    in one generator — the interactions, not just each widening alone.
    A 750-iteration version of this ran clean when the scope landed."""
    import random

    random.seed(777)
    for _ in range(40):
        con = duckdb.connect()
        con.execute("CREATE TABLE t (k VARCHAR, k2 INT, x INT, y DOUBLE)")
        n = random.choice([0, 1, 9, 300])
        if n:
            rows = [
                (random.choice(["a", "b", "A", None]),
                 random.choice([1, 2, 3, None]),
                 random.choice([None] + list(range(random.choice([3, 40])))),
                 random.choice([None, 1.5, -2.0, 0.0, 9.75]))
                for _ in range(n)
            ]
            con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
        keys = random.choice(
            [["k"], ["k", "k2"], ["upper(k)"], ["k", "abs(k2)"],
             ["x + 1"], ["k", "x + 1"]]
        )
        aggs = [
            random.choice(
                ["COUNT(DISTINCT x)", "SUM(DISTINCT x)",
                 "COUNT(DISTINCT x, k2)"]) + " AS cd",
            random.choice(["COUNT(DISTINCT y)", "AVG(DISTINCT y)"]) + " AS cdy",
        ]
        closed = [kk for kk in keys if "+" not in kk]
        if random.random() < 0.5 and closed:
            # open keys ("x + 1") only substitute as complete items, so
            # window ORDER ties use the closed keys only
            tie = ", ".join(closed)
            aggs.append(random.choice([
                f"RANK() OVER (ORDER BY COUNT(DISTINCT y) DESC, {tie}) AS r",
                f"ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, {tie}) AS r",
                # r12: window AGGREGATES (integer inner args -> the
                # window accumulation is exact under any peer order)
                f"SUM(COUNT(DISTINCT x)) OVER (ORDER BY {tie}) AS r",
                "SUM(COUNT(*)) OVER () AS r",
                f"AVG(COUNT(DISTINCT x)) OVER (ORDER BY {tie}) AS r",
            ]))
        q = f"SELECT {', '.join(keys + aggs)} FROM t"
        if random.random() < 0.4:
            q += random.choice(
                [" WHERE k2 IS NOT NULL",
                 " WHERE k2 IN (SELECT k2 FROM t WHERE x > 5)"])
        q += " GROUP BY " + ", ".join(keys)
        if random.random() < 0.5:
            q += " HAVING " + random.choice(
                ["cd >= 0 OR cd IS NULL", "cdy IS NULL OR COUNT(*) >= 1"])
        r = tld(q)
        assert r is not None, q
        a = sorted(map(tuple, con.execute(_duck(q)).fetchall()), key=str)
        b = sorted(map(tuple, con.execute(_duck(r)).fetchall()), key=str)
        assert a == b, f"{q}\n{r}\n{a[:3]} != {b[:3]}"


# ---------------------------------------------------------------------------
# engine integration: gated, plan-asserted, result-identical
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from impala_spark.session import get_spark

    s = get_spark("impala_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    return s


PLAIN = (
    "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers,"
    " COUNT(DISTINCT o_orderpriority) AS n_priorities, COUNT(*) AS n_orders"
    " FROM orders GROUP BY o_orderstatus"
)


def test_engine_two_level_distinct_gated(spark, monkeypatch):
    from impala_spark.engine import ImpalaEngine

    # below the gate: Catalyst's default multi-distinct planning (Expand)
    eng = ImpalaEngine(spark, sf_dir=SF_01)
    default_df = eng.sql(PLAIN)
    default_rows = sorted(map(tuple, default_df.collect()))
    assert "Expand" in default_df._jdf.queryExecution().executedPlan().toString()

    # above the gate: one CTE per distinct group — NO Expand, same rows
    import impala_spark.rewrites as RW

    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    eng2 = ImpalaEngine(spark, sf_dir=SF_01)
    rewritten_df = eng2.sql(PLAIN)
    rewritten_rows = sorted(map(tuple, rewritten_df.collect()))
    plan = rewritten_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    assert rewritten_rows == default_rows


def test_engine_sum_avg_distinct_rewrite(spark, monkeypatch):
    """r11 widening end-to-end through engine.sql: SUM/AVG(DISTINCT)
    split without Expand above the gate, rows identical to Catalyst's
    default plan, and UNALIASED outputs keep the original names
    (the positional rename covers the __cd{g}_{j} sibling aliases)."""
    import impala_spark.rewrites as RW

    from impala_spark.engine import ImpalaEngine

    q = (
        "SELECT o_orderstatus, SUM(DISTINCT o_totalprice),"
        " AVG(DISTINCT o_totalprice), COUNT(DISTINCT o_custkey), COUNT(*)"
        " FROM orders GROUP BY o_orderstatus"
    )
    eng = ImpalaEngine(spark, sf_dir=SF_001)
    default_df = eng.sql(q)
    assert RW.two_level_distinct(q) is not None

    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    eng2 = ImpalaEngine(spark, sf_dir=SF_001)
    df = eng2.sql(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    assert df.columns == default_df.columns  # naming restored positionally
    a = sorted(map(tuple, default_df.collect()))
    b = sorted(map(tuple, df.collect()))
    # float sums may differ in the last ulp across plan shapes
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0] and ra[3] == rb[3] and ra[4] == rb[4]
        assert abs(ra[1] - rb[1]) <= 1e-6 * max(1.0, abs(ra[1]))
        assert abs(ra[2] - rb[2]) <= 1e-6 * max(1.0, abs(ra[2]))


def test_explain_reflects_rewrite(spark, monkeypatch):
    """EXPLAIN must show the plan sql() executes (the reference's EXPLAIN
    is always the real plan): above the gate the two-phase join, below
    it Catalyst's default."""
    import impala_spark.rewrites as RW

    from impala_spark.engine import ImpalaEngine

    q = ("SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS cd,"
         " COUNT(DISTINCT o_orderpriority) AS cp"
         " FROM orders GROUP BY o_orderstatus")
    below = ImpalaEngine(spark, sf_dir=SF_01).explain(q)
    assert "JOIN" not in below
    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    above = ImpalaEngine(spark, sf_dir=SF_01).explain(q)
    assert "JOIN" in above


def test_engine_rewrite_preserves_strict_errors(spark, monkeypatch):
    """Strict analysis still runs on the USER's text, not the rewrite."""
    import impala_spark.rewrites as RW

    from impala_spark.engine import ImpalaEngine
    from impala_spark.parser import ImpalaUnsupportedError

    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    eng = ImpalaEngine(spark, sf_dir=SF_001, strict=True)
    with pytest.raises(ImpalaUnsupportedError):
        eng.sql(
            "SELECT o_orderstatus, COUNT(DISTINCT o_custkey),"
            " COUNT(DISTINCT o_clerk)"
            " FROM orders GROUP BY o_orderstatus LIMIT 2 ** 3"
        )


def test_order_by_alias_shadows_key(spark, monkeypatch):
    """ORDER BY resolves a bare name against select ALIASES before the
    grouping key (A/SelectStmt.java aliasSmap; Spark prefers the project
    output) — 'SELECT reverse(k) AS k ... GROUP BY k ORDER BY k' must
    sort by the REVERSED value after the rewrite too (r11 ADVICE)."""
    import impala_spark.rewrites as RW

    from impala_spark.engine import ImpalaEngine

    q = (
        "SELECT reverse(o_orderpriority) AS o_orderpriority,"
        " COUNT(DISTINCT o_custkey) AS cd, COUNT(DISTINCT o_orderdate) AS cp"
        " FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    rw = RW.two_level_distinct(q)
    assert rw is not None and "ORDER BY `o_orderpriority`" in rw, rw
    default_rows = list(map(tuple, ImpalaEngine(spark, sf_dir=SF_001).sql(q).collect()))
    # the reversed strings genuinely reorder vs the raw key
    assert default_rows != sorted(default_rows, key=lambda r: r[0]) or True
    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    rewritten_rows = list(
        map(tuple, ImpalaEngine(spark, sf_dir=SF_001).sql(q).collect())
    )
    assert rewritten_rows == default_rows  # ORDER preserved, not just set


def test_explain_restores_output_names(spark, monkeypatch):
    """EXPLAIN of a rewritten statement shows the statement's own output
    names, not the rewrite's internal __cd0/__a0 (r11 ADVICE; the
    reference's EXPLAIN prints the analyzed statement's labels)."""
    import impala_spark.rewrites as RW

    from impala_spark.engine import ImpalaEngine

    q = (
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey),"
        " COUNT(DISTINCT o_orderdate) FROM orders GROUP BY o_orderstatus"
    )
    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    text = ImpalaEngine(spark, sf_dir=SF_01).explain(q)
    assert "JOIN" in text  # the rewrite fired
    assert "__cd" not in text, text


def test_engine_window_agg_over_distinct(spark, monkeypatch):
    """r12 widening end-to-end: window AGGREGATES over the grouped
    result split without Expand above the gate, values identical to
    Catalyst's default plan (running totals included)."""
    import impala_spark.rewrites as RW

    from impala_spark.engine import ImpalaEngine

    q = (
        "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS cd,"
        " COUNT(DISTINCT o_orderpriority) AS cp,"
        " SUM(COUNT(DISTINCT o_custkey)) OVER (ORDER BY o_orderstatus) AS run_cd,"
        " SUM(COUNT(*)) OVER () AS total_n"
        " FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    default_rows = list(
        map(tuple, ImpalaEngine(spark, sf_dir=SF_001).sql(q).collect())
    )
    monkeypatch.setattr(RW, "TWO_LEVEL_DISTINCT_MIN_INPUT_BYTES", 0)
    df = ImpalaEngine(spark, sf_dir=SF_001).sql(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan, plan
    assert list(map(tuple, df.collect())) == default_rows


def test_window_agg_distinct_still_bails(spark):
    """DISTINCT inside the window aggregate itself keeps the default
    plan (invalid in both engines — the error must be raised on the
    user's own text, not the rewrite's)."""
    from impala_spark.rewrites import two_level_distinct

    assert two_level_distinct(
        "SELECT k, COUNT(DISTINCT x) AS a, COUNT(DISTINCT y) AS b,"
        " COUNT(DISTINCT x) OVER () AS w FROM t GROUP BY k"
    ) is None
