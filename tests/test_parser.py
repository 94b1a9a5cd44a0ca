"""Dialect-translation unit tests (reference: sql-parser.cup grammar,
sql-scanner.flex aliases, analysis/OrderByElement.java null ordering)."""

import pytest

from impala_spark.parser import ImpalaUnsupportedError, translate


def norm(s: str) -> str:
    return " ".join(s.split())


def test_order_by_nulls_asc():
    out = translate("SELECT a FROM t ORDER BY a")
    assert "NULLS LAST" in out


def test_order_by_nulls_desc():
    out = translate("SELECT a FROM t ORDER BY a DESC")
    assert "NULLS FIRST" in out


def test_order_by_explicit_nulls_untouched():
    out = translate("SELECT a FROM t ORDER BY a ASC NULLS FIRST")
    assert out.count("NULLS") == 1


def test_order_by_multiple_items():
    out = translate("SELECT a, b FROM t ORDER BY a DESC, b LIMIT 3")
    assert "NULLS FIRST" in out and "NULLS LAST" in out
    assert "LIMIT 3" in out


def test_window_order_by():
    out = translate("SELECT rank() OVER (PARTITION BY p ORDER BY x DESC) FROM t")
    assert "NULLS FIRST" in out


def test_bool_aliases():
    out = translate("SELECT 1 FROM t WHERE a && b || ! c")
    assert " AND " in out and " OR " in out and " NOT " in out


def test_not_equal_untouched():
    out = translate("SELECT 1 FROM t WHERE a != b")
    assert "!=" in out and " NOT " not in out


def test_iregexp_literal():
    out = translate("SELECT 1 FROM t WHERE name IREGEXP 'abc'")
    assert "RLIKE '(?i)abc'" in out


def test_iregexp_expression():
    out = translate("SELECT 1 FROM t WHERE name IREGEXP (p)")
    assert "concat('(?i)', (p))" in out


def test_broadcast_hint():
    out = translate("SELECT a FROM big JOIN [broadcast] small ON big.k = small.k")
    assert "/*+ BROADCAST(small) */" in out and "[" not in out


def test_shuffle_hint():
    out = translate("SELECT a FROM t1 JOIN [shuffle] t2 ON t1.k = t2.k")
    assert "/*+ SHUFFLE_HASH(t2) */" in out


def test_straight_join_dropped():
    out = translate("SELECT STRAIGHT_JOIN a FROM t1 JOIN t2 ON t1.k = t2.k")
    assert "STRAIGHT_JOIN" not in out.upper()


def test_ndv_rename():
    assert "approx_count_distinct(" in translate("SELECT ndv(x) FROM t").lower()


def test_appx_median():
    out = translate("SELECT appx_median(x) FROM t").lower()
    assert "percentile_approx" in out and "0.5" in out


def test_group_concat_default_sep():
    out = translate("SELECT group_concat(x) FROM t").lower()
    assert "listagg" in out and "', '" in out


def test_group_concat_explicit_sep():
    out = translate("SELECT group_concat(x, '|') FROM t").lower()
    assert "listagg" in out and out.count(",") == 1


def test_zeroifnull():
    out = translate("SELECT zeroifnull(x) FROM t").lower()
    assert "coalesce" in out and ", 0" in out


def test_isnull_two_arg_becomes_nvl():
    out = translate("SELECT isnull(x, y) FROM t").lower()
    assert "nvl" in out


def test_isnull_one_arg_untouched():
    out = translate("SELECT isnull(x) FROM t").lower()
    assert "isnull(x)" in out


def test_rejects_intersect():
    with pytest.raises(ImpalaUnsupportedError):
        translate("SELECT a FROM t INTERSECT SELECT a FROM u")


def test_rejects_rollup():
    with pytest.raises(ImpalaUnsupportedError):
        translate("SELECT a FROM t GROUP BY ROLLUP(a)")


def test_rejects_grouping_sets():
    with pytest.raises(ImpalaUnsupportedError):
        translate("SELECT a FROM t GROUP BY GROUPING SETS ((a))")


def test_strings_and_comments_preserved():
    q = "SELECT 'a && b -- not a comment' AS s FROM t -- trailing"
    out = translate(q)
    assert "'a && b -- not a comment'" in out


def test_keywords_inside_strings_untouched():
    out = translate("SELECT 'INTERSECT' AS word FROM t")
    assert "'INTERSECT'" in out


# --- round-3 translator additions ---

import pytest as _pytest

from impala_spark.parser import ImpalaUnsupportedError as _Unsupported


def test_decode_rewrites_to_null_safe_case():
    out = translate("SELECT decode(status, 'O', 'open', 'closed') FROM t")
    assert "CASE WHEN (status) <=> ('O') THEN 'open' ELSE 'closed' END" in out
    # 2-arg form stays Spark's binary decode
    assert "decode(b, 'UTF-8')" in translate("SELECT decode(b, 'UTF-8') FROM t")


def test_decode_null_search_arm():
    out = translate("SELECT decode(x, NULL, 'is_null', 'not_null') FROM t")
    assert "<=> (NULL)" in out


def test_ts_builtin_family():
    out = translate("SELECT years_add(ts, 2) FROM t")
    assert "make_interval((2), 0, 0, 0, 0, 0, 0)" in out and " + " in out
    out = translate("SELECT seconds_sub(ts, 5) FROM t")
    assert "make_interval(0, 0, 0, 0, 0, 0, (5))" in out and " - " in out
    # Impala date_add keeps TIMESTAMP; Spark's own date_add would return DATE
    out = translate("SELECT date_add(ts, 7) FROM t")
    assert "make_interval(0, 0, 0, (7), 0, 0, 0)" in out


def test_nested_structural_rewrites_reach_fixpoint():
    out = translate("SELECT decode(x, 1, years_add(ts, 1), ts) FROM t")
    assert "make_interval" in out and "CASE WHEN" in out


def test_postfix_factorial_vs_prefix_not():
    out = translate("SELECT 5!, !b FROM t")
    assert "factorial(5)" in out and " NOT b" in out
    out = translate("SELECT (x + 1)! FROM t")
    assert "factorial(x + 1)" in out.replace("( ", "(").replace(" )", ")") or "factorial" in out


def test_subquery_in_or_rejected_with_impala_message():
    with _pytest.raises(_Unsupported, match="Subqueries in OR predicates are not supported"):
        translate("SELECT 1 FROM t WHERE x IN (SELECT a FROM u) OR y = 2")
    # inline view + OR elsewhere is fine
    translate("SELECT * FROM (SELECT a, b FROM t) v WHERE a = 1 OR b = 2")
    # OR inside the subquery is fine
    translate("SELECT 1 FROM t WHERE x IN (SELECT a FROM u WHERE p OR q)")


def test_histogram_honors_bucket_argument():
    out = translate("SELECT histogram(q, 4) FROM t")
    assert "array(0.25,0.5,0.75)" in out
    out = translate("SELECT histogram(q) FROM t")
    assert "0.1" in out and "0.9" in out


def test_hint_in_subquery_attaches_to_inner_select():
    out = translate("SELECT * FROM (SELECT a FROM t1 JOIN [broadcast] t2 ON t1.x=t2.x) s")
    inner = out.split("(", 1)[1]
    assert "/*+ BROADCAST(t2) */" in inner
    assert "/*+" not in out.split("(", 1)[0]


def test_hint_targets_qualified_ref():
    # the hint names the alias, else the whole written name — never the
    # db part, which Spark would drop without a word
    out = translate(
        "SELECT a.id FROM functional.alltypes a "
        "JOIN [broadcast] functional.alltypessmall b ON a.id = b.id"
    )
    assert "/*+ BROADCAST(b) */" in out and "[" not in out
    out = translate(
        "SELECT a.id FROM functional.alltypes a JOIN [shuffle] "
        "functional.alltypessmall ON a.id = alltypessmall.id"
    )
    assert "/*+ SHUFFLE_HASH(functional.alltypessmall) */" in out
    # with the catalog bound, the bracket hint is not read as a table ref
    from impala_spark.testcatalog import TABLE_SCHEMAS

    sql = (
        "SELECT a.id FROM functional.alltypes a "
        "JOIN [broadcast] functional.alltypessmall b ON a.id = b.id"
    )
    assert "BROADCAST(b)" in translate(sql, strict=True, catalog=TABLE_SCHEMAS)


def test_hint_alias_after_as():
    out = translate("SELECT a FROM t1 JOIN [shuffle] t2 AS u ON t1.x=u.x")
    assert "SHUFFLE_HASH(u)" in out


def test_collection_ref_rewrite():
    out = translate("SELECT o.k, i.q FROM t o, o.items i WHERE i.q > 1")
    assert "LATERAL VIEW explode(o.items)" in out and "AS i" in out


def test_collection_ref_leaves_plain_comma_joins():
    out = translate("SELECT * FROM part, supplier WHERE p_x = s_x")
    assert "LATERAL VIEW" not in out


def test_collection_ref_leaves_db_qualified_tables():
    out = translate("SELECT * FROM mydb.tbl t, other o WHERE t.a = o.b")
    assert "LATERAL VIEW" not in out


def test_strict_mode_pins_impala_subquery_clause_errors():
    from impala_spark.parser import translate as tr

    cases = [
        ("SELECT a, (SELECT max(x) FROM u) FROM t",
         "Subqueries are not supported in the select list."),
        ("SELECT a FROM t GROUP BY a HAVING count(*) > (SELECT avg(n) FROM u)",
         "Subqueries are not supported in the HAVING clause."),
        ("SELECT a FROM t GROUP BY (SELECT x FROM u)",
         "Subqueries are not supported in the GROUP BY clause."),
        ("SELECT a FROM t ORDER BY (SELECT x FROM u)",
         "Subqueries are not supported in the ORDER BY clause."),
    ]
    for sql, msg in cases:
        with _pytest.raises(_Unsupported) as e:
            tr(sql, strict=True)
        assert msg in str(e.value), sql
        tr(sql)  # permissive default accepts (Spark superset)


def test_strict_mode_allows_from_and_where_subqueries():
    from impala_spark.parser import translate as tr

    tr("SELECT a FROM (SELECT a FROM t) v WHERE a IN (SELECT x FROM u)", strict=True)
    tr("SELECT a, max(b) OVER (PARTITION BY c ORDER BY d) FROM t", strict=True)


def test_misc_builtin_aliases():
    out = translate("SELECT lcase(a), ucase(b), fmod(c, 2), dceil(d), quotient(e, 3), dayname(t), trunc(t, 'MM') FROM x")
    assert "lower(a)" in out and "upper(b)" in out and "mod(c, 2)" in out
    assert "ceil(d)" in out and "((e) DIV (3))" in out
    assert "date_format(t, 'EEEE')" in out
    assert "date_trunc('MONTH', t)" in out


def test_char_varchar_cast_length_semantics():
    out = translate("SELECT CAST(a AS CHAR(5)), CAST(b AS VARCHAR(3)), CAST(c AS VARCHAR) FROM t")
    assert "rpad(CAST((a) AS STRING), 5, ' ')" in out
    assert "left(CAST((b) AS STRING), 3)" in out
    assert "CAST(c AS VARCHAR)" in out  # unbounded VARCHAR untouched


# --- regressions from the round-3 code review ---


def test_db_qualified_comma_join_not_corrupted():
    out = translate("SELECT * FROM mydb.t1 x, mydb.t2 y WHERE x.a = y.b")
    assert "LATERAL VIEW" not in out and "mydb.t2 y" in out


def test_collection_ref_over_inline_view():
    out = translate("SELECT * FROM (SELECT k, items FROM t) v, v.items i")
    assert "LATERAL VIEW explode(v.items)" in out


def test_collection_ref_after_join_alias():
    out = translate("SELECT * FROM t1 a JOIN t2 b ON a.x = b.x, b.items i")
    assert "LATERAL VIEW explode(b.items)" in out


def test_hint_after_closed_subquery_anchors_to_outer_select():
    out = translate(
        "SELECT v.id FROM (SELECT id FROM t1) v JOIN [broadcast] t2 ON v.id = t2.id"
    )
    # hint must precede the inline view -> attached to the OUTER select
    assert out.index("/*+ BROADCAST(t2) */") < out.index("(SELECT"), out


def test_factorial_qualified_column_and_function_call():
    out = translate("SELECT t.n! FROM t")
    assert "factorial(t.n)" in out
    out = translate("SELECT abs(x)! FROM t")
    assert "factorial(abs(x)" in out.replace(" ", "")


def test_strict_rejects_nested_subquery_in_select_list():
    with _pytest.raises(_Unsupported, match="select list"):
        translate("SELECT coalesce((SELECT max(x) FROM u), 0) FROM t", strict=True)


def test_numeric_trunc_negative_and_expr_scale():
    out = translate("SELECT trunc(123.45, -1) FROM t")
    assert "POW(10, -1)" in out
    out = translate("SELECT trunc(d, s) FROM t")
    assert "POW(10, s)" in out

# ---------------------------------------------------------------------------
# Strict-mode analyzer rejections (r3 verdict task 7): the top
# AnalyzeStmtsTest.java errors, with Impala's exact message strings
# (analysis/SelectStmt.java:236-246, 728-733).
# ---------------------------------------------------------------------------


def test_strict_aggregate_in_where_rejected():
    with _pytest.raises(_Unsupported, match="aggregate function not allowed in WHERE clause"):
        translate("SELECT 1 FROM t WHERE count(*) > 1", strict=True)
    with _pytest.raises(_Unsupported, match="aggregate function not allowed in WHERE clause"):
        translate("SELECT a FROM t WHERE sum(b) = 2 GROUP BY a", strict=True)
    # aggregate inside a subquery in WHERE is legal (SelectStmt analyzes
    # the inner block separately)
    translate("SELECT a FROM t WHERE b > (SELECT avg(x) FROM u)", strict=True)
    # permissive default passes through for Spark to judge
    translate("SELECT 1 FROM t WHERE count(*) > 1")


def test_strict_analytic_in_where_rejected():
    with _pytest.raises(
        _Unsupported,
        match=r"WHERE clause must not contain analytic expressions",
    ):
        translate(
            "SELECT a FROM t WHERE count(b) OVER (PARTITION BY c) > 1", strict=True
        )


def test_strict_ungrouped_select_column_rejected():
    with _pytest.raises(
        _Unsupported,
        match=r"select list expression not produced by aggregation output "
        r"\(missing from GROUP BY clause\?\): b",
    ):
        translate("SELECT a, b, count(*) FROM t GROUP BY a", strict=True)
    with _pytest.raises(_Unsupported, match=r"missing from GROUP BY clause\?\): a"):
        translate("SELECT a, count(*) FROM t", strict=True)


def test_strict_ungrouped_select_allows_grouped_and_aggregated():
    translate("SELECT a, count(*) FROM t GROUP BY a", strict=True)
    translate("SELECT t.a, b, count(*) FROM t GROUP BY t.a, b", strict=True)
    translate("SELECT a AS x, sum(b) s FROM t GROUP BY a", strict=True)
    translate("SELECT a, b FROM t", strict=True)  # no aggregation at all
    translate("SELECT upper(a), count(*) FROM t GROUP BY a", strict=True)  # computed: Spark judges
    translate("SELECT a, 1 FROM t GROUP BY a, 2", strict=True)  # ordinal group by
    # analytic (OVER) is not aggregation
    translate("SELECT a, row_number() OVER (ORDER BY b) FROM t", strict=True)
    # subquery blocks analyzed independently
    translate(
        "SELECT v.a, v.n FROM (SELECT a, count(*) n FROM t GROUP BY a) v", strict=True
    )


def test_strict_aggregation_without_from_rejected():
    with _pytest.raises(_Unsupported, match="aggregation without a FROM clause is not allowed"):
        translate("SELECT count(*)", strict=True)
    translate("SELECT 1", strict=True)  # no aggregation: fine
    translate("SELECT count(*) FROM t", strict=True)


def test_strict_order_by_ungrouped_rejected():
    with _pytest.raises(
        _Unsupported,
        match=r"ORDER BY expression not produced by aggregation output "
        r"\(missing from GROUP BY clause\?\): b",
    ):
        translate("SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY b", strict=True)


def test_strict_order_by_allows_aliases_grouped_and_ordinals():
    translate("SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY n DESC", strict=True)
    translate("SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY a", strict=True)
    translate("SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY 2", strict=True)
    translate("SELECT a, count(*) n FROM t GROUP BY a ORDER BY n", strict=True)  # bare alias
    translate("SELECT a, b FROM t ORDER BY c", strict=True)  # no aggregation
    # inner subquery ORDER BY analyzed against its own block
    translate(
        "SELECT * FROM (SELECT a, count(*) AS n FROM t GROUP BY a ORDER BY n LIMIT 5) v",
        strict=True,
    )


def test_strict_order_by_ungrouped_without_group_by():
    with _pytest.raises(_Unsupported, match=r"ORDER BY expression not produced"):
        translate("SELECT count(*) FROM t ORDER BY x", strict=True)


def test_strict_distinct_with_analytic_rejected():
    with _pytest.raises(
        _Unsupported, match="cannot combine SELECT DISTINCT with analytic functions"
    ):
        translate("SELECT DISTINCT a, rank() OVER (ORDER BY b) FROM t", strict=True)
    translate("SELECT DISTINCT a, b FROM t", strict=True)
    # analytic without DISTINCT is fine; DISTINCT inside an inner block is its own scope
    translate("SELECT a, rank() OVER (ORDER BY b) FROM t", strict=True)
    translate("SELECT x FROM (SELECT DISTINCT a AS x FROM t) v", strict=True)


def test_strict_offset_requires_order_by():
    with _pytest.raises(
        _Unsupported, match=r"OFFSET requires an ORDER BY clause: LIMIT 10 OFFSET 5"
    ):
        translate("SELECT a FROM t LIMIT 10 OFFSET 5", strict=True)
    translate("SELECT a FROM t ORDER BY a LIMIT 10 OFFSET 5", strict=True)
    # inner block with ORDER BY satisfies its own OFFSET
    translate(
        "SELECT * FROM (SELECT a FROM t ORDER BY a LIMIT 10 OFFSET 5) v", strict=True
    )
    with _pytest.raises(_Unsupported, match="OFFSET requires an ORDER BY"):
        translate(
            "SELECT * FROM (SELECT a FROM t LIMIT 10 OFFSET 5) v ORDER BY 1", strict=True
        )


def test_strict_unbalanced_parentheses_rejected_first():
    """An unmatched '(' or ')' is the parser's rejection: it wins over
    every analysis error, whether or not some check reads that paren."""
    from impala_spark.testcatalog import TABLE_SCHEMAS

    for sql in [
        "select 1 from functional.alltypes)",
        "compute stats t (see the notes",
        "select id from functional.alltypes where id in "
        "(select 1 from functional.alltypes where (id = 2)",
    ]:
        with _pytest.raises(_Unsupported, match="^unbalanced parentheses$"):
            translate(sql, strict=True)
    # the Avro schema check would fire first; the open '(' wins
    with _pytest.raises(_Unsupported, match="^unbalanced parentheses$"):
        translate(
            "CREATE TABLE av STORED AS AVRO TBLPROPERTIES "
            "('avro.schema.url'='file://",
            strict=True, catalog=TABLE_SCHEMAS,
        )
    translate("select (1) from functional.alltypes", strict=True)


def test_strict_negative_limit_offset_rejected():
    with _pytest.raises(
        _Unsupported, match=r"LIMIT must be a non-negative integer: -1 = -1"
    ):
        translate("SELECT a FROM t LIMIT -1", strict=True)
    with _pytest.raises(
        _Unsupported, match=r"OFFSET must be a non-negative integer: -3 = -3"
    ):
        translate("SELECT a FROM t ORDER BY a LIMIT 5 OFFSET -3", strict=True)
    translate("SELECT a FROM t LIMIT 0", strict=True)


def test_strict_group_by_star_rejected():
    with _pytest.raises(
        _Unsupported,
        match=r"cannot combine '\*' in select list with grouping or aggregation",
    ):
        translate("SELECT * FROM t GROUP BY a", strict=True)
    with _pytest.raises(_Unsupported, match=r"cannot combine '\*'"):
        translate("SELECT DISTINCT * FROM t GROUP BY a", strict=True)
    # t.* in a non-grouped block, count(*), and multiplication are all fine
    translate("SELECT a, count(*) FROM t GROUP BY a", strict=True)
    translate("SELECT a * b AS p, count(*) FROM t GROUP BY a * b", strict=True)
    translate("SELECT v.* FROM (SELECT a FROM t GROUP BY a) v", strict=True)


def test_strict_group_by_aggregate_rejected():
    with _pytest.raises(
        _Unsupported,
        match=r"GROUP BY expression must not contain aggregate functions: sum\(b\)",
    ):
        translate("SELECT a FROM t GROUP BY sum(b)", strict=True)
    with _pytest.raises(
        _Unsupported, match="GROUP BY expression must not contain analytic expressions"
    ):
        translate("SELECT a FROM t GROUP BY rank() OVER (ORDER BY b)", strict=True)
    with _pytest.raises(
        _Unsupported, match="GROUP BY expression must not contain analytic expressions"
    ):
        translate("SELECT a FROM t GROUP BY sum(b) OVER (PARTITION BY c)", strict=True)
    # subquery inside GROUP BY expr is scoped separately (strict subquery
    # placement check fires for it, not the aggregate check)
    translate("SELECT upper(a) FROM t GROUP BY upper(a)", strict=True)


def test_strict_nested_aggregates_rejected():
    with _pytest.raises(
        _Unsupported,
        match=r"aggregate function must not contain aggregate parameters: "
        r"sum\(count\(b\)\)",
    ):
        translate("SELECT sum(count(b)) FROM t", strict=True)
    with _pytest.raises(_Unsupported, match="aggregate parameters"):
        translate("SELECT avg(a + sum(b)) FROM t", strict=True)
    # agg over a subquery result and agg-of-inline-view-agg are legal
    translate("SELECT sum(x.cnt) FROM (SELECT count(*) cnt FROM t) x", strict=True)
    translate("SELECT sum(a) + count(*) FROM t", strict=True)
    # analytic over an aggregate is legal (agg computed first)
    translate(
        "SELECT sum(sum(a)) OVER (PARTITION BY b) FROM t GROUP BY b", strict=True
    )


def test_strict_limit_non_integer_rejected():
    with _pytest.raises(
        _Unsupported, match=r"LIMIT expression must be an integer type but is 'DECIMAL\(2,1\)': 2\.5"
    ):
        translate("SELECT a FROM t LIMIT 2.5", strict=True)
    with _pytest.raises(
        _Unsupported, match="OFFSET expression must be an integer type but is 'STRING': 'x'"
    ):
        translate("SELECT a FROM t ORDER BY a LIMIT 5 OFFSET 'x'", strict=True)
    translate("SELECT a FROM t LIMIT 5", strict=True)


def test_strict_invalid_interval_unit_rejected():
    # TimestampArithmeticExpr.java:136-140 (AnalyzeExprsTest pins
    # "Invalid time unit 'error' in timestamp arithmetic expression")
    with _pytest.raises(_Unsupported, match="Invalid time unit 'error'"):
        translate(
            "SELECT ts + INTERVAL 10 error FROM t", strict=True
        )
    with _pytest.raises(_Unsupported, match="Invalid time unit 'fortnights'"):
        translate(
            "SELECT a FROM t WHERE ts > now() - interval 3 fortnights",
            strict=True,
        )
    # every TimeUnit name, singular and plural, is legal
    for unit in ("year", "months", "week", "days", "hour", "minutes",
                 "second", "milliseconds", "microsecond", "nanoseconds"):
        translate(f"SELECT ts + INTERVAL 1 {unit} FROM t", strict=True)


def test_strict_duplicate_table_alias_rejected():
    # Analyzer.java:473-504 registerTableRef
    with _pytest.raises(_Unsupported, match="Duplicate table alias: 'a'"):
        translate("SELECT * FROM t a, u a", strict=True)
    with _pytest.raises(_Unsupported, match="Duplicate table alias: 't'"):
        translate("SELECT * FROM t, t", strict=True)
    with _pytest.raises(_Unsupported, match="Duplicate table alias: 't'"):
        translate("SELECT * FROM t JOIN u t ON t.x = u.x", strict=True)
    with _pytest.raises(_Unsupported, match="Duplicate table alias: 't1'"):
        translate(
            "WITH t1 AS (SELECT 1), t1 AS (SELECT 2) SELECT * FROM t1",
            strict=True,
        )
    # differing qualified refs and distinct aliases are legal
    translate("SELECT * FROM db1.t, db2.t", strict=True)
    translate("SELECT * FROM t a, t b", strict=True)
    translate(
        "SELECT count(*) FROM orders o JOIN lineitem l "
        "ON o.o_orderkey = l.l_orderkey JOIN part p ON p.p_partkey = l.l_partkey",
        strict=True,
    )
    # self-join of a CTE under two aliases is legal
    translate(
        "WITH t1 AS (SELECT 1 x) SELECT * FROM t1 a JOIN t1 b ON a.x = b.x",
        strict=True,
    )


def test_strict_nested_analytic_rejected():
    # AnalyticExpr.java:540
    with _pytest.raises(
        _Unsupported, match="Nesting of analytic expressions is not allowed"
    ):
        translate(
            "SELECT sum(lag(x, 1) OVER (ORDER BY y)) OVER (ORDER BY y) FROM t",
            strict=True,
        )
    # analytic over a plain aggregate is legal
    translate("SELECT sum(sum(a)) OVER (PARTITION BY b) FROM t GROUP BY b", strict=True)


def test_strict_lead_lag_offset_rejected():
    # AnalyticExpr.java:414
    with _pytest.raises(
        _Unsupported,
        match=r"The offset parameter of LEAD/LAG must be a constant positive "
        r"integer: lag\(x, -2\)",
    ):
        translate("SELECT lag(x, -2) OVER (ORDER BY y) FROM t", strict=True)
    with _pytest.raises(_Unsupported, match="constant positive integer"):
        translate("SELECT lead(x, 0) OVER (ORDER BY y) FROM t", strict=True)
    with _pytest.raises(_Unsupported, match="constant positive integer"):
        translate("SELECT lag(x, y) OVER (ORDER BY y) FROM t", strict=True)
    translate("SELECT lag(x, 2) OVER (ORDER BY y) FROM t", strict=True)
    translate("SELECT lag(x) OVER (ORDER BY y) FROM t", strict=True)
    translate("SELECT lead(x, 2, 0) OVER (ORDER BY y) FROM t", strict=True)
    # constant non-literal exprs evaluate server-side; deferred, legal here
    translate("SELECT lead(x, 1+1) OVER (ORDER BY y) FROM t", strict=True)


def test_strict_constant_window_exprs_rejected():
    # AnalyticExpr.java:429,440
    with _pytest.raises(
        _Unsupported,
        match="Expressions in the PARTITION BY clause must not be constant: 2",
    ):
        translate("SELECT rank() OVER (PARTITION BY 2 ORDER BY y) FROM t", strict=True)
    with _pytest.raises(
        _Unsupported,
        match="Expressions in the ORDER BY clause must not be constant: 1",
    ):
        translate("SELECT rank() OVER (ORDER BY 1) FROM t", strict=True)
    translate("SELECT rank() OVER (PARTITION BY a ORDER BY y DESC) FROM t", strict=True)


def test_strict_ordinal_bounds_rejected():
    # QueryStmt.java:311-323 trySubstituteOrdinal
    with _pytest.raises(
        _Unsupported,
        match="ORDER BY: ordinal exceeds number of items in select list: 3",
    ):
        translate("SELECT a, b FROM t ORDER BY 3", strict=True)
    with _pytest.raises(_Unsupported, match="ORDER BY: ordinal must be >= 1: 0"):
        translate("SELECT a, b FROM t ORDER BY 0", strict=True)
    with _pytest.raises(
        _Unsupported,
        match="GROUP BY: ordinal exceeds number of items in select list: 3",
    ):
        translate("SELECT a, b FROM t GROUP BY 3", strict=True)
    translate("SELECT a, b FROM t ORDER BY 2, 1", strict=True)
    translate("SELECT a, b, count(*) FROM t GROUP BY 1, 2", strict=True)
    # star select lists are uncountable at the token level; deferred
    translate("SELECT * FROM t ORDER BY 99", strict=True)
    # inner block's ordinal checked against the inner select list
    with _pytest.raises(_Unsupported, match="ORDER BY: ordinal exceeds"):
        translate(
            "SELECT a FROM (SELECT a FROM t ORDER BY 2 LIMIT 5) v", strict=True
        )


def test_strict_union_column_counts_rejected():
    # UnionStmt.java:275-287
    with _pytest.raises(
        _Unsupported, match="Operands have unequal number of columns"
    ):
        translate("SELECT a FROM t UNION ALL SELECT a, b FROM u", strict=True)
    translate("SELECT a FROM t UNION ALL SELECT b FROM u", strict=True)
    translate("SELECT a, b FROM t UNION SELECT x, y FROM u UNION ALL SELECT 1, 2", strict=True)
    # star arms are uncountable at the token level; deferred to the engine
    translate("SELECT * FROM t UNION ALL SELECT a, b FROM u", strict=True)


def test_strict_having_ungrouped_rejected():
    # SelectStmt.java:746-752
    with _pytest.raises(
        _Unsupported,
        match=r"HAVING clause not produced by aggregation output "
        r"\(missing from GROUP BY clause\?\): b > 1",
    ):
        translate("SELECT a, count(*) FROM t GROUP BY a HAVING b > 1", strict=True)
    with _pytest.raises(_Unsupported, match="HAVING clause not produced"):
        translate("SELECT count(*) FROM t HAVING x = 2", strict=True)
    # grouped columns, aliases, aggregates, literals, CASE/CAST are legal
    translate("SELECT a, count(*) AS n FROM t GROUP BY a HAVING a > 1 AND n > 2", strict=True)
    translate("SELECT a FROM t GROUP BY a HAVING sum(b) > 10", strict=True)
    translate("SELECT t.a FROM t GROUP BY t.a HAVING a > 1", strict=True)
    translate(
        "SELECT a FROM t GROUP BY a HAVING a IS NOT NULL AND CAST(a AS INT) IN (1, 2)",
        strict=True,
    )


def test_strict_having_binds_through_group_by_ordinals():
    # SelectStmt.java:610,:541 — ordinals substitute to select items
    # BEFORE HAVING analysis, so `GROUP BY 1 HAVING a > 5` is legal.
    from impala_spark.parser import translate as tr

    tr("SELECT a, count(*) FROM t GROUP BY 1 HAVING a > 5", strict=True)
    tr(
        "SELECT upper(a) AS u, count(*) FROM t GROUP BY 1 HAVING upper(a) = 'X'",
        strict=True,
    )
    tr("SELECT a, b, sum(c) FROM t GROUP BY 1, 2 HAVING b < 3 ORDER BY a", strict=True)


def test_strict_type_def_errors_pin_reference_texts():
    # TypeDef.java:76-119 exact messages (AnalyzeExprsTest.java:302-412)
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        ("select cast(1 as decimal(0, 1))", "Decimal precision must be > 0: 0"),
        ("select cast(1 as decimal(39, 1))", "Decimal precision must be <= 38: 39"),
        ("select cast(1 as decimal(5, 6))", "Decimal scale (6) must be <= precision (5)"),
        ("select cast('foo' as varchar(0))", "Varchar size must be > 0: 0"),
        ("select cast('foo' as varchar(65536))", "Varchar size must be <= 65535: 65536"),
        ("select cast('foo' as char(0))", "Char size must be > 0: 0"),
        ("select cast('foo' as char(256))", "Char size must be <= 255: 256"),
        ("select cast(1 as array<int>)", "Unsupported cast to complex type: ARRAY<INT>"),
        ("select cast(1 as map<int, int>)", "Unsupported cast to complex type: MAP<INT,INT>"),
        (
            "select cast(1 as struct<a:int,b:char(20)>)",
            "Unsupported cast to complex type: STRUCT<a:INT,b:CHAR(20)>",
        ),
        (
            "select cast('false' as boolean)",
            "Invalid type cast of 'false' from STRING to BOOLEAN",
        ),
        (
            "select cast(true as decimal)",
            "Invalid type cast of TRUE from BOOLEAN to DECIMAL(9,0)",
        ),
    ]
    for sql, msg in cases:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql
    # legal forms still pass
    tr("select cast(1 as decimal(38, 38))", strict=True)
    tr("select cast('foo' as char(255))", strict=True)
    tr("select cast('true' as string)", strict=True)


def test_strict_literal_expr_errors_pin_reference_texts():
    # NumericLiteral.java:188-195, LikePredicate analyze,
    # FunctionCallExpr.java:287 exact messages
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        (
            "select 1.7976931348623157E+3081",
            "Numeric literal '1.7976931348623157E+3081' exceeds maximum range of doubles.",
        ),
        (
            "select 4.9E-3241",
            "Numeric literal '4.9E-3241' underflows minimum resolution of doubles.",
        ),
        ("select * from t where s like 5", "right operand of LIKE must be of type STRING"),
        ("select * from t where s ilike 5", "right operand of ILIKE must be of type STRING"),
        ("select * from t where 5 like 'x%'", "left operand of LIKE must be of type STRING"),
        ("select * from t where 5 ilike 'x%'", "left operand of ILIKE must be of type STRING"),
        (
            "select * from t where s regexp 'test]['",
            "invalid regular expression in 's REGEXP 'test][''",
        ),
        (
            "select * from t where s iregexp 'test]['",
            "invalid regular expression in 's IREGEXP 'test][''",
        ),
        ("select concat()", "No matching function with signature: concat()."),
        ("select coalesce()", "No matching function with signature: coalesce()."),
        ("select lag() over (order by x) from t", "No matching function with signature: lag()."),
    ]
    for sql, msg in cases:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql
    # unbalanced groups both engines reject
    for sql in [
        "select * from t where s regexp '(ab'",
        "select * from t where s rlike 'ab)'",
    ]:
        with pytest.raises(ImpalaUnsupportedError, match="invalid regular expression"):
            tr(sql, strict=True)
    # legal forms still pass
    tr("select 1.5e300, 4.9e-300", strict=True)
    tr("select * from t where s like 'x%' and s regexp 'a+b'", strict=True)
    tr("select concat(a, b), coalesce(a, b) from t", strict=True)
    # RE2-valid patterns Python's re dislikes must NOT be rejected
    # (Impala validates with RE2, not Python re — ADVICE r5)
    tr("select * from t where s regexp '[[:digit:]]+'", strict=True)
    tr("select * from t where s rlike 'x{2,}[]]'", strict=True)


def test_strict_reserved_word_identifiers_rejected():
    # ParserTest negatives Spark's laxer grammar would accept: reserved
    # words as table/column names, empty select lists, CROSS JOIN with a
    # join condition, WHERE without FROM.
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    bad = [
        "select a from union",
        "select union from test",
        "select all from tbl",
        "select from t",
        "select * from a cross join b on (a.id = b.id)",
        "select * from a cross join b using (id)",
        "select a, 2 where a > 2",
    ]
    for sql in bad:
        with pytest.raises(ImpalaUnsupportedError):
            tr(sql, strict=True)
    # legal forms stay accepted: backquoted reserved words, CROSS JOIN
    # without a condition, CASE/NOT select heads, scalar selects
    tr("select a from `union`", strict=True)
    tr("select `union` from test", strict=True)
    tr("select * from a cross join b where a.id = b.id", strict=True)
    tr("select case when x then 1 else 2 end FROM t", strict=True)
    tr("select not x from t", strict=True)
    tr("select 1", strict=True)
    tr("select a from t where exists (select 1 from u where u.x = t.x)", strict=True)


def test_strict_batch_b_reference_texts():
    # BetweenPredicate.java:52-57, Type.java:107-110 (unsupported types)
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    with pytest.raises(ImpalaUnsupportedError, match="Unsupported data type: DATE"):
        tr("select cast(x as date) from t", strict=True)
    with pytest.raises(ImpalaUnsupportedError, match="Unsupported data type: DATETIME"):
        tr("select cast(x as datetime) from t", strict=True)
    with pytest.raises(ImpalaUnsupportedError, match="Unsupported data type: BINARY"):
        tr("select cast(x as binary) from t", strict=True)
    # BetweenPredicate.java:55-56 appends ': ' + the predicate SQL
    with pytest.raises(ImpalaUnsupportedError) as ei:
        tr(
            "select * from t where (select max(a) from u) "
            "between (select min(a) from u) and 100",
            strict=True,
        )
    assert (
        "Comparison between subqueries is not supported in a BETWEEN "
        "predicate: (SELECT max(a) FROM u) BETWEEN (SELECT min(a) FROM u) "
        "AND 100" in str(ei.value)
    )
    # BetweenPredicate.java:52-54 requires BOTH a subquery comparand AND a
    # subquery bound; a single subquery anywhere is legal
    # (AnalyzeSubqueriesTest.java:1265-1281 AnalyzesOk pins
    # `int_col between (select min..) and (select max..)` and
    # `(select avg..) between 1 and 100`)
    tr("select * from t where x between (select min(a) from u) and 10",
       strict=True)
    tr("select * from t where x between (select min(a) from u) and "
       "(select max(a) from u)", strict=True)
    tr("select * from t where (select avg(a) from u) between 1 and 100",
       strict=True)
    # legal BETWEEN forms untouched
    tr("select * from t where a between 1 and 10", strict=True)
    tr("select * from t where a between (1 + 2) and (3 + 4)", strict=True)


def test_strict_limit_offset_type_and_constness_exact_texts():
    # LimitElement.java:108-136 exact messages
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"LIMIT expression must be a constant expression: a",
    ):
        tr("select x from t order by x limit a", strict=True)
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"OFFSET expression must be a constant expression: b",
    ):
        tr("select x from t order by x limit 5 offset b", strict=True)
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"LIMIT expression must be an integer type but is 'STRING': 'five'",
    ):
        tr("select x from t limit 'five'", strict=True)
    # legal: integer literals and constant fn calls pass through
    tr("select x from t order by x limit 5 offset 2", strict=True)


def test_strict_analytic_param_errors_pin_reference_texts():
    # AnalyticExpr.java:449-486 exact messages
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        (
            "select count(distinct a) over (partition by b) from t",
            # FunctionCallExpr.toSqlImpl prints "DISTINCT " uppercase
            "DISTINCT not allowed in analytic function: count(DISTINCT a)",
        ),
        (
            "select lead(a ignore nulls) over (order by b) from t",
            "Function LEAD does not accept the keyword IGNORE NULLS.",
        ),
        (
            # AnalyzeExprsTest.java:972: the span is the CALL, not the
            # whole analytic expression (ADVICE r5)
            "select rank() over (partition by b) from t",
            "'rank()' requires an ORDER BY clause",
        ),
        (
            "select dense_rank() over (partition by b) from t",
            "'dense_rank()' requires an ORDER BY clause",
        ),
        (
            # first_value is analytic-only and requires ORDER BY
            # (AnalyticExpr.java:477)
            "select first_value(a) over (partition by b) from t",
            "'first_value(a)' requires an ORDER BY clause",
        ),
        (
            "select last_value(a) over (partition by b) from t",
            "'last_value(a)' requires an ORDER BY clause",
        ),
        (
            "select row_number() over (order by b rows between 1 preceding and current row) from t",
            "Windowing clause not allowed with 'row_number()'",
        ),
        (
            "select lag(a, 1) over (order by b range between unbounded preceding and current row) from t",
            "Windowing clause not allowed with 'lag(a, 1)'",
        ),
    ]
    for sql, msg in cases:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql
    # legal analytic forms untouched
    tr("select first_value(a ignore nulls) over (order by b) from t", strict=True)
    tr("select rank() over (order by b) from t", strict=True)
    # first_value/last_value DO allow an explicit windowing clause
    tr(
        "select first_value(a) over (order by b "
        "rows between unbounded preceding and current row) from t",
        strict=True,
    )
    tr(
        "select sum(a) over (order by b rows between 1 preceding and current row) from t",
        strict=True,
    )
    tr("select count(distinct a) from t", strict=True)


def test_strict_over_composition_pins_reference_texts():
    # AnalyticExpr.java:464-475 exact messages
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"OVER clause requires aggregate or analytic function: abs\(a\)",
    ):
        tr("select abs(a) over (order by b) from t", strict=True)
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"Aggregate function 'group_concat\(a\)' not supported with OVER clause\.",
    ):
        tr("select group_concat(a) over (partition by b order by a) from t", strict=True)
    # unknown names (possible UDAs) and real analytic aggs pass
    tr("select my_uda(a) over (order by b) from t", strict=True)
    tr("select sum(a) over (order by b) from t", strict=True)
    tr("select first_value(a) over (order by b) from t", strict=True)


def test_strict_subquery_column_count_pins_reference_texts():
    # InPredicate.java:120 / BinaryPredicate.java:188 exact messages
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"Subquery must return a single column: \(SELECT a, b FROM u\)",
    ):
        tr("select * from t where x in (select a, b from u)", strict=True)
    with pytest.raises(
        ImpalaUnsupportedError,
        match=r"Subquery must return a single row: \(SELECT a, b FROM u\)",
    ):
        tr("select * from t where x = (select a, b from u)", strict=True)
    # legal single-column / EXISTS / FROM-subquery forms untouched
    tr("select * from t where x in (select a from u)", strict=True)
    tr("select * from t where x = (select max(a) from u)", strict=True)
    tr("select * from t where exists (select a, b from u)", strict=True)
    tr("select * from (select a, b from u) v", strict=True)
    tr("select * from t where x in (select a * b from u)", strict=True)


def test_strict_multi_column_in_subquery_rejected():
    # InPredicate.java:115: Impala has no multi-column IN with a subquery
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    with pytest.raises(
        ImpalaUnsupportedError, match="Unsupported IN predicate with a subquery"
    ):
        tr("select * from t where (a, b) in (select x, y from u)", strict=True)
    with pytest.raises(
        ImpalaUnsupportedError, match="Unsupported IN predicate with a subquery"
    ):
        tr("select * from t where (a, b) not in (select x, y from u)", strict=True)
    # single-column parenthesized lhs and plain forms stay accepted
    tr("select * from t where (a) in (select x from u)", strict=True)
    tr("select * from t where f(a, b) in (select x from u)", strict=True)


def test_is_distinct_from_not_parsed_as_from_clause():
    # `IS [NOT] DISTINCT FROM` is an operator; the duplicate-alias check
    # must not scan its right operand as table refs (two nullif() calls
    # used to collide as "duplicate table alias 'nullif'").
    from impala_spark.parser import translate as tr

    tr(
        "SELECT nullif(a, 1) IS NOT DISTINCT FROM nullif(b, 1) AS x, "
        "nullif(a, 2) IS DISTINCT FROM NULL AS y FROM t",
        strict=True,
    )


def test_strict_layer_accepts_all_registered_query_texts():
    """Every registered SQL query's Impala-dialect text must pass the
    strict analyzer, EXCEPT documented genuine Impala 2.7 rejections the
    non-strict engine deliberately supersets. Guards every future strict
    check against false positives at registry breadth."""
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.queries import SPARK_QUERIES

    # genuine Impala 2.7 analyzer rejections, run non-strict by design
    expected_strict_rejects = {
        "tpch_q11_important_stock",  # HAVING subquery (SelectStmt.java:181)
        "tpcds_q51_shape",           # DATE type (Type.java:107-110)
        # r6 tie-robust contracts use SUM(..)/COUNT(*) inside correlated
        # scalar subqueries — an expression over a non-null-on-empty agg,
        # which the reference's decorrelation rejects
        # (StmtRewriter.java:846-860); the permissive dialect runs them
        "subquery_correlated_scalar",
        "tpcds_q1_shape",
        "tpcds_q6_shape",
        # RANGE with value offsets: Spark supports it, the reference
        # rejects it outright (AnalyticWindow.java:364-373 "RANGE is
        # only supported with both the lower and upper bounds UNBOUNDED
        # or one UNBOUNDED and the other CURRENT ROW.")
        "analytic_range_offset_frame",
        # (agg_count_distinct left this set in r9: its two-level-
        # aggregate rewrite has at most ONE distinct parameter list per
        # block, which the reference's single distinct-agg phase accepts
        # (AggregateInfo.java:235-251) — the rewrite is both faster at
        # scale AND more Impala-2.7-compatible than the Expand form)
    }
    unexpected = {}
    for name, fn in SPARK_QUERIES.items():
        sql = fn.__doc__
        if not sql or not sql.strip().upper().startswith(("SELECT", "WITH")):
            continue
        try:
            tr(sql, strict=True)
            assert name not in expected_strict_rejects, (
                f"{name} now passes strict — remove it from the expected set"
            )
        except ImpalaUnsupportedError as e:
            if name not in expected_strict_rejects:
                unexpected[name] = str(e)[:80]
    assert not unexpected, f"strict false positives: {unexpected}"


def test_strict_function_call_param_errors_pin_reference_texts():
    """FunctionCallExpr.analyze parameter/dispatch errors with the
    reference's exact strings (A/FunctionCallExpr.java:263-530; pins
    from T/analysis/AnalyzeExprsTest.java:1565-1870, :2180-2192 and
    T/analysis/AnalyzeStmtsTest.java:1818-1913)."""
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        # '*' params: FunctionCallExpr.java:523 / :267
        ("select pi(*)", "Cannot pass '*' to scalar function."),                    # AnalyzeExprsTest.java:1565
        ("select decode(*)", "Cannot pass '*' to scalar function."),                # :1775
        ("select avg(*) from lineitem", "'*' can only be used in conjunction with COUNT"),   # AnalyzeStmtsTest.java:1886
        ("select min(*) from lineitem", "'*' can only be used in conjunction with COUNT"),   # :1888
        ("select max(*) from lineitem", "'*' can only be used in conjunction with COUNT"),   # :1890
        # DISTINCT to scalar: FunctionCallExpr.java:526
        ("select sin(DISTINCT 1)", "Cannot pass 'DISTINCT' to scalar function."),   # AnalyzeExprsTest.java:1567
        ("select decode(distinct 1, 2, 3)", "Cannot pass 'DISTINCT' to scalar function."),   # :1776
        # count arity: FunctionCallExpr.java:463 / :271
        ("select count() from lineitem", "count() is not allowed."),                # AnalyzeStmtsTest.java:1874
        ("select count(l_orderkey, l_partkey) from lineitem",
         "COUNT must have DISTINCT for multiple arguments: count(l_orderkey, l_partkey)"),   # :1894
        # SUM/AVG parameter classes: FunctionCallExpr.java:275-278, :434-436
        ("select sum('a') from lineitem", "SUM requires a numeric parameter: sum('a')"),     # :1909-1911 shape
        ("select avg('a') from lineitem",
         "AVG requires a numeric or timestamp parameter: avg('a')"),                # :1913
        # overload misses over the implicit-cast matrix:
        # FunctionCallExpr.java:282-288 + C/Type.java:630-780
        ("select scale('1.1')", "No matching function with signature: scale(STRING)."),      # AnalyzeExprsTest.java:1579
        ("select concat()", "No matching function with signature: concat()."),      # :1623
        ("select coalesce()", "No matching function with signature: coalesce()."),  # :1625
        ("select concat(NULL, 1, 'b')",
         "No matching function with signature: concat(NULL_TYPE, TINYINT, STRING)."),        # :1655
        ("select concat('a', NULL, 1)",
         "No matching function with signature: concat(STRING, NULL_TYPE, TINYINT)."),        # :1657
        ("select concat(1, 'b', NULL)",
         "No matching function with signature: concat(TINYINT, STRING, NULL_TYPE)."),        # :1659
        ("select substring(1, NULL, NULL)",
         "No matching function with signature: substring(TINYINT, NULL_TYPE, NULL_TYPE)."),  # :1642
        ("select substring(NULL, 'a', NULL)",
         "No matching function with signature: substring(NULL_TYPE, STRING, NULL_TYPE)."),   # :1645
        ("select if(true, false, true, true)",
         "No matching function with signature: if(BOOLEAN, BOOLEAN, BOOLEAN, BOOLEAN)."),    # :1841
        ("select if(true, false)", "No matching function with signature: if(BOOLEAN, BOOLEAN)."),  # :1844
        ("select if(false)", "No matching function with signature: if(BOOLEAN)."),  # :1846
        ("select isnull(1)", "No matching function with signature: isnull(TINYINT)."),       # :1857
        ("select isnull(1, 2, 3)",
         "No matching function with signature: isnull(TINYINT, TINYINT, TINYINT)."),         # :1859
        ("select isnull('a', true)",
         "No matching function with signature: isnull(STRING, BOOLEAN)."),          # :1862
        # round/truncate second-argument rules: FunctionCallExpr.java:342-360
        ("select round(cast(1.123 as decimal(10,3)), 5.1)",
         "No matching function with signature: round(DECIMAL(10,3), DECIMAL(2,1))"),         # AnalyzeExprsTest.java:2186
        ("select round(cast(1.123 as decimal(30,20)), 40)",
         "Cannot round/truncate to scales greater than 38."),                       # :2188
        ("select truncate(cast(1.123 as decimal(10,3)), 40)",
         "Cannot round/truncate to scales greater than 38."),                       # :2190
        ("select round(cast(1.123 as decimal(10,3)), NULL)",
         "round() cannot be called with a NULL second argument."),                  # :2192
        ("select round(cast(1.1 as decimal(10,3)), cast(c3 as int)) from t",
         "round() must be called with a constant second argument."),                # AnalyzeStmtsTest.java:1825
        ("select truncate(cast(1.1 as decimal(10,3)), cast(c3 as int)) from t",
         "truncate() must be called with a constant second argument."),             # :1827
        # analytic-only without OVER: FunctionCallExpr.java:492-496
        ("select 1, lag(l_orderkey) from lineitem",
         "Analytic function requires an OVER clause: lag(l_orderkey)"),             # AnalyzeExprsTest.java:820
        # LEAD/LAG offset and default params: AnalyticExpr.java:405-416, :485-497
        ("select lag('a', 'b') over (order by x) from t",
         "No matching function with signature: lag(STRING, STRING)."),              # AnalyzeExprsTest.java:934
        ("select lead(cast(1 as int), 1, 'x') over (order by x) from t",
         "No matching function with signature: lead(INT, TINYINT, STRING)."),       # :939
        ("select lead(x, -1) over (order by y) from t",
         "The offset parameter of LEAD/LAG must be a constant positive integer: lead(x, -1)"),  # :948
        # IGNORE NULLS outside first/last_value: FunctionCallExpr.java:486
        ("select lower('FOO' ignore nulls)",
         "Function LOWER does not accept the keyword IGNORE NULLS."),               # AnalyzeExprsTest.java:1603
        # 3+-part names: FunctionName.java:82-86
        ("select a.b.sin()", "Invalid function name: 'a.b.sin'. Expected [dbname].funcname"),  # :1571
        # analytic params inside an aggregate: FunctionCallExpr.java:451-454
        ("select sum(rank() over (order by id)) from t",
         "aggregate function must not contain analytic parameters"),                # AnalyzeStmtsTest.java:1901
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want}\n  got:  {e}"

    # positives the same analysis must keep accepting
    # (AnalyzeExprsTest.java:1608-1621, :1836-1856, :2181-2184)
    for sql in [
        "select count(*) from lineitem",
        "select count(distinct l_orderkey, l_partkey) from lineitem",
        "select concat('a', 'b', 'c', 'd', 'e')",
        "select concat(NULL, 'a', 'b')",
        "select coalesce(5, 6, 7)",
        "select coalesce('a', 'b', 'c')",
        "select substring(NULL, 1, 2)",
        "select if(true, false, false)",
        "select isnull('a', NULL)",
        "select scale(1.1)",
        "select precision(1)",
        "select sin(cos(pi()))",
        "select round(cast('1.1' as decimal), cast(1 as int))",
        "select round(cast(1.123 as decimal(10,3)), 1)",
        "select truncate(cast(1.123 as decimal(10,3)), -1)",
        "select round(c1, cast(c3 as int)) from t",  # c1 untyped: permissive
        "select avg(cast(x as timestamp)) from t",
        "select lead(x, 2) over (order by y) from t",
        "select rank() over (order by x) from t",
    ]:
        tr(sql, strict=True)


def test_strict_case_expr_errors_pin_reference_texts():
    """CaseExpr.analyze errors with the reference's exact strings
    (A/CaseExpr.java:283-287 boolean WHEN rule; A/Analyzer.java:2210-2227
    getCompatibleType accumulation; pins from
    T/analysis/AnalyzeExprsTest.java:1678-1717, literal-typed forms)."""
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        ("select case when 20 then 20 when 1 > 2 then 3 else 15 end",
         "When expr '20' is not of type boolean and not castable to type boolean."),
        ("select case when 'x' then 1 end",
         "When expr ''x'' is not of type boolean and not castable to type boolean."),
        ("select case when 20 > 10 then 20 when 1 > 2 then "
         "TIMESTAMP '2020-01-01 00:00:00' else 15 end",
         "Incompatible return types 'TINYINT' and 'TIMESTAMP' of exprs "
         "'20' and 'TIMESTAMP '2020-01-01 00:00:00''."),
        ("select case cast(1 as bigint) when TIMESTAMP '2020-01-01 00:00:00' "
         "then 30 else 15 end",
         "Incompatible return types 'BIGINT' and 'TIMESTAMP' of exprs "
         "'cast(1 as bigint)' and 'TIMESTAMP '2020-01-01 00:00:00''."),
        # accumulated type is the merged decimal, not the first literal's
        ("select case when 1 > 2 then 20 when 2 > 3 then 1.0 "
         "when 3 > 4 then 'x' end",
         "Incompatible return types 'DECIMAL(4,1)' and 'STRING' of exprs "
         "'1.0' and ''x''."),
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want}\n  got:  {e}"

    # positives (AnalyzeExprsTest.java:1666-1706 literal forms)
    for sql in [
        "select case when 20 > 10 then 20 else 15 end",
        "select case when 20 > 10 then 20 when 1 > 2 then 1.0 else 15 end",
        "select case when true then 1 end",
        "select case x when 20 then 30 else 15 end from t",
        "select case cast(1 as bigint) when 2 then 30 when 3.0 then 1.0 else 15 end",
        "select case when col then 20 else 15 end from t",
    ]:
        tr(sql, strict=True)


def test_strict_in_between_type_errors_pin_reference_texts():
    """InPredicate/BetweenPredicate operand typing through
    Analyzer.castAllToCompatibleType (A/Analyzer.java:2210-2252; pins
    from T/analysis/AnalyzeExprsTest.java:622-634 BETWEEN and :668-682
    IN, literal-typed forms)."""
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        ("select 1 from t where 'x' between true and 2.0",
         "Incompatible return types 'STRING' and 'BOOLEAN' of exprs ''x'' and 'true'."),
        ("select 1 from t where TIMESTAMP '2020-01-01 00:00:00' between 1 and 2.0",
         "Incompatible return types 'TIMESTAMP' and 'TINYINT' of exprs "
         "'TIMESTAMP '2020-01-01 00:00:00'' and '1'."),
        ("select 1 from t where 'x' in (true, false)",
         "Incompatible return types 'STRING' and 'BOOLEAN' of exprs ''x'' and 'true'."),
        ("select 1 from t where TIMESTAMP '2020-01-01 00:00:00' in (1, 2)",
         "Incompatible return types 'TIMESTAMP' and 'TINYINT' of exprs "
         "'TIMESTAMP '2020-01-01 00:00:00'' and '1'."),
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want}\n  got:  {e}"

    # positives incl. the NULL forms AnalyzeExprsTest.java:612-620 pins
    for sql in [
        "select 1 from t where 5 between 1 and 10.5",
        "select 1 from t where 5 between NULL and 10",
        "select 1 from t where NULL between NULL and NULL",
        "select 1 from t where 'b' in ('a', 'c', NULL)",
        "select 1 from t where x in (1, 2, 3)",
        "select 1 from t where 5 in (x, 2)",
        "select 1 from t where x in (select y from u)",
        "select 1 from t where col between lo and hi",
    ]:
        tr(sql, strict=True)


def test_strict_values_stmt_analysis_errors_pin_reference_texts():
    """ValuesStmt analysis (A/ValuesStmt.java as a UNION of constant
    selects + A/UnionStmt.java; pins from AnalyzeStmtsTest TestValues):
    unequal row widths, per-position type accumulation, FROM-less
    aggregation/star, and the toSql-rendered OFFSET span."""
    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        ("values((1, 'a'), (2, 'b')) offset 5",
         "OFFSET requires an ORDER BY clause: OFFSET 5"),
        ("values(1, 'a', 1.0, *)",
         "'*' expression in select list requires FROM clause."),
        ("values(sum(1), 'a', 1.0)",
         "aggregation without a FROM clause is not allowed"),
        ("values((1, 2), (3, 4, 5))",
         "Operands have unequal number of columns:\n"
         "'(1, 2)' has 2 column(s)\n'(3, 4, 5)' has 3 column(s)"),
        ("values((1, 'a'), (3, 4))",
         "Incompatible return types 'STRING' and 'TINYINT' "
         "of exprs ''a'' and '4'."),
        # FROM-less star/analytic in SELECT (SelectStmt.java:568-580)
        ("select *", "'*' expression in select list requires FROM clause."),
        ("select 1, *, 2+4",
         "'*' expression in select list requires FROM clause."),
        ("select 1, count(*) over()",
         "Analytic expressions require FROM clause"),
        # misc closed this round
        ("select decode()", "DECODE in 'decode()' requires at least 3 arguments"),
        ("select decode(1, 2)", "DECODE in 'decode(1, 2)' requires at least 3 arguments"),
        ("select decode(true, 'foo', 1)",
         "operands of type BOOLEAN and STRING are not comparable: TRUE = 'foo'"),
        ("select precision(cast(1 as float))",
         "No matching function with signature: precision(FLOAT)"),
        ("select precision(999999999999999999999999999999999999999.)",
         "No matching function with signature: precision(DOUBLE)."),
        ("select precision(NULL)",
         "Cannot resolve DECIMAL precision and scale from NULL type."),
        ("select scale(NULL)",
         "Cannot resolve DECIMAL precision and scale from NULL type."),
        ("select now() = cast('hi' as CHAR(3))",
         "operands of type TIMESTAMP and CHAR(3) are not comparable: "
         "now() = CAST('hi' AS CHAR(3))"),
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want!r}\n  got:  {e!r}"

    for sql in [
        "values(1, 'a', 1.0)",
        "values((1, 'a'), (2, 'b'))",
        "values((1, 'a'), (2, NULL))",
        "values((1.5, 'a'), (2, 'b'))",
        "select * from tbl",
        "select decode(1, 2, 3)",
        "select now()",
    ]:
        tr(sql, strict=True)


def test_strict_window_frame_boundary_errors():
    """AnalyticWindow.analyze boundary rules with the reference's exact
    texts (AnalyticWindow.java:290-415, AnalyticExpr.java:517-520;
    pinned at AnalyzeExprsTest.java:966-1044)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        # AnalyzeExprsTest.java:967-969
        ("select sum(int_col) over (partition by id "
         "rows between unbounded preceding and current row) from t",
         "Windowing clause requires ORDER BY clause"),
        # :987-998
        ("select sum(tinyint_col) over (partition by id order by tinyint_col "
         "rows between unbounded following and current row) from t",
         "UNBOUNDED FOLLOWING is only allowed for upper bound of BETWEEN"),
        ("select sum(tinyint_col) over (partition by id order by tinyint_col "
         "rows unbounded following) from t",
         "UNBOUNDED FOLLOWING is only allowed for upper bound of BETWEEN"),
        ("select sum(tinyint_col) over (partition by id order by tinyint_col "
         "rows between current row and unbounded preceding) from t",
         "UNBOUNDED PRECEDING is only allowed for lower bound of BETWEEN"),
        ("select sum(tinyint_col) over (partition by id order by tinyint_col "
         "rows 2 following) from t",
         "FOLLOWING requires a BETWEEN clause"),
        # :1003-1013
        ("select sum(tinyint_col) over (partition by id order by tinyint_col "
         "rows between 2 following and current row) from t",
         "A lower window bound of FOLLOWING requires that the upper bound "
         "also be FOLLOWING"),
        ("select sum(tinyint_col) over (partition by id order by tinyint_col "
         "rows between current row and 2 preceding) from t",
         "An upper window bound of PRECEDING requires that the lower bound "
         "also be PRECEDING"),
        # offset boundaries :1016-1044
        ("select min(int_col) over (partition by id order by tinyint_col "
         "rows between tinyint_col preceding and current row) from t",
         "For ROWS window, the value of a PRECEDING/FOLLOWING offset must "
         "be a constant positive integer: tinyint_col PRECEDING"),
        ("select min(int_col) over (partition by id order by tinyint_col "
         "rows between current row and '2' following) from t",
         "For ROWS window, the value of a PRECEDING/FOLLOWING offset must "
         "be a constant positive integer: '2' FOLLOWING"),
        ("select min(int_col) over (partition by id order by tinyint_col "
         "rows between -2 preceding and current row) from t",
         "For ROWS window, the value of a PRECEDING/FOLLOWING offset must "
         "be a constant positive integer: -2 PRECEDING"),
        ("select min(int_col) over (partition by id order by tinyint_col "
         "rows between 2 preceding and 3 preceding) from t",
         "Offset boundaries are in the wrong order: ROWS BETWEEN 2 "
         "PRECEDING AND 3 PRECEDING"),
        ("select min(int_col) over (partition by id order by tinyint_col "
         "rows between count(*) preceding and current row) from t",
         "For ROWS window, the value of a PRECEDING/FOLLOWING offset must "
         "be a constant positive integer: count(*) PRECEDING"),
        # RANGE restriction (AnalyticWindow.java:364-373)
        ("select min(int_col) over (partition by id order by tinyint_col "
         "range between 2 preceding and current row) from t",
         "RANGE is only supported with both the lower and upper bounds "
         "UNBOUNDED or one UNBOUNDED and the other CURRENT ROW."),
        ("select min(int_col) over (partition by id order by tinyint_col "
         "range current row) from t",
         "RANGE is only supported with both the lower and upper bounds "
         "UNBOUNDED or one UNBOUNDED and the other CURRENT ROW."),
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want!r}\n  got:  {e!r}"

    # legal frames stay accepted
    for sql in [
        "select sum(x) over (order by y rows between unbounded preceding "
        "and current row) from t",
        "select sum(x) over (order by y rows between current row and "
        "unbounded following) from t",
        "select sum(x) over (order by y rows unbounded preceding) from t",
        "select sum(x) over (order by y rows between 2 preceding and "
        "2 following) from t",
        "select sum(x) over (order by y rows between 2 preceding and "
        "1 preceding) from t",
        "select sum(x) over (order by y rows between 1 following and "
        "3 following) from t",
        "select sum(x) over (order by y rows current row) from t",
        "select sum(x) over (order by y range between unbounded preceding "
        "and current row) from t",
        "select sum(x) over (order by y range unbounded preceding) from t",
        "select sum(x) over (order by y) from t",
        "select sum(x) over (partition by z) from t",
    ]:
        tr(sql, strict=True)


def test_strict_select_distinct_and_star_aggregation_errors():
    """SelectStmt.java:571-591 + AggregateInfo.java:235-251 exact texts
    (pinned in AnalyzeStmtsTest/AnalyzeExprsTest AnalysisError pins)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        ("select distinct count(*) from t",
         "cannot combine SELECT DISTINCT with aggregate functions or GROUP BY"),
        ("select distinct id, zip from t group by 1, 2",
         "cannot combine SELECT DISTINCT with aggregate functions or GROUP BY"),
        ("select distinct id from t having max(id) > 0",
         "cannot combine SELECT DISTINCT with aggregate functions or GROUP BY"),
        ("select * from (select distinct count(*) from t) x",
         "cannot combine SELECT DISTINCT with aggregate functions or GROUP BY"),
        ("select * from t group by 1",
         "cannot combine '*' in select list with grouping or aggregation"),
        ("select db.tbl.*, max(string_col) from db.tbl",
         "cannot combine '*' in select list with grouping or aggregation"),
        # GROUP BY ordinal resolving to an aggregate / analytic item
        ("select zip, count(*) from t group by 2",
         "GROUP BY expression must not contain aggregate functions"),
        ("select id, rank() over(order by int_col), count(*) from t "
         "group by 1, 2",
         "GROUP BY expression must not contain analytic expressions: "
         "rank() OVER (ORDER BY int_col ASC)"),
        ("select id, count(*) from t group by 1, rank() over(order by int_col)",
         "GROUP BY expression must not contain analytic expressions: "
         "rank() OVER (ORDER BY int_col ASC)"),
        # AggregateInfo.java:245-250
        ("select count(distinct int_col, bigint_col), "
         "count(distinct string_col, float_col) from t",
         "all DISTINCT aggregate functions need to have the same set of "
         "parameters as count(DISTINCT int_col, bigint_col); deviating "
         "function: count(DISTINCT string_col, float_col)"),
        ("select avg(distinct int_col), sum(distinct float_col) from t",
         "all DISTINCT aggregate functions need to have the same set of "
         "parameters as avg(DISTINCT int_col); deviating function: "
         "sum(DISTINCT float_col)"),
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want!r}\n  got:  {e!r}"

    # legal combinations stay accepted
    for sql in [
        "select distinct id, zip from t",
        "select count(distinct id), sum(distinct id) from t",
        # min/max ignore DISTINCT (FunctionCallExpr.java:482)
        "select tinyint_col, count(distinct int_col), "
        "min(distinct smallint_col), max(distinct string_col) "
        "from t group by 1",
        "select group_concat(distinct string_col), "
        "count(distinct string_col) from t",
        "select a, count(*) from t group by a",
        "select a, count(*) from t group by 1",
    ]:
        tr(sql, strict=True)


def test_strict_interval_unit_error_spans():
    """TimestampArithmeticExpr.java:136-140: the message renders the
    whole arithmetic expression's toSql, not just the interval clause."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr

    cases = [
        ("select timestamp_col + interval 10 error from t",
         "Invalid time unit 'error' in timestamp arithmetic expression "
         "'timestamp_col + INTERVAL 10 error'."),
        ("select interval 10 error + timestamp_col from t",
         "Invalid time unit 'error' in timestamp arithmetic expression "
         "'INTERVAL 10 error + timestamp_col'."),
        ("select date_add(timestamp_col, interval 10 error) from t",
         "Invalid time unit 'error' in timestamp arithmetic expression "
         "'DATE_ADD(timestamp_col, INTERVAL 10 error)'."),
        ("select date_sub(timestamp_col, interval 10 error) from t",
         "Invalid time unit 'error' in timestamp arithmetic expression "
         "'DATE_SUB(timestamp_col, INTERVAL 10 error)'."),
    ]
    for sql, want in cases:
        try:
            tr(sql, strict=True)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want!r}\n  got:  {e!r}"

    tr("select timestamp_col + interval 10 days from t", strict=True)
    tr("select date_add(timestamp_col, interval 10 years) from t", strict=True)


def _tr_cat(sql):
    from impala_spark.parser import translate
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    return translate(sql, strict=True, schema=schema_for_statement(sql),
                     catalog=TABLE_SCHEMAS)


def test_strict_nested_types_table_refs():
    """Analyzer.java:846-855 TABLE_REF path rules + QueryStmt.java:140-156
    correlated/uncorrelated mixing (pinned AnalyzeStmtsTest.java:240-280,
    1195-1240)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError

    cases = [
        ("select 1 from functional.allcomplextypes a, a",
         "Illegal table reference to non-collection type: 'a'"),
        ("select 1 from functional.allcomplextypes.int_struct_col",
         "Illegal table reference to non-collection type: "
         "'functional.allcomplextypes.int_struct_col'\n"
         "Path resolved to type: STRUCT<f1:INT,f2:INT>"),
        ("select 1 from functional.allcomplextypes a, a.int_struct_col",
         "Illegal table reference to non-collection type: "
         "'a.int_struct_col'\nPath resolved to type: STRUCT<f1:INT,f2:INT>"),
        ("select 1 from functional.allcomplextypes.int_array_col.item",
         "Illegal table reference to non-collection type: "
         "'functional.allcomplextypes.int_array_col.item'\n"
         "Path resolved to type: INT"),
        ("select 1 from functional.allcomplextypes.int_array_col a, a.pos",
         "Illegal table reference to non-collection type: 'a.pos'\n"
         "Path resolved to type: BIGINT"),
        ("select 1 from functional.allcomplextypes.int_map_col a, a.key",
         "Illegal table reference to non-collection type: 'a.key'\n"
         "Path resolved to type: STRING"),
        ("select * from functional.alltypestiny t where exists "
         "(select * from t)",
         "Illegal table reference to non-collection type: 't'"),
        ("select cnt from functional.allcomplextypes t, "
         "(select count(1) cnt from t) v",
         "Illegal table reference to non-collection type: 't'"),
        # QueryStmt.java:151-155
        ("select cnt from functional.allcomplextypes t, "
         "(select count(1) cnt from functional.alltypes, t.int_array_col) v",
         "Nested query is illegal because it contains a table reference "
         "'t.int_array_col' correlated with an outer block as well as an "
         "uncorrelated one 'functional.alltypes':\n"
         "SELECT count(1) cnt FROM functional.alltypes, t.int_array_col"),
        ("select cnt from functional.allcomplextypes t, "
         "(select * from functional.alltypes, "
         "(select count(1) cnt from t.int_array_col) v1) v2",
         "Nested query is illegal because it contains a table reference "
         "'t.int_array_col' correlated with an outer block as well as an "
         "uncorrelated one 'functional.alltypes':\n"
         "SELECT * FROM functional.alltypes, (SELECT count(1) cnt "
         "FROM t.int_array_col) v1"),
    ]
    for sql, want in cases:
        try:
            _tr_cat(sql)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want!r}\n  got:  {e!r}"

    # legal nested-type refs
    for sql in [
        "select 1 from functional.allcomplextypes.int_array_col",
        "select 1 from functional.allcomplextypes a, a.int_array_col",
        "select 1 from functional.allcomplextypes a, a.int_map_col m",
        "select cnt from functional.allcomplextypes t, "
        "(select count(1) cnt from t.int_array_col) v",
        "select cnt from functional.allcomplextypes, "
        "(select count(1) cnt from functional.allcomplextypes) v",
        "select 1 from functional.alltypes t1, functional.alltypes t2",
    ]:
        _tr_cat(sql)


def test_strict_complex_type_slot_rules():
    """SelectStmt.java:206-215, Analyzer.java:858-866/884-888,
    QueryStmt.java:243-247, AnalyticExpr.java:431-447,
    IsNullPredicate.java:125-129 exact texts."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError

    cases = [
        ("select int_struct_col from functional.allcomplextypes",
         "Expr 'int_struct_col' in select list returns a complex type "
         "'STRUCT<f1:INT,f2:INT>'.\n"
         "Only scalar types are allowed in the select list."),
        ("select int_array_col.item from functional.allcomplextypes",
         "Illegal column/field reference 'int_array_col.item' with "
         "intermediate collection 'int_array_col' of type 'ARRAY<INT>'"),
        ("select complex_nested_struct_col.f2.f11 "
         "from functional.allcomplextypes",
         "Illegal column/field reference 'complex_nested_struct_col.f2.f11' "
         "with intermediate collection 'f2' of type "
         "'ARRAY<STRUCT<f11:BIGINT,f12:MAP<STRING,STRUCT<f21:BIGINT>>>>'"),
        ("select complex_struct_col.f2.* from functional.allcomplextypes",
         "Cannot expand star in 'complex_struct_col.f2.*' because path "
         "'complex_struct_col.f2' resolved to type 'ARRAY<INT>'.\n"
         "Star expansion is only valid for paths to a struct type."),
        ("select * from functional.allcomplextypes order by int_struct_col",
         "ORDER BY expression 'int_struct_col' with complex type "
         "'STRUCT<f1:INT,f2:INT>' is not supported."),
        ("select id, row_number() over (order by int_array_col) "
         "from functional.allcomplextypes",
         "ORDER BY expression 'int_array_col' with complex type "
         "'ARRAY<INT>' is not supported."),
        ("select id, count() over (partition by int_struct_col) "
         "from functional.allcomplextypes",
         "PARTITION BY expression 'int_struct_col' with complex type "
         "'STRUCT<f1:INT,f2:INT>' is not supported."),
        ("select 1 from functional.allcomplextypes where int_map_col is null",
         "IS NULL predicate does not support complex types: "
         "int_map_col IS NULL"),
        ("select * from functional.allcomplextypes "
         "where nested_struct_col is not null",
         "IS NOT NULL predicate does not support complex types: "
         "nested_struct_col IS NOT NULL"),
    ]
    for sql, want in cases:
        try:
            _tr_cat(sql)
            raise AssertionError(f"accepted: {sql}")
        except ImpalaUnsupportedError as e:
            assert want in str(e), f"{sql}\n  want: {want!r}\n  got:  {e!r}"

    for sql in [
        "select int_struct_col.f1 from functional.allcomplextypes",
        "select id from functional.allcomplextypes where id is null",
        "select nested_struct_col.f2.f11 from functional.allcomplextypes",
        "select id from functional.allcomplextypes order by id",
    ]:
        _tr_cat(sql)


def test_strict_join_operands_follow_the_from_clause():
    """USING resolves against the left operand however it is spelled
    (`t AS a`, a bare first table), and an ON clause cannot see a
    comma-joined ref declared after it (TableRef.analyzeJoin)."""
    cases = [
        ("select * from functional.alltypes as a"
         " join functional.alltypessmall b using (badcol)",
         'unknown column badcol for alias a'
         ' (in "functional.alltypessmall b USING (badcol)")'),
        ("select * from alltypes join alltypessmall using (badcol)",
         'unknown column badcol for alias alltypes'
         ' (in "alltypessmall USING (badcol)")'),
        ("select a.id from functional.alltypes a join functional.alltypessmall b"
         " on a.id = c.id, functional.alltypestiny c",
         "Could not resolve column/field reference: 'c.id'"),
    ]
    for sql, want in cases:
        with pytest.raises(ImpalaUnsupportedError) as e:
            _tr_cat(sql)
        assert str(e.value) == want
        translate(sql, strict=True)  # catalog-free: stays permissive


def test_strict_translate_is_reentrant():
    """Concurrent strict translates with different catalog contexts must
    each see only their own context: every result (or error text) equals
    the statement's single-threaded verdict."""
    import sys
    import threading

    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    def typed(sql, db=None):
        return dict(schema=schema_for_statement(sql), catalog=TABLE_SCHEMAS,
                    session_db=db)

    stmts = [
        "SELECT int_col + string_col FROM functional.alltypes",
        "select a.a from a.a",
        "select item from a.a, a.a.a",
        "SELECT max(x) FROM u",
        "SELECT a + b FROM t WHERE c > 1",
    ]
    calls = [(s, {}) for s in stmts]
    calls += [(s, typed(s, db)) for s in stmts for db in (None, "a")]

    def run(sql, ctx):
        try:
            return "ok:" + translate(sql, strict=True, **ctx)
        except Exception as e:  # noqa: BLE001
            return f"err:{type(e).__name__}: {e}"

    want = [run(s, ctx) for s, ctx in calls]
    assert len(set(want)) > len(stmts)  # the contexts do disagree
    bad = []

    def worker(offset):
        for i in range(60 * len(calls)):
            k = (i + offset) % len(calls)
            got = run(*calls[k])
            if got != want[k]:
                bad.append((calls[k][0], want[k], got))

    old = sys.getswitchinterval()
    sys.setswitchinterval(5e-6)
    try:
        threads = [threading.Thread(target=worker, args=(n,)) for n in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        sys.setswitchinterval(old)
    assert not bad, f"{len(bad)} cross-talk results; first: {bad[:2]}"


#: one statement per DDL analysis error path, with its exact reference
#: text (AnalyzeDDLTest), replayed with the canned warehouse bound
_DDL_ERROR_PATHS = [
    (
        "DROP STATS functional.alltypes PARTITION (year=2009)",
        "Syntax error in line 1:\nDROP STATS does not accept a PARTITION"
        " clause; use DROP INCREMENTAL STATS <table> PARTITION (...)",
    ),
    (
        "DROP INCREMENTAL STATS functional.alltypes PARTITION (year=2011)",
        "No matching partition(s) found.",
    ),
    (
        "CREATE DATABASE functional",
        "Database already exists: functional",
    ),
    (
        "DROP FUNCTION nosuchdb.fn()",
        "Database does not exist: nosuchdb",
    ),
    (
        "CREATE TABLE newtbl LIKE PARQUET 'relative/path.parquet'",
        "URI path must be absolute: relative/path.parquet",
    ),
    (
        "CREATE TABLE newtbl LIKE PARQUET"
        " '/test-warehouse/schemas/malformed_decimal_tiny.parquet'",
        "Unsupported parquet type FIXED_LEN_BYTE_ARRAY for field c1",
    ),
    (
        "CREATE TABLE newtbl LIKE PARQUET"
        " '/test-warehouse/zipcode_incomes_rc/000000_0'",
        "File is not a parquet file:"
        " hdfs://localhost:20500/test-warehouse/zipcode_incomes_rc/000000_0",
    ),
    (
        "DROP TABLE functional.alltypes_view",
        "DROP TABLE not allowed on a view: functional.alltypes_view",
    ),
    (
        "DROP VIEW functional.alltypes",
        "DROP VIEW not allowed on a table: functional.alltypes",
    ),
    (
        "ALTER TABLE functional.alltypes ADD PARTITION (year=2050, year=2051)",
        "Duplicate partition key name: year",
    ),
    (
        "ALTER TABLE functional.alltypes ADD PARTITION (int_col=1)",
        "Column 'int_col' is not a partition column in table:"
        " functional.alltypes",
    ),
    (
        "ALTER TABLE functional.stringpartitionkey ADD PARTITION"
        " (string_col=1)",
        "Value of partition spec (column=string_col) has incompatible type:"
        " 'TINYINT'. Expected type: 'STRING'.",
    ),
    (
        "ALTER TABLE functional.alltypes ADD PARTITION (year=2050,"
        " month=10000000000)",
        "Partition key value may result in loss of precision.\nWould need to"
        " cast '10000000000' to 'INT' for partition column: month",
    ),
    (
        "ALTER TABLE functional.alltypes ADD PARTITION (year=int_col, month=1)",
        "Non-constant expressions are not supported as static partition-key"
        " values in 'year=int_col'.",
    ),
    (
        "ALTER TABLE functional.alltypes DROP PARTITION (year=int_col)",
        "Partition exprs cannot contain non-partition column(s): year ="
        " int_col.",
    ),
    (
        "ALTER TABLE functional.stringpartitionkey DROP PARTITION"
        " (string_col=1)",
        "operands of type STRING and TINYINT are not comparable: string_col ="
        " 1",
    ),
    (
        "ALTER TABLE functional.alltypes PARTITION (year=2009, month>10) SET"
        " LOCATION '/x'",
        "Partition expr in set location statements can only match one"
        " partition. Too many matched partitions"
        " year=2009/month=11,year=2009/month=12",
    ),
    (
        "ALTER TABLE functional.alltypestiny PARTITION (year=2009, month=1)"
        " SET LOCATION '/x'",
        "Target partition is cached, please uncache before changing the"
        " location using: ALTER TABLE functional.alltypestiny PARTITION (year"
        " = 2009, month = 1) SET UNCACHED",
    ),
    (
        "ALTER TABLE functional.alltypestiny SET LOCATION '/x'",
        "Target table is cached, please uncache before changing the location"
        " using: ALTER TABLE functional.alltypestiny SET UNCACHED",
    ),
    (
        "ALTER TABLE functional_kudu.alltypes REPLACE COLUMNS (a INT)",
        "ALTER TABLE REPLACE COLUMNS is not supported on Kudu tables",
    ),
    (
        "ALTER TABLE functional_kudu.alltypes ADD COLUMNS (c ARRAY<INT>)",
        "Kudu tables do not support complex types: c ARRAY<INT>",
    ),
    (
        "ALTER TABLE functional_kudu.alltypes ADD COLUMNS (c INT PRIMARY KEY)",
        "Cannot add a primary key using an ALTER TABLE ADD COLUMNS statement:"
        " c INT PRIMARY KEY",
    ),
    (
        "ALTER TABLE functional_kudu.alltypes CHANGE COLUMN int_col int_col"
        " INT ENCODING PLAIN_ENCODING",
        "Unsupported column options in ALTER TABLE CHANGE COLUMN statement:"
        " int_col INT ENCODING PLAIN_ENCODING",
    ),
    (
        "ALTER TABLE functional_kudu.alltypes CHANGE COLUMN int_col int_col"
        " BIGINT",
        "Cannot change the type of a Kudu column using an ALTER TABLE CHANGE"
        " COLUMN statement: (INT vs BIGINT)",
    ),
    (
        "ALTER TABLE functional.alltypes ADD COLUMNS (c INT NOT NULL)",
        "The specified column options are only supported in Kudu tables: c INT"
        " NOT NULL",
    ),
    (
        "ALTER TABLE functional_hbase.alltypes ADD COLUMNS (c INT)",
        "ALTER TABLE ADD|REPLACE COLUMNS not currently supported on HBase"
        " tables.",
    ),
    (
        "ALTER TABLE functional_hbase.alltypes DROP COLUMN int_col",
        "ALTER TABLE DROP COLUMN not currently supported on HBase tables.",
    ),
    (
        "ALTER TABLE functional_hbase.alltypes RECOVER PARTITIONS",
        "ALTER TABLE RECOVER PARTITIONS must target an HDFS table:"
        " functional_hbase.alltypes",
    ),
    (
        "ALTER TABLE functional_hbase.alltypes SET FILEFORMAT PARQUET",
        "ALTER TABLE SET not currently supported on HBase tables.",
    ),
    (
        "ALTER TABLE functional.alltypes ADD COLUMNS (int_col INT)",
        "Column already exists: int_col",
    ),
    (
        "ALTER TABLE functional.alltypes DROP COLUMN year",
        "Cannot drop partition column: year",
    ),
    (
        "ALTER TABLE functional.alltypes CHANGE COLUMN int_col bigint_col INT",
        "Column already exists: bigint_col",
    ),
    (
        "ALTER TABLE functional.alltypes SET COLUMN STATS nosuchcol"
        " ('numDVs'='1')",
        "Column 'nosuchcol' does not exist in table: functional.alltypes",
    ),
    (
        "ALTER TABLE functional.alltypes SET COLUMN STATS int_col"
        " ('maxSize'='10')",
        "Cannot update the 'maxSize' stats of column 'int_col' with type"
        " 'INT'.\nChanging 'maxSize' is only allowed for variable-length"
        " columns.",
    ),
    (
        "ALTER TABLE functional.alltypes SET TBLPROPERTIES"
        " ('storage_handler'='x')",
        "Changing the 'storage_handler' table property is not supported to"
        " protect against metadata corruption.",
    ),
    (
        "ALTER TABLE functional_seq_snap.bad_seq_snap DROP COLUMN field",
        "Cannot drop column 'field' from functional_seq_snap.bad_seq_snap."
        " Tables must contain at least 1 column.",
    ),
    (
        "ALTER TABLE functional.alltypes RENAME TO nosuchdb.t",
        "Database does not exist: nosuchdb",
    ),
    (
        "CREATE TABLE newtbl LIKE functional_kudu.alltypes",
        "Cloning a Kudu table using CREATE TABLE LIKE is not supported.",
    ),
    (
        "CREATE TABLE newtbl LIKE nosuchdb.t",
        "Database does not exist: nosuchdb",
    ),
    (
        "CREATE TABLE newtbl LIKE functional.nosuchtbl",
        "Table does not exist: functional.nosuchtbl",
    ),
    (
        "CREATE TABLE t (i INT) LOCATION 'file:///tmp/t' CACHED IN 'testPool'",
        "Location 'file:/tmp/t' cannot be cached. Please retry without"
        " caching: CREATE TABLE ... UNCACHED",
    ),
    (
        "ALTER TABLE functional.alltypes CHANGE COLUMN int_col `a$b` INT",
        "Invalid column/field name: a$b",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) STORED AS PARQUET",
        "Unsupported column options for file format 'PARQUET': 'i INT PRIMARY"
        " KEY'",
    ),
    (
        "CREATE DATA SOURCE foo LOCATION '/foo.jar' CLASS 'com.foo.Bar'"
        " API_VERSION 'V2'",
        "Invalid API version: 'V2'",
    ),
    (
        "CREATE TABLE t (i INT) PRODUCED BY DATA SOURCE nosuch",
        "Data source does not exist: 'nosuch'",
    ),
    (
        "CREATE AGGREGATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/test-udfs.ll' UPDATE_FN='Up'",
        "IR UDAs are not yet supported.",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so'",
        "Argument 'SYMBOL' must be set.",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so' SYMBOL=''",
        "Could not find symbol ''",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so' SYMBOL='_Zfoo'",
        "Could not find symbol '_Zfoo' in:"
        " hdfs://localhost:20500/test-warehouse/libTestUdfs.so",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so' SYMBOL='Foo'",
        "Could not find function Foo(INT) in:"
        " hdfs://localhost:20500/test-warehouse/libTestUdfs.so",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so' SYMBOL='Identity' PREPARE_FN=''",
        "Could not find symbol ''",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so' SYMBOL='Identity'"
        " PREPARE_FN='_Zbar'",
        "Could not find symbol '_Zbar' in:"
        " hdfs://localhost:20500/test-warehouse/libTestUdfs.so",
    ),
    (
        "CREATE FUNCTION f(INT) RETURNS INT LOCATION"
        " '/test-warehouse/libTestUdfs.so' SYMBOL='Identity' CLOSE_FN='Bar'",
        "Could not find function Bar(impala_udf::FunctionContext*,"
        " impala_udf::FunctionContext::FunctionStateScope) in:"
        " hdfs://localhost:20500/test-warehouse/libTestUdfs.so",
    ),
    (
        "CREATE TABLE t (i INT, I STRING)",
        "Duplicate column name: i",
    ),
    (
        "CREATE TABLE t PARTITIONED BY (int_col) AS SELECT int_col FROM"
        " functional.alltypes",
        "Number of partition columns (1) must be smaller than the number of"
        " columns in the select statement (1).",
    ),
    (
        "CREATE TABLE t PARTITIONED BY (int_col) AS SELECT int_col, id FROM"
        " functional.alltypes",
        "Partition column name mismatch: int_col != id",
    ),
    (
        "CREATE TABLE t (i INT) PARTITIONED BY (`a$b` INT)",
        "Invalid column/field name: a$b",
    ),
    (
        "CREATE TABLE t (i INT) PARTITIONED BY (i INT)",
        "Duplicate column name: i",
    ),
    (
        "CREATE TABLE t (i INT) PARTITIONED BY (p TIMESTAMP)",
        "Type 'TIMESTAMP' is not supported as partition-column type in column:"
        " p",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITION BY HASH (i) PARTITIONS 2"
        " STORED AS KUDU LOCATION '/x'",
        "LOCATION cannot be specified for a Kudu table.",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITION BY HASH (i) PARTITIONS 2"
        " ROW FORMAT DELIMITED STORED AS KUDU",
        "ROW FORMAT cannot be specified for file format KUDU.",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITIONED BY (p INT) STORED AS"
        " KUDU",
        "PARTITIONED BY cannot be used in Kudu tables.",
    ),
    (
        "CREATE TABLE t LIKE PARQUET"
        " '/test-warehouse/schemas/alltypestiny.parquet' STORED AS KUDU",
        "CREATE TABLE LIKE FILE statement is not supported for Kudu tables.",
    ),
    (
        "CREATE EXTERNAL TABLE t (i INT PRIMARY KEY) STORED AS KUDU",
        "Primary keys cannot be specified for an external Kudu table",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) STORED AS KUDU",
        "Table partitioning must be specified for managed Kudu tables.",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY DEFAULT isnull(1, 2)) PARTITION BY"
        " HASH (i) PARTITIONS 2 STORED AS KUDU",
        "Default value of NULL not allowed on non-nullable column: 'i'",
    ),
    (
        "CREATE TABLE t (i INT NULL PRIMARY KEY) PARTITION BY HASH (i)"
        " PARTITIONS 2 STORED AS KUDU",
        "Primary key columns cannot be nullable: i INT NULL PRIMARY KEY",
    ),
    (
        "CREATE TABLE t (i INT NULL, j INT, PRIMARY KEY (i)) PARTITION BY HASH"
        " (i) PARTITIONS 2 STORED AS KUDU",
        "Primary key columns cannot be nullable: i INT NULL",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITION BY RANGE (i) (PARTITION"
        " VALUE = int_col) STORED AS KUDU",
        "Only constant values are allowed for range-partition bounds: int_col",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITION BY RANGE (i) (PARTITION"
        " VALUE = NULL) STORED AS KUDU",
        "Range partition values cannot be NULL. Range partition: 'PARTITION"
        " VALUE = NULL'",
    ),
    (
        "CREATE TABLE t (i INT, PRIMARY KEY (i, i)) PARTITION BY HASH (i)"
        " PARTITIONS 2 STORED AS KUDU",
        "Column 'i' is listed multiple times as a PRIMARY KEY.",
    ),
    (
        "CREATE EXTERNAL TABLE t STORED AS KUDU TBLPROPERTIES"
        " ('kudu.num_tablet_replicas'='3')",
        "Table property 'kudu.num_tablet_replicas' cannot be used with an"
        " external Kudu table.",
    ),
    (
        "CREATE EXTERNAL TABLE t (i INT) STORED AS KUDU",
        "Columns cannot be specified with an external Kudu table.",
    ),
    (
        "CREATE EXTERNAL TABLE t STORED AS KUDU TBLPROPERTIES ('a'='b') AS"
        " SELECT 1",
        "CREATE TABLE AS SELECT is not supported for external Kudu tables.",
    ),
    (
        "CREATE TABLE t PRIMARY KEY (id) PARTITION BY HASH (id) PARTITIONS 2"
        " STORED AS KUDU AS SELECT id, int_array_col FROM"
        " functional.allcomplextypes",
        "Expr 'int_array_col' in select list returns a complex type"
        " 'ARRAY<INT>'.\nOnly scalar types are allowed in the select list.",
    ),
    (
        "CREATE TABLE t PRIMARY KEY (id) PARTITION BY HASH (id) PARTITIONS 2"
        " STORED AS KUDU AS SELECT id, timestamp_col FROM functional.alltypes",
        "Cannot create table 't': Type TIMESTAMP is not supported in Kudu",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY, j INT PRIMARY KEY)",
        "Multiple primary keys specified. Composite primary keys can be"
        " specified using the PRIMARY KEY (col1, col2, ...) syntax at the"
        " endPosition of the column definition.",
    ),
    (
        "CREATE VIEW v AS SELECT 1 AS `a$b`",
        "Invalid column/field name: a$b",
    ),
    (
        "CREATE VIEW v (a) AS SELECT 1, 2",
        "Column-definition list has fewer columns (1) than the view-definition"
        " query statement returns (2).",
    ),
    (
        "CREATE VIEW v (a, b, c) AS SELECT 1, 2",
        "Column-definition list has more columns (3) than the view-definition"
        " query statement returns (2).",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY ENCODING FOO) PARTITION BY HASH (i)"
        " PARTITIONS 2 STORED AS KUDU",
        "Unsupported encoding value 'FOO'. Supported encoding values are:"
        " AUTO_ENCODING, BIT_SHUFFLE, DICT_ENCODING, GROUP_VARINT,"
        " PLAIN_ENCODING, PREFIX_ENCODING, RLE",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY COMPRESSION FOO) PARTITION BY HASH"
        " (i) PARTITIONS 2 STORED AS KUDU",
        "Unsupported compression algorithm 'FOO'. Supported compression"
        " algorithms are: DEFAULT_COMPRESSION, LZ4, NO_COMPRESSION, SNAPPY,"
        " ZLIB",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY BLOCK_SIZE -1) PARTITION BY HASH"
        " (i) PARTITIONS 2 STORED AS KUDU",
        "Invalid value for BLOCK_SIZE: -. A positive INTEGER value is"
        " expected.",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY DEFAULT NULL) PARTITION BY HASH (i)"
        " PARTITIONS 2 STORED AS KUDU",
        "Default value of NULL not allowed on non-nullable column: 'i'",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY, s STRING DEFAULT 1) PARTITION BY"
        " HASH (i) PARTITIONS 2 STORED AS KUDU",
        "Default value 1 (type: TINYINT) is not compatible with column 's'"
        " (type: STRING).",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES ('avro.schema.url'='')",
        "Invalid avro.schema.url: . Can not create a Path from an empty string",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        " ('avro.schema.url'='foo://bar/s.json')",
        "Failed to read Avro schema at: foo://bar/s.json. No FileSystem for"
        " scheme: foo",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        " ('avro.schema.url'='hdfs://bad host/s.json')",
        "Failed to read Avro schema at: hdfs://bad host/s.json. Incomplete"
        " HDFS URI, no host: hdfs://bad host/s.json",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        " ('avro.schema.url'='schema.json')",
        "Invalid avro.schema.url: schema.json. Path does not exist.",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        " ('avro.schema.literal'='')",
        "Avro schema is null or empty: default.t",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"type": "record"]\')',
        "Error parsing Avro schema for table 'default.t':"
        " org.codehaus.jackson.JsonParseException: Unexpected close marker"
        " ']': expected '}'",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"type": \')',
        "Error parsing Avro schema for table 'default.t': Invalid JSON schema",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"name": "r", "type": "record"}\')',
        "Error parsing Avro schema for table 'default.t': Record has no"
        ' fields: {"name":"r","type":"record"}',
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"type": "record", "fields": []}\')',
        "Error parsing Avro schema for table 'default.t': No name in schema:"
        ' {"type":"record","fields":[]}',
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"name": "r", "type": "record", "fields":'
        ' [{"name": "d", "type": {"type": "bytes", "logicalType":'
        ' "decimal"}}]}\')',
        "Error parsing Avro schema for table 'default.t': No 'precision'"
        " property specified for 'decimal' logicalType",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"name": "r", "type": "record", "fields":'
        ' [{"name": "d", "type": {"type": "bytes", "logicalType": "decimal",'
        ' "precision": -1}}]}\')',
        "Error parsing Avro schema for table 'default.t': Invalid decimal"
        " 'precision' property value: -1",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"name": "r", "type": "record", "fields":'
        ' [{"name": "d", "type": {"type": "bytes", "logicalType": "decimal",'
        ' "precision": 5, "scale": -1}}]}\')',
        "Error parsing Avro schema for table 'default.t': Invalid decimal"
        " 'scale' property value: -1",
    ),
    (
        "CREATE TABLE t STORED AS AVRO TBLPROPERTIES"
        ' (\'avro.schema.literal\'=\'{"name": "r", "type": "record", "fields":'
        ' [{"name": "u", "type": ["int", "string"]}]}\')',
        "Unsupported type 'union' of column 'u'",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITION BY RANGE (i) (PARTITION"
        " VALUE = (1, 2)) STORED AS KUDU",
        "Number of specified range partition values is different than the"
        " number of partitioning columns: (2 vs 1). Range partition:"
        " 'PARTITION VALUE = (1,2)'",
    ),
    (
        "CREATE TABLE t (i INT PRIMARY KEY) PARTITION BY RANGE (i) (PARTITION"
        " VALUE = 'a') STORED AS KUDU",
        "Range partition value 'a' (type: STRING) is not type compatible with"
        " partitioning column 'i' (type: INT).",
    ),
    # the LIKE source resolves whether or not the new table's name is a
    # known table
    ("CREATE TABLE t2 LIKE nosuchdb.t", "Database does not exist: nosuchdb"),
    ("CREATE TABLE t2 LIKE no_such_src",
     "Table does not exist: default.no_such_src"),
]


@pytest.mark.parametrize("sql,msg", _DDL_ERROR_PATHS)
def test_strict_ddl_error_paths(sql, msg):
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    with pytest.raises(ImpalaUnsupportedError) as ei:
        translate(
            sql, strict=True, catalog=TABLE_SCHEMAS,
            schema=schema_for_statement(sql),
        )
    assert str(ei.value) == msg


def test_strict_ddl_clauses_are_read_before_the_query():
    # CREATE clauses are the depth-0 words ahead of the query: a window's
    # PARTITION BY, a LIKE predicate or a column named `location` is not
    # a table clause, and the commas of a MAP<K,V> type split no columns
    from impala_spark.testcatalog import TABLE_SCHEMAS

    for sql in (
        "CREATE VIEW v AS SELECT rank() OVER (PARTITION BY int_col "
        "ORDER BY id) r FROM functional.alltypes",
        "CREATE TABLE t AS SELECT rank() OVER (PARTITION BY int_col "
        "ORDER BY id) r FROM functional.alltypes",
        "CREATE TABLE t PRIMARY KEY (id) PARTITION BY HASH (id) PARTITIONS 2 "
        "STORED AS KUDU AS SELECT id FROM functional.alltypes "
        "WHERE string_col LIKE 'a%'",
        "CREATE TABLE t (location STRING, PRIMARY KEY (location)) "
        "PARTITION BY HASH (location) PARTITIONS 2 STORED AS KUDU",
        "ALTER TABLE functional.alltypes ADD COLUMNS "
        "(a MAP<STRING,INT>, b MAP<STRING,INT>)",
        "CREATE EXTERNAL TABLE t STORED AS KUDU",
    ):
        translate(sql, strict=True, catalog=TABLE_SCHEMAS)
    # an external Kudu CTAS with no column list is analyzed, not a crash
    with pytest.raises(ImpalaUnsupportedError) as ei:
        translate(
            "CREATE EXTERNAL TABLE t STORED AS KUDU AS SELECT 1",
            strict=True, catalog=TABLE_SCHEMAS,
        )
    assert str(ei.value) == (
        "CREATE TABLE AS SELECT is not supported for external Kudu tables."
    )


def test_scanned_tables():
    """The one table-reference resolver (authorization, auditing,
    admission, the size gates and stats routing read it): the tables
    every SELECT block's FROM clause names, from the strict analysis's
    FROM model — no catalog needed, no shape left unresolved."""
    from impala_spark.parser import scanned_tables as st

    assert st("SELECT * FROM orders") == {"orders"}
    assert st(
        "SELECT * FROM orders o JOIN lineitem l"
        " ON o.o_orderkey = l.l_orderkey"
    ) == {"orders", "lineitem"}
    assert st("SELECT * FROM customer, orders, lineitem WHERE 1=1") == {
        "customer", "orders", "lineitem",
    }
    assert st("SELECT * FROM orders AS o, lineitem AS l") == {
        "orders", "lineitem",
    }
    # WITH view names are not tables; their bodies' FROMs are
    assert st(
        "WITH c AS (SELECT 1 FROM orders)"
        " SELECT * FROM c JOIN lineitem ON TRUE"
    ) == {"orders", "lineitem"}
    # predicate subqueries are scanned
    assert st(
        "SELECT 1 FROM orders WHERE o_custkey IN"
        " (SELECT c_custkey FROM customer)"
    ) == {"orders", "customer"}
    assert st("SELECT 1") == set()
    # an inline view's body is walked; a qualified name is kept as
    # written; a FROM inside a call or operator names no table; a join
    # hint list hides no table
    assert st("SELECT * FROM (SELECT 1 FROM orders) s, lineitem") == {
        "orders", "lineitem",
    }
    assert st("SELECT * FROM functional.alltypes") == {"functional.alltypes"}
    assert st(
        "SELECT EXTRACT(YEAR FROM o_orderdate) AS y FROM orders LIMIT 1"
    ) == {"orders"}
    assert st("SELECT substring(n_name FROM 2) FROM nation") == {"nation"}
    assert st(
        "SELECT 1 FROM orders WHERE o_custkey IS NOT DISTINCT FROM o_orderkey"
    ) == {"orders"}
    assert st("SELECT a IS DISTINCT FROM b FROM t") == {"t"}
    assert st(
        "SELECT count(*) FROM customer c JOIN [shuffle,broadcast] orders o"
        " ON c.c_custkey = o.o_custkey"
    ) == {"customer", "orders"}
    assert st("SELECT a FROM x UNION ALL SELECT b FROM y") == {"x", "y"}
    # a collection path is no table: only the comma-joined, aliased
    # `a.col c` form over an earlier ref of the same FROM clause, which
    # the translator plans as LATERAL VIEW explode
    assert st("SELECT * FROM t a, a.items i") == {"t"}
    assert st("SELECT * FROM t a, a.items AS i, i.sub s") == {"t"}
    assert st("SELECT * FROM t a, (SELECT 1 FROM u b, b.items x) v") == {
        "t", "u",
    }
    # every other two-part path reaches Spark as db.table, so it is read:
    # unaliased, a JOIN operand, inside an inline view or a subquery, or
    # over a name registered only after it
    assert st("SELECT * FROM t, t.items") == {"t", "t.items"}
    assert st("SELECT * FROM t a JOIN a.items i ON TRUE") == {"t", "a.items"}
    assert st("SELECT * FROM t a WHERE EXISTS (SELECT 1 FROM a.items)") == {
        "t", "a.items",
    }
    assert st("SELECT * FROM t a, (SELECT count(*) FROM a.items) v") == {
        "t", "a.items",
    }
    assert st("SELECT * FROM (SELECT * FROM a.b) a") == {"a.b"}
    assert st("SELECT * FROM db.t.items") == {"db.t"}


def test_from_ref_path():
    """The join-form UPDATE/DELETE target lookup: the ref registering an
    alias (explicit or implicit) in a FROM clause, as written."""
    from impala_spark.parser import from_ref_path

    assert from_ref_path("o", "orders o JOIN customer c ON 1 = 1") == "orders"
    assert from_ref_path("C", "orders o, db.customer AS c") == "db.customer"
    assert from_ref_path("orders", "orders WHERE o_orderkey = 1") == "orders"
    assert from_ref_path("x", "orders o") is None
    # a word ahead of the alias that is no table ref is not the target
    assert from_ref_path("o", "(SELECT 1 AS k) o") is None


#: (statement, the subquery as written, its record's fields: context,
#: follows, clause, correlation, scalar, top-level words, LIMIT value,
#: DISTINCT, select items, FROM binds)
_SUBQUERY_RECORDS = [
    ("SELECT a FROM t WHERE a IN (SELECT b FROM u GROUP BY b)",
     "(SELECT b FROM u GROUP BY b)",
     ("in", None, "WHERE", "none", False, ["FROM", "GROUP"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE a NOT IN (SELECT DISTINCT b FROM u x WHERE x.c = t.c)",
     "(SELECT DISTINCT b FROM u x WHERE x.c = t.c)",
     ("not in", None, "WHERE", "equi", False, ["FROM", "WHERE"], None, True, 1, {"x", "u"})),
    ("SELECT a FROM t WHERE EXISTS (SELECT 1 FROM u WHERE u.c < t.c HAVING count(*) > 1)",
     "(SELECT 1 FROM u WHERE u.c < t.c HAVING count(*) > 1)",
     ("exists", None, "WHERE", "nonequi", False, ["FROM", "HAVING", "WHERE"], None, False, 1,
      {"u"})),
    ("SELECT a FROM t WHERE NOT EXISTS (SELECT b FROM u UNION SELECT c FROM v)",
     "(SELECT b FROM u UNION SELECT c FROM v)",
     ("not exists", None, "WHERE", "none", False, ["FROM", "UNION"], None, False, 1,
      {"u"})),
    ("SELECT a FROM t WHERE a = (SELECT max(b) FROM u LIMIT 1)",
     "(SELECT max(b) FROM u LIMIT 1)",
     ("cmp", None, "WHERE", "none", True, ["FROM", "LIMIT"], "1", False, 1, {"u"})),
    ("SELECT a FROM t WHERE (SELECT count(*) FROM u) < a",
     "(SELECT count(*) FROM u)",
     (None, "cmp", "WHERE", "none", True, ["FROM"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE (SELECT min(b) FROM u) NOT BETWEEN 1 AND 5",
     "(SELECT min(b) FROM u)",
     (None, "between", "WHERE", "none", True, ["FROM"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE a BETWEEN (SELECT min(b) FROM u) AND 5",
     "(SELECT min(b) FROM u)",
     ("between", None, "WHERE", "none", True, ["FROM"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE a BETWEEN 1 AND (SELECT max(b) FROM u)",
     "(SELECT max(b) FROM u)",
     ("between", None, "WHERE", "none", True, ["FROM"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE a = 1 AND (SELECT max(b) FROM u) > 2",
     "(SELECT max(b) FROM u)",
     (None, "cmp", "WHERE", "none", True, ["FROM"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE a > 1 + (SELECT max(b) FROM u)",
     "(SELECT max(b) FROM u)",
     ("arith", None, "WHERE", "none", True, ["FROM"], None, False, 1, {"u"})),
    ("SELECT a FROM t LIMIT (SELECT 1)",
     "(SELECT 1)",
     ("limit", None, "LIMIT", "none", False, [], None, False, 1, set())),
    ("SELECT a, coalesce((SELECT max(b) OVER (ORDER BY b) FROM u), 0) FROM t",
     "(SELECT max(b) OVER (ORDER BY b) FROM u)",
     (None, None, "SELECT", "none", True, ["FROM", "OVER"], None, False, 1, {"u"})),
    ("SELECT a FROM t WHERE a IN (SELECT b FROM u WHERE c IN (SELECT d FROM db.v w))",
     "(SELECT d FROM db.v w)",
     ("in", None, "WHERE", "none", False, ["FROM"], None, False, 1, {"w", "v"})),
    ("WITH w AS (SELECT a FROM t WHERE a IN (SELECT b, c FROM u)) SELECT * FROM w",
     "(SELECT b, c FROM u)",
     ("in", None, "WHERE", "none", False, ["FROM"], None, False, 2, {"u"})),
    ("WITH w AS (SELECT a FROM t WHERE a IN (SELECT b, c FROM u)) SELECT * FROM w",
     "(SELECT a FROM t WHERE a IN (SELECT b, c FROM u))",
     (None, None, None, "none", False, ["FROM", "WHERE"], None, False, 1, {"t"})),
    ("SELECT * FROM t JOIN s j ON t.a = j.a WHERE t.b IN (SELECT c FROM u WHERE u.d = j.d)",
     "(SELECT c FROM u WHERE u.d = j.d)",
     ("in", None, "WHERE", "equi", False, ["FROM", "WHERE"], None, False, 1, {"u"})),
    ("SELECT * FROM (SELECT a FROM t) v JOIN u ON v.a IN (VALUES (1))",
     "(VALUES (1))",
     ("in", None, "ON", "none", False, [], None, False, 0, set())),
]


@pytest.mark.parametrize("sql,sub,want", _SUBQUERY_RECORDS)
def test_subquery_record(sql, sub, want):
    """Each `( SELECT` / `( VALUES` group is analyzed once into a
    _Subquery: its predicate context, its clause, its top-level facts
    and its correlation."""
    from impala_spark.parser import _Analysis, tokenize, untokenize

    ctx = _Analysis(tokenize(sql))
    s = next(
        s for s in ctx.subqueries
        if untokenize(ctx.tokens[s.open:s.close + 1]) == sub
    )
    limit = next((
        untokenize(ctx.tokens[c.lo:c.hi]).strip() for c in s.clauses("LIMIT")
    ), None)
    blk = s.block
    got = (
        s.context, s.follows, s.clause, s.correlation, s.scalar,
        sorted(s.words), limit, blk is not None and blk.distinct,
        len(blk.items) if blk else 0, set(s.binds),
    )
    assert got == want
