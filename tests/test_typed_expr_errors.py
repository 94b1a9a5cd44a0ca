"""Exact-text parity for typed-expression analysis errors
(AnalyzeExprsTest.java cast/arity/operand territory — r5 verdict task #5).

Every negative case pins the reference's exact message for operand types
statically known at the token level (literals and explicit CASTs); the
positive block guards against false positives in the same territory.
"""

import pytest

from impala_spark.parser import ImpalaUnsupportedError
from impala_spark.parser import translate as tr


# (sql, exact error text) — reference file:line in the comment
NEGATIVE = [
    # --- ExtractFromExpr.java:69-94 ---
    (
        "select extract(foo from now())",
        "Time unit 'foo' in expression 'EXTRACT(foo FROM now())' is "
        "invalid. Expected one of YEAR, MONTH, DAY, HOUR, MINUTE, SECOND, "
        "MILLISECOND, EPOCH.",
    ),
    (
        "select extract(year from 0)",
        "Expression '0' in 'EXTRACT(year FROM 0)' has a return type of "
        "TINYINT but a TIMESTAMP is required.",
    ),
    (
        "select extract(year from 5.2)",
        "Expression '5.2' in 'EXTRACT(year FROM 5.2)' has a return type of "
        "DECIMAL(2,1) but a TIMESTAMP is required.",
    ),
    (
        "select date_part(year from now())",
        "Function DATE_PART does not accept the keyword FROM.",
    ),
    # --- BinaryPredicate.java:178-183 (cast-typed operands) ---
    (
        "select cast(NULL as int) = cast(NULL as string)",
        "operands of type INT and STRING are not comparable: "
        "CAST(NULL AS INT) = CAST(NULL AS STRING)",
    ),
    (
        "select cast(NULL as string) < cast(NULL as double)",
        "operands of type STRING and DOUBLE are not comparable: "
        "CAST(NULL AS STRING) < CAST(NULL AS DOUBLE)",
    ),
    (
        "select cast(NULL as boolean) != cast(NULL as timestamp)",
        "operands of type BOOLEAN and TIMESTAMP are not comparable: "
        "CAST(NULL AS BOOLEAN) != CAST(NULL AS TIMESTAMP)",
    ),
    (
        "select cast(NULL as decimal) >= cast(NULL as string)",
        "operands of type DECIMAL(9,0) and STRING are not comparable: "
        "CAST(NULL AS DECIMAL(9,0)) >= CAST(NULL AS STRING)",
    ),
    (
        "select cast(NULL as timestamp) <=> cast(NULL as bigint)",
        "operands of type TIMESTAMP and BIGINT are not comparable: "
        "CAST(NULL AS TIMESTAMP) <=> CAST(NULL AS BIGINT)",
    ),
    (
        "select cast(NULL as float) <> cast(NULL as timestamp)",
        "operands of type FLOAT and TIMESTAMP are not comparable: "
        "CAST(NULL AS FLOAT) <> CAST(NULL AS TIMESTAMP)",
    ),
    # --- r7 generalization to literal operands: the reference has no
    #     string-literal leniency in comparisons (AnalyzeExprsTest.java
    #     :328-331 "No implicit cast from STRING to numeric and boolean")
    (
        "select 5 = 'x'",
        "operands of type TINYINT and STRING are not comparable: 5 = 'x'",
    ),
    (
        "select 'x' > 5",
        "operands of type STRING and TINYINT are not comparable: 'x' > 5",
    ),
    (
        "select true = '0'",
        "operands of type BOOLEAN and STRING are not comparable: TRUE = '0'",
    ),
    (
        "select cast('a' as char(3)) = TIMESTAMP '2020-01-01 00:00:00'",
        "operands of type CHAR(3) and TIMESTAMP are not comparable:",
    ),
    # --- AnalyzeExprsTest TestDecimalCasts ---
    (
        "select cast(true as decimal)",
        "Invalid type cast of TRUE from BOOLEAN to DECIMAL(9,0)",
    ),
    (
        "select cast(cast(1 as timestamp) as decimal)",
        "Invalid type cast of CAST(1 AS TIMESTAMP) from TIMESTAMP to "
        "DECIMAL(9,0)",
    ),
    (
        "select cast(cast(1 as timestamp) as decimal(12,3))",
        "Invalid type cast of CAST(1 AS TIMESTAMP) from TIMESTAMP to "
        "DECIMAL(12,3)",
    ),
    # --- TimestampArithmeticExpr.java:142-155 ---
    (
        "select timestamp_col + interval 5.2 years from t",
        "Operand '5.2' of timestamp arithmetic expression "
        "'timestamp_col + INTERVAL 5.2 years' returns type 'DECIMAL(2,1)'. "
        "Expected an integer type.",
    ),
    (
        "select timestamp_col + interval '10' years from t",
        "Operand ''10'' of timestamp arithmetic expression "
        "'timestamp_col + INTERVAL '10' years' returns type 'STRING'. "
        "Expected an integer type.",
    ),
    (
        "select interval 5.2 years + timestamp_col from t",
        "Operand '5.2' of timestamp arithmetic expression "
        "'INTERVAL 5.2 years + timestamp_col' returns type 'DECIMAL(2,1)'. "
        "Expected an integer type.",
    ),
    (
        "select date_add(timestamp_col, interval '10' years) from t",
        "Operand ''10'' of timestamp arithmetic expression "
        "'DATE_ADD(timestamp_col, INTERVAL '10' years)' returns type "
        "'STRING'. Expected an integer type.",
    ),
    (
        "select date_sub(timestamp_col, interval 3.5 days) from t",
        "Operand '3.5' of timestamp arithmetic expression "
        "'DATE_SUB(timestamp_col, INTERVAL 3.5 days)' returns type "
        "'DECIMAL(2,1)'. Expected an integer type.",
    ),
    (
        "select 5.0 - interval 2 months from t",
        "Operand '5.0' of timestamp arithmetic expression "
        "'5.0 - INTERVAL 2 months' returns type 'DECIMAL(2,1)'. "
        "Expected type 'TIMESTAMP'.",
    ),
    (
        "select 'abc' + interval 10 years from t",
        "Operand ''abc'' of timestamp arithmetic expression "
        "''abc' + INTERVAL 10 years' returns type 'STRING'. "
        "Expected type 'TIMESTAMP'.",
    ),
    # --- ArithmeticExpr.java:176-183 (numeric operands) ---
    (
        "select true + 1",
        "Arithmetic operation requires numeric operands: true + 1",
    ),
    (
        "select cast(x as boolean) * 2 from t",
        "Arithmetic operation requires numeric operands: "
        "cast(x as boolean) * 2",
    ),
    (
        "select 'a' + 'b'",
        "Arithmetic operation requires numeric operands: 'a' + 'b'",
    ),
    (
        "select cast(x as timestamp) * 2 from t",
        "Arithmetic operation requires numeric operands: "
        "cast(x as timestamp) * 2",
    ),
    (
        "select 1 % false",
        "Arithmetic operation requires numeric operands: 1 % false",
    ),
    # --- ArithmeticExpr.java:210-218 (integer-only binary ops) ---
    (
        "select 5.2 ^ 3",
        "Invalid non-integer argument to operation '^': 5.2 ^ 3",
    ),
    (
        "select 1.5 & col from t",
        "Invalid non-integer argument to operation '&': 1.5 & col",
    ),
    (
        "select 2.5e1 | 4",
        "Invalid non-integer argument to operation '|': 2.5e1 | 4",
    ),
    (
        "select 7 DIV 2.5",
        "Invalid non-integer argument to operation 'DIV': 7 DIV 2.5",
    ),
    (
        "select cast(x as double) ^ 2 from t",
        "Invalid non-integer argument to operation '^': "
        "cast(x as double) ^ 2",
    ),
    # --- ArithmeticExpr.java:225-230 (integer-only unary ops) ---
    (
        "select ~5.2",
        "'~' operation only allowed on integer types: ~5.2",
    ),
    (
        "select 5.2!",
        "'!' operation only allowed on integer types: 5.2!",
    ),
    (
        "select ~cast(x as float) from t",
        "'~' operation only allowed on integer types: ~cast(x as float)",
    ),
]

POSITIVE = [
    "select extract(year from now())",
    "select extract(epoch from ts) from t",
    "select extract(millisecond from cast(x as timestamp)) from t",
    "select date_part('year', now())",
    "select cast(NULL as string) = cast(NULL as timestamp)",  # implicit ok
    "select cast(NULL as int) = cast(NULL as bigint)",
    "select cast(NULL as decimal(12,2)) < cast(NULL as double)",
    # NOTE: r6 listed `5 = 'x'` here assuming string literals convert to
    # numeric in comparisons; the reference pins the opposite
    # (AnalyzeExprsTest.java:328-331 "No implicit cast from STRING to
    # numeric and boolean") — moved to the error cases below in r7.
    "select cast(1.1 as decimal(10,2))",
    "select ts + interval 10 years from t",
    "select NULL - interval 2 days from t",
    "select ts + interval cast('10' as int) years from t",
    "select timestamp '2020-01-01 00:00:00' + interval 1 day",
    "select date_add(ts, interval 2 days) from t",
    "select 5 ^ 3, 6 & 2, 7 | 1, 9 DIV 2",
    "select ~5, 3!",
    "select 1 + 2.5, 'a' || 'b'",
    "select -x, -5.5 from t",
]


def test_typed_expr_negative_exact_texts():
    for sql, msg in NEGATIVE:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql


def test_typed_expr_positive_forms_accepted():
    for sql in POSITIVE:
        tr(sql, strict=True)  # must not raise


GRAMMAR_NEGATIVE = [
    # star / .* misuse (sql-parser.cup select_list ParserErrors)
    "select * + 5 from tbl",
    "select (*) from tbl",
    "select *.id from tbl",
    "select * from tbl where * = 5",
    "select * from tbl where tbl.* = 5",
    "select * from tbl where f(tbl.*) = 5",
    "select *a from t",
    # VALUES misuse
    "values 1, 'a', 1.0",
    "select values(1, 'a')",
    "values((1, 2, 3), values(1, 2, 3))",
    # dangling operators / empty clauses
    "select 1- from t",
    "select 1 + from t",
    "select c, b, c from t where",
    "select a, b, c from t where in (1, 2)",
    # FROM-less SELECT with ORDER BY / LIMIT
    "select a, 2 limit 1",
    "select a, 2 order by 1",
    # cast comma form, nested comments, blank identifiers
    "select cast(a + 5.0, string) from t",
    "select /* /* x */ */ 1",
    "select a from ` `",
    "select a from ``",
    # statement-head shapes
    "insert into table select a from src",
    "insert overwrite table select a from src",
    "update from t set x = 3",
    "explain explain select 1",
    "explain create table foo (i int)",
    "describe database",
    "describe formatted",
    "drop database foo.bar",
    "refresh a.b.c",
    "load data local inpath '/a/b' into table foo",
    "set foo",
    "set foo=",
    "set foo=1+2",
    "alter view as select 1",
    "alter view foo.bar select 1",
    # CREATE TABLE clause order / formats / partition defs / PK position
    "create table foo (d double) comment 'c' partitioned by (i int)",
    "create table foo (d double) stored as textfile row format delimited",
    "create table foo (d double) location 'a' comment 'c'",
    "create table foo (d double) tblproperties('a'='b') location 'a'",
    "create table foo (i int) partitioned by (int)",
    "create table foo (i int, s string) stored as seqfile",
    "create table foo (primary key(a), a int)",
    "create view foo.bar (int comment 'x') as select c from t",
]

GRAMMAR_POSITIVE = [
    "select * from tbl",
    "select t.*, a from t",
    "select count(*) from t",
    "select a, * from t",
    "values (1, 'a'), (2, 'b')",
    "select * from (values (1, 'x'), (2, 'y')) as v(id, name)",
    "insert into t values (1, 'a')",
    "select a * b, a - 1, -a from t",
    "select 5 * -1",
    "select 1",
    "select a from t where a > (select b from u order by b limit 1)",
    "create table foo (d double) partitioned by (i int) comment 'c' "
    "row format delimited stored as parquet location '/x' "
    "tblproperties('a'='b')",
    "create table foo (a int, primary key(a))",
    "create table t2 like t1",
    "create table t3 stored as parquet as select * from t",
    "set foo=10",
    "set",
    "describe t",
    "describe formatted t",
    "refresh a.b",
    "alter view v as select 1",
    "alter view v rename to w",
    "select cast(a as string) from t",
]


def test_grammar_negative_statements_rejected():
    """The reference ParserTest's negative tail (r5 verdict missing #3):
    each is a sql-parser.cup ParserError that Spark's laxer grammar used
    to accept end-to-end; the strict layer must reject every one."""
    for sql in GRAMMAR_NEGATIVE:
        with pytest.raises(ImpalaUnsupportedError):
            tr(sql, strict=True)


def test_grammar_positive_statements_accepted():
    for sql in GRAMMAR_POSITIVE:
        tr(sql, strict=True)  # must not raise


def test_ddl_value_errors_exact_texts():
    """AnalyzeDDLTest value-level errors needing no catalog:
    property-length caps (util/MetaStoreUtil.java:51-54,153-173), ROW
    FORMAT terminators (TableDef.java:314-322), absolute LOCATION URIs
    (HdfsUri.java:80-83), MetaStore name validation (TableName.java:55-64,
    CreateDbStmt.java:84-87, ColumnDef.java:169-172)."""
    cases = [
        (
            "create table t (i int) tblproperties('%s'='x')" % ("k" * 257),
            "Property key length must be <= 256: 257",
        ),
        (
            "create table t (i int) tblproperties('a'='%s')" % ("v" * 4001),
            "Property value length must be <= 4000: 4001",
        ),
        (
            "create table t (i int) row format delimited "
            "fields terminated by 'xy'",
            "ESCAPED BY values and LINE/FIELD terminators must be specified "
            "as a single character or as a decimal value in the range "
            "[-128:127]: xy",
        ),
        (
            "create table t (i int) row format delimited "
            "fields terminated by '|' escaped by '128'",
            "ESCAPED BY values and LINE/FIELD terminators must be specified "
            "as a single character or as a decimal value in the range "
            "[-128:127]: 128",
        ),
        (
            "create table t (i int) location 'bad-location'",
            "URI path must be absolute: bad-location",
        ),
        ("create database `???`", "Invalid database name: ???"),
        ("create table `%^&` (i int)", "Invalid table/view name: %^&"),
        ("create table `bad db`.`t` (i int)", "Invalid database name: bad db"),
        ("drop table `%^&`", "Table does not exist: default.%^&"),
        ("create table t (`x y z` int)", "Invalid column/field name: x y z"),
    ]
    for sql, msg in cases:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql
    # legal forms untouched
    for sql in [
        "create table t (i int) tblproperties('a'='b')",
        "create table t (i int) row format delimited "
        "fields terminated by '|' escaped by '-2'",
        "create table t (i int) location '/abs/path'",
        "create table t (i int) location 'hdfs://nn/path'",
        "create database ok_db",
        "create table `ok_tbl` (`ok_col` int)",
    ]:
        tr(sql, strict=True)


def test_correlated_subquery_eligibility_errors():
    """StmtRewriter.canRewriteCorrelatedSubquery (StmtRewriter.java:
    641-698, 846-860): correlated subqueries the decorrelation rewrite
    cannot express are analysis errors with the reference's texts."""
    neg = [
        (
            "select * from t a where a.id in "
            "(select max(x) from u where u.k = a.k)",
            "Unsupported correlated subquery with grouping and/or "
            "aggregation: SELECT max(x) FROM u WHERE u.k = a.k",
        ),
        (
            "select * from t a where a.id in "
            "(select x from u where u.k = a.k group by x)",
            "Unsupported correlated subquery with grouping and/or "
            "aggregation",
        ),
        (
            "select * from t a where a.v > "
            "(select max(x) from u where u.k = a.k group by u.g)",
            "Unsupported correlated subquery with grouping and/or "
            "aggregation",
        ),
        (
            "select * from t a where a.id in "
            "(select x from u where u.k = a.k limit 5)",
            "Unsupported correlated subquery with a LIMIT clause: "
            "SELECT x FROM u WHERE u.k = a.k LIMIT 5",
        ),
        (
            "select * from t a where a.v > "
            "(select x from u where u.k = a.k limit 1)",
            "Unsupported correlated subquery with a LIMIT clause",
        ),
        (
            "select * from t a where exists "
            "(select 1 from u where u.k = a.k having x > 2)",
            "Unsupported correlated EXISTS subquery with a HAVING clause",
        ),
        (
            "select * from t a where a.v > "
            "(select 1 + count(*) from u where u.k = a.k)",
            "Aggregate function that returns non-null on an empty input "
            "cannot be used in an expression in a correlated subquery's "
            "select list: (SELECT 1 + count(*) FROM u WHERE u.k = a.k)",
        ),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql
    pos = [
        # correlated but rewritable
        "select * from t a where a.v > (select max(x) from u where u.k = a.k)",
        "select * from t a where exists (select 1 from u where u.k = a.k)",
        "select * from t a where a.id in (select x from u where u.k = a.k)",
        # cmp + agg + LIMIT: the rewrite drops the LIMIT (allowed)
        "select * from t a where a.v > "
        "(select max(x) from u where u.k = a.k limit 1)",
        # non-correlated: everything allowed
        "select * from t a where a.id in (select x from u limit 5)",
        "select * from t a where a.v > (select 1 + count(*) from u)",
        # alias shadowed inside the subquery: not correlated
        "select * from t a where a.id in "
        "(select x from w a where a.k = 3 limit 2)",
    ]
    for sql in pos:
        tr(sql, strict=True)


def test_stmt_shape_errors_exact_texts():
    """AnalyzeStmtsTest statement shapes needing no schema: nested
    OFFSET-without-LIMIT (QueryStmt.java:202-205), duplicate
    partition-clause columns (InsertStmt.java:330-334), and the
    GROUP_CONCAT(DISTINCT) constant separator (FunctionCallExpr.java:
    468-475)."""
    neg = [
        (
            "select * from (select a from t order by a offset 5) v",
            "Order-by with offset without limit not supported in nested "
            "queries.",
        ),
        (
            "insert into t partition (year, year) select * from u",
            "Duplicate column 'year' in partition clause",
        ),
        (
            "insert into t partition (year=1, Year=2) select * from u",
            "Duplicate column 'year' in partition clause",
        ),
        (
            "select group_concat(distinct a, b) from t",
            "Second parameter in GROUP_CONCAT(DISTINCT) must be a constant "
            "expression that returns a string.",
        ),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True)
        assert msg in str(ei.value), sql
    for sql in [
        "select * from (select a from t order by a limit 10 offset 5) v",
        "select a from t order by a offset 5",  # root query: allowed
        "insert into t partition (year=1, month=2) select * from u",
        "select group_concat(distinct a, ', ') from t",
        "select group_concat(a, b) from t",  # non-DISTINCT: no constraint
        "alter table t drop partition (year=1, year=2)",
    ]:
        tr(sql, strict=True)


def test_clause_bool_type_errors_pin_reference_texts():
    """Expr.checkReturnsBool (A/Expr.java:986-994) over WHERE/HAVING/ON:
    AnalyzeStmtsTest.java:1801-1805 (WHERE, no expr printed),
    :2131-2135 (HAVING, toSql quoted), :1297-1305 (ON, toSql quoted).
    Result types come from the recursive-descent _expr_type — literal
    demotion + arithmetic promotion per A/TypesUtil.java and
    Expr.convertNumericLiteralsFromDecimal."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import schema_for_statement

    neg = [
        ("select id from functional.alltypes where int_col",
         "WHERE clause requires return type 'BOOLEAN'. Actual type is 'INT'."),
        ("select id from functional.alltypes where trim('abc')",
         "WHERE clause requires return type 'BOOLEAN'. "
         "Actual type is 'STRING'."),
        ("select id from functional.alltypes where (int_col + float_col) * 10",
         "WHERE clause requires return type 'BOOLEAN'. "
         "Actual type is 'DOUBLE'."),
        ("select count(*) from functional.alltypes group by bool_col "
         "having 5 + 10 * 5.6",
         "HAVING clause '5 + 10 * 5.6' requires return type 'BOOLEAN'. "
         "Actual type is 'DOUBLE'."),
        # boolean check precedes the aggregation-membership error
        ("select count(*) from functional.alltypes group by bool_col "
         "having int_col",
         "HAVING clause 'int_col' requires return type 'BOOLEAN'. "
         "Actual type is 'INT'."),
        ("select a.int_col from functional.alltypes a "
         "join functional.alltypes b on trim(a.string_col)",
         "ON clause 'trim(a.string_col)' requires return type 'BOOLEAN'. "
         "Actual type is 'STRING'."),
        ("select a.int_col from functional.alltypes a "
         "join functional.alltypes b on a.int_col * b.float_col",
         "ON clause 'a.int_col * b.float_col' requires return type "
         "'BOOLEAN'. Actual type is 'DOUBLE'."),
        # the ON after an inline view is a join ON too
        ("select 1 from functional.alltypes a "
         "join (select id from functional.alltypes) v on 1",
         "ON clause '1' requires return type 'BOOLEAN'. "
         "Actual type is 'TINYINT'."),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql))
        assert msg in str(ei.value), sql
    # legal boolean / untypeable clauses untouched
    for sql in [
        "select id from functional.alltypes where bool_col",
        "select id from functional.alltypes where int_col = 5",
        "select id from functional.alltypes where null",
        "select count(*) from functional.alltypes group by bool_col "
        "having bool_col",
        "select a.int_col from functional.alltypes a "
        "join functional.alltypes b on a.id = b.id",
        "select id from functional.alltypes where unknown_col",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql))


def test_typed_operand_and_rendering_parity_round7():
    """Round-7 wrong-error fixes, each citing the reference rule:
    - ArithmeticExpr.analyze checks ALL children for numeric-ness before
      any integer-only rule (AnalyzeExprsTest bit-op pins)
    - TimestampArithmeticExpr.java:142-147: reversed and DATE_ADD forms
      type their first operand (STRING included — no implicit cast)
    - Analyzer.castAllToCompatibleType never advances lastCompatibleExpr
      (Analyzer.java:2237): IN-list incompatibility names the FIRST expr
    - StmtRewriter error suffixes are toSql-rendered (uppercase keywords)
    """
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import schema_for_statement

    neg = [
        ("select int_col from functional.alltypes where "
         "float_col & bool_col > 5",
         "Arithmetic operation requires numeric operands"),
        ("select interval 10 years + string_col from functional.alltypes",
         "Operand 'string_col' of timestamp arithmetic expression "
         "'INTERVAL 10 years + string_col' returns type 'STRING'. "
         "Expected type 'TIMESTAMP'"),
        ("select interval 10 years + float_col from functional.alltypes",
         "Operand 'float_col' of timestamp arithmetic expression "
         "'INTERVAL 10 years + float_col' returns type 'FLOAT'. "
         "Expected type 'TIMESTAMP'"),
        ("select date_add(float_col, interval 10 years) "
         "from functional.alltypes",
         "Operand 'float_col' of timestamp arithmetic expression "
         "'DATE_ADD(float_col, INTERVAL 10 years)' returns type 'FLOAT'. "
         "Expected type 'TIMESTAMP'"),
        ("select * from functional.alltypes where "
         "timestamp_col in (NULL, int_col)",
         "Incompatible return types 'TIMESTAMP' and 'INT' of exprs "
         "'timestamp_col' and 'int_col'."),
        ("select * from functional.alltypes t where t.id in "
         "(select id from functional.alltypesagg) or t.bool_col = false",
         "Subqueries in OR predicates are not supported: t.id IN "
         "(SELECT id FROM functional.alltypesagg) OR t.bool_col = FALSE"),
        ("select lag(tinyint_col, 1, null) over (partition by id) "
         "from functional.alltypes",
         "'lag(tinyint_col, 1, NULL)' requires an ORDER BY clause"),
        ("select int_col from functional.alltypes union "
         "select int_col, float_col from functional.alltypes",
         "Operands have unequal number of columns:\n"
         "'SELECT int_col FROM functional.alltypes' has 1 column(s)\n"
         "'SELECT int_col, float_col FROM functional.alltypes' has "
         "2 column(s)"),
        # a union in an inline view or a WITH view is checked too
        ("select * from (select 1 a union select 1, 2) v",
         "Operands have unequal number of columns:\n"
         "'SELECT 1 a' has 1 column(s)\n'SELECT 1, 2' has 2 column(s)"),
        ("with v as (select 1 a union all select 1, 2) select * from v",
         "Operands have unequal number of columns:\n"
         "'SELECT 1 a' has 1 column(s)\n'SELECT 1, 2' has 2 column(s)"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql))
        assert msg in str(ei.value), sql
    # legal forms untouched
    for sql in [
        "select interval 10 years + timestamp_col from functional.alltypes",
        "select date_add(timestamp_col, interval 10 years) "
        "from functional.alltypes",
        "select timestamp_col + interval 10 years from functional.alltypes",
        "select int_col & tinyint_col from functional.alltypes",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql))


def test_analytic_placement_and_param_errors():
    """Analytic placement + parameter rules with the reference's texts:
    SelectStmt.java:236-246 (WHERE), :545-548 (HAVING),
    TableRef.java:494-518 (ON clause, OUTER/SEMI join ON requirement),
    AnalyticExpr.java:414/:493/:499-510/:539/:548-553."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import schema_for_statement

    neg = [
        ("select id from functional.alltypes where "
         "row_number() over(order by id) > 1",
         "WHERE clause must not contain analytic expressions: "
         "row_number() OVER (ORDER BY id ASC)"),
        ("select id, count(*) from functional.alltypes group by 1 "
         "having rank() over(order by int_col) > 1",
         "HAVING clause must not contain analytic expressions: "
         "rank() OVER (ORDER BY int_col ASC)"),
        ("select a.int_col from functional.alltypes a join "
         "functional.alltypes b on (a.bigint_col = sum(b.int_col))",
         "aggregate function not allowed in ON clause"),
        ("select a.int_col from functional.alltypes a join "
         "functional.alltypes b on "
         "(a.bigint_col = lag(b.int_col) over(order by a.bigint_col))",
         "analytic expression not allowed in ON clause"),
        ("select * from functional.alltypes a left outer join "
         "functional.alltypes b",
         "LEFT OUTER JOIN requires an ON or USING clause"),
        ("select * from functional.alltypes a full outer join "
         "functional.alltypes b",
         "FULL OUTER JOIN requires an ON or USING clause"),
        ("select max(int_col) over (partition by id order by tinyint_col "
         "rows 2 preceding) from functional.alltypes",
         "'max(int_col)' is only supported with an UNBOUNDED PRECEDING "
         "startPosition bound."),
        ("select lag(int_col, tinyint_col * 2, 5) over "
         "(order by tinyint_col, int_col) from functional.alltypes",
         "The offset parameter of LEAD/LAG must be a constant positive "
         "integer"),
        ("select lag(int_col, 1, int_col) over (order by tinyint_col) "
         "from functional.alltypes",
         "The default parameter (parameter 3) of LEAD/LAG must be a "
         "constant"),
        ("select ntile(-1) over(order by int_col) from "
         "functional.alltypestiny",
         "NTILE() requires a positive argument: -1"),
        ("select ntile(int_col) over(order by tinyint_col) from "
         "functional.alltypestiny",
         "NTILE() requires a constant argument"),
        ("select max(int_col) over (partition by id order by "
         "rank() over (order by tinyint_col), int_col) from "
         "functional.alltypes",
         "Nesting of analytic expressions is not allowed"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql))
        assert msg in str(ei.value), sql
    for sql in [
        "select * from functional.alltypes a left join "
        "functional.alltypes b using (id)",
        "select * from functional.alltypes a cross join "
        "functional.alltypes b",
        # reverseWindow standardization: end UNBOUNDED FOLLOWING is legal
        "select max(id) over (order by id rows between current row and "
        "unbounded following) from functional.alltypes",
        "select min(int_col) over (order by id rows unbounded preceding) "
        "from functional.alltypes",
        "select ntile(3) over(order by int_col) from functional.alltypes",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql))


def test_subquery_predicate_shape_errors():
    """Subquery-placement constraints with the reference's texts:
    Subquery.java:77-81 (single select block), LimitElement.java:109-113,
    IsNullPredicate.java:108-118, BinaryPredicate.java:176-218 (order:
    single-row/comparability -> multiple -> EXISTS -> IN), and the
    StmtRewriter join-rewrite eligibility rules (:455-505)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import schema_for_statement

    neg = [
        ("select * from functional.alltypes where exists "
         "(select id from functional.alltypestiny union "
         "select id from functional.alltypesagg)",
         "A subquery must contain a single select block: (SELECT id FROM "
         "functional.alltypestiny UNION SELECT id FROM "
         "functional.alltypesagg)"),
        ("select * from functional.alltypes where exists (values(1))",
         "A subquery must contain a single select block: (VALUES(1))"),
        ("select * from functional.alltypes limit "
         "(select count(*) from functional.alltypesagg)",
         "LIMIT expression must be a constant expression: "
         "(SELECT count(*) FROM functional.alltypesagg)"),
        ("select * from functional.alltypestiny t where "
         "(id in (select id from functional.alltypes)) is null",
         "Unsupported IS NULL predicate that contains a subquery: "
         "(id IN (SELECT id FROM functional.alltypes)) IS NULL"),
        ("select * from functional.alltypestiny t where "
         "(select count(*) from functional.alltypessmall) = "
         "(select count(*) from functional.alltypesagg)",
         "Multiple subqueries are not supported in binary predicates"),
        ("select * from functional.alltypes where "
         "if(exists(select * from functional.alltypesagg), 1, 0) = 1",
         "EXISTS subquery predicates are not supported in binary "
         "predicates: if(EXISTS (SELECT * FROM functional.alltypesagg), "
         "1, 0) = 1"),
        ("select * from functional.alltypestiny where "
         "(tinyint_col in (1,2)) = "
         "(bool_col in (select bool_col from functional.alltypes))",
         "IN subquery predicates are not supported in binary predicates"),
        # comparability precedes the IN-in-binary rule
        ("select * from functional.alltypes t where "
         "(id in (select id from functional.alltypestiny)) = 'string_val'",
         "operands of type BOOLEAN and STRING are not comparable: "
         "(id IN (SELECT id FROM functional.alltypestiny)) = 'string_val'"),
        # direct non-single-row subquery operand beats the multiple rule
        ("select * from functional.alltypestiny where "
         "(select max(id) from functional.alltypes) = "
         "(select id from functional.alltypestiny)",
         "Subquery must return a single row: "
         "(SELECT id FROM functional.alltypestiny)"),
        ("select id from functional.alltypestiny where int_col = "
         "(select int_col from functional.alltypessmall limit 2)",
         "Subquery must return a single row: (SELECT int_col FROM "
         "functional.alltypessmall LIMIT 2)"),
        ("select * from functional.alltypes t where 1 in "
         "(select int_col from functional.alltypesagg)",
         "Unsupported predicate with subquery: 1 IN "
         "(SELECT int_col FROM functional.alltypesagg)"),
        ("select * from functional.alltypestiny t1 where 10 not in "
         "(select max(int_col) from functional.alltypestiny)",
         "Unsupported NOT IN predicate with subquery: 10 NOT IN "
         "(SELECT max(int_col) FROM functional.alltypestiny)"),
        ("select * from functional.alltypes a where 1 not in "
         "(select id from functional.alltypesagg s "
         "where s.int_col = a.int_col)",
         "Unsupported NOT IN predicate with subquery: 1 NOT IN (SELECT id "
         "FROM functional.alltypesagg s WHERE s.int_col = a.int_col)"),
        ("select * from functional.alltypestiny t where exists "
         "(select int_col + 1 from functional.alltypessmall s "
         "where t.int_col = 10)",
         "Unsupported predicate with subquery: EXISTS (SELECT int_col + 1 "
         "FROM functional.alltypessmall s WHERE t.int_col = 10)"),
        # BETWEEN in the quoted subquery is re-emitted in its rewritten
        # compound form (BetweenToCompoundRule precedes toSql)
        ("select 1 from functional.alltypes t where EXISTS (select id "
         "from functional.alltypessmall a where a.int_col between "
         "t.tinyint_col and t.bigint_col)",
         "Unsupported predicate with subquery: EXISTS (SELECT id FROM "
         "functional.alltypessmall a WHERE a.int_col >= t.tinyint_col "
         "AND a.int_col <= t.bigint_col)"),
        # outer aliases are invisible in a subquery's GROUP BY / ORDER BY
        ("select * from functional.jointbl t where test_zip in "
         "(select count(*) from functional.alltypes group by t.test_id)",
         "Could not resolve column/field reference: 't.test_id'"),
        ("select * from functional.jointbl t where exists "
         "(select t.* from functional.alltypes)",
         "Could not resolve star expression: 't.*'"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql))
        assert msg in str(ei.value), sql
    for sql in [
        "select * from functional.alltypes t where t.id = "
        "(select min(id) from functional.alltypesagg)",
        "select * from functional.alltypes t where "
        "(select max(id) from functional.alltypesagg) is null",
        "select * from functional.alltypes t where exists "
        "(select 1 from functional.alltypesagg g where g.id = t.id)",
        "select * from (select id from functional.alltypes union "
        "select id from functional.alltypesagg) v",
        "select * from functional.alltypes t where t.id in "
        "(select id from functional.alltypesagg)",
        "select * from functional.alltypes t where 1 in "
        "(select max(int_col) from functional.alltypesagg)",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql))


def test_offset_and_cte_alias_collision_errors():
    """OFFSET-without-ORDER-BY must win over the grouped-select check
    even when OFFSET trails a GROUP BY ordinal (AnalyzeStmtsTest pins
    `group by 1 offset 5` -> the OFFSET text: OFFSET terminates the
    GROUP BY region like every other clause keyword), and a bare table
    ref naming a WITH-clause view whose implicit alias collides with an
    earlier explicit alias is a Duplicate-table-alias error, not an
    illegal-collection-ref one (Analyzer.registerTableRef order)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select * from (select zip, count(*) from (select * from "
         "functional.testtbl) x group by 1 offset 5) x",
         "OFFSET requires an ORDER BY clause: OFFSET 5"),
        ("with t1 as (select 1 x), t2 as (select 2 y) select * from "
         "functional.alltypes as t1 inner join t1",
         "Duplicate table alias: 't1'"),
        ("with t1 as (select 1) select * from (select 2) as t1 "
         "inner join t1",
         "Duplicate table alias: 't1'"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    # positives: ordinal GROUP BY with a real ORDER BY + OFFSET is fine;
    # distinct CTE/alias names coexist
    for sql in [
        "select zip, count(*) from functional.testtbl group by 1 "
        "order by 1 limit 10 offset 5",
        "with t1 as (select 1 x) select * from functional.alltypes "
        "as t9 inner join t1",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_compound_predicate_operand_errors():
    """CompoundPredicate.analyzeImpl (A/CompoundPredicate.java:86-95):
    AND/OR/NOT operands must return BOOLEAN; the first failing operand
    is quoted with the enclosing predicate's toSql (AnalyzeExprsTest
    pins the message down to the trailing period)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select * from functional.alltypes where 1 + 2 and false",
         "Operand '1 + 2' part of predicate '1 + 2 AND FALSE' should "
         "return type 'BOOLEAN' but returns type 'SMALLINT'."),
        ("select * from functional.alltypes where not 1 + 2",
         "Operand '1 + 2' part of predicate 'NOT 1 + 2' should return "
         "type 'BOOLEAN' but returns type 'SMALLINT'."),
        ("select * from functional.alltypes where false and trim('abc')",
         "Operand 'trim('abc')' part of predicate 'FALSE AND "
         "trim('abc')' should return type 'BOOLEAN' but returns type "
         "'STRING'."),
        ("select * from functional.alltypes where bool_col or double_col",
         "Operand 'double_col' part of predicate 'bool_col OR "
         "double_col' should return type 'BOOLEAN' but returns type "
         "'DOUBLE'."),
        # compound operands type-check in the SELECT list too, and
        # complex types render in the Impala style
        ("select int_array_col or true from functional.allcomplextypes",
         "Operand 'int_array_col' part of predicate 'int_array_col OR "
         "TRUE' should return type 'BOOLEAN' but returns type "
         "'ARRAY<INT>'."),
        ("select false and int_struct_col from functional.allcomplextypes",
         "Operand 'int_struct_col' part of predicate 'FALSE AND "
         "int_struct_col' should return type 'BOOLEAN' but returns "
         "type 'STRUCT<f1:INT,f2:INT>'."),
        ("select not int_map_col from functional.allcomplextypes",
         "Operand 'int_map_col' part of predicate 'NOT int_map_col' "
         "should return type 'BOOLEAN' but returns type "
         "'MAP<STRING,INT>'."),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    # positives: BETWEEN's AND is not a compound AND; NULL operands
    # implicitly cast; parenthesized/nested compounds of booleans pass
    for sql in [
        "select * from functional.alltypes where int_col between 1 and 5",
        "select * from functional.alltypes where null and bool_col",
        "select * from functional.alltypes where not (bool_col or "
        "int_col > 2) and id < 7",
        "select case when bool_col and id > 3 then 1 else 2 end "
        "from functional.alltypes",
        "select * from functional.alltypes where 'ab' like 'a%' "
        "and bool_col",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_case_like_and_complex_comparability_errors():
    """CASE typing through the reference's own `endPosition` spelling
    (AnalyzeExprsTest.java:1676-1692 — the scanner resolves the END
    prefix + alias), LIKE operand types (LikePredicate.java:120-127)
    and complex-type comparability (Type.isComparable excludes
    ARRAY/MAP/STRUCT even for identical types)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select case when 20 then 20 when 1 > 2 then timestamp_col "
         "when 4 < 5 then 2 else 15 endPosition from functional.alltypes",
         "When expr '20' is not of type boolean and not castable to "
         "type boolean."),
        ("select case when int_array_col then 20 when 1 > 2 then id "
         "endPosition from functional.allcomplextypes",
         "When expr 'int_array_col' is not of type boolean and not "
         "castable to type boolean."),
        ("select case when 20 > 10 then 20 when 1 > 2 then timestamp_col "
         "when 4 < 5 then 2 else 15 endPosition from functional.alltypes",
         "Incompatible return types 'TINYINT' and 'TIMESTAMP' of exprs "
         "'20' and 'timestamp_col'."),
        ("select case when 20 > 10 then 20 when 1 > 2 then int_map_col "
         "else 15 endPosition from functional.allcomplextypes",
         "Incompatible return types 'TINYINT' and 'MAP<STRING,INT>' of "
         "exprs '20' and 'int_map_col'."),
        ("select case bigint_col when timestamp_col then 30 when "
         "double_col then 1.0 else 15 endPosition from functional.alltypes",
         "Incompatible return types 'BIGINT' and 'TIMESTAMP' of exprs "
         "'bigint_col' and 'timestamp_col'."),
        ("select case bigint_col when int_col then 30 when double_col "
         "then timestamp_col else 15 endPosition from functional.alltypes",
         "Incompatible return types 'TINYINT' and 'TIMESTAMP' of exprs "
         "'30' and 'timestamp_col'."),
        ("select * from functional.alltypes where int_col like 'test%'",
         "left operand of LIKE must be of type STRING: int_col LIKE "
         "'test%'"),
        ("select * from functional.alltypes where int_col ilike 'test%'",
         "left operand of ILIKE must be of type STRING: int_col ILIKE "
         "'test%'"),
        ("select 1 from functional.allcomplextypes where int_map_col = "
         "int_map_col",
         "operands of type MAP<STRING,INT> and MAP<STRING,INT> are not "
         "comparable: int_map_col = int_map_col"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select case when 20 > 10 then 20 when 1 > 2 then 1.0 else 15 "
        "endPosition from functional.alltypes",
        "select case when bool_col then 20 else 15 endPosition "
        "from functional.alltypes",
        "select * from functional.alltypes where string_col like 'a%'",
        "select * from functional.alltypes where string_col not like "
        "'a%' and bool_col",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_canned_user_function_errors():
    """Canned test-fixture functions (AnalyzeExprsTest.java:1875-1895
    ScalarFunction.createForTesting; AnalyzeStmtsTest.java:1840-1843
    addTestUda): overload resolution through the non-strict implicit
    cast matrix, UDA DISTINCT/OVER rules, and db-qualified rendering in
    nested-aggregate errors."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select udf(1, 1)",
         "No matching function with signature: default.udf(TINYINT, "
         "TINYINT)."),
        ("select udf(1, 'a', 2)",
         "No matching function with signature: default.udf(TINYINT, "
         "STRING, TINYINT)."),
        ("select udf(1.1)",
         "No matching function with signature: default.udf(DECIMAL(2,1))"),
        ("select functional.udf('Hello')",
         "No matching function with signature: functional.udf(STRING)."),
        ("select functional.udf()", "functional.udf() unknown"),
        ("select aggfn(int_col) over (partition by int_col) from "
         "functional.alltypesagg",
         "Aggregate function 'default.aggfn(int_col)' not supported "
         "with OVER clause."),
        ("select aggfn(distinct int_col) from functional.alltypesagg",
         "User defined aggregates do not support DISTINCT."),
        ("select AggFn(string_col) from functional.alltypes",
         "No matching function with signature: default.aggfn(STRING)"),
        ("select 1 from functional.alltypes where aggfn(1)",
         "aggregate function not allowed in WHERE clause"),
        ("select min(aggfn(int_col)) from functional.alltypes",
         "aggregate function must not contain aggregate parameters: "
         "min(default.aggfn(int_col))"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    # the reference's post-registration AnalyzesOk set: overloads
    # udf(), udf(INT), udf(STRING...), udf(INT, STRING...),
    # functional.udf(DOUBLE); UDA aggfn over INT/BIGINT/DOUBLE
    for sql in [
        "select udf()", "select default.udf()", "select udf(1)",
        "select udf(cast (1.1 as INT))", "select udf('a', 'b', 'c')",
        "select udf(1, 'a', 'b')", "select functional.udf(1.1)",
        "select aggfn(int_col) from functional.alltypesagg",
        "select default.aggfn(int_col) from functional.alltypes",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_cte_visibility_and_star_expansion_errors():
    """WITH-view scoping (Analyzer.registerWith: no self or forward
    references), unknown bare table names, CTE as INSERT target
    (InsertStmt.analyze), and all-star select lists expanding to zero
    scalar columns (SelectStmt.java:218-222)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select int_col from badtbl",
         "Could not resolve table reference: 'badtbl'"),
        ("with t1 as (select 'a' x) insert into t1 values('b' x)",
         "Table does not exist: default.t1"),
        ("with t as (select int_col x, bigint_col y from t1) "
         "select x, y from t",
         "Could not resolve table reference: 't1'"),
        ("with t as (select 1 as x, 2 as y union all select * from t) "
         "select x, y from t",
         "Could not resolve table reference: 't'"),
        ("with t1 as (with t2 as (select * from t1) select * from t2) "
         "select * from t1",
         "Could not resolve table reference: 't1'"),
        ("with t1 as (select int_col x from t2), t2 as "
         "(select int_col x from t1) select x from t1",
         "Could not resolve table reference: 't2'"),
        ("select * from only_complex_types",
         "The star exprs expanded to an empty select list because the "
         "referenced tables only have complex-typed columns."),
        ("select a.* from only_complex_types a, "
         "functional.allcomplextypes b",
         "The star exprs expanded to an empty select list because the "
         "referenced tables only have complex-typed columns."),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        # scoping positives: prior-sibling and outer CTEs ARE visible;
        # a non-empty expansion or extra item silences the star rule;
        # catalog views resolve where a CTE is invisible
        "with t1 as (select 1 x), t2 as (select x from t1) "
        "select * from t2",
        "with t1 as (with t1 as (select int_col x from "
        "functional.alltypes) select x from t1) select * from t1",
        "select 1, * from only_complex_types",
        "select * from functional.allcomplextypes",
        "with t1 as (select abc x, xyz y from complex_view), "
        "complex_view as (select x a, y b from t1) "
        "select a, b from complex_view",
        "select extract(year from now())",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_function_lookup_and_star_ordinal_errors():
    """Aggregate arity misses with rendered signatures, complex-typed
    scalar-builtin arguments (no ARRAY/MAP/STRUCT overloads exist),
    db-qualified builtin lookups (Analyzer.getFunction), GROUP_CONCAT
    constant separators, star-expanded ORDER BY ordinal bounds, and
    typed INTERVAL amount operands."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select min() from functional.alltypes",
         "No matching function with signature: min()."),
        ("select min(id, zip) from functional.testtbl",
         "No matching function with signature: min(BIGINT, INT)."),
        ("select if(true, int_struct_col, int_struct_col) from "
         "functional.allcomplextypes",
         "No matching function with signature: if(BOOLEAN, "
         "STRUCT<f1:INT,f2:INT>, STRUCT<f1:INT,f2:INT>)."),
        ("select functional.decode(1, 1, 1)",
         "functional.decode() unknown"),
        ("select functional.extract(year from now())",
         "Function functional.extract conflicts with the EXTRACT builtin"),
        ("select group_concat(distinct name, cast(id as string)) from "
         "functional.testtbl",
         "Second parameter in GROUP_CONCAT(DISTINCT) must be a constant "
         "expression that returns a string."),
        ("select * from functional.alltypes order by 14",
         "ORDER BY: ordinal exceeds number of items in select list: 14"),
        ("select * from (select max(id) from functional.testtbl) t1 "
         "order by 2",
         "ORDER BY: ordinal exceeds number of items in select list: 2"),
        ("select cast(0 as timestamp) + interval int_array_col years "
         "from functional.allcomplextypes",
         "Operand 'int_array_col' of timestamp arithmetic expression "
         "'CAST(0 AS TIMESTAMP) + INTERVAL int_array_col years' returns "
         "type 'ARRAY<INT>'. Expected an integer type."),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select min(id) from functional.testtbl",
        "select _impala_builtins.decode(1, 1, 1)",
        "select group_concat(distinct string_col, ', ') from "
        "functional.alltypes",
        "select * from functional.alltypes order by 13",
        "select * from (select max(id) from functional.testtbl) t1 "
        "order by 1",
        "select cast(0 as timestamp) + interval int_col years "
        "from functional.alltypes",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_collection_tuple_field_resolution_errors():
    """Path.resolve over a lone collection-ref FROM source (the d.tN
    fixture tables, AnalyzeStmtsTest.java:414-585): arrays expose
    item/pos, maps key/value, struct elements their members; a member
    step off a scalar fails, and a complex final type cannot sit in the
    select list."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select item.item from d.t1.c",
         "Could not resolve column/field reference: 'item.item'"),
        ("select item.pos from d.t2.c",
         "Could not resolve column/field reference: 'item.pos'"),
        ("select item from d.t2.c",
         "Expr 'item' in select list returns a complex type "
         "'STRUCT<f:INT>'."),
        ("select item from d.t3.c",
         "Expr 'item' in select list returns a complex type "
         "'STRUCT<f:INT,item:INT,pos:INT>'."),
        ("select value.objectValue from d.t4.c",
         "Could not resolve column/field reference: 'value.objectValue'"),
        ("select value from d.t6.c",
         "Expr 'value' in select list returns a complex type "
         "'STRUCT<f:INT,key:INT,value:INT>'."),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select item from d.t1.c", "select pos from d.t1.c",
        "select key from d.t4.c", "select item.f from d.t2.c",
        "select f from d.t2.c", "select c.item from d.t1.c",
        # collection alias shadows the same-named schema column
        "select a.item from a.array_test t, t.a",
        "select a.key, a.value from a.map_test t, t.a",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_cross_db_reference_ambiguity_errors():
    """Cross-db same-name sources (AnalyzeStmtsTest cross-db pins):
    a bare + qualified spelling of one table collides at registration;
    two distinct same-named sources make alias- and bare-column refs
    ambiguous at reference time."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select int_col from functional.alltypes cross join "
         "functional_parquet.alltypes",
         "Column/field reference is ambiguous: 'int_col'"),
        ("select alltypes.int_col from functional.alltypes cross join "
         "functional_parquet.alltypes",
         "Unqualified table alias is ambiguous: 'alltypes'"),
        ("select alltypes.* from functional.alltypes cross join "
         "functional_parquet.alltypes",
         "Unqualified table alias is ambiguous: 'alltypes'"),
        ("select alltypes.smallint_col, functional.alltypes.int_col "
         "from alltypes inner join functional.alltypes on "
         "(alltypes.id = functional.alltypes.id)",
         "Duplicate table alias: 'functional.alltypes'"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select a.int_col, b.int_col from functional.alltypes a cross "
        "join functional_parquet.alltypes b",
        "select functional.alltypes.int_col from functional.alltypes "
        "cross join functional_parquet.alltypes",
        "select t1.int_col from functional.alltypes t1, "
        "functional.alltypessmall t2",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_using_columns_and_label_ambiguity_errors():
    """USING-column resolution against the left table (TableRef.java:
    430-446, with the `(in "...")` toSql suffix) and duplicate
    select-label ambiguity in ORDER BY / GROUP BY — identical duplicate
    exprs collapse to one slot, union operands never do
    (QueryStmt.getFirstAmbiguousAlias)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select a.int_col from functional.alltypes a join "
         "functional.alltypes b using (badcol)",
         "unknown column badcol for alias a "),
        ("select a.int_col from functional.alltypes a join "
         "functional.alltypes b using (int_col, badcol)",
         "unknown column badcol for alias a "),
        ("select zip a, id a, count(*) from functional.testtbl group by a",
         "Column 'a' in GROUP BY clause is ambiguous"),
        ("select zip id, id, count(*) from functional.testtbl group by id",
         "Column 'id' in GROUP BY clause is ambiguous"),
        ("select string_col a, int_col a from functional.alltypessmall "
         "order by a limit 1",
         "Column 'a' in ORDER BY clause is ambiguous"),
        ("select int_col a, int_col a from functional.alltypes union all "
         "(select 1, bigint_col from functional.alltypessmall) order by a",
         "Column 'a' in ORDER BY clause is ambiguous"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select a.int_col from functional.alltypes a join "
        "functional.alltypes b using (int_col)",
        # identical duplicate exprs are one slot, not ambiguous
        "select int_col, INT_COL from functional.alltypes group by int_col",
        "select bool_col a, bool_col A from functional.alltypes order by a",
        "select int_col A, bool_col b, int_col a, bool_col B from "
        "functional.alltypes group by a, b",
        "select zip z, id iD1, id ID2, count(*) from functional.testtbl "
        "group by z, ID1, id2",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_column_resolution_engine_errors():
    """Analyzer.resolvePath over statically-known namespaces: inline
    view and WITH-view output labels (incl. label-list overrides, _cN
    positional names and toSql-text labels for unnamed exprs), alias-
    qualified misses, bare-name misses in fully-known blocks, FROM-less
    selects and VALUES bodies, and star roots
    (Analyzer.resolveStar)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select a + 1", "Could not resolve column/field reference: 'a'"),
        ("select id from (select id+2 from functional_hbase.alltypessmall)"
         " a", "Could not resolve column/field reference: 'id'"),
        ("select a.id from (select id y from functional_hbase."
         "alltypessmall) a",
         "Could not resolve column/field reference: 'a.id'"),
        ("select tinyint_col from (select int_col from functional.alltypes"
         "  union all  select tinyint_col from functional.alltypessmall) a",
         "Could not resolve column/field reference: 'tinyint_col'"),
        ("select _c0, a, _c2, _c3 from (select int_col * 1, int_col as a, "
         "int_col, !bool_col, concat(string_col) from functional.alltypes)"
         " t", "Could not resolve column/field reference: '_c2'"),
        ("select a.int_col from functional.alltypes a join "
         "functional.alltypes b on (a.int_col = b.badcol)",
         "Could not resolve column/field reference: 'b.badcol'"),
        ("select a.int_col from functional.alltypes a join "
         "functional.alltypes b on (a.int_col = badalias.int_col)",
         "Could not resolve column/field reference: 'badalias.int_col'"),
        ("select zip, name from functional.testtbl where badcol > 15",
         "Could not resolve column/field reference: 'badcol'"),
        ("with t1(c1) as (select id cnt from functional.alltypes) "
         "select cnt from t1",
         "Could not resolve column/field reference: 'cnt'"),
        ("with t(c1, c2) as (select id from functional.alltypes) "
         "select * from t",
         "WITH-clause view 't' returns 1 columns, but 2 labels were "
         "specified. The number of column labels must be smaller or "
         "equal to the number of returned columns."),
        ("with t1 as (select 'a' x) select t1.x from t1 as t2",
         "Could not resolve column/field reference: 't1.x'"),
        ("select * from functional.alltypestiny t where id in (select id "
         "from functional.alltypessmall s where s.int_col = t.bad_col)",
         "Could not resolve column/field reference: 't.bad_col'"),
        ("select a.*", "Could not resolve star expression: 'a.*'"),
        ("select functional.* from functional.alltypes",
         "Could not resolve star expression: 'functional.*'"),
        ("select _c0 from (select int_col * 2, id from "
         "functional.alltypes) a inner join (select int_col + 6, id from "
         "functional.alltypes) b on (a.id = b.id)",
         "Column/field reference is ambiguous: '_c0'"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        # toSql-text + _cN dual labels; label overrides; union first-arm
        # labels; struct-column stars; EXTRACT/INTERVAL units not refs
        "select `int_col * 1`, a, int_col, `NOT bool_col` from (select "
        "int_col * 1, int_col as a, int_col, !bool_col, "
        "concat(string_col) from functional.alltypes) t",
        "select _c0, a, int_col, _c3 from (select int_col * 1, int_col "
        "as a, int_col, !bool_col, concat(string_col) from "
        "functional.alltypes) t",
        "with t as (select int_col + 2, !bool_col from "
        "functional.alltypes) select `int_col + 2`, `NOT bool_col` from t",
        "with t1 as (select int_col x from functional.alltypes), "
        "t4 as (select 4 x, 40 y union all select 5, 50) "
        "select t1.x, t4.y from t1, t4 where t1.x = t4.y",
        "select int_struct_col.* from functional.allcomplextypes",
        "select extract(year from now())",
        "select interval 10 years + timestamp_col from functional.alltypes",
        "select functional_seq.alltypes.* from functional_seq.alltypes",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_aggregation_gate_and_subquery_width_errors():
    """Aggregation-gate extensions (ORDER BY aggregates make the block
    an agg query; mixed items with ungrouped columns), subquery width
    over VALUES views and partitioned analytics, and offset-without-
    limit inside union operands."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select zip + count(*) from functional.testtbl",
         "select list expression not produced by aggregation output "
         "(missing from GROUP BY clause?)"),
        ("select int_col from functional.alltypes order by count(*)",
         "select list expression not produced by aggregation output "
         "(missing from GROUP BY clause?): int_col"),
        ("select * from functional.alltypestiny where id in "
         "(select * from (values(1,2)) as t)",
         "Subquery must return a single column: (SELECT * FROM "
         "(VALUES(1, 2)) t)"),
        ("select id, int_col, bool_col from functional.alltypestiny t1 "
         "where int_col = (select min(bigint_col) over (partition by "
         "bool_col) from functional.alltypessmall t2 where int_col < 10)",
         "Subquery must return a single row: (SELECT min(bigint_col) "
         "OVER (PARTITION BY bool_col) FROM functional.alltypessmall t2 "
         "WHERE int_col < 10)"),
        ("select int_col from functional.alltypes order by int_col "
         "offset 5 union (select tinyint_col from "
         "functional.alltypessmall) ",
         "Order-by with offset without limit not supported in nested "
         "queries"),
        # clauses after a parenthesized operand that is not the last
        ("select int_col from functional.alltypes union (select "
         "tinyint_col from functional.alltypessmall) order by int_col "
         "offset 5 union all select int_col from functional.alltypes",
         "Order-by with offset without limit not supported in nested "
         "queries"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select zip + count(*) from functional.testtbl group by zip",
        "select count(*) + 1 from functional.testtbl",
        "select a.x from (select count(id) x from functional.alltypes) a",
        "select default.aggfn(int_col) from functional.alltypes",
        # statement-level union ORDER BY with offset is not nested
        "select int_col from functional.alltypes order by int_col "
        "union select int_col from functional.alltypes order by int_col "
        "limit 10 union (select int_col from functional.alltypes "
        "order by int_col limit 10 offset 5) order by int_col offset 5",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_correlated_subquery_and_member_walk_errors():
    """StmtRewriter decorrelation rules over relative collection refs
    (span aliases no longer shadow the outer alias a `t.coll a` path
    correlates with), DISTINCT/analytic forms, left-side scalar
    subqueries, UDA select items, correlated disjunctions, and struct
    member-walk failures off known column types."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select id from functional.allcomplextypes t where id in"
         "(select count(f1) from t.struct_array_col a where "
         "t.int_struct_col.f1 < a.f1)",
         "Unsupported correlated subquery with grouping and/or "
         "aggregation: SELECT count(f1) FROM t.struct_array_col a "
         "WHERE t.int_struct_col.f1 < a.f1"),
        ("select * from functional.alltypes t where t.id in (select "
         "distinct a.id from functional.alltypesagg a where "
         "a.bigint_col = t.bigint_col)",
         "Unsupported correlated subquery with grouping and/or "
         "aggregation: SELECT DISTINCT a.id FROM functional.alltypesagg"),
        ("select * from functional.alltypesagg g where (select "
         "aggfn(int_col) from functional.alltypes s where s.id = g.id) "
         "= 10",
         "UDAs are not supported in the select list of correlated "
         "subqueries: (SELECT default.aggfn(int_col) FROM "
         "functional.alltypes s WHERE s.id = g.id)"),
        ("select * from functional.alltypes t where id in (select id "
         "from functional.alltypesagg a where a.int_col = t.int_col or "
         "a.bool_col = false)",
         "Disjunctions with correlated predicates are not supported: "
         "a.int_col = t.int_col OR a.bool_col = FALSE"),
        ("select nested_struct_col.badfield from "
         "functional.allcomplextypes",
         "Could not resolve column/field reference: "
         "'nested_struct_col.badfield'"),
        ("select nested_struct_col.f2.badfield from "
         "functional.allcomplextypes",
         "Could not resolve column/field reference: "
         "'nested_struct_col.f2.badfield'"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select * from functional.alltypes t where id in (select id "
        "from functional.alltypesagg a where a.int_col = t.int_col)",
        "select nested_struct_col.f2.f11 from functional.allcomplextypes",
        "select * from functional.alltypes t where id in (select id "
        "from functional.alltypesagg a where a.int_col = 3 or "
        "a.bool_col = false)",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_path_interpretation_ambiguity_errors():
    """Path.resolve interpretation candidates over the deliberately
    self-named a.a fixture (AnalyzeStmtsTest.java:664-750): unqualified,
    alias-rooted and db.table-rooted roots each contribute; two LEGAL
    resolutions make a slot or star path ambiguous, one drives the
    complex-type/star verdicts, zero is unresolvable."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select a from a.a",
         "Expr 'a' in select list returns a complex type "
         "'STRUCT<a:STRUCT<a:INT>>'.\nOnly scalar types are allowed in "
         "the select list."),
        ("select t.a.a from a.a t",
         "Expr 't.a.a' in select list returns a complex type "
         "'STRUCT<a:INT>'."),
        ("select a.a from a.a",
         "Column/field reference is ambiguous: 'a.a'"),
        ("select a.a.a from a.a",
         "Column/field reference is ambiguous: 'a.a.a'"),
        ("select a.a.a.a from a.a",
         "Column/field reference is ambiguous: 'a.a.a.a'"),
        ("select a.a.a.a.a.a from a.a",
         "Could not resolve column/field reference: 'a.a.a.a.a.a'"),
        ("select t.a.a.a.a from a.a t",
         "Could not resolve column/field reference: 't.a.a.a.a'"),
        ("select a.* from a.a",
         "Star expression is ambiguous: 'a.*'"),
        ("select a.a.* from a.a",
         "Star expression is ambiguous: 'a.a.*'"),
        ("select a.a.a.* from a.a",
         "Star expression is ambiguous: 'a.a.a.*'"),
        ("select a.a.a.a.a.* from a.a",
         "Cannot expand star in 'a.a.a.a.a.*' because path 'a.a.a.a.a' "
         "resolved to type 'INT'."),
        ("select t.a.a.a.* from a.a t",
         "Cannot expand star in 't.a.a.a.*' because path 't.a.a.a' "
         "resolved to type 'INT'."),
        ("select a.a.a.a.a.a.* from a.a",
         "Could not resolve star expression: 'a.a.a.a.a.a.*'"),
        ("select t.a.a.a.a.* from a.a t",
         "Could not resolve star expression: 't.a.a.a.a.*'"),
        ("select t.* from a.a t",
         "The star exprs expanded to an empty select list because the "
         "referenced tables only have complex-typed columns."),
        ("values(1, id, 2)",
         "Could not resolve column/field reference: 'id'"),
        ("values((1 as x, 'a' as y), (2, 'b')) order by c limit 1",
         "Could not resolve column/field reference: 'c'"),
        ("select int_col from functional.alltypes_view_sub",
         "Could not resolve column/field reference: 'int_col'"),
        ("select * from functional.jointbl t where exists "
         "(select t.test_id = id from functional.alltypes)",
         "Could not resolve column/field reference: 't.test_id'"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        # unambiguous deep paths and stars; alias resolution beats the
        # illegal unqualified interpretation
        "select a.a.a.a.a from a.a",
        "select t.a.a.a from a.a t",
        "select a.a.a.a.* from a.a",
        "select t.a.a.* from a.a t",
        "select 1 from a.a", "select 1 from a.a.a",
        "select a.item from a.array_test t, t.a",
        "select a.* from a.array_test t, t.a",
        "values((1 as x, 'a' as y), (2, 'b')) order by x limit 1",
        "select x, y, z from functional.alltypes_view_sub",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_union_typing_and_demorgan_or_errors():
    """Union operands type-check per position through the non-strict
    compatibility matrix (LEAD/LAG render with defaults expanded, the
    OVER clause omitted), and NOT(A AND B) reaches the OR-subquery rule
    in its pushNegationToOperands rewritten form."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("select bool_col from functional.alltypes union select "
         "lag(string_col) over(order by int_col) from functional.alltypes",
         "Incompatible return types 'BOOLEAN' and 'STRING' of exprs "
         "'bool_col' and 'lag(string_col, 1, NULL)'."),
        ("select int_col, string_col from functional.alltypes union "
         "select tinyint_col, bool_col from functional.alltypes union "
         "select smallint_col, int_col from functional.alltypes",
         "Incompatible return types 'STRING' and 'BOOLEAN' of exprs "
         "'string_col' and 'bool_col'."),
        ("select * from functional.alltypes t where not (t.id in "
         "(select id from functional.alltypesagg) and t.int_col = 10)",
         "Subqueries in OR predicates are not supported: t.id NOT IN "
         "(SELECT id FROM functional.alltypesagg) OR t.int_col != 10"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "select int_col from functional.alltypes union select "
        "tinyint_col from functional.alltypessmall",
        "select id, string_col from functional.alltypes union all "
        "select id, date_string_col from functional.alltypes",
        # odd-NOT OR becomes AND: legal
        "select * from functional.alltypes t where not (t.id in "
        "(select id from functional.alltypesagg) or t.int_col = 10)",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_ddl_warehouse_resolution_errors():
    """AnalyzeDDLTest warehouse rules: existence per statement kind,
    object-kind ALTERs, partition-spec validity and the canned alltypes
    partition grid, column-name validity/duplicates, filesystem
    schemes, and already-existing CREATE/RENAME targets."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("alter table db_does_not_exist.alltypes add columns (i int)",
         "Could not resolve table reference: 'db_does_not_exist.alltypes'"),
        ("alter table functional.table_does_not_exist add columns (i int)",
         "Could not resolve table reference: "
         "'functional.table_does_not_exist'"),
        ("alter table db_does_not_exist.alltypes rename to new_table",
         "Database does not exist: db_does_not_exist"),
        ("drop database db_does_not_exist",
         "Database does not exist: db_does_not_exist"),
        ("drop table db_does_not_exist.alltypes",
         "Database does not exist: db_does_not_exist"),
        ("drop view functional.badview",
         "Table does not exist: functional.badview"),
        ("alter table functional.alltypes_view add columns (c1 string)",
         "ALTER TABLE not allowed on a view: functional.alltypes_view"),
        ("alter table allcomplextypes.int_array_col drop column int_col",
         "ALTER TABLE not allowed on a nested collection: "
         "allcomplextypes.int_array_col"),
        ("alter table functional.alltypes_datasource drop column int_col",
         "ALTER TABLE not allowed on a table produced by a data source: "
         "functional.alltypes_datasource"),
        ("alter view functional.alltypes set fileformat parquet",
         "ALTER VIEW not allowed on a table: functional.alltypes"),
        ("alter table functional.alltypes rename to `???`.new_table",
         "Invalid database name: ???"),
        ("create table functional.alltypes as select 1",
         "Table already exists: functional.alltypes"),
        ("alter table functional.alltypes rename to functional.alltypes",
         "Table already exists: functional.alltypes"),
        ("alter table functional.alltypesnopart PARTITION (month=1) "
         "set location '/a/b/c'",
         "Table is not partitioned: functional.alltypesnopart"),
        ("alter table functional.alltypes drop partition(year=2050, "
         "month=10)",
         "No matching partition(s) found."),
        ("alter table functional.alltypes drop partition(year=2050, "
         "int_col=1)",
         "Partition exprs cannot contain non-partition column(s): "
         "int_col = 1."),
        ("alter table functional.alltypes drop partition(year=2050, "
         "blah=1)",
         "Could not resolve column/field reference: 'blah'"),
        ("alter table functional.alltypes add columns (c1 int, c1 int)",
         "Duplicate column name: c1"),
        ("alter table functional.alltypes add columns (`???` int)",
         "Invalid column/field name: ???"),
        ("alter table functional.alltypes set location "
         "'blah:///warehouse/'",
         "No FileSystem for scheme: blah"),
        ("create view foo (a, b, a) as select int_col, int_col, int_col "
         "from functional.alltypes",
         "Duplicate column name: a"),
        ("create table newtbl as select 1 as c1, 2 as c1",
         "Duplicate column name: c1"),
        # Impala's grammar has no exponent operator (sql-parser.cup
        # arithmetic productions; sql-scanner.flex:56): '**' is a
        # ParserError there, so strict translate rejects the token
        # sequence outright (r8 verdict missing #2; the constant
        # folder's DoS guard already refused to FOLD it — this pins
        # the REJECTION, 2 ms, no hang)
        ("alter table functional.alltypes drop partition("
         "year=(9)**(999999999))",
         "'**' is not an operator"),
        ("select 2**8",
         "'**' is not an operator"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "alter table functional.alltypes add columns (c1 int, c2 int)",
        "alter table functional.alltypes drop partition(year=2010, "
        "month=10)",
        "alter table functional.alltypes drop partition(year>9050, "
        "month=10)",
        # multi-token constant value folds (2009+1 = 2010, in the grid)
        "alter table functional.alltypes drop partition(year=2009+1, "
        "month=10)",
        "alter table functional.alltypes add partition(year=2050, "
        "month=10)",
        "alter table functional.alltypes_datasource rename to new_ds",
        "create table if not exists functional.alltypes (i int)",
        "create table functional.new_table (i int)",
        "drop table if exists db_does_not_exist.alltypes",
        "alter table functional.alltypes set location "
        "'hdfs://localhost:20500/a'",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_ddl_delimiters_functions_and_pk_errors():
    """Row-format terminator conflicts (Hive text defaults \\001 and
    \\n), CREATE FUNCTION binary suffix/URI/aggregate rules, rename-
    target name validity, LIKE PARQUET URI checks, and multiple
    PRIMARY KEY markers (the reference fixture literally spells
    'endPosition' in two of these texts)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("create table functional.broken_text_table (c int) row format "
         "delimited lines terminated by '\\001'",
         "Field delimiter and line delimiter have same value: byte 1"),
        ("create table functional.broken_text_table (c int) row format "
         "delimited fields terminated by '\\012'",
         "Field delimiter and line delimiter have same value: byte 10"),
        ("create function foo() RETURNS int LOCATION 'bad-location' "
         "SYMBOL='c'",
         "URI path must be absolute: bad-location"),
        ("create function foo() RETURNS int LOCATION '/binary.a' "
         "SYMBOL='c'",
         "Unknown binary type: '/binary.a'. Binary must endPosition in "
         ".jar, .so or .ll"),
        ("create function foo(varchar(5)) RETURNS int LOCATION "
         "'/foo.jar' SYMBOL='c'",
         "Type VARCHAR(5) is not supported for Java UDFs."),
        ("create function foo(int) RETURNS int LOCATION '/binary.JAR' "
         "SYMBOL='c'",
         "Could not load binary: /binary.JAR"),
        ("create aggregate function foo(int) RETURNS int LOCATION "
         "'/foo.jar' UPDATE_FN='b'",
         "Java UDAs are not supported."),
        ("create table tab (x int primary key, y int primary key) "
         "stored as kudu",
         "Multiple primary keys specified."),
        ("alter table functional.alltypes rename to functional.`%^&`",
         "Invalid table/view name: %^&"),
        ("alter table functional.alltypes add columns (year int)",
         "Column name conflicts with existing partition column: year"),
        ("alter table functional.alltypes drop column no_col",
         "Column 'no_col' does not exist in table: functional.alltypes"),
        ("alter table functional.alltypes set column stats month "
         "('numDVs'='10')",
         "Updating the stats of a partition column is not allowed: month"),
        ("alter table functional.alltypes set cached in 'badPool'",
         "The specified cache pool does not exist: badPool"),
        ("alter table functional.alltypes set cached in 'testPool' "
         "with replication = 90000",
         "Cache replication factor must be between 0 and Short.MAX_VALUE"),
        ("create table new_table(s1 char(0))", "Char size must be > 0: 0"),
        ("create table new_table(s1 varchar(65536))",
         "Varchar size must be <= 65535: 65536"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "create table functional.broken_text_table (c int) row format "
        "delimited fields terminated by '\\002'",
        "alter table functional.alltypes set cached in 'testPool' "
        "with replication = 8",
        "alter table functional.alltypes drop column int_col",
        "create table new_table(s1 char(255), s2 varchar(65535))",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_kudu_and_partition_spec_errors():
    """Kudu CREATE TABLE rules (LIKE forms, primary-key requirements,
    nullable/absent PK columns, complex types, constant range bounds,
    tablet-replica property), column-stats key/value validation, and
    partition-spec duplication/constant-predicate rules."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        ("create table kudu_tbl like functional.alltypestiny stored "
         "as kudu",
         "CREATE TABLE LIKE is not supported for Kudu tables"),
        ("create table tab (a int) stored as kudu",
         "A primary key is required for a Kudu table."),
        ("create table tab (x int primary key) stored as kudu "
         "cached in 'testPool'",
         "A Kudu table cannot be cached in HDFS."),
        ("create table tab (x int primary key, a struct<f1:int>) "
         "partition by hash (x) partitions 3 stored as kudu",
         "Kudu tables do not support complex types: a STRUCT<f1:INT>"),
        ("create table tab (x int primary key, primary key(x)) stored "
         "as kudu",
         "Multiple primary keys specified."),
        ("create table tab (x int, primary key(z)) partition by "
         "hash (x) partitions 3 stored as kudu",
         "PRIMARY KEY column 'z' does not exist in the table"),
        ("create table t (x int primary key) stored as kudu "
         "tblproperties ('kudu.num_tablet_replicas'='1.1')",
         "Table property 'kudu.num_tablet_replicas' must be an integer."),
        ("alter table functional.alltypes set column stats int_col "
         "('badKey'='10')",
         "Invalid column stats key: badKey"),
        ("alter table functional.alltypes set column stats int_col "
         "('numDVs'='-10')",
         "Invalid stats value '-10' for column stats key: numDVs"),
        ("alter table functional.alltypes set column stats string_col "
         "('avgSize'='NaN')",
         "Invalid stats value 'NaN' for column stats key: avgSize"),
        ("alter table functional.allcomplextypes set column stats "
         "int_array_col ('numDVs'='10')",
         "Statistics for column 'int_array_col' are not supported "
         "because it has type 'ARRAY<INT>'."),
        ("alter table functional.alltypes add partition(year=2010, "
         "month=10)",
         "Partition spec already exists: (year=2010, month=10)."),
        ("alter table functional.alltypes drop partition(1=1, month=10)",
         "Invalid partition expr 1 = 1. A partition spec may not "
         "contain constant predicates."),
        ("alter table functional.alltypes add partition(year=2050, "
         "blah=1)",
         "Partition column 'blah' not found in table: "
         "functional.alltypes"),
        ("truncate table functional.alltypes_view",
         "TRUNCATE TABLE not supported on non-HDFS table: "
         "functional.alltypes_view"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        "create table tab (x int primary key) partition by hash (x) "
        "partitions 3 stored as kudu",
        "create external table tab stored as kudu "
        "tblproperties ('kudu.table_name'='t')",
        "alter table functional.alltypes set column stats int_col "
        "('numDVs'='10','numNulls'='2')",
        "alter table functional.alltypes add partition(year=2050, "
        "month=10)",
        "truncate table functional.alltypes",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_scalar_subquery_avg_output_typing():
    """AVG over a scalar subquery types like the reference's
    AggregateFunction returns: DOUBLE for the numeric ladder but
    DECIMAL stays DECIMAL and TIMESTAMP stays TIMESTAMP (r8 ADVICE:
    unconditional DOUBLE diverged on
    '(select avg(decimal_col) from t) <op> x' compat edges)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    neg = [
        # TIMESTAMP (not DOUBLE) vs numeric literal: incomparable
        ("select * from functional.alltypes where "
         "(select avg(timestamp_col) from functional.alltypes) = 5",
         "operands of type TIMESTAMP and TINYINT are not comparable"),
        # DECIMAL result keeps the child's exact (p,s) — the reference's
        # resolveDecimalReturnType falls through to returnType=childType
        # for avg (FunctionCallExpr.java:317), so avg(DECIMAL(9,0))
        # renders as DECIMAL(9,0), not bare DECIMAL (r9 ADVICE)
        ("select * from functional.decimal_tbl where "
         "(select avg(d1) from functional.decimal_tbl) = 'x'",
         "operands of type DECIMAL(9,0) and STRING are not comparable"),
    ]
    for sql, msg in neg:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, schema=schema_for_statement(sql),
               catalog=TABLE_SCHEMAS)
        assert msg in str(ei.value), sql
    for sql in [
        # numeric avg stays DOUBLE: comparable with the int ladder
        "select * from functional.alltypes where "
        "(select avg(int_col) from functional.alltypes) = 5",
        # TIMESTAMP accepts STRING (Type.java:759-762)
        "select * from functional.alltypes where "
        "(select avg(timestamp_col) from functional.alltypes) = "
        "'2009-01-01 00:00:00'",
        # DECIMAL avg vs numeric: min-resolution decimal unification
        "select * from functional.decimal_tbl where "
        "(select avg(d1) from functional.decimal_tbl) = 5",
        # unknown-shape arg (expression): permissive, no false positive
        "select * from functional.alltypes where "
        "(select avg(int_col + 1) from functional.alltypes) = 5",
    ]:
        tr(sql, strict=True, schema=schema_for_statement(sql),
           catalog=TABLE_SCHEMAS)


def test_session_db_parameterized_resolution():
    """Session-db duality pins (AnalyzeStmtsTest TestTableRefPathAmbiguity
    :753-768 and :1199-1211): the reference pins BOTH verdicts for the
    same text under different createAnalyzer dbs; translate(session_db=)
    replays each under its declared db (r8 verdict task #3)."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS, schema_for_statement

    def t(sql, db):
        return tr(sql, strict=True, schema=schema_for_statement(sql),
                  catalog=TABLE_SCHEMAS, session_db=db)

    # --- table-path candidate ambiguity under createAnalyzer("a") ---
    for sql in ("select 1 from a.a", "select 1 from a.a.a"):
        with pytest.raises(ImpalaUnsupportedError) as ei:
            t(sql, "a")
        assert "Table reference is ambiguous: '" + sql.split()[-1] + "'" \
            in str(ei.value), sql
        # same text under the DEFAULT session db: AnalyzesOk
        t(sql, "default")
        # and with no declared session db: permissive
        t(sql, None)
    # the 4-part path is unambiguous even under "a" (the session-relative
    # walk dies at the int leaf)
    t("select 1 from a.a.a.a", "a")

    # --- base-table vs implicit-alias duality (:1199-1211) ---
    dual = ("select cnt from functional.allcomplextypes, "
            "(select count(1) cnt from allcomplextypes) v")
    with pytest.raises(ImpalaUnsupportedError) as ei:
        t(dual, "default")
    assert ("Illegal table reference to non-collection type: "
            "'allcomplextypes'") in str(ei.value)
    # under createAnalyzer("functional") the base table wins: AnalyzesOk
    t(dual, "functional")
    # session unknown: permissive (no false positive for API callers)
    t(dual, None)

def test_pre_registration_function_replay():
    """Registration-order replay (r9 verdict task #5): the reference
    registers default.udf MID-METHOD (AnalyzeExprsTest.java TestUdfs —
    pins at :1870-1872 precede catalog_.addFunction at :1877-1895), so
    statements replayed from earlier positions must see the
    PRE-registration catalog and raise 'default.udf() unknown', while
    later statements resolve the canned overloads as before."""
    import pytest

    from impala_spark.parser import ImpalaUnsupportedError
    from impala_spark.parser import translate as tr
    from impala_spark.testcatalog import TABLE_SCHEMAS

    pre = frozenset({("default", "udf")})
    for sql in ["select udf()", "select udf(1)"]:
        with pytest.raises(ImpalaUnsupportedError) as ei:
            tr(sql, strict=True, catalog=TABLE_SCHEMAS, unregistered_fns=pre)
        assert "default.udf() unknown" in str(ei.value), sql
        # post-registration state (no param): resolves the canned overloads
        assert tr(sql, strict=True, catalog=TABLE_SCHEMAS) == sql
    # the global resets: a following strict call is fully registered
    assert tr("select udf()", strict=True, catalog=TABLE_SCHEMAS)
