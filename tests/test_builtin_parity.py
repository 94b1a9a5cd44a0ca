"""Builtin-function parity sweep: every Impala 2.7 builtin family
(catalog/BuiltinsDb.java aggregates + generated ScalarBuiltins, per the
public Impala 2.7 function reference) must translate and EXECUTE on
Spark. This is the breadth check behind SURVEY §2.4-2.6 — names Spark
shares pass through, divergent ones go through parser.py's
CALL_REWRITES table."""

import pytest

from impala_spark.parser import translate

# Each entry: an Impala expression that must run. Executed as
# SELECT <expr> FROM (SELECT ... one row of typed columns) t
SCALARS = [
    # string functions
    "length(s)", "char_length(s)", "lower(s)", "upper(s)", "lcase(s)",
    "ucase(s)", "initcap(s)", "reverse(s)", "repeat(s, 2)", "space(3)",
    "lpad(s, 10, 'x')", "rpad(s, 10, 'x')", "ltrim(s)", "rtrim(s)",
    "trim(s)", "btrim(s)", "substr(s, 1, 3)", "substring(s, 2)",
    "instr(s, 'b')", "locate('b', s)", "concat(s, 'x')",
    "concat_ws('-', s, 'y')", "find_in_set('b', 'a,b,c')",
    "split_part('a,b,c', ',', 2)", "translate(s, 'ab', 'xy')",
    "regexp_extract(s, '([a-z]+)', 1)", "regexp_replace(s, 'a', 'z')",
    "strleft(s, 2)", "strright(s, 2)", "parse_url('http://h/p?q=1', 'HOST')",
    "ascii(s)", "chr(65)", "base64encode(s)", "base64decode(base64encode(s))",
    # math
    "abs(i)", "ceil(d)", "dceil(d)", "floor(d)", "dfloor(d)", "round(d, 2)",
    "sqrt(d)", "dsqrt(d)", "exp(1.0)", "ln(d)", "log10(d)", "log2(d)",
    "log(2, d)", "pow(i, 2)", "dpow(i, 2)", "fpow(i, 2)", "pi()", "e()",
    "sign(i)", "sin(d)", "cos(d)", "tan(d)", "asin(0.5)", "acos(0.5)",
    "atan(0.5)", "degrees(d)", "radians(d)", "greatest(i, 2)", "least(i, 2)",
    "pmod(i, 3)", "fmod(d, 3.0)", "quotient(i, 3)", "conv(i, 10, 16)",
    "hex(i)", "bin(i)", "positive(i)", "negative(i)", "truncate(d)",
    "truncate(d, 1)", "factorial(3)", "5!",
    # datetime
    "year(ts)", "month(ts)", "day(ts)", "dayofmonth(ts)", "dayofweek(ts)",
    "dayofyear(ts)", "weekofyear(ts)", "hour(ts)", "minute(ts)", "second(ts)",
    "to_date(ts)", "datediff(ts, ts)", "date_add(ts, 1)", "date_sub(ts, 1)",
    "adddate(ts, 1)", "subdate(ts, 1)", "add_months(ts, 1)",
    "months_between(ts, ts)", "years_add(ts, 1)", "years_sub(ts, 1)",
    "months_add(ts, 1)", "weeks_add(ts, 1)", "days_add(ts, 1)",
    "hours_add(ts, 1)", "minutes_add(ts, 1)", "seconds_add(ts, 1)",
    "milliseconds_add(ts, 1)", "microseconds_add(ts, 1)",
    "nanoseconds_add(ts, 1000)", "unix_timestamp(ts)",
    "from_unixtime(1700000000)", "from_utc_timestamp(ts, 'PST')",
    "to_utc_timestamp(ts, 'PST')", "trunc(ts, 'YYYY')", "trunc(ts, 'MM')",
    "dayname(ts)", "monthname(ts)", "extract(year FROM ts)", "timeofday()",
    "now()", "current_timestamp()",
    # conditional
    "coalesce(NULL, i)", "if(i > 0, 'p', 'n')", "ifnull(NULL, i)",
    "isnull(NULL, i)", "nvl(NULL, i)", "nvl2(i, 'a', 'b')",
    "nullif(i, 0)", "nullifzero(i)", "zeroifnull(NULL)",
    "istrue(b)", "isfalse(b)", "isnottrue(b)", "isnotfalse(b)",
    "nullvalue(i)", "nonnullvalue(i)", "decode(i, 1, 'one', 'other')",
    "CASE WHEN b THEN 1 ELSE 0 END",
    # cast family incl. char/varchar length semantics
    "CAST(i AS STRING)", "CAST(s AS CHAR(5))", "CAST(s AS VARCHAR(2))",
    "CAST(d AS DECIMAL(10,2))", "typeof(i)",
    # r12 additions: math predicates, regex quoting, datetime tail,
    # utility/identity builtins (UtilityFunctions + ScalarBuiltins)
    "is_inf(d)", "is_nan(d)", "regexp_escape(s)",
    "int_months_between(ts, ts)", "millisecond(ts)", "utc_timestamp()",
    "effective_user()", "pid()", "coordinator()",
    # r12 second tranche: named bit ops, rotates, sub-second parts,
    # typed integer bounds, comparison/format/identity tail
    "bitand(i, 3)", "bitor(i, 3)", "bitxor(i, 3)", "bitnot(i)",
    "getbit(i, 1)", "setbit(i, 2)", "setbit(i, 2, 0)", "countset(i)",
    "rotateleft(i, 2)", "rotateright(i, 2)",
    "timestamp_cmp(ts, ts)", "from_timestamp(ts, 'yyyy-MM-dd')",
    "microsecond(ts)", "nanosecond(ts)", "week(ts)",
    "max_tinyint()", "min_tinyint()", "max_smallint()", "min_smallint()",
    "max_int()", "min_int()", "max_bigint()", "min_bigint()",
    "le_dst(s, 'abd')", "levenshtein(s, 'abd')", "database()",
    "current_session()", "localtime()", "localtimestamp()",
]

AGGREGATES = [
    "count(*)", "count(DISTINCT i)", "sum(i)", "avg(d)", "min(i)", "max(i)",
    "ndv(i)", "distinctpc(i)", "distinctpcsa(i)", "appx_median(d)",
    "histogram(d, 4)", "group_concat(s)", "group_concat(s, '|')",
    "sample(s)", "stddev(d)", "stddev_pop(d)", "stddev_samp(d)",
    "variance(d)", "variance_pop(d)", "variance_samp(d)", "var_pop(d)",
    "var_samp(d)",
]

ANALYTICS = [
    "row_number() OVER (ORDER BY i)", "rank() OVER (ORDER BY i)",
    "dense_rank() OVER (ORDER BY i)", "percent_rank() OVER (ORDER BY i)",
    "cume_dist() OVER (ORDER BY i)", "ntile(2) OVER (ORDER BY i)",
    "lag(i, 1, 0) OVER (ORDER BY i)", "lead(i, 1, 0) OVER (ORDER BY i)",
    "first_value(i) OVER (ORDER BY i)", "last_value(i) OVER (ORDER BY i)",
]

_ONE_ROW = (
    "(SELECT 'abc' AS s, 5 AS i, 2.5 AS d, TRUE AS b, "
    "TIMESTAMP '2020-03-04 05:06:07' AS ts) t"
)


@pytest.mark.parametrize("expr", SCALARS)
def test_scalar_builtin_executes(spark, expr):
    spark.sql(translate(f"SELECT {expr} AS v FROM {_ONE_ROW}")).collect()


@pytest.mark.parametrize("expr", AGGREGATES)
def test_aggregate_builtin_executes(spark, expr):
    spark.sql(translate(f"SELECT {expr} AS v FROM {_ONE_ROW}")).collect()


@pytest.mark.parametrize("expr", ANALYTICS)
def test_analytic_builtin_executes(spark, expr):
    spark.sql(translate(f"SELECT {expr} AS v FROM {_ONE_ROW}")).collect()


def test_semantic_spot_checks(spark):
    row = spark.sql(translate(
        "SELECT truncate(2.789, 1) AS tr, quotient(17, 5) AS q, "
        "istrue(NULL) AS it, isnottrue(NULL) AS int_, "
        "CAST('abcdef' AS VARCHAR(3)) AS v3, "
        "length(CAST('ab' AS CHAR(5))) AS c5len, "
        "5! AS fact FROM (SELECT 1) t"
    )).first()
    assert abs(row.tr - 2.7) < 1e-9
    assert row.q == 3
    assert row.it is False and row.int_ is True
    assert row.v3 == "abc" and row.c5len == 5
    assert row.fact == 120


def test_math_predicate_semantics(spark):
    row = spark.sql(translate(
        "SELECT is_inf(CAST('Infinity' AS DOUBLE)) AS pi_, "
        "is_inf(CAST('-Infinity' AS DOUBLE)) AS ni, "
        "is_inf(1.5) AS fi, is_inf(CAST(NULL AS DOUBLE)) AS nui, "
        "is_inf(CAST('NaN' AS DOUBLE)) AS nani, "
        "is_nan(CAST('NaN' AS DOUBLE)) AS tn, is_nan(1.5) AS fn_, "
        "is_nan(CAST(NULL AS DOUBLE)) AS nun, "
        "regexp_escape('a.b+c') AS esc, "
        "int_months_between('2020-03-15', '2020-01-01') AS imb, "
        "millisecond(TIMESTAMP '2020-01-01 00:00:00.123') AS ms "
        "FROM (SELECT 1) t"
    )).first()
    assert row.pi_ is True and row.ni is True and row.fi is False
    assert row.nui is None and row.nani is False
    assert row.tn is True and row.fn_ is False and row.nun is None
    assert row.esc == r"a\.b\+c"
    assert row.imb == 2
    assert row.ms == 123


def test_bit_and_datetime_tail_semantics(spark):
    row = spark.sql(translate(
        "SELECT bitand(6,3) AS ba, bitor(6,3) AS bo, bitxor(6,3) AS bx, "
        "bitnot(6) AS bn, getbit(11,1) AS g1, getbit(11,2) AS g0, "
        "setbit(8,0) AS s1, setbit(9,0,0) AS s0, countset(7) AS cs, "
        "rotateleft(8,1) AS rl, rotateright(16,1) AS rr, "
        "rotateleft(1,0) AS r0, "
        "timestamp_cmp(TIMESTAMP '2020-01-02 00:00:00',"
        " TIMESTAMP '2020-01-01 00:00:00') AS tc, "
        "timestamp_cmp(TIMESTAMP '2020-01-01 00:00:00',"
        " CAST(NULL AS TIMESTAMP)) AS tcn, "
        "microsecond(TIMESTAMP '2020-01-01 00:00:00.123456') AS mu, "
        "nanosecond(TIMESTAMP '2020-01-01 00:00:00.123456') AS na, "
        "week('2020-01-08') AS wk, max_tinyint() AS mt, "
        "min_bigint() AS mb, le_dst('abc', 'abd') AS ld "
        "FROM (SELECT 1) t"
    )).first()
    assert (row.ba, row.bo, row.bx, row.bn) == (2, 7, 5, -7)
    assert (row.g1, row.g0, row.s1, row.s0, row.cs) == (1, 0, 9, 8, 3)
    assert (row.rl, row.rr, row.r0) == (16, 8, 1)
    assert row.tc == 1 and row.tcn is None
    assert row.mu == 123456 and row.na == 123456000
    assert row.wk == 2 and row.mt == 127
    assert row.mb == -(1 << 63) and row.ld == 1
    from impala_spark.parser import ImpalaUnsupportedError

    with pytest.raises(ImpalaUnsupportedError, match="type width"):
        translate("SELECT countset(7, 0)")


def test_hash_builtins_exact_values(spark):
    """fnv_hash/murmur_hash return the reference's exact 64-bit values:
    FNV-1a 64 pinned by the public test vectors (offset basis for '',
    0xaf63dc4c8601ec8c for 'a'); MurmurHash2 64A (seed 0) pinned by the
    canonical algorithm's outputs (regression pins)."""
    from impala_spark.functions import register_hash_udfs

    register_hash_udfs(spark)
    row = spark.sql(
        "SELECT fnv_hash('') AS f0, fnv_hash('a') AS fa, fnv_hash('abc') AS fabc,"
        " fnv_hash(CAST(NULL AS STRING)) AS fn_,"
        " murmur_hash('') AS m0, murmur_hash('abc') AS mabc,"
        " murmur_hash('abcdefgh') AS m8,"  # exactly one 8-byte block
        " murmur_hash(CAST(NULL AS STRING)) AS mn"
    ).first()
    mask = (1 << 64) - 1
    assert row.f0 & mask == 0xCBF29CE484222325  # FNV offset basis
    assert row.fa & mask == 0xAF63DC4C8601EC8C  # public FNV-1a vector
    assert row.fabc == -1792535898324117685
    assert row.fn_ is None and row.mn is None
    assert row.m0 == 0  # MurmurHash64A(empty, seed 0)
    assert row.mabc == -7148968302806999301
    assert row.m8 == -5775019520204625256
    # determinism + injectivity on a realistic column
    agg = spark.sql(
        "SELECT COUNT(DISTINCT fnv_hash(s)) AS nf, COUNT(DISTINCT murmur_hash(s)) AS nm,"
        " COUNT(DISTINCT s) AS ns FROM (SELECT CAST(id AS STRING) AS s FROM RANGE(500))"
    ).first()
    assert agg.nf == agg.ns == agg.nm == 500
