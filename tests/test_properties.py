"""Property-based tests (hypothesis) — the randomized analog of the
reference's expr/analyzer test sweeps (T/analysis/AnalyzeExprsTest.java):
operator semantics pinned against an independent implementation on
arbitrary inputs, not just fixture rows."""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from impala_spark import operators as ops
from impala_spark.parser import translate
from impala_spark.types import smallest_int_literal_type

# ---------------------------------------------------------------------------
# translate() total-function properties (no crash, balanced output)
# ---------------------------------------------------------------------------

_ident = st.text(alphabet="abcdefgh_", min_size=1, max_size=8)


@given(
    cols=st.lists(_ident, min_size=1, max_size=4, unique=True),
    n=st.integers(min_value=-(2**40), max_value=2**40),
)
@settings(max_examples=50, deadline=None)
def test_translate_simple_select_stable(cols, n):
    sql = f"SELECT {', '.join(cols)} FROM t WHERE {cols[0]} > {n}"
    out = translate(sql)
    assert out.count("(") == out.count(")")
    for c in cols:
        assert c in out


@given(st.integers(min_value=-(2**70), max_value=2**70))
@settings(max_examples=200, deadline=None)
def test_smallest_int_literal_fits(v):
    from pyspark.sql import types as T

    t = smallest_int_literal_type(v)
    bounds = {
        T.ByteType(): 2**7, T.ShortType(): 2**15,
        T.IntegerType(): 2**31, T.LongType(): 2**63,
    }
    if isinstance(t, T.DecimalType):
        assert not (-(2**63) <= v < 2**63)  # only when nothing else fits
    else:
        bound = bounds[t]
        assert -bound <= v < bound
        # and no SMALLER type would fit (smallest-fit, NumericLiteral.java)
        smaller = [b for b in bounds.values() if b < bound]
        if smaller:
            assert not (-max(smaller) <= v < max(smaller))


# ---------------------------------------------------------------------------
# asof_join == pandas merge_asof on random series
# ---------------------------------------------------------------------------


@pytest.mark.slow
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-100, 100)),
        min_size=1, max_size=25,
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    # dedup right on (key, ts): ties resolve arbitrarily in both engines,
    # so make the ground truth unique to compare exactly
    rmap = {(k, t): v for k, t, v in right}
    right = [(k, t, v) for (k, t), v in rmap.items()]
    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)], "key int, ts long, lid int"
    )
    rdf = spark.createDataFrame(right, "key int, ts long, rv int")
    got = {
        (r.lid, r.rv)
        for r in ops.asof_join(ldf, rdf, key="key", left_ts="ts", right_ts="ts").collect()
    }
    lp = pd.DataFrame([(k, t, i) for i, (k, t) in enumerate(left)], columns=["key", "ts", "lid"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(right, columns=["key", "ts", "rv"]).sort_values("ts", kind="stable")
    m = pd.merge_asof(lp, rp, on="ts", by="key", direction="backward")
    want = {
        (int(r.lid), None if pd.isna(r.rv) else int(r.rv)) for r in m.itertuples()
    }
    assert got == want


# ---------------------------------------------------------------------------
# salted ops == their plain equivalents
# ---------------------------------------------------------------------------


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-50, 50)), min_size=1, max_size=30
    ),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_agg_equals_plain_agg(spark, rows):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(rows, "k int, v int")
    got = {
        (r.k, r.s, r.n)
        for r in ops.salted_agg(df, ["k"], salt=4, s=("sum", F.col("v")), n=("count", F.col("v"))).collect()
    }
    want = {
        (r.k, r.s, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("v").alias("n")).collect()
    }
    assert got == want


@pytest.mark.slow
@given(
    lrows=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=20),
    rrows=st.lists(st.tuples(st.integers(0, 2), st.text(alphabet="xyz", max_size=2)), min_size=1, max_size=6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_salted_join_equals_plain_join(spark, lrows, rrows):
    ldf = spark.createDataFrame(lrows, "k int, a int")
    rdf = spark.createDataFrame(rrows, "k int, b string").dropDuplicates(["k"])
    got = sorted((r.k, r.a, r.b) for r in ops.salted_join(ldf, rdf, ["k"], how="left", salt=3).collect())
    want = sorted((r.k, r.a, r.b) for r in ldf.join(rdf, ["k"], "left").collect())
    assert got == want


# ---------------------------------------------------------------------------
# Translator fuzz: random compositions of every rewrite-sensitive construct
# must translate without crashing, with balanced parens, and idempotently
# (translating already-translated SQL must not corrupt it further).
# ---------------------------------------------------------------------------

_FRAGMENTS = [
    "decode(x, 1, 'a', 'b')",
    "years_add(ts, 2)",
    "date_sub(ts, 7)",
    "trunc(ts, 'MM')",
    "trunc(d, 2)",
    "truncate(d)",
    "histogram(q, 4)",
    "quotient(i, 3)",
    "5!",
    "t.n!",
    "abs(x)!",
    "(x + 1)!",
    "!b",
    "istrue(b)",
    "nullvalue(x)",
    "CAST(s AS CHAR(5))",
    "CAST(s AS VARCHAR(3))",
    "sample(s)",
    "dayname(ts)",
    "x IREGEXP 'p'",
    "a && b",
    "a || b",
]


#: rewritable calls to nest a fragment in
_WRAPS = ["quotient({}, 2)", "zeroifnull({})", "decode({}, 1, 2, 3)"]


@given(
    picks=st.lists(st.sampled_from(_FRAGMENTS), min_size=1, max_size=5),
    wraps=st.lists(st.sampled_from(_WRAPS), min_size=1, max_size=12),
    where=st.sampled_from(["", " WHERE a > 1", " WHERE a && b", " WHERE !c"]),
)
@settings(max_examples=120, deadline=None)
def test_translate_fuzz_balanced_and_idempotent(picks, wraps, where):
    nested = picks[0]
    for wrap in wraps:
        nested = wrap.format(nested)
    sql = f"SELECT {', '.join([nested, *picks[1:]])} FROM t{where}"
    out = translate(sql)
    assert out.count("(") == out.count(")"), (sql, out)
    out2 = translate(out)
    assert out2.count("(") == out2.count(")"), (out, out2)
    # second pass must be a fixpoint: Spark-native output stays put
    assert translate(out2) == out2, (out, out2)


@given(
    tables=st.lists(_ident, min_size=2, max_size=3, unique=True),
)
@settings(max_examples=40, deadline=None)
def test_translate_comma_joins_never_gain_lateral_view(tables):
    refs = ", ".join(f"db1.{t} {t}x" for t in tables)
    sql = f"SELECT * FROM {refs} WHERE {tables[0]}x.a = {tables[1]}x.b"
    out = translate(sql)
    assert "LATERAL VIEW" not in out, out


# ---------------------------------------------------------------------------
# Strict-mode analyzer fuzz: the token-level checks (subquery clauses,
# aggregate/analytic in WHERE, ungrouped select/ORDER BY, agg-without-FROM)
# must be TOTAL over arbitrary query shapes — either translate cleanly or
# raise ImpalaUnsupportedError; never crash, never loop.
# ---------------------------------------------------------------------------

_SELECT_ITEMS = [
    "a", "t.b", "a AS x", "b y", "count(*)", "sum(b)", "count(*) AS n",
    "upper(a)", "1", "a + 1", "min(a) OVER (PARTITION BY b)",
    "(SELECT max(x) FROM u)",
    "lag(a, 2) OVER (ORDER BY b)", "lag(a, 0) OVER (ORDER BY b)",
    "rank() OVER (PARTITION BY 2 ORDER BY b)",
    "ts + INTERVAL 3 days", "ts - INTERVAL 5 zorks",
]
_WHERE_FRAGS = [
    "", " WHERE a > 1", " WHERE count(*) > 1", " WHERE sum(b) = 2",
    " WHERE b > (SELECT avg(x) FROM u)", " WHERE count(b) OVER (PARTITION BY c) > 1",
    " WHERE x IN (SELECT a FROM u)",
]
_TAIL_FRAGS = [
    "", " GROUP BY a", " GROUP BY a, b", " GROUP BY 1",
    " GROUP BY a ORDER BY b", " GROUP BY a ORDER BY n DESC",
    " GROUP BY a HAVING count(*) > 2", " ORDER BY a", " ORDER BY 2, a DESC",
    " GROUP BY a ORDER BY count(*)", " ORDER BY a NULLS FIRST LIMIT 3",
    " ORDER BY 99", " GROUP BY 0", " UNION ALL SELECT 1",
    " UNION ALL SELECT 1, 2 FROM u",
]


@given(
    items=st.lists(st.sampled_from(_SELECT_ITEMS), min_size=1, max_size=4),
    where=st.sampled_from(_WHERE_FRAGS),
    tail=st.sampled_from(_TAIL_FRAGS),
    from_t=st.sampled_from([
        " FROM t", " FROM t JOIN u ON t.k = u.k", "",
        " FROM t a, u a", " FROM t, t", " FROM t x JOIN u y ON x.k = y.k",
    ]),
)
@settings(max_examples=200, deadline=None)
def test_strict_checks_total_over_query_shapes(items, where, tail, from_t):
    from impala_spark.parser import ImpalaUnsupportedError

    sql = f"SELECT {', '.join(items)}{from_t}{where}{tail}"
    try:
        out = translate(sql, strict=True)
    except ImpalaUnsupportedError:
        return  # rejection is a legal outcome; crashes are not
    assert out.count("(") == out.count(")"), (sql, out)


# ---------------------------------------------------------------------------
# New-op totality over arbitrary text (unicode, punctuation-only, huge
# whitespace): chunking/repetition/BM25 must run and hold their invariants.
# ---------------------------------------------------------------------------


@given(
    texts=st.lists(
        st.text(max_size=120),  # arbitrary unicode incl. empty
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_text_ops_total_over_arbitrary_text(spark, texts):
    from impala_spark import llm_ops

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    chunks = llm_ops.chunk_documents(d, chunk_words=8, overlap=2).collect()
    for r in chunks:
        assert 1 <= r.n_words <= 8
        assert len(r.chunk_text.split()) == r.n_words
    rep = llm_ops.repetition_ratio(d).collect()
    for r in rep:
        assert 0.0 <= r.rep_ratio <= 1.0 and r.n_ngrams >= 1
    bm = llm_ops.bm25_scores(d, ["the", "a"]).collect()
    for r in bm:
        assert r.bm25 > 0
