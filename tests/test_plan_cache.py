"""The front door's plan cache (ImpalaEngine.sql): a repeated plain query
runs as a new DataFrame over its cached analyzed plan.

A hit must give what a miss gives, run as much of Spark as a miss (no
shuffle or broadcast output reused), still be authorized, and never
outlive a change to anything it planned with: a write, DDL, stats, a
SET or raw conf change, a USE, a function. The generated-code cache
must hold the dashboard's working set.
"""

import random
import sys
import threading

import pytest

from impala_spark import ddl
from impala_spark import engine as E
from impala_spark.engine import ImpalaAnalysisError, ImpalaEngine
from impala_spark.queries import SPARK_QUERIES
from impala_spark.session import register_tables, stats_db_name

SF_01 = "/root/testdata/sf0.01"

#: the distinct statements perfbench's `interactive` workload issues
INTERACTIVE = (
    "tpch_q6_forecast_revenue", "tpch_q14_promo_revenue", "agg_basic",
    "filter_predicates", "tpcds_q96_shape", "expr_string_funcs",
    "expr_date_funcs", "subquery_exists", "subquery_in", "union_all",
    "join_right_outer", "agg_group_concat", "tpch_q19_discounted_revenue",
    "agg_exact_percentiles", "analytic_lag_lead", "join_three_way",
    "tpcds_q42_shape", "group_by_having", "tpch_q3_shipping_priority",
)

JOIN = (
    "SELECT n_name, count(*) AS n FROM nation JOIN region"
    " ON n_regionkey = r_regionkey GROUP BY n_name"
)


def _counts(eng) -> tuple[int, int]:
    info = eng.plan_cache_info()
    return info.hits, info.misses


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _read(eng, q: str, hit: bool):
    """Run `q` and assert it was a hit (or a miss)."""
    hits, misses = _counts(eng)
    df = eng.sql(q)
    assert _counts(eng) == ((hits + 1, misses) if hit else (hits, misses + 1)), q
    return df


@pytest.fixture
def interactive_engine(spark, sf_dir):
    eng = ImpalaEngine(spark, SF_01, strict=True)
    yield eng
    register_tables(spark, sf_dir)  # the suite's fixture views again


@pytest.mark.parametrize("name", INTERACTIVE)
def test_hit_matches_miss(interactive_engine, name):
    """Each dashboard statement gives the same sorted rows and schema
    from its cached plan as when it was planned."""
    text = SPARK_QUERIES[name].__doc__
    miss = _read(interactive_engine, text, hit=False)
    hit = _read(interactive_engine, text, hit=True)
    assert hit.schema == miss.schema
    assert _rows(hit) == _rows(miss)


def _stages_and_tasks(spark, df, group: str) -> tuple[int, int]:
    """(stages run, tasks completed) by the jobs collecting `df`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, True)
    try:
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    infos = [i for s in stages if (i := st.getStageInfo(s)) and i.numCompletedTasks]
    return len(infos), sum(i.numCompletedTasks for i in infos)


@pytest.mark.parametrize(
    "name", ("tpch_q14_promo_revenue", "tpch_q3_shipping_priority", "analytic_lag_lead"))
def test_hit_runs_every_stage(spark, interactive_engine, name):
    """A hit is a new query over the plan: it runs as many stages and
    tasks as the miss. Collecting the miss's DataFrame again shows what
    reuse would look like: Spark skips the stages whose shuffle output
    still exists."""
    text = SPARK_QUERIES[name].__doc__
    miss = _read(interactive_engine, text, hit=False)
    planned = _stages_and_tasks(spark, miss, f"pc-miss-{name}")
    hit = _read(interactive_engine, text, hit=True)
    assert _stages_and_tasks(spark, hit, f"pc-hit-{name}") == planned
    recollected = _stages_and_tasks(spark, miss, f"pc-again-{name}")
    assert recollected[1] < planned[1], (recollected, planned)


def test_a_miss_analyzes_once_and_a_hit_never(interactive_engine, monkeypatch):
    """A strict miss builds one parser._Analysis: the tables it reads
    (authorization, admission, the size gates) and its translation
    share it. A hit builds none."""
    from impala_spark import parser as P

    built = []
    init = P._Analysis.__init__

    def counted(self, *args, **kwargs):
        built.append(args[0])
        init(self, *args, **kwargs)

    monkeypatch.setattr(P._Analysis, "__init__", counted)
    for name in INTERACTIVE:
        text = SPARK_QUERIES[name].__doc__
        built.clear()
        _read(interactive_engine, text, hit=False)
        assert len(built) == 1, name
        _read(interactive_engine, text, hit=True)
        assert len(built) == 1, name


def test_a_miss_tokenizes_once(interactive_engine, monkeypatch):
    """A strict miss tokenizes its text once, for the analysis that
    translate's passes then read; the size-gated plan rewrites parse
    nothing below their gates. A hit tokenizes nothing."""
    # (the modules the engine loads lazily bind the unpatched tokenize)
    from impala_spark import parser as P, rewrites, tosql  # noqa: F401

    calls = []
    tokenize = P.tokenize

    def counted(sql):
        calls.append(sql)
        return tokenize(sql)

    # translate's, the statement analysis's and the plan rewrites'
    for mod in (P, E, rewrites):
        monkeypatch.setattr(mod, "tokenize", counted)
    for name in INTERACTIVE:
        text = SPARK_QUERIES[name].__doc__
        calls.clear()
        _read(interactive_engine, text, hit=False)
        assert len(calls) == 1, (name, len(calls))
        _read(interactive_engine, text, hit=True)
        assert len(calls) == 1, name


def test_registry_entry_takes_the_front_door(spark, sf_dir):
    """A registry SQL entry is a statement through its engine's
    ImpalaEngine.sql: the repeat is a plan-cache hit that runs as a new
    DataFrame, with as many stages and tasks as the first call.
    Clearing queries._PLAN_CACHE drops the engine, so the next call
    plans again."""
    from impala_spark import queries as Q
    from impala_spark.session import _state

    run = SPARK_QUERIES["tpch_q14_promo_revenue"]
    engines = _state(spark).engines
    Q._PLAN_CACHE.clear()
    try:
        first = run(spark, SF_01)
        eng = engines[SF_01]
        assert _counts(eng) == (0, 1)
        planned = _stages_and_tasks(spark, first, "pc-registry-first")
        second = run(spark, SF_01)
        assert _counts(eng) == (1, 1)
        assert second is not first
        assert _stages_and_tasks(spark, second, "pc-registry-second") == planned
        Q._PLAN_CACHE.clear()
        run(spark, SF_01)
        assert engines[SF_01] is not eng
        assert _counts(engines[SF_01]) == (0, 1)
    finally:
        Q._PLAN_CACHE.clear()
        register_tables(spark, sf_dir)  # the suite's fixture views again


@pytest.fixture
def eng(spark, sf_dir):
    return ImpalaEngine(spark, sf_dir)


def test_writes_are_never_served_stale(spark, eng):
    """A re-read after INSERT, UPDATE, DELETE, UPSERT and INSERT
    OVERWRITE of a table it reads plans again and sees the write; a
    repeat after that hits again."""
    q = "SELECT count(*) AS n, sum(v) AS s FROM pc_kv"
    eng.sql(
        "CREATE TABLE pc_kv (k BIGINT, v BIGINT, PRIMARY KEY (k))"
        " PARTITION BY HASH (k) PARTITIONS 2 STORED AS KUDU")
    eng.sql("CREATE TABLE pc_plain AS SELECT r_regionkey AS k FROM region")
    try:
        eng.sql("INSERT INTO pc_kv SELECT r_regionkey, r_regionkey * 10 FROM region")
        assert _rows(_read(eng, q, hit=False)) == [(5, 100)]
        assert _rows(_read(eng, q, hit=True)) == [(5, 100)]
        for write, want in (
            ("INSERT INTO pc_kv SELECT n_nationkey + 100, 1 FROM nation", (30, 125)),
            ("UPDATE pc_kv SET v = v + 1 WHERE k < 5", (30, 130)),
            ("DELETE FROM pc_kv WHERE k >= 100", (5, 105)),
            ("UPSERT INTO pc_kv SELECT r_regionkey, 0 FROM region", (5, 0)),
        ):
            eng.sql(write)
            assert _rows(_read(eng, q, hit=False)) == [want], write
            assert _rows(_read(eng, q, hit=True)) == [want], write
        q = "SELECT count(*) AS n, sum(k) AS s FROM pc_plain"
        assert _rows(_read(eng, q, hit=False)) == [(5, 10)]
        _read(eng, q, hit=True)
        eng.sql("INSERT OVERWRITE pc_plain SELECT 7")
        assert _rows(_read(eng, q, hit=False)) == [(1, 7)]
        assert _rows(_read(eng, q, hit=True)) == [(1, 7)]
    finally:
        ddl.drop_table(spark, "pc_kv")
        ddl.drop_table(spark, "pc_plain")


def test_drop_and_shadowing_create_are_never_served_stale(spark, sf_dir, eng):
    q = "SELECT count(*) AS n FROM pc_gone"
    eng.sql("CREATE TABLE pc_gone AS SELECT r_regionkey AS k FROM region")
    try:
        _read(eng, q, hit=False)
        _read(eng, q, hit=True)
        eng.sql("DROP TABLE pc_gone")
        with pytest.raises(ImpalaAnalysisError, match="Could not resolve table reference"):
            eng.sql(q)
        eng.sql("CREATE TABLE pc_gone AS SELECT 1 AS k")
        assert _rows(_read(eng, q, hit=False)) == [(1,)]
    finally:
        ddl.drop_table(spark, "pc_gone")
    # a managed table that shadows a fixture view
    q = "SELECT count(*) AS n FROM region"
    assert _rows(_read(eng, q, hit=False)) == [(5,)]
    _read(eng, q, hit=True)
    eng.sql("CREATE TABLE region AS SELECT 1 AS r_regionkey")
    try:
        assert _rows(_read(eng, q, hit=False)) == [(1,)]
        assert _rows(_read(eng, q, hit=True)) == [(1,)]
    finally:
        ddl.drop_table(spark, "region")
        register_tables(spark, sf_dir)
    assert _rows(_read(eng, q, hit=False)) == [(5,)]


def test_view_ddl_is_never_served_stale(eng):
    q = "SELECT count(*) AS n FROM pc_v"
    eng.sql("CREATE VIEW pc_v AS SELECT * FROM region WHERE r_regionkey < 2")
    try:
        assert _rows(_read(eng, q, hit=False)) == [(2,)]
        _read(eng, q, hit=True)
        eng.sql("ALTER VIEW pc_v AS SELECT * FROM region WHERE r_regionkey < 3")
        assert _rows(_read(eng, q, hit=False)) == [(3,)]
        _read(eng, q, hit=True)
        eng.sql("DROP VIEW pc_v")
        with pytest.raises(ImpalaAnalysisError, match="Could not resolve table reference"):
            eng.sql(q)
        eng.sql("CREATE VIEW pc_v AS SELECT * FROM region")
        assert _rows(_read(eng, q, hit=False)) == [(5,)]
    finally:
        eng.sql("DROP VIEW IF EXISTS pc_v")


def test_stats_are_never_served_stale(sf_dir, eng):
    """COMPUTE STATS moves the next read to the stats session, DROP STATS
    moves it back."""
    def routed(df) -> bool:
        return df.sparkSession.catalog.currentDatabase() == stats_db_name(sf_dir)

    assert not routed(_read(eng, JOIN, hit=False))
    assert not routed(_read(eng, JOIN, hit=True))
    eng.sql("COMPUTE STATS nation")
    eng.sql("COMPUTE STATS region")
    assert routed(_read(eng, JOIN, hit=False))
    assert routed(_read(eng, JOIN, hit=True))
    eng.sql("DROP STATS nation")
    assert not routed(_read(eng, JOIN, hit=False))


def test_set_is_never_served_stale(eng):
    """After SET disable_codegen=true a repeated statement plans without
    whole-stage codegen, on a miss and on the hits after it."""
    assert "*(" in _plan(_read(eng, JOIN, hit=False))
    _read(eng, JOIN, hit=True)
    try:
        eng.sql("SET disable_codegen=true")
        for hit in (False, True):
            plan = _plan(_read(eng, JOIN, hit=hit))
            assert "*(" not in plan and "WholeStageCodegen" not in plan, plan
    finally:
        eng.sql("SET disable_codegen=false")
    assert "*(" in _plan(_read(eng, JOIN, hit=False))


@pytest.mark.parametrize("posture", (True, False))
def test_raw_conf_change_is_never_served_stale(spark, eng, monkeypatch, posture):
    """A conf set on the session directly, not through the engine, is
    seen too: the posture clone (or, without the posture, the session's
    conf) it planned with no longer matches."""
    if not posture:
        monkeypatch.setenv("SPARK_GRAFT_DISABLE_SMALL_POSTURE", "1")
    key = "spark.sql.codegen.wholeStage"
    old = spark.conf.get(key)
    assert (_read(eng, JOIN, hit=False).sparkSession is spark) is not posture
    _read(eng, JOIN, hit=True)
    try:
        spark.conf.set(key, "false")
        assert "*(" not in _plan(_read(eng, JOIN, hit=False))
        assert "*(" not in _plan(_read(eng, JOIN, hit=True))
        assert eng.plan_cache_info().invalidations == 1
    finally:
        spark.conf.set(key, old)
    assert "*(" in _plan(_read(eng, JOIN, hit=False))


def test_posture_switch_is_never_served_stale(spark, eng, monkeypatch):
    assert _read(eng, JOIN, hit=False).sparkSession is not spark
    monkeypatch.setenv("SPARK_GRAFT_DISABLE_SMALL_POSTURE", "1")
    assert _read(eng, JOIN, hit=False).sparkSession is spark


def test_use_is_never_served_stale(spark, eng):
    """The same text reads another table after USE, or after the current
    database changes under the engine."""
    q = "SELECT count(*) AS n FROM pc_u"
    for db, n in (("pc_use1", 1), ("pc_use2", 2)):
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        spark.sql(f"CREATE TABLE {db}.pc_u USING parquet AS SELECT id FROM range({n})")
    try:
        eng.sql("USE pc_use1")
        assert _rows(_read(eng, q, hit=False)) == [(1,)]
        assert _rows(_read(eng, q, hit=True)) == [(1,)]
        eng.sql("USE pc_use2")
        assert _rows(_read(eng, q, hit=False)) == [(2,)]
        spark.catalog.setCurrentDatabase("pc_use1")
        assert _rows(_read(eng, q, hit=False)) == [(1,)]
    finally:
        spark.catalog.setCurrentDatabase("default")
        for db in ("pc_use1", "pc_use2"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_function_ddl_is_never_served_stale(eng):
    """DROP FUNCTION, then a function of the same name bound to another
    symbol: the repeated statement calls the new one."""
    q = "SELECT pc_fn(100.0) AS v"
    eng.sql("CREATE FUNCTION pc_fn(DOUBLE) RETURNS DOUBLE LOCATION '/dev/null' SYMBOL='add_tax'")
    try:
        assert _rows(_read(eng, q, hit=False)) == [(pytest.approx(110.0),)]
        _read(eng, q, hit=True)
        eng.sql("DROP FUNCTION pc_fn(DOUBLE)")
        eng.sql(
            "CREATE AGGREGATE FUNCTION pc_fn(DOUBLE) RETURNS DOUBLE"
            " LOCATION '/dev/null' UPDATE_FN='geomean'")
        assert _rows(_read(eng, q, hit=False)) == [(pytest.approx(100.0),)]
    finally:
        eng.sql("DROP FUNCTION pc_fn(DOUBLE)")


def test_authorization_runs_on_every_hit(spark, sf_dir):
    """A cached statement is denied once the user loses the privilege,
    by REVOKE or by leaving the group that holds the role."""
    from impala_spark.authz import AuthorizationError

    e = ImpalaEngine(spark, sf_dir, server_name="server1", user="pc_user")
    e._authz.user_groups = {"pc_user": {"pc_group"}}
    q = "SELECT count(*) AS n FROM region"
    e.sql("CREATE ROLE pc_role")
    try:
        e.sql("GRANT ROLE pc_role TO GROUP pc_group")
        e.sql("GRANT SELECT ON TABLE region TO ROLE pc_role")
        _read(e, q, hit=False)
        _read(e, q, hit=True)
        e._authz.user_groups = {"pc_user": set()}
        with pytest.raises(AuthorizationError, match="does not have privileges"):
            e.sql(q)
        assert e.plan_cache_info().currsize == 1  # denied before it could run
        e._authz.user_groups = {"pc_user": {"pc_group"}}
        _read(e, q, hit=True)
        e.sql("REVOKE SELECT ON TABLE region FROM ROLE pc_role")
        with pytest.raises(AuthorizationError, match="does not have privileges"):
            e.sql(q)
    finally:
        e.sql("DROP ROLE pc_role")


def test_cache_is_bounded_lru(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(E, "PLAN_CACHE_SIZE", 3)
    eng = ImpalaEngine(spark, sf_dir)
    assert eng.plan_cache_info().maxsize == 3
    texts = [f"SELECT r_name, {i} AS i FROM region" for i in range(5)]
    for t in texts:
        _read(eng, t, hit=False)
        assert eng.plan_cache_info().currsize <= 3
    assert eng.plan_cache_info().currsize == 3
    _read(eng, texts[-1], hit=True)
    _read(eng, texts[0], hit=False)  # evicted first
    assert eng.plan_cache_info() == E.PlanCacheInfo(1, 6, 0, 3, 3)


def test_nondeterministic_plans_are_not_kept(eng):
    """rand() draws its seed in analysis: its plan is never reused."""
    q = "SELECT rand() AS r"
    a = _read(eng, q, hit=False).collect()[0].r
    b = _read(eng, q, hit=False).collect()[0].r
    assert a != b
    assert eng.plan_cache_info().currsize == 0


def test_concurrent_statements_share_the_cache(eng):
    """More threads than cores, switching often: every statement is
    counted once (a lost update would break the sum) and every result
    is right."""
    texts = [f"SELECT count(*) + {i} AS n FROM region" for i in range(3)]
    errors = []

    def worker(seed: int):
        rng = random.Random(seed)
        try:
            for _ in range(6):
                i = rng.randrange(3)
                assert eng.sql(texts[i]).collect()[0].n == 5 + i
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(repr(e))

    threads = [threading.Thread(target=worker, args=(s,)) for s in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    info = eng.plan_cache_info()
    assert info.hits + info.misses == 48 and info.currsize == 3


def test_codegen_cache_holds_the_interactive_working_set(spark, interactive_engine):
    """After a warm pass, two shuffled passes of the dashboard's 19
    statements compile no new class: the generated-class cache
    (spark.sql.codegen.cache.maxEntries) holds their 137 classes."""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    texts = [SPARK_QUERIES[n].__doc__ for n in INTERACTIVE]
    for t in texts:
        interactive_engine.sql(t).toArrow()
    before = compiled.getCount()
    rng = random.Random(8)
    for _ in range(2):
        rng.shuffle(texts)
        for t in texts:
            interactive_engine.sql(t).toArrow()
    assert compiled.getCount() - before == 0
