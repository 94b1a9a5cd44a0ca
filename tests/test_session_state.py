"""Per-session state: one owner, bounded footprint.

The engine keeps what it knows about a session (fixture reads and
views, the dir they point at, posture and stats clones, synced
functions, the registry's engines) on the session wrapper itself
(session._state), so it lives and dies with the session. Pinned here:
two engines over different fixture dirs share a session without reading
each other's rows, a long mixed run keeps every piece of state flat,
and a dropped clone session is collectable.
"""

from __future__ import annotations

import gc
import os
import weakref

import pyarrow.parquet as pq
import pytest

from impala_spark import queries as Q
from impala_spark.engine import ImpalaEngine
from impala_spark.session import (
    _dir_total_bytes,
    fixture_copy_info,
    live_states,
    posture_session,
    register_tables,
)

SF_TINY = "/root/testdata/sf0.001"
SF_01 = "/root/testdata/sf0.01"
DIRS = (SF_TINY, SF_01)

pytestmark = pytest.mark.skipif(
    not all(os.path.isdir(d) for d in DIRS), reason="needs the sf0.001 and sf0.01 fixtures"
)

COUNTS = "SELECT (SELECT count(*) FROM lineitem) AS l, (SELECT count(*) FROM orders) AS o"


def _rows(sf_dir: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet")).metadata.num_rows


def _counts(eng: ImpalaEngine) -> tuple[int, int]:
    r = eng.sql(COUNTS).collect()[0]
    return r.l, r.o


@pytest.fixture
def restore_views(spark, sf_dir):
    yield
    Q._PLAN_CACHE.clear()
    register_tables(spark, sf_dir)  # the suite's fixture views again


def test_two_engines_on_one_session_read_their_own_dirs(spark, restore_views):
    """Engines over sf0.001 and sf0.01 on ONE session, in alternation:
    each reads its own dir's rows every time, also after the other was
    built and after a registry call over either dir in between."""
    want = {d: (_rows(d, "lineitem"), _rows(d, "orders")) for d in DIRS}
    assert want[SF_TINY] != want[SF_01]
    a = ImpalaEngine(spark, SF_TINY)
    assert _counts(a) == want[SF_TINY]
    b = ImpalaEngine(spark, SF_01)
    registry = (Q.SPARK_QUERIES["join_three_way"], Q.SPARK_QUERIES["agg_multi_distinct_rewrite"])
    for i in range(3):
        assert _counts(a) == want[SF_TINY], i
        assert _counts(b) == want[SF_01], i
        registry[i % 2](spark, DIRS[i % 2]).collect()
        assert _counts(b) == want[SF_01], i
        registry[i % 2](spark, DIRS[(i + 1) % 2]).collect()
        assert _counts(a) == want[SF_TINY], i
    assert a._gate_input_bytes(frozenset({"lineitem"}))[0] == _dir_total_bytes(
        os.path.join(SF_TINY, "lineitem.parquet")
    )


def test_views_that_point_here_are_not_repointed(spark, restore_views, monkeypatch):
    """While the session's views point at the engine's dir, the check
    before a statement makes no py4j call: nothing is re-registered."""
    import impala_spark.engine as E

    eng = ImpalaEngine(spark, SF_TINY)
    calls = []
    monkeypatch.setattr(E, "point_views", lambda *a: calls.append(a))
    eng.sql(COUNTS).collect()
    assert calls == []
    register_tables(spark, SF_01)
    eng.sql(COUNTS).collect()
    assert calls == [(spark, SF_TINY)]


def test_relational_family_conf_is_the_double_clones(spark, sf_dir):
    """@register(..., family="relational") plans the builder in ONE
    clone of the caller whose conf is, key for key, the conf of the
    relational clone of a parallel clone the builders used to make."""
    df = Q.SPARK_QUERIES["agg_multi_distinct_rewrite"](spark, sf_dir)
    size = _dir_total_bytes(sf_dir)
    twice = posture_session(posture_session(spark, size, "parallel"), size, "relational")
    got = df.sparkSession._jsparkSession.sessionState().conf().getAllConfs()
    want = twice._jsparkSession.sessionState().conf().getAllConfs()
    assert got.equals(want), (got.toString(), want.toString())
    assert df.sparkSession is posture_session(spark, size, "relational")
    assert df.sparkSession.conf.get("spark.sql.shuffle.partitions") == "1"


def _footprint(spark) -> dict[str, int]:
    gc.collect()
    states = live_states()
    copies = fixture_copy_info(spark)
    return {
        "states": len(states),
        "views": sum(len(dfs) for st in states for dfs in st.registered.values()),
        "fixture_reads": sum(len(st.fixtures) for st in states),
        "clones": sum(len(st.clones) for st in states),
        "stats_clones": sum(len(st.stats) for st in states),
        "engines": sum(len(st.engines) for st in states),
        "copies": copies.copies,
        "copy_bytes": copies.bytes,
        "storage_rdds": len(spark.sparkContext._jsc.sc().getRDDStorageInfo()),
    }


def test_soak_keeps_session_state_flat(spark, restore_views):
    """K engines over M fixture dirs, N statements per round, mixed with
    SET and spark.conf.set churn, registry builders and SQL entries, a
    CTAS that shadows a fixture name, REFRESH and DROP. Every piece of
    per-session state stays under its high-water mark of the two warm-up
    rounds for three more rounds (a leak of one object per round would
    cross it), and the dropped clone sessions are collected.

    The mark is not one exact count: PySpark keeps the last session
    wrapper it made, and the session whose view is re-pointed first
    after a REFRESH (weak-set order) holds the clone that rebuilds the
    copy."""
    engines = [ImpalaEngine(spark, d) for d in (SF_TINY, SF_01, SF_TINY)]
    builder = Q.SPARK_QUERIES["agg_multi_distinct_rewrite"]
    entry = Q.SPARK_QUERIES["join_three_way"]
    old_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    clones = []

    def one_round(r: int) -> dict[str, int]:
        for i, eng in enumerate(engines):
            want = (_rows(eng._sf_dir, "lineitem"), _rows(eng._sf_dir, "orders"))
            assert _counts(eng) == want
            spark.conf.set("spark.impala_spark.soak", f"{r}.{i}")
            eng.sql(f"SET BROADCAST_THRESHOLD={(16 + i % 2) << 20}")
            df = builder(spark, eng._sf_dir)
            clones.append(weakref.ref(df.sparkSession))
            df.collect()
            entry(spark, eng._sf_dir).collect()
        maker = engines[r % len(engines)]
        maker.sql("CREATE TABLE region AS SELECT 1 AS r_regionkey")
        try:
            # the shadowing table stays visible to the engine that made it
            assert maker.sql("SELECT count(*) AS n FROM region").collect()[0].n == 1
            maker.sql("REFRESH region")
            assert maker.sql("SELECT count(*) AS n FROM region").collect()[0].n == 1
        finally:
            maker.sql("DROP TABLE region")
        for eng in engines:
            assert eng.sql("SELECT count(*) AS n FROM region").collect()[0].n == 5
            eng.sql("REFRESH nation")
            assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0].n == 25
        return _footprint(spark)

    try:
        warm = [one_round(r) for r in range(2)]
        mark = {k: max(f[k] for f in warm) for k in warm[0]}
        for r in range(2, 5):
            now = one_round(r)
            assert all(now[k] <= mark[k] for k in mark), (r, now, mark)
    finally:
        spark.conf.unset("spark.impala_spark.soak")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_threshold)
    gc.collect()
    alive = [ref for ref in clones[:-1] if ref() is not None]
    assert not alive, f"{len(alive)} dropped clone sessions are still alive"


def test_idle_engine_does_not_pin_a_replaced_posture_clone(spark, restore_views):
    """Engine B plans a query in a posture clone; engine A's SET then
    replaces that clone. B's plan cache holds the clone weakly, so it
    is collected while B sits idle, and B's next run plans again."""
    a, b = ImpalaEngine(spark, SF_TINY), ImpalaEngine(spark, SF_TINY)
    q = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    df = b.sql(q)
    want = sorted(df.collect())
    clone = weakref.ref(df.sparkSession)
    assert clone() is not spark
    del df
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        a.sql("SET BROADCAST_THRESHOLD=12345678")
        a.sql(q).collect()  # plans in a new clone, which replaces B's
        gc.collect()
        assert clone() is None
        assert sorted(b.sql(q).collect()) == want
        assert b.plan_cache_info().misses == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
