"""Fixture views read an in-memory columnar copy of each small fixture
file (session._fixture_view), the analog of a table pinned in the HDFS
cache.

The copy replaces input I/O only: every statement gives what it gives
over the parquet files, table() readers keep their parquet scans, one
copy per file serves every session of the SparkContext, EXPLAIN shows
the copy as the table's one scan, and REFRESH / INVALIDATE METADATA drop
it so the next scan re-reads the file.
"""

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from test_plan_cache import INTERACTIVE, SF_01

from impala_spark import session as S
from impala_spark.engine import ImpalaEngine
from impala_spark.queries import SPARK_QUERIES
from impala_spark.session import (
    TABLES,
    fixture_copy_info,
    posture_session,
    register_stats_table,
    register_tables,
    stats_session,
    table,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def _fixture_dir(src: str, dst) -> str:
    """A writable copy of fixture dir `src`: a path no copy was made of."""
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(dst, f))
    return str(dst)


@pytest.fixture(scope="module")
def engines(spark):
    """(the front door over sf0.01, the same over parquet-backed views
    in a new session)"""
    parquet = spark.newSession()
    for name in TABLES:
        table(parquet, SF_01, name).createOrReplaceTempView(name)
    yield ImpalaEngine(spark.newSession(), SF_01, strict=True), ImpalaEngine(parquet, strict=True)


@pytest.mark.parametrize("name", INTERACTIVE)
def test_copies_give_what_parquet_gives(engines, name):
    """Each dashboard statement gives the sorted rows and schema it gives
    over the parquet files; the front door scans in memory, the parquet
    views never do."""
    text = SPARK_QUERIES[name].__doc__
    copied, parquet = (eng.sql(text) for eng in engines)
    assert copied.schema == parquet.schema
    assert _rows(copied) == _rows(parquet)
    assert "Scan In-memory table" in _plan(copied)
    assert "FileScan parquet" in _plan(parquet) and "In-memory" not in _plan(parquet)


def test_table_readers_keep_parquet_scans(engines):
    """table() reads the file with its filters pushed to the parquet
    reader, though the view of the same file reads the copy."""
    front_door, _parquet = engines
    front_door.sql("SELECT count(*) FROM lineitem WHERE l_quantity < 10").collect()
    df = table(front_door.spark, SF_01, "lineitem").filter("l_quantity < 10")
    plan = _plan(df)
    assert "In-memory" not in plan, plan
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10" in plan, plan


def test_over_ceiling_fixture_reads_parquet(spark, tmp_path):
    """A fixture file at or over FIXTURE_COPY_MAX_BYTES has no copy: its
    view plans the parquet scan, while the dir's smaller files are
    copied."""
    fixtures = _fixture_dir(SF_01, tmp_path / "sf")
    path = os.path.join(fixtures, "lineitem.parquet")
    rows = pq.read_table(path)
    pq.write_table(pa.concat_tables([rows] * 4), path)
    assert os.path.getsize(path) >= S.FIXTURE_COPY_MAX_BYTES
    sess = spark.newSession()
    register_tables(sess, fixtures)
    plan = _plan(sess.sql("SELECT count(*) FROM lineitem"))
    assert "FileScan parquet" in plan and "In-memory" not in plan, plan
    assert "Scan In-memory table orders" in _plan(sess.sql("SELECT count(*) FROM orders"))


def test_one_copy_per_fixture_across_sessions(spark, sf_dir, tmp_path):
    """The engine session, a registry posture clone and the stats session
    register one dir and scan every table: Spark stores one copy per
    table, and fixture_copy_info counts exactly the bytes stored."""
    sc = spark.sparkContext._jsc.sc()
    before_ids, before = {i.id() for i in sc.getRDDStorageInfo()}, fixture_copy_info(spark)
    fixtures = _fixture_dir(sf_dir, tmp_path / "sf")
    engine = ImpalaEngine(spark.newSession(), fixtures).spark
    register_stats_table(engine, fixtures, "region")  # the stats database
    sessions = (
        engine,
        posture_session(engine, S._dir_total_bytes(fixtures), "relational"),
        stats_session(engine, fixtures),
    )
    names = sorted(f[: -len(".parquet")] for f in os.listdir(fixtures))
    for sess in sessions:
        register_tables(sess, fixtures)
        for name in names:
            sess.table(name).collect()
    new = [i for i in sc.getRDDStorageInfo() if i.id() not in before_ids]
    assert sorted(i.name() for i in new) == [f"In-memory table {n}" for n in names]
    after = fixture_copy_info(spark)
    assert after.copies - before.copies == len(names)
    assert after.bytes - before.bytes == sum(i.memSize() + i.diskSize() for i in new) > 0


def _rewrite(path: str, rows: int) -> None:
    pq.write_table(pq.read_table(path).slice(0, rows), path)


def test_refresh_and_invalidate_drop_the_copy(spark, tmp_path):
    """A fixture file rewritten under a filled copy is seen after REFRESH
    (and INVALIDATE METADATA), not before, by the views and by table()."""
    fixtures = _fixture_dir(SF_01, tmp_path / "sf")
    eng = ImpalaEngine(spark.newSession(), fixtures)
    count = "SELECT count(*) AS n FROM nation"
    assert eng.sql(count).first().n == 25
    _rewrite(os.path.join(fixtures, "nation.parquet"), 5)
    assert eng.sql(count).first().n == 25  # the copy serves
    eng.sql("REFRESH nation")
    assert eng.sql(count).first().n == 5
    assert table(eng.spark, fixtures, "nation").count() == 5
    assert [r.path for r in eng.sql("SHOW FILES IN nation").collect()] == ["nation.parquet"]
    _rewrite(os.path.join(fixtures, "nation.parquet"), 3)
    assert eng.sql(count).first().n == 5
    eng.sql("INVALIDATE METADATA")
    assert eng.sql(count).first().n == 3


def test_refresh_reaches_every_engine_on_the_dir(spark, tmp_path):
    """Two engines share a dir's copies. A REFRESH in one re-points the
    other's views at the fresh copy too, the dropped copy's blocks go,
    and INVALIDATE METADATA leaves another dir's copies alone."""
    fixtures = _fixture_dir(SF_01, tmp_path / "sf")
    other = _fixture_dir(SF_01, tmp_path / "other")
    a, b = (ImpalaEngine(spark.newSession(), fixtures) for _ in range(2))
    c = ImpalaEngine(spark.newSession(), other)
    count = "SELECT count(*) AS n FROM nation"
    assert [e.sql(count).first().n for e in (a, b, c)] == [25, 25, 25]
    sc = spark.sparkContext._jsc.sc()
    held = lambda: sorted(i.id() for i in sc.getRDDStorageInfo()  # noqa: E731
                          if i.name() == "In-memory table nation")
    filled = held()
    copies = fixture_copy_info(spark).copies
    _rewrite(os.path.join(fixtures, "nation.parquet"), 5)
    _rewrite(os.path.join(other, "nation.parquet"), 7)
    a.sql("REFRESH nation")
    assert [e.sql(count).first().n for e in (a, b, c)] == [5, 5, 25]
    assert len(held()) == len(filled) and held() != filled  # one copy replaced
    assert fixture_copy_info(spark).copies == copies
    b.sql("INVALIDATE METADATA")
    assert [e.sql(count).first().n for e in (a, b, c)] == [5, 5, 25]
    c.sql("INVALIDATE METADATA")
    assert c.sql(count).first().n == 7


def test_explain_shows_the_copy_as_one_scan(spark, tmp_path):
    """EXPLAIN renders an in-memory scan as the table's one SCAN PARQUET
    line (the nested plan that fills the copy is not walked). Its
    estimates read the same before and after the copy is filled; once
    filled, each scan line also shows the in-memory size the planner
    then uses."""
    eng = ImpalaEngine(spark.newSession(), _fixture_dir(SF_01, tmp_path / "sf"))
    q = ("SELECT l_returnflag, count(*) FROM lineitem JOIN orders"
         " ON l_orderkey = o_orderkey GROUP BY l_returnflag")
    before = eng.explain(q)
    eng.sql(q).collect()
    after = eng.explain(q)
    assert before.count("SCAN PARQUET") == 2 and "SCAN PARQUET  [cardinality=" in before
    assert "In-memory" not in before and "in-memory size=" not in before
    assert after.count(", in-memory size=") == 2, after
    # the per-host estimate, the warning and the per-scan stats; the
    # root's Catalyst estimate (line 3, after the warning's two lines)
    # reads the filled copy's size
    before, after = before.split("\n"), re.sub(r", in-memory size=[^\]]*", "", after).split("\n")
    assert before[3].startswith("   cardinality="), before
    del before[3], after[3]
    assert after == before
