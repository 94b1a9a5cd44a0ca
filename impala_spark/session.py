"""SparkSession factory + fixture-table registration.

Scale posture (the part of the reference's DistributedPlanner that Spark
replaces — reference: planner/DistributedPlanner.java:420-536 broadcast
cost model, planner/RuntimeFilterGenerator.java runtime filters):

- Chosen per statement from the bytes it reads (`posture`): a
  relational statement under SINGLE_NODE_MAX_INPUT_BYTES (64 MB) plans
  with one shuffle partition, AQE and runtime bloom filters off — the
  reference's single-node plan for small queries (Planner.java:91-108).
  ImpalaEngine sizes each query from the tables it scans (`posture_df`),
  the registry's SQL entries included (they run through it); the
  registry's DataFrame builders take the posture of their fixture dir's
  bytes (`posture_session`).
- AQE on at scale: runtime re-plan of shuffle partition counts,
  skew-join splitting, and broadcast-join demotion/promotion from
  observed sizes.
- Generated code is cached for the working set: Spark compiles one
  class per whole-stage-codegen subtree shape and keeps them in an LRU
  of spark.sql.codegen.cache.maxEntries (100 by default). perfbench's
  19 `interactive` statements need 137 classes and its `batch` cycle
  114, so at 100 every repeated statement recompiled ~2.6 classes (~8 ms
  each); get_spark sets 1000, and a warm dashboard recompiles nothing.
- Small fixture tables are read from memory: below
  FIXTURE_COPY_MAX_BYTES a fixture view reads one in-memory
  columnar copy of its file per SparkContext (_fixture_view), the analog
  of a table pinned in the HDFS cache; table() keeps the parquet scan.
- Runtime bloom filters on at scale: Spark's equivalent of Impala's
  runtime filters (build-side filter pushed to the probe scan);
  register_tables disables them, and AQE, below SMALL_QUERY_BYTES.
- autoBroadcastJoinThreshold 16 MB: every true dimension table broadcasts
  while facts never do — the static threshold compares COMPRESSED parquet
  bytes (see inline note), so 64 MB would broadcast multi-million-row
  facts; AQE re-promotes provably-small shuffle sides at runtime.
- shuffle.partitions 32 locally; on a 1000-executor cluster this single
  knob (or AQE coalescing from an intentionally-high initial count) is the
  one to raise — nothing else in the engine hard-codes parallelism.
- Timezone UTC + ANSI off: Impala TIMESTAMP is timezone-less and Impala
  arithmetic does not throw on overflow (SURVEY §7 hard parts).
"""

from __future__ import annotations

import os
import re
import threading
import weakref
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

#: Fixture tables generated by the driver (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Tables small enough (at any SF — they grow sub-linearly or are bounded)
#: to broadcast in joins. Mirrors the reference's broadcast-cost decision
#: (planner/DistributedPlanner.java:425-506) which at TPC-H scales always
#: picks broadcast for these.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def get_spark(app_name: str = "impala_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    All scale-relevant knobs live here so every entry point (tests, bench,
    driver harness) runs the same posture.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # reliable checkpoints (operators.materialize_stage) are deleted
        # once their DataFrame is garbage-collected; read at start-up only
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # --- planner/exchange posture ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce small shuffles to the advisory size instead of padding
        # out to defaultParallelism: KB-scale exchanges collapse to one
        # task (scheduling overhead dominates them), while at cluster
        # scale the 64 MB advisory target governs — the setting Spark's
        # own docs recommend for production.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom filters = the reference's runtime filters
        # (planner/RuntimeFilterGenerator.java). NOTE: do not also enable
        # runtimeFilter.semiJoinReduction — it livelocks the Spark 4.1.2
        # optimizer on plain parquet reads (bisected locally).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Hash join over sort-merge join, like the reference: Impala's
        # PARTITIONED hash join never sorts its inputs (P/
        # DistributedPlanner.java), and neither should we — Spark only
        # prefers SMJ for spill robustness, but ShuffledHashJoin has
        # disk-spill support since 3.2 and AQE still handles skew.
        # Measured on the q3 fact-fact join at sf10 (60M lineitem rows):
        # 6.1s -> 2.0s fresh — both sides' sort stages disappear.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # InferFiltersFromGenerate clones the full generator expression into
        # a pre-exchange Filter. For cheap generators that's a win; for the
        # LLM-ops shingle/band generators (regex + higher-order funcs) the
        # cloned filter runs interpreted in the scan stage — measured 9x
        # slower end-to-end (26.9s -> 2.9s on the sf0.1 explode). Excluded.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # 16 MB, not more: the static threshold compares COMPRESSED parquet
        # bytes, which understate the in-memory hash relation ~5-10x. At
        # 64 MB an sf1.0 run broadcast the *filtered lineitem fact* (3M
        # rows) — a driver-side build per fresh plan, seconds of GC, and a
        # guaranteed OOM at cluster scale. 16 MB keeps every true dimension
        # (region/nation/supplier/part/customer: <=2 MB/10x-SF growth or
        # bounded) on the broadcast path while facts shuffle; AQE's runtime
        # threshold still promotes provably-small shuffle sides using
        # observed (accurate) sizes.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", "32")
        # 32 MB, not Spark's 128 MB default: FilePartition PACKS files up
        # to maxPartitionBytes per split, and the sf10 fixtures are 32
        # files x ~24 MB per fact table — at 128 MB the whole 732 MB
        # lineitem scan collapses to ~6 map tasks on 32 cores, starving
        # the shuffle's map side. 32 MB = one fixture file per task.
        # Measured (r7 shuffle-cost sweep, BASELINE.md, 5-rep medians at
        # sf10): q3 3.08 -> 2.89 s, q5 4.13 -> 3.94 s, and the noisy-
        # tail outliers disappear. Neutral at sf0.1/0.001 (single file,
        # single row group = the split floor). On a real cluster reading
        # 100 TB the default should go back up (task count, not
        # parallelism, is the constraint there) — env-overridable.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        # CBO off: Spark's CBO only improves plans when catalog stats exist
        # (ANALYZE TABLE); over path-based temp views it falls back to the
        # same size-only estimates with or without the flag — but the flag
        # makes the bloom-filter/stats rules walk per-file metadata on every
        # fresh plan (measured: pricing_summary 0.7 s -> 4 s of pure
        # planning at sf1.0, growing with file count). Join order is
        # hand-written + AQE re-plans at runtime, which is also the
        # reference's posture when tables lack COMPUTE STATS
        # (planner/DistributedPlanner.java falls back to left-deep
        # as-written).
        .config("spark.sql.cbo.enabled", "false")
        # Spark 4.1 DUAL-RUNS the experimental single-pass resolver
        # alongside the fixed-point analyzer for cross-validation —
        # measured ~17% of the per-query fixed floor (0.334 -> 0.277 s on
        # a fresh 1-agg plan). Forced single-pass isn't viable either
        # (UNSUPPORTED_SINGLE_PASS_ANALYZER_FEATURE on parquet reads), so
        # pin the proven fixed-point path only.
        .config("spark.sql.analyzer.singlePassResolver.enabled", "false")
        # Generated-class cache: 1000 entries, not Spark's 100. perfbench's
        # `interactive` statements need 137 classes and `batch` 114, so at
        # 100 the LRU thrashed (~2.6 recompiles of ~8 ms per repeated
        # statement, up to 13 for a window query). No size holds every
        # shape (the 289 registry queries compile 2,924 distinct classes);
        # 1000 holds a working set. Metaspace after 150 registry queries:
        # 193.3 MB at 1000 against 187.0 MB at 100. Static: start-up only.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # --- semantics posture (Impala parity, SURVEY §7) ---
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Impala TIMESTAMP is timezone-less -> make literals/casts NTZ too.
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # Spark cannot read parquet TIMESTAMP(NANOS) natively (the driver's
        # events.ts fixture column is nanos); read as epoch-nano longs and
        # convert in table()/register_tables below.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python/arrow path for the few pandas UDFs (LLM ops) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver JVM IS the executor — 32 task threads
        # shuffling 60M-row fixtures in an 8g heap spent whole seconds in
        # GC (sf10 medians swung 2x run-to-run); 16g steadies them. On a
        # real cluster executor memory is provisioned per-node instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    from impala_spark.ddl import WAREHOUSE

    meta_dir = os.path.join(WAREHOUSE, "metastore_db")
    persist_env = os.environ.get("SPARK_GRAFT_PERSIST_CATALOG")
    if persist_env is None:
        # r12 (verdict task #6): auto-enable when the warehouse already
        # carries a Derby metastore — a fresh process over an existing
        # warehouse re-attaches its COMPUTE STATS promotions and
        # bucketed layouts without ANALYZE and without any env var (the
        # "one-time layout cost" argument must not hinge on finding an
        # env var). First-ever process still defaults off: Derby allows
        # ONE process at a time and the driver harness runs its own
        # concurrent sessions, so CREATING the metastore stays an
        # explicit choice (SPARK_GRAFT_PERSIST_CATALOG=1);
        # SPARK_GRAFT_PERSIST_CATALOG=0 opts back out of auto-attach.
        persist = os.path.isdir(meta_dir)
    else:
        persist = persist_env.lower() not in ("", "0", "false", "no")
    if persist:
        # Persistent metastore (r10 verdict task #4): a Derby-backed
        # Hive catalog makes COMPUTE STATS promotions and bucketed
        # layouts survive process restarts, so ANALYZE (12-22 s at
        # sf10/30) and layout builds (126 s at sf30) genuinely amortize
        # the way the 100 TB argument claims — register_stats_table
        # re-attaches instead of re-ANALYZing (see below).
        builder = (
            builder.config("spark.sql.catalogImplementation", "hive")
            .config(
                "spark.sql.warehouse.dir",
                os.path.join(WAREHOUSE, "spark_warehouse"),
            )
            .config(
                "spark.hadoop.javax.jdo.option.ConnectionURL",
                f"jdbc:derby:;databaseName={meta_dir};create=true",
            )
            # keep derby.log out of the cwd
            .config(
                "spark.driver.extraJavaOptions",
                f"-Dderby.system.home={WAREHOUSE}",
            )
        )
    return builder.getOrCreate()


#: path -> list of column names stored as parquet TIMESTAMP(NANOS)
_NANO_TS_CACHE: dict[str, list[str]] = {}


def _nano_ts_columns(path: str) -> list[str]:
    """Columns stored as TIMESTAMP(NANOS) — Spark reads them as epoch-nano
    longs under legacy.parquet.nanosAsLong; we restore timestamps below.
    Footer-only read, cached per path."""
    if path not in _NANO_TS_CACHE:
        import pyarrow.parquet as pq

        cols: list[str] = []
        try:
            f = pq.ParquetFile(path)
            for c in f.schema:
                lt = str(c.logical_type)
                if "Timestamp" in lt and "nanoseconds" in lt:
                    cols.append(c.name)
        except Exception:
            pass
        _NANO_TS_CACHE[path] = cols
    return _NANO_TS_CACHE[path]


#: Runtime-settable SQL confs the fixtures/queries depend on. Applied
#: defensively on EVERY session that reaches register_tables()/table(),
#: because the driver harness passes its own SparkSession (not get_spark's)
#: and e.g. events.parquet is unreadable without nanosAsLong.
_REQUIRED_RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # NOTE: adaptive.enabled deliberately absent — register_tables owns
    # it via the small-query gate; forcing it here silently undid the
    # gate on the FIRST register in every fresh session (fixed r8)
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


class _SessionState:
    """What the engine keeps for one SparkSession wrapper (_state): it is
    stored on the wrapper, so it lives and dies with the session."""

    def __init__(self) -> None:
        #: ensure_session_conf has run
        self.conformed = False
        #: a posture or stats clone: gate_small_queries leaves its conf alone
        self.pinned = False
        #: the engine's fnv_hash/murmur_hash UDFs are registered
        self.hash_udfs = False
        #: fixture path -> its parquet read (immutable; safe to reuse)
        self.fixtures: dict[str, DataFrame] = {}
        #: sf_dir -> the fixture views register_tables made over it.
        #: The fixtures are immutable, so registering a dir again only
        #: re-points the views, without re-reading 10 footers (~0.5 s).
        self.registered: dict[str, dict[str, DataFrame]] = {}
        #: the sf_dir the session's fixture views point at; None after a
        #: managed table replaced or dropped one of them (ddl). While it
        #: is the dir asked for, point_views skips the 10
        #: createOrReplaceTempView py4j calls (87 ms, measured r12).
        self.views_dir: str | None = None
        #: sf_dir -> the CBO-posture clone (stats_session)
        self.stats: dict[str, SparkSession] = {}
        #: pinned conf -> (this session's session_state when cloned, the
        #: clone) (_pinned_clone)
        self.clones: dict[tuple, tuple] = {}
        #: (name, symbol) of the engine functions registered here: a
        #: routed session clone owns its own FunctionRegistry
        self.functions: set[tuple[str, str]] = set()
        #: sf_dir -> the registry's ImpalaEngine over it (queries.sql_query)
        self.engines: dict[str, object] = {}


class _ContextState:
    """What the engine keeps for one SparkContext (_context)."""

    def __init__(self) -> None:
        #: fixture path -> the fixture's in-memory columnar copy (an
        #: InMemoryRelation, JVM): one per file, shared by the fixture
        #: views of every session of the context
        self.copies: dict[str, object] = {}
        #: the live sessions' states (refresh_fixtures re-points their
        #: views; queries._PLAN_CACHE.clear() drops their engines)
        self.sessions: weakref.WeakSet[_SessionState] = weakref.WeakSet()


def _context(sc: SparkContext) -> _ContextState:
    ctx = getattr(sc, "_impala_state", None)
    if ctx is None:
        ctx = sc._impala_state = _ContextState()
    return ctx


def _state(spark: SparkSession) -> _SessionState:
    """The engine's state for the session wrapper `spark`, made on first
    use. Not keyed by id(spark), which a later session can reuse: a new
    wrapper, even over the same JVM session, starts empty (fails open,
    never stale)."""
    st = getattr(spark, "_impala_state", None)
    if st is None:
        st = spark._impala_state = _SessionState()
        _context(spark.sparkContext).sessions.add(st)
    return st


def live_states() -> list[_SessionState]:
    """The states of the live sessions of the active SparkContext."""
    sc = SparkContext._active_spark_context
    return [] if sc is None else list(_context(sc).sessions)


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable conf posture to a foreign session."""
    st = _state(spark)
    if st.conformed:
        return spark
    for k, v in _REQUIRED_RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — keep going, reads may still work
    st.conformed = True
    return spark


def _read_fixture(spark: SparkSession, path: str) -> DataFrame:
    ensure_session_conf(spark)
    fixtures = _state(spark).fixtures
    if path not in fixtures:
        fixtures[path] = _read_fixture_uncached(spark, path)
    return fixtures[path]


def _read_fixture_uncached(spark: SparkSession, path: str) -> DataFrame:
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    for c in _nano_ts_columns(path):
        # nanos -> micros -> TIMESTAMP_NTZ (session tz is UTC, so the
        # wall-clock matches the naive value DuckDB sees).
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
        )
    return df


#: Copy ceiling: a fixture file of fewer bytes is read through an
#: in-memory copy (_fixture_view). Once filled, Catalyst sizes a copy by
#: its in-memory estimate, not the parquet bytes: 0.04-6.1x them over the
#: sf0.01 and sf0.1 fixtures (part at sf0.1: 180 KB -> 1.1 MB; lineitem
#: 10.8 MB -> 46.8 MB). At the largest ratio a file under 2 MB sizes
#: under 12.8 MB filled, below autoBroadcastJoinThreshold (16 MB), so a
#: table that broadcasts by its parquet size still does after its first
#: scan. The largest copied file measured is sf0.1's events (2.0 MB).
FIXTURE_COPY_MAX_BYTES = 2 << 20


class FixtureCopyInfo(NamedTuple):
    """fixture_copy_info(): the in-memory fixture copies of a SparkContext."""

    copies: int
    #: bytes Spark's block manager holds for the filled copies
    bytes: int


def _fixture_view(spark: SparkSession, path: str, name: str) -> DataFrame:
    """What the fixture view `name` reads: below FIXTURE_COPY_MAX_BYTES
    an in-memory columnar copy of the file, else the parquet read
    itself — the analog of a table pinned in the HDFS cache (ALTER
    TABLE ... SET CACHED), where scans skip the disk path. Measured
    against the parquet scan it replaces (4 CPUs, 20 runs each): a
    filter job over sf0.01's `orders` (281 KB) 19.0 -> 13.5 ms (Spark
    event log); a filter + aggregate over sf0.1's `events` (2.0 MB, the
    copy holding 2.4 MB) 132 -> 110 ms wall, median.

    The copy is filled by its first scan, stored MEMORY_ONLY, refilled
    from parquet if Spark evicts it, and held until a REFRESH replaces it
    or the context ends (each registered dir adds its own). It is an InMemoryRelation made
    outside Spark's CacheManager: that cache matches by plan, so it would
    also serve table()'s readers, which keep their parquet scans (their
    PushedFilters are asserted). Its build plan is made without
    whole-stage codegen: it runs once per fill, and a statement's plan
    text then shows codegen stages only where the statement runs them."""
    path = os.path.abspath(path)
    source = _read_fixture(spark, path)  # conforms `spark` before it is cloned
    if _dir_total_bytes(path) >= FIXTURE_COPY_MAX_BYTES:
        return source
    copies = _context(spark.sparkContext).copies
    rel = copies.get(path)
    if rel is None:
        jvm = spark._jvm
        build = _pinned_clone(spark, {"spark.sql.codegen.wholeStage": "false"})
        qe = plan_df(build, source._jdf.queryExecution().analyzed())
        relation = getattr(jvm, "org.apache.spark.sql.execution.columnar.InMemoryRelation$")
        rel = getattr(relation, "MODULE$").apply(
            jvm.org.apache.spark.storage.StorageLevel.MEMORY_ONLY(),
            qe._jdf.queryExecution(),
            jvm.scala.Some(name),
        )
        rel = copies.setdefault(path, rel)
    return plan_df(spark, rel)


def _copied_path(spark: SparkSession, name: str) -> str | None:
    """The fixture file whose in-memory copy the view `name` reads in
    `spark` (in the dir register_tables last pointed its views at), or
    None (not a view over a copy; a name a managed table owns is not)."""
    from impala_spark.ddl import table_info

    sf_dir = _state(spark).views_dir
    name = name.lower()
    if sf_dir is None or name not in TABLES or table_info(name) is not None:
        return None
    path = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    return path if path in _context(spark.sparkContext).copies else None


def fixture_files(spark: SparkSession, name: str) -> list[str] | None:
    """The data files of the fixture whose copy the view `name` reads
    (Spark lists none for an in-memory relation), or None."""
    path = _copied_path(spark, name)
    if path is None:
        return None
    if os.path.isfile(path):
        return [path]
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def refresh_fixtures(spark: SparkSession, name: str | None = None) -> bool:
    """REFRESH `name` / INVALIDATE METADATA (`name` None) over the
    fixture views of `spark`'s fixture dir: the copy of `name`'s file
    (of every copied file of the dir) is replaced by a fresh one, the
    views of every session registered on the dir are re-pointed at it,
    and the old copy's blocks are dropped, so the next scan re-reads the
    file; its listing, footer and size caches are forgotten. Copies of
    other dirs are left alone. A DataFrame built before the REFRESH keeps
    the plan it was built with. False when `name` is not a view over a
    copy in `spark`."""
    paths = {
        n: p for n in (TABLES if name is None else (name.lower(),))
        if (p := _copied_path(spark, n)) is not None
    }
    if not paths:
        return False
    ctx = _context(spark.sparkContext)
    stale = set(paths.values())
    dirs = {os.path.dirname(p) for p in stale}
    old = [ctx.copies.pop(p) for p in stale]
    for cache, gone in ((_NANO_TS_CACHE, stale), (_DIR_BYTES, stale | dirs)):
        for key in [k for k in cache if os.path.abspath(k) in gone]:
            del cache[key]
    # the caller's views first: its session builds the new copies
    caller = _state(spark)
    for st in sorted(ctx.sessions, key=lambda st: st is not caller):
        for key in [k for k in st.fixtures if os.path.abspath(k) in stale]:
            del st.fixtures[key]
        for sf_dir, dfs in st.registered.items():
            if os.path.abspath(sf_dir) not in dirs:
                continue
            for n, path in paths.items():
                if n in dfs:
                    dfs[n] = _fixture_view(dfs[n].sparkSession, path, n)
                    if st.views_dir == sf_dir:
                        dfs[n].createOrReplaceTempView(n)
    for rel in old:
        rel.cacheBuilder().clearCache(False)
    bump_catalog_version()
    return True


def fixture_copy_info(spark: SparkSession) -> FixtureCopyInfo:
    """How many fixture copies `spark`'s SparkContext has, and the bytes
    the filled ones hold (Spark's storage info for their RDDs; 0 before
    a copy's first scan)."""
    rels = list(_context(spark.sparkContext).copies.values())
    filled = {
        rel.cacheBuilder().cachedColumnBuffers().id()
        for rel in rels if rel.cacheBuilder().isCachedColumnBuffersLoaded()
    }
    held = sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.id() in filled
    )
    return FixtureCopyInfo(len(rels), held)


#: The catalog version, process-wide like what it versions (ddl's managed
#: tables, the sessions' views): bumped after every change to what a table or
#: view name resolves to — fixture views (re-)pointed by register_tables,
#: a managed table written or dropped (ddl), and every statement but a
#: plain query through ImpalaEngine.sql (DDL, DML, SET, USE, COMPUTE
#: STATS, REFRESH, ...). ImpalaEngine's plan cache keys on it. A change
#: made around all of these (a temp view replaced through the DataFrame
#: API) is seen after REFRESH or INVALIDATE METADATA, as in Impala.
_CATALOG_VERSION = 0
_CATALOG_LOCK = threading.Lock()


def catalog_version() -> int:
    return _CATALOG_VERSION


def bump_catalog_version() -> None:
    global _CATALOG_VERSION
    with _CATALOG_LOCK:
        _CATALOG_VERSION += 1


#: fixture dir or table path -> its bytes (file-size sum; cached, footers
#: not read — fixture data is immutable)
_DIR_BYTES: dict[str, int] = {}

#: Small-query fast path threshold: below this total input size, runtime
#: bloom filters are disabled for the session — their build jobs (an
#: extra scan + aggregate over the creation side) cost more than the rows
#: they prune (measured: ~0.2 s/join-query at sf0.1 for zero benefit).
#: The reference does exactly this: Planner.java:91-108 turns OFF runtime
#: filters (and distribution) when maxRowsProcessed is below the
#: small-query threshold. At the 100 TB design point every real input
#: exceeds this and filters stay on.
#: 8 GiB: every local fixture (sf30's 180M-row/3 GiB set included)
#: sits below it. Measured at sf10 (interleaved A/B, q3+q5): runtime
#: bloom filters cost +1.4 s on q5 (the build jobs re-scan the probe
#: side) and AQE's replan rounds are neutral-to-slightly-negative in a
#: single JVM. Re-measured at sf30 (r9 interleaved arm sweep,
#: {neither, aqe_only, aqe+bloom} x {join_fact_fact,
#: agg_count_distinct, q3, pricing}, medians of 3 alternating reps):
#: 'neither' still wins or ties every query — aqe+bloom cost
#: agg_count_distinct +45% (11.6 vs 8.0 s) and q3 +16% (9.2 vs 8.0 s),
#: join_fact_fact/pricing neutral — so the single-JVM gate moved up
#: past the 3 GiB fixture. On a real cluster this gate must
#: effectively disappear (every production input exceeds it) and AQE +
#: runtime filters are load-bearing; nothing else in the engine
#: depends on the constant.
SMALL_QUERY_BYTES = 8 << 30


def _dir_total_bytes(sf_dir: str) -> int:
    """Bytes under a fixture dir or table path (a file: its size)."""
    if sf_dir not in _DIR_BYTES:
        total = 0
        try:
            if os.path.isfile(sf_dir):
                total = os.path.getsize(sf_dir)
            for root, _dirs, files in os.walk(sf_dir):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        except OSError:
            pass
        _DIR_BYTES[sf_dir] = total
    return _DIR_BYTES[sf_dir]


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every fixture parquet as a temp view named after the table.

    Mirrors the reference's catalog table resolution
    (catalog/HdfsTable.java). A view reads its fixture's in-memory copy
    below FIXTURE_COPY_MAX_BYTES (_fixture_view; column pruning and
    batch-level filter pruning still apply), else the parquet scan.
    Idempotent and cached per (session, sf_dir); a different sf_dir in the
    same session re-registers the views (last one wins, like USE db).
    Also applies the small-query fast path (gate_small_queries).
    """
    gate_small_queries(spark, sf_dir)
    return point_views(spark, sf_dir)


def gate_small_queries(spark: SparkSession, sf_dir: str) -> None:
    """The small-query fast path: below SMALL_QUERY_BYTES of fixtures,
    runtime bloom filters and AQE are off in `spark` — the reference's
    small-query path (Planner.java:91-108: single-node, runtime filters
    off). Posture clones own their conf (pinned at creation, keyed by
    posture; see _pinned_clone) and are left alone: Spark reads conf at
    EXECUTION time, so registering a second sf_dir on the other side of
    SMALL_QUERY_BYTES before the first query collected would flip its
    posture mid-flight (r9 ADVICE)."""
    if _state(spark).pinned:
        return
    small = "false" if _dir_total_bytes(sf_dir) < SMALL_QUERY_BYTES else "true"
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", small)
        # AQE's per-stage replan rounds cost ~20-60 ms each and re-plan
        # nothing useful on KB-sized shuffles (A-B measured: ~0.25 s over
        # the 13-query headline at sf0.1); above the threshold skew split
        # and partition coalescing are load-bearing. shuffle.partitions
        # is per statement instead (posture(); r6's global-8 experiment
        # regressed the compute-parallel LLM ops).
        spark.conf.set("spark.sql.adaptive.enabled", small)
    except Exception:
        pass  # static-conf build: keep whatever the session has


def point_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Point the fixture views of `spark` at `sf_dir` (register_tables
    without the conf gate). No py4j call while they already point there."""
    st = _state(spark)
    dfs = st.registered.get(sf_dir)
    if dfs is not None and st.views_dir == sf_dir:
        return dfs
    if dfs is None:
        dfs = st.registered[sf_dir] = {
            name: _fixture_view(spark, path, name)
            for name in TABLES
            if os.path.exists(path := os.path.join(sf_dir, f"{name}.parquet"))
        }
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    st.views_dir = sf_dir
    bump_catalog_version()
    return dfs


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table directly (no view side effects)."""
    return _read_fixture(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# COMPUTE STATS -> catalog tables + CBO (r10: the reference's stats-driven
# planning, DistributedPlanner.java:420-536 costing from ColumnStats.java)
# ---------------------------------------------------------------------------

#: broadcast budget for stats-backed plans. With catalog column stats the
#: build-side estimate is rowCount * avgRowWidth — actual in-memory bytes,
#: not the compressed-parquet proxy the 16 MB session default must assume
#: — so the budget can be the reference's kind of number: Impala
#: broadcasts whenever the build fits the per-node memory budget
#: (DistributedPlanner.java:425-506), typically hundreds of MB. 256 MB
#: reproduces the q3/q5/q10 filtered-build broadcasts at sf10 (measured:
#: every join in all three plans goes broadcast, zero fact exchanges)
#: while the estimate grows linearly with scale, so at ~sf100 the same
#: plans flip back to partitioned joins — the stats-driven version of
#: the engine's broadcast-hint gate.
STATS_BROADCAST_THRESHOLD_BYTES = 256 << 20

#: types ANALYZE ... FOR COLUMNS accepts (complex types are skipped;
#: the table still gets row-count/size stats)
_ANALYZABLE_TYPES = frozenset({
    "byte", "short", "integer", "long", "float", "double", "string",
    "boolean", "date", "timestamp", "timestamp_ntz", "binary",
})

#: sf_dir -> {table name -> stats database}. Shared external catalog:
#: catalog tables (unlike temp views) are visible from every session
#: clone of the same SparkContext.
_STATS_TABLES: dict[str, set[str]] = {}

def stats_db_name(sf_dir: str) -> str:
    """Stable per-sf_dir database for the promoted fixture tables, so two
    engines over different scale dirs don't fight over catalog names."""
    import hashlib

    return "impala_stats_" + hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:8]


def register_stats_table(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Promote one fixture parquet to a catalog table with full column
    statistics — the Spark half of Impala's COMPUTE STATS
    (ComputeStatsStmt.java issues the same row-count/NDV child queries;
    ANALYZE TABLE stores them where Catalyst's CBO reads them).

    TIMESTAMP columns are declared TIMESTAMP_LTZ in the catalog: Spark
    4.1.2's FilterEstimation has no TimestampNTZType case (MatchError at
    FilterEstimation.scala:281, found r10), while TimestampType is fully
    estimable — and under the UTC session the two are wall-clock
    identical. The stats SESSION (stats_session below) parses literals
    as LTZ for the same reason; engine.sql casts result columns back to
    NTZ so the Impala-parity surface is unchanged.

    Returns False for tables the promotion can't represent (nanosecond
    parquet timestamps — events — keep the temp-view path).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        return False
    ensure_session_conf(spark)
    done = _STATS_TABLES.setdefault(sf_dir, set())
    if name in done:
        return True
    # nanosecond-timestamp parquet reads as epoch-nano longs under
    # nanosAsLong — a catalog TIMESTAMP_LTZ column would misread it
    first_file = path
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if parts:
            first_file = os.path.join(path, parts[0])
    if _nano_ts_columns(first_file):
        return False
    db = stats_db_name(sf_dir)
    # Re-attach path: under a persistent metastore
    # (SPARK_GRAFT_PERSIST_CATALOG) the promoted table AND its ANALYZE
    # stats survive from a previous process — adopting them skips the
    # 12-22 s ANALYZE re-run. Fixture parquet is immutable, so adopted
    # stats can never be stale; these tables are only ever created by
    # the full ANALYZE path below, so a row-count stats line implies the
    # column stats were computed too.
    if _catalog_stats_present(spark, db, name, expected_location=path):
        PROMOTION_MODE[(sf_dir, name)] = "reattached"
        done.add(name)
        return True
    inferred = _read_fixture(spark, path).schema
    _create_stats_db(spark, db)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {db}.`{name}` ({_catalog_cols(inferred)})"
        f" USING parquet LOCATION '{path}'"
    )
    _analyze(spark, f"{db}.`{name}`", inferred)
    PROMOTION_MODE[(sf_dir, name)] = "analyzed"
    done.add(name)
    return True


def _create_stats_db(spark: SparkSession, db: str) -> None:
    """CREATE DATABASE with an explicit location: the default warehouse
    dir is a static conf that can be cwd-relative on a foreign (driver)
    session — same anchoring as operators.write_bucketed."""
    from impala_spark.ddl import WAREHOUSE

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{os.path.join(WAREHOUSE, db)}'")


def _catalog_cols(schema) -> str:
    """A promoted table's column list: TIMESTAMP_NTZ declared as
    TIMESTAMP_LTZ (see register_stats_table)."""
    return ", ".join(
        f"`{f.name}` "
        + ("TIMESTAMP_LTZ" if f.dataType.typeName() == "timestamp_ntz" else f.dataType.simpleString())
        for f in schema.fields
    )


def _analyze(spark: SparkSession, table: str, schema) -> None:
    """ANALYZE a promoted table: row count and size, plus column stats
    for the types ANALYZE ... FOR COLUMNS accepts."""
    analyzable = [
        f"`{f.name}`"
        for f in schema.fields
        if f.dataType.typeName().split("(")[0] in _ANALYZABLE_TYPES
        or f.dataType.typeName().startswith("decimal")
    ]
    columns = " FOR COLUMNS " + ", ".join(analyzable) if analyzable else ""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS{columns}")


#: (sf_dir, table) -> how the last promotion happened ("analyzed" |
#: "reattached") — observability for the persistence tests/bench
PROMOTION_MODE: dict[tuple[str, str], str] = {}


def _catalog_stats_present(
    spark: SparkSession, db: str, name: str, expected_location: str | None = None
) -> bool:
    """True when db.name exists in the (possibly persistent) catalog with
    a row-count statistics line AND (when given) points at the expected
    location — a same-named MANAGED-table promotion may have replaced the
    entry (register_stats_managed), and adopting that one would route
    fixture reads to the wrong files."""
    try:
        if not spark.catalog.tableExists(f"{db}.{name}"):
            return False
        loc = None
        stats_ok = False
        for r in spark.sql(f"DESCRIBE EXTENDED {db}.`{name}`").collect():
            if r[0] == "Statistics":
                stats_ok = bool(re.search(r"\d+\s+rows", r[1] or ""))
            elif r[0] == "Location":
                loc = r[1]
        if not stats_ok:
            return False
        if expected_location is not None:
            want = os.path.abspath(expected_location).rstrip("/")
            got = (loc or "").replace("file:", "").rstrip("/")
            return got == want
        return True
    except Exception:
        return False


def register_stats_managed(spark: SparkSession, sf_dir: str, t) -> bool:
    """Promote an ENGINE-CREATED managed table (ddl.ManagedTable) to a
    stats-backed catalog table in the same per-sf_dir database the
    fixtures promote into — the reference's ComputeStatsStmt works on ANY
    catalog table (A/ComputeStatsStmt.java:218-242), and derived
    CTAS/INSERT outputs are exactly where stats matter most (no inherent
    stats on derived data).

    Unlike the fixture path this is NEVER memoized: managed tables are
    mutable, so every call drops + re-creates the catalog entry (fresh
    file listing) and re-runs ANALYZE. The caller (engine.compute_stats)
    records ddl.mutation_count at promotion time and demotes the routing
    when it drifts."""
    ensure_session_conf(spark)
    schema = None
    try:
        schema = spark.read.parquet(t.path).schema
    except Exception:
        schema = t.schema  # empty table: declared schema, no data files
    if schema is None or not schema.fields:
        return False
    if any(f.dataType.typeName() == "long" and f.name in _nano_ts_columns(t.path)
           for f in schema.fields):
        return False  # defensive; Spark-written managed tables are never nanos
    db = stats_db_name(sf_dir)
    _create_stats_db(spark, db)
    part = ""
    if t.partition_cols:
        part = " PARTITIONED BY (" + ", ".join(
            f"`{c}`" for c in t.partition_cols
        ) + ")"
    spark.sql(f"DROP TABLE IF EXISTS {db}.`{t.name}`")
    spark.sql(
        f"CREATE TABLE {db}.`{t.name}` ({_catalog_cols(schema)}) USING parquet{part}"
        f" LOCATION '{t.path}'"
    )
    if t.partition_cols:
        # Hive-layout dirs -> catalog partitions (the fixture path never
        # needs this; managed partitioned writes do)
        spark.sql(f"MSCK REPAIR TABLE {db}.`{t.name}`")
    _analyze(spark, f"{db}.`{t.name}`", schema)
    # the managed table now owns this name in the stats db: drop any
    # fixture memo so a later fixture re-promotion re-creates the entry
    _STATS_TABLES.setdefault(sf_dir, set()).discard(t.name)
    # each session clone owns a table-relation cache: the DROP/CREATE
    # above went through the PARENT session, so the routed stats session
    # would keep serving the pre-mutation file listing (caught live in
    # r11) — invalidate its entry explicitly
    child = stats_session(spark, sf_dir)
    try:
        child.catalog.refreshTable(f"{db}.{t.name}")
    except Exception:
        pass
    return True


#: (sf_dir, table, version) -> catalog sizeInBytes (None = no stats row)
_STATS_BYTES: dict[tuple[str, str, int], int | None] = {}


def table_stats_bytes(
    spark: SparkSession, sf_dir: str, name: str, version: int = 0
) -> int | None:
    """Catalog sizeInBytes of a promoted table (DESCRIBE EXTENDED
    Statistics row) — the stats-backed input measure for the engine's
    size-gated rewrites (the reference costs every such decision from
    COMPUTE STATS numbers, never file sizes). None when the table has no
    catalog stats; cached per (sf_dir, table, mutation version)."""
    key = (sf_dir, name, version)
    if key in _STATS_BYTES:
        return _STATS_BYTES[key]
    db = stats_db_name(sf_dir)
    size = None
    try:
        for r in spark.sql(f"DESCRIBE EXTENDED {db}.`{name}`").collect():
            if r[0] == "Statistics":
                m = re.match(r"(\d+)\s+bytes", r[1] or "")
                if m:
                    size = int(m.group(1))
                break
    except Exception:
        size = None
    _STATS_BYTES[key] = size
    return size


def relation_bytes(spark: SparkSession, name: str) -> int | None:
    """Catalyst's size estimate of the table or view `name` resolves to
    in `spark` (a file-backed table: its file bytes). None when the name
    does not resolve or Catalyst has no estimate (a DataFrame built from
    local rows reads as spark.sql.defaultSizeInBytes). Not cached: such
    tables may change."""
    try:
        plan = spark.table(name)._jdf.queryExecution().optimizedPlan()
        size = int(str(plan.stats().sizeInBytes()))
        no_estimate = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    except Exception:
        return None
    return size if size < no_estimate else None


def stats_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Session clone whose conf is the stats-backed-planning posture:
    CBO + join reorder on (they now have catalog stats to cost with),
    the stats broadcast budget, LTZ literals (see register_stats_table),
    and the same small-input bloom/AQE gate as register_tables. Pinned
    at creation like posture_session clones."""
    stats = _state(spark).stats
    child = stats.get(sf_dir)
    if child is None:
        child = ensure_session_conf(spark.newSession())
        small = _dir_total_bytes(sf_dir) < SMALL_QUERY_BYTES
        child.conf.set("spark.sql.timestampType", "TIMESTAMP_LTZ")
        child.conf.set("spark.sql.cbo.enabled", "true")
        child.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        child.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            str(STATS_BROADCAST_THRESHOLD_BYTES),
        )
        child.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "false" if small else "true",
        )
        child.conf.set("spark.sql.adaptive.enabled", "false" if small else "true")
        _state(child).pinned = True
        child.catalog.setCurrentDatabase(stats_db_name(sf_dir))
        stats[sf_dir] = child
    return child


#: session shuffle-partition default (the 100 TB posture; see get_spark)
DEFAULT_SHUFFLE_PARTITIONS = "32"

#: Single-node ceiling: a relational statement reading less than this
#: plans with ONE shuffle partition (tighter than SMALL_QUERY_BYTES, the
#: bloom/AQE gate: the single-partition win is the skipped sampling job
#: plus tiny-task scheduling, worth ~0.1 s — above ~64 MB of input the
#: lost reduce parallelism costs more; sf1's 6M-row joins want cores).
SINGLE_NODE_MAX_INPUT_BYTES = 64 << 20

_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"


def posture(input_bytes: int | None, family: str = "relational") -> dict[str, str] | None:
    """The planner posture of a statement that reads `input_bytes`: the
    conf keys it plans with — the per-statement analog of the
    reference's small-query fast path (Planner.java:91-108: below the
    single-node threshold, strip the distributed machinery).

    Relational statements (scan/join/agg/sort) under
    SINGLE_NODE_MAX_INPUT_BYTES run with ONE shuffle partition —
    Impala's single-node plan. The win is partly task scheduling (32 ->
    1 reduce tasks) and partly structural: a 1-partition range exchange
    skips the RangePartitioner SAMPLING JOB, which otherwise re-executes
    the whole aggregation once per ORDER BY just to pick sort
    boundaries. Compute-parallel families (LLM ops: per-row
    hashing/shingling; streaming) keep DEFAULT_SHUFFLE_PARTITIONS — rows,
    not bytes, predict their CPU need (r6's global-8 regression). Below
    SMALL_QUERY_BYTES runtime bloom filters and AQE are off (see that
    constant).

    None — keep the session's own conf — when the size is unknown or
    SPARK_GRAFT_DISABLE_SMALL_POSTURE is set (the caller owns shuffle
    parallelism: determinism tests)."""
    if input_bytes is None or os.environ.get("SPARK_GRAFT_DISABLE_SMALL_POSTURE"):
        return None
    single = family == "relational" and input_bytes < SINGLE_NODE_MAX_INPUT_BYTES
    small = input_bytes < SMALL_QUERY_BYTES
    return {
        _SHUFFLE_PARTITIONS: "1" if single else DEFAULT_SHUFFLE_PARTITIONS,
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "false" if small else "true",
        "spark.sql.adaptive.enabled": "false" if small else "true",
    }


def session_state(spark: SparkSession) -> tuple:
    """What a query plans with besides its text: the session's runtime
    conf map (a JVM snapshot) and its current database."""
    jsess = spark._jsparkSession
    return jsess.sessionState().conf().getAllConfs(), jsess.catalog().currentDatabase()


def same_state(a: tuple, b: tuple) -> bool:
    return a[1] == b[1] and a[0].equals(b[0])


def _pinned_clone(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of `spark` with `conf` pinned — the one home of both
    posture mechanisms (posture_session, posture_df).

    `cloneSession()` copies the session's CURRENT state: its runtime
    conf (SETs, COMPUTE STATS's CBO flags, a stats session's posture),
    temp views and current database; only `conf`'s keys then change.
    `newSession()` would start from SparkContext defaults and lose the
    SETs. The clone's own conf is never mutated after creation, so a
    DataFrame keeps the posture it planned with (r8 ADVICE: Spark reads
    conf at EXECUTION time — a session-global set at build time leaked
    into DataFrames built earlier).

    Cached per (session, conf) and reused while the session's conf map
    and current database are the ones it was cloned from (one JVM-side
    map comparison, ~0.5 ms, against ~5 ms to clone, pin and wrap a
    session and build its planner state anew). A SET or a USE replaces
    it: the optimizer resolves current_database() in the session that
    plans the query, so a clone from before a USE would answer with
    the old database."""
    state = session_state(spark)
    clones = _state(spark).clones
    key = tuple(sorted(conf.items()))
    cached = clones.get(key)
    if cached is None or not same_state(cached[0], state):
        jclone = spark._jsparkSession.cloneSession()
        for k, v in conf.items():
            jclone.conf().set(k, v)
        clone = SparkSession(spark.sparkContext, jclone)
        _state(clone).pinned = True  # gate_small_queries: hands off
        cached = clones[key] = (state, clone)
    return cached[1]


def posture_session(
    spark: SparkSession, input_bytes: int, family: str
) -> SparkSession:
    """Session whose SQLConf is PINNED to `posture(input_bytes, family)`
    and the engine's required runtime conf — the registry's DataFrame
    builders plan in it (queries.register passes the fixture dir's
    bytes). The clone is cached (_pinned_clone), so a builder's
    DataFrames keep one session while `spark`'s conf is unchanged."""
    conf = posture(input_bytes, family)
    if conf is None:
        return spark
    try:
        return _pinned_clone(spark, {**_REQUIRED_RUNTIME_CONF, **conf})
    except Exception:
        return spark  # static-conf build: keep whatever the session has


def posture_target(spark: SparkSession, input_bytes: int | None) -> SparkSession:
    """The session a query analyzed in `spark` and reading `input_bytes`
    plans in (ImpalaEngine's plain queries): below
    SINGLE_NODE_MAX_INPUT_BYTES a pinned clone of `spark`
    (_pinned_clone), which plans with `spark`'s current conf, only the
    posture keys changed; otherwise `spark` itself."""
    conf = posture(input_bytes)
    if conf is None or conf[_SHUFFLE_PARTITIONS] != "1":
        return spark
    return _pinned_clone(spark, conf)


def plan_df(spark: SparkSession, plan) -> DataFrame:
    """A new DataFrame over an analyzed logical plan (a JVM object):
    optimized, planned and executed in `spark` as a new query — nothing
    of an earlier execution of the plan is reused."""
    dataset = getattr(spark._jvm, "org.apache.spark.sql.classic.Dataset")
    return DataFrame(dataset.ofRows(spark._jsparkSession, plan), spark)


def posture_df(df: DataFrame, input_bytes: int | None) -> DataFrame:
    """`df` planned under the posture of a query reading `input_bytes`:
    its analyzed plan handed to posture_target's clone, or `df` itself.
    Analysis (and its error texts) stays in df's session, which owns the
    temp views the statement names."""
    target = posture_target(df.sparkSession, input_bytes)
    if target is df.sparkSession:
        return df
    return plan_df(target, df._jdf.queryExecution().analyzed())
