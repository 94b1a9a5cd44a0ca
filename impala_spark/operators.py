"""DataFrame-level operator library — one helper per reference plan node.

Reference inventory: planner/*.java (SURVEY §2.2). Each helper is a thin,
Catalyst-friendly composition: we declare the logical op and let Spark pick
the physical strategy (broadcast vs shuffle, TopN vs sort, codegen). The
value here is the *semantics mapping* — especially the Impala join-operator
set (analysis/JoinOperator.java:23-36) including NULL_AWARE_LEFT_ANTI, and
Impala's default null ordering for sorts.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from impala_spark.functions import asc_impala, desc_impala

# ---------------------------------------------------------------------------
# Plan-truncating materialization (guide §5)
# ---------------------------------------------------------------------------


def materialize_stage(df: DataFrame) -> DataFrame:
    """Materialize an intermediate once and truncate its lineage, for
    stages whose plan subtree fans out to several consumers (Catalyst
    plans are trees, so pushdown specializes each consumer's copy and
    ReuseExchange cannot dedup them).

    Mode is `spark.graft.checkpoint.mode` (r12 verdict #3):

    - `local` (default): `localCheckpoint()` — blocks live on executors
      with lineage truncated. Correct and cheapest in local mode, where
      the driver IS the executor; on a real cluster an executor loss
      makes the job unrecoverable past this point.
    - `reliable`: `checkpoint()` to the fault-tolerant checkpoint dir —
      the 100 TB-cluster posture. The dir comes from
      `spark.graft.checkpoint.dir`, re-applied whenever it differs from
      the context's current dir, or a pre-set
      `sparkContext.setCheckpointDir`; missing both is a config error
      worth failing loudly on, not silently downgrading. Reliable
      checkpoint files are removed only when the checkpointed DataFrame
      is garbage-collected (`get_spark` enables
      `spark.cleaner.referenceTracking.cleanCheckpoints`); until then
      they stay on disk.

    Either way the materialization is eager and per-invocation — every
    run computes from the inputs; nothing survives across runs."""
    spark = df.sparkSession
    mode = (spark.conf.get("spark.graft.checkpoint.mode", "local") or "local").lower()
    if mode == "reliable":
        sc = spark.sparkContext
        ckdir = spark.conf.get("spark.graft.checkpoint.dir", None)
        current = sc.getCheckpointDir()
        if ckdir:
            # setCheckpointDir checkpoints into a fresh <dir>/<uuid>
            path = sc._jvm.org.apache.hadoop.fs.Path(ckdir)
            fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
            if current is None or os.path.dirname(current) != str(fs.makeQualified(path)):
                sc.setCheckpointDir(ckdir)
        elif current is None:
            raise ValueError(
                "spark.graft.checkpoint.mode=reliable requires "
                "spark.graft.checkpoint.dir (or a pre-set "
                "sparkContext checkpoint dir)"
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint()


# ---------------------------------------------------------------------------
# Scans / filters / projection (HdfsScanNode.java:61-96, SelectNode.java)
# ---------------------------------------------------------------------------


def scan(df: DataFrame, columns: Sequence[str] | None = None, predicate: str | Column | None = None) -> DataFrame:
    """Scan with column pruning + predicate pushdown. Expressing both on the
    raw reader DataFrame lets Catalyst push them into the parquet scan
    (verify with .explain(): PushedFilters / ReadSchema)."""
    if predicate is not None:
        df = df.filter(predicate)
    if columns:
        df = df.select(*columns)
    return df


def empty_set(df: DataFrame) -> DataFrame:
    """EmptySetNode (planner/EmptySetNode.java) — analysis proved 0 rows.
    `limit(0)` folds to LocalRelation(Nil) via PropagateEmptyRelation."""
    return df.limit(0)


# ---------------------------------------------------------------------------
# Joins — all 10 Impala join operators (analysis/JoinOperator.java:23-36)
# ---------------------------------------------------------------------------

JOIN_HOW = {
    "INNER": "inner",
    "LEFT_OUTER": "left",
    "RIGHT_OUTER": "right",
    "FULL_OUTER": "full",
    "LEFT_SEMI": "left_semi",
    "LEFT_ANTI": "left_anti",
    "CROSS": "cross",
}


def hash_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str] | Column,
    op: str = "INNER",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi-join (planner/HashJoinNode.java). RIGHT_SEMI / RIGHT_ANTI are
    planned by the reference as inverted left variants
    (planner/Planner.java:433-489) — we do the same inversion here."""
    op = op.upper()
    r = F.broadcast(right) if broadcast_right else right
    if op in ("RIGHT_SEMI", "RIGHT_ANTI"):
        inverted = "left_semi" if op == "RIGHT_SEMI" else "left_anti"
        return r.join(left, on, inverted)
    if op == "NULL_AWARE_LEFT_ANTI":
        raise ValueError("use null_aware_anti_join(left, right, lkey, rkey)")
    return left.join(r, on, JOIN_HOW[op])


def null_aware_anti_join(left: DataFrame, right: DataFrame, lkey: str, rkey: str) -> DataFrame:
    """NULL_AWARE_LEFT_ANTI — the NOT IN (subquery) join
    (analysis/StmtRewriter.java:493-520, NULL_MATCHING_EQ).

    Semantics: keep a left row iff its key matches *no* right key under
    null-matching equality — i.e. drop the row when lkey = rkey, when lkey
    IS NULL (and right is non-empty), or when any rkey IS NULL. Expressed
    as a left_anti join whose condition treats NULL as a wildcard; Catalyst
    also plans SQL `NOT IN (SELECT ...)` to its native
    BroadcastHashJoin(NAAJ) — both paths are tested for parity.
    """
    cond = (
        (left[lkey] == right[rkey]) | left[lkey].isNull() | right[rkey].isNull()
    )
    return left.join(right.select(rkey), cond, "left_anti")


def nested_loop_join(
    left: DataFrame, right: DataFrame, cond: Column | None, op: str = "INNER"
) -> DataFrame:
    """Non-equi / cross join (planner/NestedLoopJoinNode.java). Spark plans
    BroadcastNestedLoopJoin when one side is small; at scale, prefer
    rewriting bands to range-bucketed equi-joins (see llm_ops for the
    pattern)."""
    op = op.upper()
    if op == "CROSS" or cond is None:
        return left.crossJoin(right)
    return left.join(right, cond, JOIN_HOW.get(op, "inner"))


# ---------------------------------------------------------------------------
# Aggregation (planner/AggregationNode.java, analysis/AggregateInfo.java)
# ---------------------------------------------------------------------------


def aggregate(df: DataFrame, keys: Sequence[str], *aggs: Column) -> DataFrame:
    """Hash aggregation. Catalyst plans the reference's 2-phase scheme
    (partial HashAggregate -> exchange -> final HashAggregate) automatically,
    and the 4-phase distinct rewrite for count(distinct)
    (DistributedPlanner.java:779-947 / RewriteDistinctAggregates)."""
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def distinct(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """SELECT DISTINCT = group-by-all-exprs (AggregateInfo.createDistinct)."""
    return (df.select(*columns) if columns else df).distinct()


# ---------------------------------------------------------------------------
# Sort / TopN / limit-offset (planner/SortNode.java:44-81)
# ---------------------------------------------------------------------------


def sort_impala(df: DataFrame, *items: tuple[str, str] | str) -> DataFrame:
    """Total sort with Impala default null ordering
    (analysis/OrderByElement.java:71-81): ASC->NULLS LAST, DESC->NULLS FIRST."""
    cols = []
    for it in items:
        name, direction = it if isinstance(it, tuple) else (it, "asc")
        cols.append(desc_impala(name) if direction.lower().startswith("desc") else asc_impala(name))
    return df.orderBy(*cols)


def topn(df: DataFrame, items: Sequence[tuple[str, str] | str], limit: int, offset: int = 0) -> DataFrame:
    """TopN (SortNode.useTopN_): order + limit(+offset). Spark plans
    TakeOrderedAndProject — the same in-memory heap optimization the
    reference chooses at planner/SingleNodePlanner.java:287-300."""
    out = sort_impala(df, *items)
    if offset:
        out = out.offset(offset)
    return out.limit(limit)


# ---------------------------------------------------------------------------
# Union (planner/UnionNode.java), Unnest (planner/UnnestNode.java)
# ---------------------------------------------------------------------------


def union_all(*dfs: DataFrame) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """UNION DISTINCT — the reference plans an aggregation atop the union
    (analysis/UnionStmt.java); distinct() is exactly that."""
    return union_all(*dfs).distinct()


def unnest(df: DataFrame, array_col: str, item_name: str = "item", pos_name: str = "pos") -> DataFrame:
    """SubplanNode+UnnestNode (planner/UnnestNode.java:25-45): one output row
    per collection item, outer columns preserved, with Impala's implicit
    `item` and `pos` fields (analysis/Path.java)."""
    other = [c for c in df.columns if c != array_col]
    return df.select(*other, F.posexplode(array_col).alias(pos_name, item_name))


# ---------------------------------------------------------------------------
# Exchange / DataPartition (planner/DataPartition.java:53-76)
# ---------------------------------------------------------------------------


def exchange(df: DataFrame, kind: str, *cols: str, n: int | None = None) -> DataFrame:
    """UNPARTITIONED -> coalesce(1); RANDOM -> round-robin repartition;
    HASH_PARTITIONED -> repartition(cols); RANGE_PARTITIONED -> repartitionByRange."""
    kind = kind.upper()
    if kind == "UNPARTITIONED":
        return df.coalesce(1)
    if kind == "RANDOM":
        # conf.get returns a string; repartition(str) would read it as a
        # column name and fail with AnalysisException.
        return df.repartition(n or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    if kind == "HASH_PARTITIONED":
        return df.repartition(*( [n] if n else [] ), *cols) if n else df.repartition(*cols)
    if kind == "RANGE_PARTITIONED":
        return df.repartitionByRange(*cols)
    raise ValueError(kind)


# ---------------------------------------------------------------------------
# Skew mitigation (the manual analog of AQE's skew-join splitting, for when
# a single hot key overwhelms one reducer at 100 TB; reference counterpart:
# Impala relies on broadcast joins for this — planner/DistributedPlanner
# .java:420-536 — Spark adds the salting option for fact-fact skew)
# ---------------------------------------------------------------------------


def salted_join(
    large: DataFrame, small: DataFrame, on: Sequence[str], how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Equi-join with key salting: the large side's rows spread across
    `salt` sub-keys (deterministic hash of the full row), the small side is
    replicated `salt` times. A hot key that would land on ONE reducer now
    lands on `salt` of them; the small side grows linearly with `salt`
    (keep it for dimension-ish sides, use AQE skew-join for fact-fact).

    Result is row-identical to large.join(small, on, how) for inner and
    left joins ONLY. Right/full outer would emit each unmatched
    small-side row once per salt replica (the small side is exploded
    `salt` times), so those types are rejected.
    """
    how_norm = how.lower().replace("_", "").replace("outer", "")
    if how_norm not in ("inner", "left", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins only (got {how!r}): the "
            "replicated small side would duplicate unmatched rows under "
            "right/full outer semantics"
        )
    on = list(on)
    lcols = [c for c in large.columns]
    lsalt = large.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in lcols]), F.lit(salt)).cast("int"),
    )
    rsalt = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return lsalt.join(rsalt, on + ["_salt"], how).drop("_salt")


def salted_agg(
    df: DataFrame, keys: Sequence[str], salt: int = 16, **aggs: Column
) -> DataFrame:
    """Two-stage aggregation with salting: stage 1 aggregates on
    (keys + salt) so a hot group's partials spread over `salt` reducers;
    stage 2 merges the partials per key. Only decomposable aggregates
    (sum/count/min/max) — the same restriction as Impala's streaming
    pre-aggregation (planner/AggregationNode.java:43-75).

    aggs: name -> ('sum'|'count'|'min'|'max', column). Result is
    row-identical to df.groupBy(keys).agg(...).
    """
    keys = list(keys)
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt)).cast("int"),
    )
    partial_exprs, final_exprs = [], []
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for name, (kind, col) in aggs.items():
        partial_exprs.append(first_fn[kind](col).alias(f"_p_{name}"))
        final_exprs.append(merge_fn[kind](F.col(f"_p_{name}")).alias(name))
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)


def asof_join(
    left: DataFrame, right: DataFrame, key: str,
    left_ts: str = "ts", right_ts: str = "ts",
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Backward AS-OF join: for each left row, the most recent right row
    with right.ts <= left.ts for the same key (ties: the equal-ts right row
    IS visible). Spark has no native as-of join; this is the union+window
    formulation — ONE shuffle on (key) and one sort per partition, the
    same cost as a co-partitioned merge join, with no row explosion:

      union(left, right) -> window per key ordered by (ts, side) ->
      last(right_value IGNORE NULLS) carried forward -> keep left rows.

    At 100 TB this beats the range-join formulation (which explodes into
    per-bucket candidates) and the per-key applyInPandas merge_asof
    (Python in the hot path).

    Ties between multiple right rows at the SAME (key, ts) resolve
    arbitrarily (one of them wins — same contract as pandas merge_asof);
    pre-aggregate the right side if that matters.
    """
    from pyspark.sql.window import Window

    value_cols = list(value_cols or [c for c in right.columns if c not in (key, right_ts)])
    l = left.withColumn("_side", F.lit(1)).withColumn("_ts", F.col(left_ts))
    for c in value_cols:
        l = l.withColumn(f"_r_{c}", F.lit(None).cast(dict(right.dtypes)[c]))
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    lcols = [c for c in left.columns]
    combined = l.select(
        *lcols, "_side", "_ts", *[f"_r_{c}" for c in value_cols]
    ).unionByName(
        r.select(
            *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) if c != key else F.col(key) for c in lcols],
            "_side", "_ts", *[f"_r_{c}" for c in value_cols],
        )
    )
    # right rows (side 0) sort before left rows (side 1) at equal ts, so an
    # equal-ts right value is already visible to the left row's frame
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in value_cols:
        combined = combined.withColumn(c, F.last(f"_r_{c}", ignorenulls=True).over(w))
    return combined.filter(F.col("_side") == 1).select(*lcols, *value_cols)


def range_join(
    left: DataFrame, right: DataFrame, point_col: str,
    start_col: str, end_col: str, bucket_seconds: int = 3600,
    extra_key: str | None = None,
) -> DataFrame:
    """Point-in-interval join: left rows matched to right intervals with
    start <= point <= end. Spark would plan the naive formulation as a
    nested-loop (cartesian) join; this bucketizes time so candidates meet
    through a hash-shuffle equi-join on (bucket [, extra_key]) and the
    interval predicate runs only within buckets.

    Each right interval explodes into ceil(len/bucket)+1 bucket rows —
    pick bucket_seconds near the typical interval length so the blowup
    stays ~2x. A left point lives in exactly one bucket, so no
    dedup is needed.
    """
    point_b = F.floor(F.unix_timestamp(F.col(point_col)) / bucket_seconds)
    start_b = F.floor(F.unix_timestamp(F.col(start_col)) / bucket_seconds)
    end_b = F.floor(F.unix_timestamp(F.col(end_col)) / bucket_seconds)
    l = left.withColumn("_b", point_b)
    r = right.withColumn("_b", F.explode(F.sequence(start_b, end_b)))
    keys = ["_b"] + ([extra_key] if extra_key else [])
    return (
        l.join(r, keys)
        .filter((F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col)))
        .drop("_b")
    )


# ---------------------------------------------------------------------------
# Bucketed co-located joins — the 100 TB lever for repeated fact-fact
# joins. The reference co-locates by relying on the partitioned-join
# exchange each query (planner/DistributedPlanner.java:520-536
# createPartitionedJoin); Spark can instead PERSIST the partitioning:
# tables bucketed by the join key join with NO exchange on either side.
# Bucket count is a physical-layout constant (like the reference's
# partition count), chosen once for the table's lifetime.
# ---------------------------------------------------------------------------


def write_bucketed(
    df: DataFrame, name: str, keys: Sequence[str], buckets: int = 16,
    sort_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Persist df as a bucketed (and bucket-sorted) managed table. At
    100 TB this is the one-time cost that removes the per-query shuffle
    AND the per-query sort from every subsequent equi-join or
    aggregation on `keys`."""
    spark = df.sparkSession
    # Anchor the table under a database with an EXPLICIT location: the
    # session's default warehouse dir is a static conf that can be
    # cwd-relative on a foreign session, and bucketing metadata requires
    # saveAsTable (a plain path write loses the bucket spec).
    from impala_spark.ddl import WAREHOUSE

    db_loc = os.path.join(WAREHOUSE, "bucketed_db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketed_db LOCATION '{db_loc}'")
    if "." not in name:
        name = f"bucketed_db.{name}"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # A fresh session's in-memory catalog doesn't know about a previous
    # run's table, so DROP TABLE can't clear its directory — saveAsTable
    # would then fail with LOCATION_ALREADY_EXISTS. Remove the orphaned
    # location explicitly.
    import shutil

    shutil.rmtree(os.path.join(db_loc, name.split(".", 1)[1].lower()), ignore_errors=True)
    writer = df.write.mode("overwrite").bucketBy(buckets, *keys)
    writer = writer.sortBy(*(sort_keys or keys))
    writer.format("parquet").saveAsTable(name)
    return spark.table(name)


def colocated_join(
    left: DataFrame, right: DataFrame, on: Sequence[str], how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables shuffle-free: the merge hint forces
    the sort-merge strategy (a broadcast would hide the co-location) and
    bucketing satisfies both sides' distribution requirements, so the
    plan has no Exchange above either scan — verified by
    tests/test_operators.py asserting zero join-key exchanges."""
    return left.hint("merge").join(right, list(on), how)


def partition_key_scan(spark, table_name: str) -> DataFrame:
    """Metadata-only partition-key scan (SingleNodePlanner.java:603-606,
    1196 + HdfsPartitionPruner): DISTINCT over partition columns answered
    from the partition LISTING, never the data files. Spark dropped its
    gated OptimizeMetadataOnlyQuery rule (correctness issues with empty
    partition dirs), so this helper goes to the same source of truth the
    rule used — the catalog/file-index partition spec — explicitly. At
    100 TB this is the difference between a directory listing and a
    full-table scan for `SELECT DISTINCT dt FROM events`."""
    from impala_spark import ddl as _ddl

    t = _ddl.table_info(table_name)
    if t is not None and t.partition_cols:
        rows = []
        base = t.path

        def walk(prefix: str, cols: list[str], acc: tuple):
            if not cols:
                rows.append(acc)
                return
            for entry in sorted(os.listdir(prefix)):
                if "=" in entry and os.path.isdir(os.path.join(prefix, entry)):
                    k, _, v = entry.partition("=")
                    if k == cols[0]:
                        walk(os.path.join(prefix, entry), cols[1:], acc + (v,))

        walk(base, list(t.partition_cols), ())
        schema = ", ".join(f"{c}: string" for c in t.partition_cols)
        return spark.createDataFrame(rows, schema)
    # catalog tables: partition spec via SHOW PARTITIONS (no data scan)
    parts = spark.sql(f"SHOW PARTITIONS {table_name}").collect()
    pairs = [dict(kv.partition("=")[::2] for kv in r.partition.split("/")) for r in parts]
    cols = sorted(pairs[0]) if pairs else []
    schema = ", ".join(f"{c}: string" for c in cols)
    return spark.createDataFrame([tuple(p[c] for c in cols) for p in pairs], schema)


def time_bucket_rollup(
    df: DataFrame,
    ts_col: str,
    grain: str,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Fine-grain time-bucket aggregate — the materializable half of a
    hypertable continuous aggregate: per (bucket, groups) event count and
    decimal-exact value sum. Partials at this grain are re-aggregatable
    to any coarser grain (see rollup_reaggregate), which is what makes
    incremental time-series rollups possible at 100 TB: the raw table is
    scanned once, every coarser report reuses the partials."""
    bucket = F.date_trunc(grain, F.col(ts_col)).alias("bucket")
    return df.groupBy(bucket, *[F.col(c) for c in group_cols]).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col(value_col).cast("decimal(18,4)")).alias("sum_value"),
    )


def rollup_reaggregate(
    partials: DataFrame,
    grain: str,
    group_cols: list[str],
) -> DataFrame:
    """Re-aggregate time_bucket_rollup partials to a coarser grain.
    Counts and decimal sums are exactly re-aggregatable (unlike distinct
    counts, which need the HLL-sketch path — functions.ndv_sketch*), so
    the coarse result is bit-identical to aggregating the raw events.
    The shuffle carries bucket-cardinality rows, not event-cardinality —
    the entire point of the continuous-aggregate pattern."""
    coarse = F.date_trunc(grain, F.col("bucket")).alias("bucket")
    return partials.groupBy(coarse, *[F.col(c) for c in group_cols]).agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )


def skew_report(df: DataFrame, key_col: str, topk: int = 5) -> DataFrame:
    """Join/agg-key skew diagnostic: one row per heavy-hitter key with
    its share of the table, plus the distribution stats a planner needs
    to decide between plain shuffle, AQE skew split, and salting
    (salted_join/salted_agg are the mitigation half of this pair).

    One count-aggregation on the key (the same shuffle the join itself
    would do), a tiny global-stats broadcast, and a topk window over
    key-cardinality rows. skew_ratio = max_freq * n_keys / n_rows: 1.0
    is perfectly uniform; >10 means the hottest key dominates whole
    partitions and a plain shuffle join will straggle."""
    # key is surfaced (and tie-broken) as STRING: a type-stable total
    # order for any key type — count ties at scale made the pre-cast
    # numeric order diverge from the report's string contract (caught by
    # the sf1.0 sweep: hundreds of keys tie at the same count there)
    counts = df.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    stats = counts.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("n").cast("bigint").alias("max_freq"),
    )
    # explicit TakeOrderedAndProject(limit=topk) FIRST, then rank the
    # surviving <=topk rows WITHOUT a window: a constant-key window
    # still plans as an empty partitionSpec (Catalyst folds the lit
    # away) and fires Spark's "WindowExec: No Partition Defined"
    # warning on every run. rank(row) = 1 + |rows strictly ahead in
    # the (n desc, key) order| — a <=topk x <=topk broadcast
    # comparison join, order-independent so immune to physical plan
    # changes, and trivially sized
    order = [F.col("n").desc(), F.col("key")]
    t = counts.orderBy(*order).limit(topk)
    ahead = t.select(F.col("key").alias("_bk"), F.col("n").alias("_bn"))
    top = (
        t.join(
            F.broadcast(ahead),
            (F.col("_bn") > F.col("n"))
            | ((F.col("_bn") == F.col("n")) & (F.col("_bk") < F.col("key"))),
            "left",
        )
        .groupBy("key", "n")
        .agg((F.count("_bk") + F.lit(1)).cast("int").alias("rk"))
    )
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            F.col("rk").cast("int").alias("rk"),
            "key",
            "n", "n_rows", "n_keys", "max_freq",
            F.round(F.col("n") / F.col("n_rows"), 6).alias("share"),
            F.round(F.col("max_freq") * F.col("n_keys") / F.col("n_rows"), 4).alias("skew_ratio"),
        )
    )


def _range_partition_count(df: DataFrame, num_partitions: int | None) -> int:
    """Default slice count for the range-partitioned two-pass analytics
    below. Both algorithms are exact for ANY slicing (documented in their
    docstrings), so the count is purely a performance knob: data-scaled
    (estimated bytes / spark.graft.compute.bytesPerTask, the same budget
    the LLM ops use), floored at 2, capped at spark.sql.shuffle.partitions
    so a 100 TB input still fans out with the configured width. A flat
    cluster-width default made a 200-row prefix sum pay 32-task stage
    packs (r12: curation's ranked stage 1.2 -> 0.8 s median with the
    scaled count). Estimation failure falls back to the configured cap."""
    spark = df.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if num_partitions:
        return int(num_partitions)
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        per_task = int(spark.conf.get("spark.graft.compute.bytesPerTask", "65536"))
        return max(2, min(cap, -(-est // max(per_task, 1))))
    except Exception:
        return cap


def global_running_sum(
    df: DataFrame,
    value_col: str,
    order_by: Sequence[Column],
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum over a total order WITHOUT the classic
    single-partition `Window.orderBy(...)` bottleneck (Spark warns
    `WindowExec: No Partition Defined` — every row lands on one task).

    Textbook distributed prefix sum in three bounded steps:
      1. `repartitionByRange` on the total order — each task holds one
         contiguous slice (an explicit partition count, so AQE never
         coalesces it and partition ids stay stable across the two uses
         of the exchange — Spark reuses it, not recomputes).
      2. Per-slice subtotals (one row per partition, <= num_partitions
         rows total) turned into slice offsets via a triangular
         broadcast join — deliberately NOT a window, so callers can
         assert "zero unpartitioned windowspecs" over the whole plan.
      3. A window PARTITIONED by slice id adds offset + local running
         sum. The only shuffles are the range exchange and a hash
         exchange of the same data on slice id; no task ever sees more
         than one slice.

    Exactness: integer/decimal sums are associative, so the result is
    bit-identical to the single-partition window for any slicing.

    Reference: the pattern Impala gets for free from its single-node
    analytic sort (planner/AnalyticPlanner.java partitions by nothing
    and relies on one impalad); at 100 TB Spark must not."""
    from pyspark.sql.window import Window

    n = _range_partition_count(df, num_partitions)
    ranged = df.repartitionByRange(n, *order_by).withColumn(
        "_gpid", F.spark_partition_id()
    )
    ptot = ranged.groupBy("_gpid").agg(F.sum(value_col).alias("_ptot"))
    offsets = (
        ptot.select(F.col("_gpid").alias("_gpid_a"))
        .join(
            F.broadcast(ptot.select(F.col("_gpid").alias("_gpid_b"), "_ptot")),
            F.col("_gpid_b") < F.col("_gpid_a"),
            "left",
        )
        .groupBy("_gpid_a")
        .agg(F.coalesce(F.sum("_ptot"), F.lit(0)).alias("_poff"))
    )
    w = (
        Window.partitionBy("_gpid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(
            F.broadcast(offsets), F.col("_gpid") == F.col("_gpid_a"), "inner"
        )
        .withColumn(out_col, F.sum(value_col).over(w) + F.col("_poff"))
        .drop("_gpid", "_gpid_a", "_poff")
    )


def global_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    *,
    partition_order_by: Sequence[Column] | None = None,
    kind: str = "rank",
    out_col: str = "rnk",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global RANK/DENSE_RANK/ROW_NUMBER over a total order WITHOUT
    the single-partition `Window.orderBy(...)` task (the same bottleneck
    global_running_sum removes for prefix sums — r7; the reference's
    AnalyticPlanner.java gets this for free from its single-node sort).

    order_by: fully-specified sort columns (direction AND null ordering,
    e.g. `F.col("x").desc_nulls_first()`). partition_order_by: the
    prefix of order_by used for the range partitioning — it must decide
    every cross-partition comparison (pass order_by itself when all keys
    share one direction, or just the FIRST sort column for a mixed-
    direction order: rows equal on the first key co-locate, so ranks
    across partitions depend on it alone). Defaults to order_by.

    Steps (range exchange -> local window -> tiny offset join):
      1. `repartitionByRange` on partition_order_by; a spill-capable
         `persist` pins the partition assignment — correctness must not
         hinge on Catalyst reusing the exchange across the three
         consumers below (column pruning can differentiate the subtrees,
         and each un-reused range exchange re-SAMPLES its bounds).
      2. Local window PARTITIONED by slice id over the full order.
      3. Per-slice sizes (COUNT(*) for rank/row_number — ranks offset by
         ROWS before the slice; MAX(local) for dense_rank — distinct
         keys never span slices) -> slice offsets via the triangular
         broadcast join; global = local + offset, cast back to INT
         (Spark's ranking result type)."""
    from pyspark.sql.window import Window

    n = _range_partition_count(df, num_partitions)
    from pyspark import StorageLevel

    part_cols = list(partition_order_by or order_by)
    # persist, not localCheckpoint: both pin the partition assignment so
    # the three consumers below agree on slice ids (an un-reused range
    # exchange re-SAMPLES its bounds), but localCheckpoint stores raw
    # rows in heap — at sf10 (60M rows) that OOMed the shared local-mode
    # heap next to 32 concurrent sort tasks. Dataset persist stores
    # compressed columnar batches and spills to disk under pressure.
    ranged = (
        df.repartitionByRange(n, *part_cols)
        .withColumn("_grk_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    local_fn = {
        "rank": F.rank,
        "dense_rank": F.dense_rank,
        "row_number": F.row_number,
    }[kind]
    w = Window.partitionBy("_grk_pid").orderBy(*order_by)
    lw = ranged.withColumn("_grk_lw", local_fn().over(w))
    if kind == "dense_rank":
        ptot = lw.groupBy("_grk_pid").agg(F.max("_grk_lw").alias("_ptot"))
    else:
        ptot = ranged.groupBy("_grk_pid").agg(
            F.count(F.lit(1)).alias("_ptot")
        )
    offsets = (
        ptot.select(F.col("_grk_pid").alias("_pid_a"))
        .join(
            F.broadcast(
                ptot.select(F.col("_grk_pid").alias("_pid_b"), "_ptot")
            ),
            F.col("_pid_b") < F.col("_pid_a"),
            "left",
        )
        .groupBy("_pid_a")
        .agg(F.coalesce(F.sum("_ptot"), F.lit(0)).alias("_poff"))
    )
    return (
        lw.join(
            F.broadcast(offsets), F.col("_grk_pid") == F.col("_pid_a"),
            "inner",
        )
        .withColumn(
            out_col, (F.col("_grk_lw") + F.col("_poff")).cast("int")
        )
        .drop("_grk_pid", "_grk_lw", "_pid_a", "_poff")
    )
