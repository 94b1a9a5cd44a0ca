"""DDL + write statements over parquet-backed managed tables.

Reference surface:
- CREATE TABLE AS SELECT / CREATE TABLE LIKE  (analysis/CreateTableAsSelectStmt.java)
- INSERT INTO / INSERT OVERWRITE [PARTITION]  (analysis/InsertStmt.java:114-116,751-760;
  partitioned sink: planner/HdfsTableSink.java:40-60 — dynamic-partition clustering
  maps to df.sortWithinPartitions before partitionBy writes)
- UPDATE / DELETE / UPSERT (Kudu-only in the reference; rewritten to a
  SELECT of key cols + RHS exprs — analysis/ModifyStmt.java:41-59). On
  parquet we implement read-modify-overwrite with the same semantics.
- TRUNCATE (sql-parser.cup:713), LOAD DATA (sql-parser.cup:678)

Managed tables live under a warehouse dir as parquet (optionally
Hive-partitioned). A module registry maps table -> (path, partition cols,
primary key) — the analog of the reference's catalog Db/Table objects
(catalog/Table.java) for the write path.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_spark.parser import (
    ImpalaUnsupportedError,
    from_ref_path,
    translate,
    validate_type_def,
)

WAREHOUSE = os.environ.get("IMPALA_SPARK_WAREHOUSE", "/tmp/impala_spark_warehouse")


@dataclass
class ManagedTable:
    name: str
    path: str
    partition_cols: list[str] = field(default_factory=list)
    primary_key: list[str] = field(default_factory=list)
    schema: object | None = None  # StructType pinned at create time
    #: hash-bucketed layout (Kudu PARTITION BY HASH -> Spark bucketBy,
    #: r11): bucketed tables live as CATALOG tables (bucket metadata
    #: requires saveAsTable) with a same-named temp view over them
    bucket_cols: list[str] = field(default_factory=list)
    num_buckets: int = 0
    catalog_name: str | None = None
    #: Kudu-style RANGE partitioning (r12): the range key columns and the
    #: declared partition spec — ("value", (v, ...)) items map to a
    #: Hive-style value-partitioned layout, ("bounds", (lo, ...), lo_incl,
    #: (hi, ...), hi_incl) items to a range-clustered layout (multi-column
    #: keys compare lexicographically). Writes validate rows against the
    #: spec (Kudu rejects rows outside every range).
    range_cols: list[str] = field(default_factory=list)
    range_spec: list = field(default_factory=list)
    #: declared (name, Impala type text) column pairs from CREATE TABLE —
    #: Spark's catalog erases CHAR/VARCHAR to string, the declared texts
    #: do not; the JDBC GetColumns surface reads these (metadata_ops)
    declared_cols: list = field(default_factory=list)
    #: ALTER TABLE ... SET TBLPROPERTIES / SERDEPROPERTIES (r12;
    #: A/AlterTableSetTblProperties.java) — metastore key/value maps.
    #: Surfaced through SHOW CREATE TABLE like the reference's ToSqlUtils.
    tbl_properties: dict = field(default_factory=dict)
    serde_properties: dict = field(default_factory=dict)
    #: ALTER TABLE ... SET FILEFORMAT (A/AlterTableSetFileFormatStmt.java).
    #: Declared format, validated against sources.STORAGE_FORMATS and
    #: round-tripped by SHOW CREATE TABLE; the physical layout stays
    #: parquet like CREATE TABLE ... STORED AS <fmt> does here (the
    #: managed-table write path is parquet-only by design).
    file_format: str = "PARQUET"
    #: ALTER TABLE ... SET CACHED IN 'pool' / UNCACHED
    #: (A/AlterTableSetCachedStmt.java): HDFS cache directive -> Spark
    #: storage-level cache on the table's view.
    cached_pool: str | None = None


#: catalog of write-capable tables (name -> ManagedTable)
_REGISTRY: dict[str, ManagedTable] = {}

#: per-table mutation counter, bumped on every write-path refresh/drop.
#: COMPUTE STATS promotion records the value at ANALYZE time; the stats
#: routing compares it so a mutated table silently leaves the CBO posture
#: until stats are recomputed (the r10 verdict's stale-memo guard: a
#: re-run COMPUTE STATS after an INSERT must re-ANALYZE, never reuse).
_MUTATIONS: dict[str, int] = {}


def mutation_count(name: str) -> int:
    """Monotone per-table write version (0 = never written this process)."""
    return _MUTATIONS.get(name, 0)


def _bump(name: str) -> None:
    from impala_spark.session import bump_catalog_version

    _MUTATIONS[name] = _MUTATIONS.get(name, 0) + 1
    bump_catalog_version()


def _unshadow_fixture(spark: SparkSession, name: str) -> None:
    """A managed table is about to shadow (or drop) a temp view whose name
    collides with a fixture table: the session's fixture views no longer
    all point at one dir, so the next register_tables, or statement of an
    engine with a fixture dir, re-points them."""
    from impala_spark.session import TABLES, _state

    if name in TABLES:
        _state(spark).views_dir = None


def _refresh_view(spark: SparkSession, t: ManagedTable) -> DataFrame:
    _bump(t.name)
    _unshadow_fixture(spark, t.name)
    if t.catalog_name:
        # bucketed tables MUST be read through the catalog — a plain
        # path read would lose the bucket spec (and with it the
        # exchange-free join)
        spark.catalog.refreshTable(t.catalog_name)
        df = spark.table(t.catalog_name)
        df.createOrReplaceTempView(t.name)
        return df
    try:
        df = spark.read.parquet(t.path)
    except Exception:
        # an empty partitioned write produces zero data files; the table
        # still exists with its declared schema (catalog/Table.java analog)
        df = spark.createDataFrame([], t.schema)
    df.createOrReplaceTempView(t.name)
    return df


def _pin_schema(t: ManagedTable, df: DataFrame) -> None:
    """Re-pin the declared schema after a column-mutating ALTER, in READ
    order (partition columns last — how a partitioned parquet dir reads
    back). Without this, the zero-file fallback reads (_read_path /
    _read_table / _refresh_view) keep serving the pre-ALTER schema
    (found by tools/dml_fuzz.py: TRUNCATE -> ADD COLUMNS -> UPSERT)."""
    from pyspark.sql.types import StructType

    part_lower = {p.lower() for p in t.partition_cols}
    fields = [f for f in df.schema.fields if f.name.lower() not in part_lower]
    fields += [f for f in df.schema.fields if f.name.lower() in part_lower]
    t.schema = StructType(fields)


def _read_path(spark: SparkSession, t: ManagedTable) -> DataFrame:
    """Read a managed table's data FILES (never the catalog table — the
    modify/upsert paths overwrite the same table they read, and a
    catalog-table self-read would race the write), falling back to an
    empty frame with the declared schema when no data file exists yet
    (UPDATE/DELETE/UPSERT on a freshly created table)."""
    try:
        return spark.read.parquet(t.path)
    except Exception:
        return spark.createDataFrame([], t.schema)


def _read_table(spark: SparkSession, t: ManagedTable) -> DataFrame:
    """Read a managed table's files, falling back to an empty frame with
    the declared schema when no data file exists yet (same contract as
    _refresh_view)."""
    if t.catalog_name:
        return spark.table(t.catalog_name)
    try:
        return spark.read.parquet(t.path)
    except Exception:
        return spark.createDataFrame([], t.schema)


def table_info(name: str) -> ManagedTable | None:
    """Registry lookup without raising (None = not a managed table)."""
    return _REGISTRY.get(name)


def _managed(name: str) -> ManagedTable:
    """Resolve a write-capable table or fail with an actionable error (the
    fixture views are read-only parquet scans, not managed tables)."""
    t = _REGISTRY.get(name)
    if t is None:
        raise ValueError(
            f"'{name}' is not a managed (write-capable) table; create it with "
            f"CTAS/CREATE TABLE first. Managed: {sorted(_REGISTRY) or '(none)'}"
        )
    return t


def drop_table(spark: SparkSession, name: str, purge: bool = True) -> None:
    _bump(name)
    _unshadow_fixture(spark, name)
    t = _REGISTRY.pop(name, None)
    spark.catalog.dropTempView(name)
    if t is not None and t.catalog_name:
        spark.sql(f"DROP TABLE IF EXISTS {t.catalog_name}")
    if purge:
        # also clear a stale warehouse dir from a PREVIOUS process — the
        # registry is in-memory, but /tmp warehouse dirs persist across
        # runs; without this a re-created table inherits orphan partition
        # directories (caught by the partition-spec existence check)
        path = t.path if t else os.path.join(WAREHOUSE, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)


def create_table_as_select(
    spark: SparkSession,
    name: str,
    query_or_df: str | DataFrame,
    partition_cols: list[str] | None = None,
    primary_key: list[str] | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """CTAS (analysis/CreateTableAsSelectStmt.java). Writes parquet, registers
    a view, and records the table for later INSERT/UPDATE/DELETE.

    NB: CREATE-OR-REPLACE semantics — an existing table of the same name is
    overwritten (Impala errors without IF NOT EXISTS; the replace behavior
    keeps harness queries idempotent across repeated runs)."""
    df = spark.sql(translate(query_or_df)) if isinstance(query_or_df, str) else query_or_df
    path = os.path.join(WAREHOUSE, name)
    writer = df.write.mode(mode)
    pcols = partition_cols or []
    if pcols:
        # clustered insert: sort within partitions on the partition keys so
        # each task writes few open files (HdfsTableSink clustering,
        # planner/Planner.java:146-147)
        df = df.sortWithinPartitions(*pcols)
        writer = df.write.mode(mode).partitionBy(*pcols)
    writer.parquet(path)
    t = ManagedTable(name, path, pcols, primary_key or [], df.schema)
    _REGISTRY[name] = t
    return _refresh_view(spark, t)


def create_table_like(spark: SparkSession, name: str, like: str) -> DataFrame:
    """CREATE TABLE LIKE — empty table with the source schema. Cloning a
    Kudu-surface table is rejected like the reference (IMPALA-4052,
    CreateTableLikeStmt.java:139-149) — a silent clone here would drop
    the source's hash layout and primary key, which is worse than the
    error."""
    src_info = table_info(like.strip("`"))
    if src_info is not None and (
        src_info.bucket_cols or src_info.range_cols or src_info.primary_key
    ):
        raise ImpalaUnsupportedError(
            "Cloning a Kudu table using CREATE TABLE LIKE is not supported.")
    try:
        src = spark.table(like)
    except Exception as e:
        # Analyzer.TBL_DOES_NOT_EXIST_ERROR_MSG — never a Spark
        # TABLE_OR_VIEW_NOT_FOUND text
        raise ImpalaUnsupportedError(
            f"Table does not exist: default.{like.strip('`').split('.')[-1]}"
        ) from e
    empty = spark.createDataFrame([], src.schema)
    return create_table_as_select(spark, name, empty)


#: database for hash-bucketed engine tables (shared with
#: operators.write_bucketed — the same physical layout lever)
BUCKETED_DB = "bucketed_db"


def _bucketed_catalog_name(spark: SparkSession, name: str) -> str:
    """Ensure the bucketed db exists (explicit location: the default
    warehouse dir is a static conf that can be cwd-relative on a foreign
    session) and return the qualified catalog name."""
    db_loc = os.path.join(WAREHOUSE, BUCKETED_DB)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {BUCKETED_DB} LOCATION '{db_loc}'")
    return f"{BUCKETED_DB}.`{name}`"


def create_table_hash_bucketed(
    spark: SparkSession,
    name: str,
    bucket_cols: list[str],
    num_buckets: int,
    query_or_df: str | DataFrame | None = None,
    col_defs: str | None = None,
    primary_key: list[str] | None = None,
) -> DataFrame:
    """CREATE TABLE ... PARTITION BY HASH(cols) PARTITIONS n [AS SELECT]
    (the reference's Kudu hash partitioning, A/KuduPartitionParam.java /
    cup tbl_partition_clauses) realized as a Spark BUCKETED table: a
    persisted hash partitioning, so every equi-join or aggregation on the
    bucket key runs with NO exchange on this side — at 100 TB the
    one-time layout cost that removes the per-query fact shuffle (the
    jff 0.98x-DuckDB result, now reachable from the SQL surface, r11).

    Bucket metadata requires saveAsTable, so the table lives in the
    catalog (BUCKETED_DB) with a same-named temp view over it; INSERT
    goes through insertInto, which preserves the bucket spec."""
    if num_buckets <= 0:
        raise ValueError(f"PARTITION BY HASH needs a positive bucket count, got {num_buckets}")
    cat = _bucketed_catalog_name(spark, name)
    path = os.path.join(WAREHOUSE, BUCKETED_DB, name.lower())
    spark.sql(f"DROP TABLE IF EXISTS {cat}")
    # a fresh session's in-memory catalog doesn't know about a previous
    # process's table, so DROP TABLE can't clear its directory
    shutil.rmtree(path, ignore_errors=True)
    if query_or_df is not None:
        df = (
            spark.sql(translate(query_or_df))
            if isinstance(query_or_df, str)
            else query_or_df
        )
        missing = [c for c in bucket_cols if c not in df.columns]
        if missing:
            raise ValueError(f"PARTITION BY HASH column(s) not in select list: {missing}")
        (
            df.write.mode("overwrite")
            .bucketBy(num_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .format("parquet")
            .saveAsTable(cat)
        )
        schema = spark.table(cat).schema
    else:
        cols, pk = _parse_col_defs(col_defs or "")
        primary_key = primary_key or pk
        names = {c.lower() for c, _t in cols}
        missing = [c for c in bucket_cols if c.lower() not in names]
        if missing:
            raise ValueError(f"PARTITION BY HASH column(s) not in column list: {missing}")
        ddl_schema = ", ".join(f"`{c}` {t}" for c, t in cols)
        keys = ", ".join(f"`{c}`" for c in bucket_cols)
        spark.sql(
            f"CREATE TABLE {cat} ({ddl_schema}) USING parquet"
            f" CLUSTERED BY ({keys}) SORTED BY ({keys}) INTO {num_buckets} BUCKETS"
        )
        schema = spark.table(cat).schema
    t = ManagedTable(
        name, path, [], primary_key or [], schema,
        bucket_cols=list(bucket_cols), num_buckets=num_buckets,
        catalog_name=cat,
    )
    _REGISTRY[name] = t
    return _refresh_view(spark, t)


# ---------------------------------------------------------------------------
# Kudu RANGE partitioning (A/KuduPartitionParam.java, cup
# tbl_partition_clauses) -> physical layout (r12; analysis-only before)
# ---------------------------------------------------------------------------


def _parse_sql_literal(txt: str):
    """A range partition bound: integer / decimal / string / bool literal
    (KuduPartitionParam.java requires constant bounds; the analyzer has
    already type-checked them against the key column)."""
    s = txt.strip()
    if re.fullmatch(r"[+-]?\d+", s):
        return int(s)
    if re.fullmatch(r"[+-]?(?:\d*\.\d+|\d+\.?)(?:[eE][+-]?\d+)?", s):
        return float(s)
    if len(s) >= 2 and s[0] == s[-1] and s[0] in ("'", '"'):
        inner = s[1:-1]
        return inner.replace("''", "'") if s[0] == "'" else inner
    if s.upper() in ("TRUE", "FALSE"):
        return s.upper() == "TRUE"
    raise ImpalaUnsupportedError(
        f"range partition bound must be a constant literal, got {txt!r}"
    )


def _parse_sql_literal_tuple(txt: str) -> tuple:
    """A range partition bound as a KEY TUPLE: multi-column range keys
    spell bounds as parenthesized literal lists `(1, 'x')`
    (KuduPartitionParam.java multi-column range rows); a bare literal is
    a 1-tuple. Specs always store tuples so the membership predicate and
    SHOW CREATE emission have one shape regardless of key arity."""
    s = txt.strip()
    if s.startswith("(") and s.endswith(")"):
        return tuple(
            _parse_sql_literal(p) for p in _split_top_commas_text(s[1:-1])
        )
    return (_parse_sql_literal(s),)


def _split_top_commas_text(text: str) -> list[str]:
    """Comma split of raw SQL text, paren- and quote-aware."""
    out, depth, cur, quote = [], 0, [], None
    i = 0
    while i < len(text):
        ch = text[i]
        if quote:
            cur.append(ch)
            if ch == quote:
                # doubled quote = escaped quote inside the literal
                if i + 1 < len(text) and text[i + 1] == quote:
                    cur.append(text[i + 1])
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"'):
            quote = ch
            cur.append(ch)
        elif ch == "(":
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    if "".join(cur).strip():
        out.append("".join(cur))
    return out


def parse_range_partition_items(items_text: str) -> list:
    """The parenthesized partition list of PARTITION BY RANGE:
    `PARTITION VALUE = lit` items and/or bound items
    `[lit <[=]] VALUES [<[=] lit]` (Kudu range bounds: lower inclusive /
    upper exclusive by default, spelled by the operator)."""
    items: list = []
    for part in _split_top_commas_text(items_text):
        s = part.strip()
        m = re.match(r"(?is)^PARTITION\s+(.*)$", s)
        if not m:
            raise ImpalaUnsupportedError(
                f"cannot parse range partition spec: {s!r}"
            )
        body = m.group(1).strip()
        mv = re.match(r"(?is)^VALUES?\s*=\s*(.+)$", body)
        if mv:
            items.append(("value", _parse_sql_literal_tuple(mv.group(1))))
            continue
        mb = re.match(
            r"(?is)^(?:(.+?)\s*(<=|<)\s*)?VALUES(?:\s*(<=|<)\s*(.+))?$", body
        )
        if not mb or (mb.group(1) is None and mb.group(4) is None):
            raise ImpalaUnsupportedError(
                f"cannot parse range partition spec: {s!r}"
            )
        lo = _parse_sql_literal_tuple(mb.group(1)) if mb.group(1) else None
        lo_incl = mb.group(2) == "<=" if mb.group(2) else False
        hi = _parse_sql_literal_tuple(mb.group(4)) if mb.group(4) else None
        hi_incl = mb.group(3) == "<=" if mb.group(3) else False
        items.append(("bounds", lo, lo_incl, hi, hi_incl))
    if not items:
        raise ImpalaUnsupportedError("empty range partition spec")
    return items


def _tuple_cmp(cols: list[str], lits: tuple, op: str):
    """Lexicographic comparison of the key-column tuple against a literal
    tuple — Kudu's multi-column range bounds compare row-wise
    (KuduPartitionParam.java: bounds are partial rows ordered
    lexicographically). op is one of > >= < <=."""
    def rec(i: int):
        c, l = F.col(cols[i]), F.lit(lits[i])
        if i == len(lits) - 1:
            return {">": c > l, ">=": c >= l, "<": c < l, "<=": c <= l}[op]
        head = c > l if op[0] == ">" else c < l
        return head | ((c == l) & rec(i + 1))
    return rec(0)


def _range_pred(cols: list[str], spec: list):
    """OR of the declared partitions' membership predicates. NULL keys
    fall outside every range (Kudu: range key columns are non-nullable).
    Multi-column keys compare lexicographically (_tuple_cmp)."""
    preds = []
    for item in spec:
        if item[0] == "value":
            p = F.lit(True)
            for c, v in zip(cols, item[1]):
                p = p & (F.col(c) == F.lit(v))
            preds.append(p)
        else:
            _, lo, lo_incl, hi, hi_incl = item
            p = F.lit(True)
            if lo is not None:
                p = p & _tuple_cmp(cols, lo, ">=" if lo_incl else ">")
            if hi is not None:
                p = p & _tuple_cmp(cols, hi, "<=" if hi_incl else "<")
            preds.append(p)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    # a NULL in any key column makes the comparison NULL -> outside
    return F.coalesce(out, F.lit(False))


def _validate_in_range(df: DataFrame, t_name: str, cols: list[str], spec: list) -> None:
    """Kudu rejects writes whose key falls outside every declared range
    partition; we raise before writing anything (one limit-1 probe scan —
    error-path cost only when a violation exists is not avoidable without
    caching the input)."""
    bad = df.filter(~_range_pred(cols, spec)).select(*cols).limit(1).collect()
    if bad:
        got = bad[0][0] if len(cols) == 1 else tuple(bad[0])
        raise ImpalaUnsupportedError(
            f"value {got!r} in column(s) '{', '.join(cols)}' does not belong"
            f" to any declared range partition of table '{t_name}'"
            " (KuduPartitionParam.java range bounds)"
        )


def _range_cluster(df: DataFrame, cols: list[str], n_ranges: int) -> DataFrame:
    """Range-clustered write layout for bound-form partitions: shuffle into
    as many contiguous key slices as declared partitions and sort on the
    key within each, so every parquet row group spans a narrow key
    interval — range predicates then skip row groups at SCAN time via
    footer min/max (the pushed-filter path). The declared bounds are a
    monotone step function of the key tuple, and repartitionByRange over
    the same column order is lexicographic, so ordering by the key columns
    alone preserves them."""
    return df.repartitionByRange(max(n_ranges, 1), *[F.col(c) for c in cols]) \
             .sortWithinPartitions(*cols)


def create_table_range_partitioned(
    spark: SparkSession,
    name: str,
    range_cols: list[str],
    spec: list,
    query_or_df: str | DataFrame | None = None,
    col_defs: str | None = None,
    primary_key: list[str] | None = None,
) -> DataFrame:
    """CREATE TABLE ... PARTITION BY RANGE (cols) (PARTITION ...) — the
    reference's Kudu range partitioning realized physically:

    * all-VALUE specs -> a Hive-style value-partitioned parquet layout
      (one directory level per key column): Catalyst prunes partitions at
      PLANNING time for equality/range predicates on the key.
    * bound specs (lo <= VALUES < hi) -> a range-CLUSTERED layout via
      repartitionByRange + sortWithinPartitions (see _range_cluster).

    Rows outside every declared partition are rejected at write time,
    like Kudu. Multi-column keys compare lexicographically (r12; bounds
    must spell the FULL key tuple — Kudu's trailing-column min/max fill
    for partial bound rows is not implemented)."""
    range_cols = list(range_cols)
    for item in spec:
        if item[0] == "value":
            # VALUE rows must spell the full key (Kudu requires it too)
            if len(item[1]) != len(range_cols):
                raise ImpalaUnsupportedError(
                    f"range partition bound {item[1]!r} has"
                    f" {len(item[1])} value(s) for a {len(range_cols)}-"
                    f"column range key ({', '.join(range_cols)}); spell"
                    " the full key tuple"
                )
            continue
        _, lo, lo_incl, hi, hi_incl = item
        # Partial BOUND rows: Kudu fills missing trailing columns with
        # the column type's minimum (KuduPartitionParam.java). Under the
        # DEFAULT operators that min-fill is exactly PREFIX comparison —
        # key >= (v, MIN) <=> prefix >= (v); key < (v, MIN) <=> prefix <
        # (v) — which _tuple_cmp already computes by recursing only over
        # the literal tuple's length. The NON-default spellings (> lower,
        # <= upper) are NOT prefix-expressible (they hinge on whether a
        # trailing column can equal MIN), so those raise.
        for tv, incl, is_lower in ((lo, lo_incl, True), (hi, hi_incl, False)):
            if tv is None or len(tv) == len(range_cols):
                continue
            if len(tv) > len(range_cols):
                raise ImpalaUnsupportedError(
                    f"range partition bound {tv!r} has {len(tv)} value(s)"
                    f" for a {len(range_cols)}-column range key"
                    f" ({', '.join(range_cols)})"
                )
            if (is_lower and not incl) or (not is_lower and incl):
                raise ImpalaUnsupportedError(
                    f"partial range partition bound {tv!r} is only"
                    " supported with the default operators (inclusive"
                    " lower / exclusive upper): Kudu's min-value fill of"
                    f" the trailing column(s) is not expressible for"
                    f" {'exclusive lower' if is_lower else 'inclusive upper'}"
                    " bounds"
                )
    value_layout = all(item[0] == "value" for item in spec)
    path = os.path.join(WAREHOUSE, name)
    if query_or_df is not None:
        df = (
            spark.sql(translate(query_or_df))
            if isinstance(query_or_df, str)
            else query_or_df
        )
        for rcol in range_cols:
            if rcol not in df.columns:
                raise ValueError(
                    f"PARTITION BY RANGE column not in select list: {rcol}"
                )
        _validate_in_range(df, name, range_cols, spec)
        shutil.rmtree(path, ignore_errors=True)
        if value_layout:
            (df.sortWithinPartitions(*range_cols).write.mode("overwrite")
               .partitionBy(*range_cols).parquet(path))
        else:
            _range_cluster(df, range_cols, len(spec)).write.mode("overwrite").parquet(path)
        t = ManagedTable(
            name, path, list(range_cols) if value_layout else [],
            primary_key or [],
            df.schema, range_cols=range_cols, range_spec=list(spec),
        )
        _REGISTRY[name] = t
        return _refresh_view(spark, t)
    # empty create with explicit columns
    cols, pk = _parse_col_defs(col_defs or "")
    names = {c.lower() for c, _t in cols}
    for rcol in range_cols:
        if rcol.lower() not in names:
            raise ValueError(f"PARTITION BY RANGE column not in column list: {rcol}")
    create_table(spark, name, col_defs or "", primary_key=primary_key or pk)
    t = _REGISTRY[name]
    t.range_cols = range_cols
    t.range_spec = list(spec)
    if value_layout:
        t.partition_cols = list(range_cols)
    return _refresh_view(spark, t)


def insert(
    spark: SparkSession,
    table: str,
    query_or_df: str | DataFrame,
    overwrite: bool = False,
    static_partition: dict[str, object] | None = None,
    columns: list[str] | None = None,
    hints: list[str] | None = None,
) -> DataFrame:
    """INSERT INTO/OVERWRITE [(col, ...)] [PARTITION (k=v | k)]
    (analysis/InsertStmt.java).

    Static partition: constant key values appended as literal columns
    (InsertStmt.java:751-760). Dynamic: the trailing SELECT columns feed the
    partition keys — Spark's partitionBy handles both once the columns exist.
    Column permutation (InsertStmt.java:73-90): values bind by position to
    the MENTIONED columns; unmentioned columns are set to NULL; partition
    columns must all be mentioned (permutation or PARTITION clause).
    """
    t = _managed(table)
    df = spark.sql(translate(query_or_df)) if isinstance(query_or_df, str) else query_or_df
    target = spark.table(table)
    if columns is not None:
        # -- column permutation analysis (InsertStmt.java:300-312,516-530)
        by_lower = {c.lower(): c for c in target.columns}
        cols: list[str] = []
        mentioned: set[str] = set()
        for raw in columns:
            c = raw.strip().strip("`")
            if c.lower() not in by_lower:
                raise ImpalaUnsupportedError(
                    f"Unknown column '{c}' in column permutation")
            if c.lower() in mentioned:
                raise ImpalaUnsupportedError(
                    f"Duplicate column '{c}' in column permutation")
            mentioned.add(c.lower())
            cols.append(by_lower[c.lower()])
        if static_partition:
            mentioned |= {k.lower() for k in static_partition}
        if len(cols) != len(df.columns):
            comparator = "fewer" if len(cols) < len(df.columns) else "more"
            prefix = ("and PARTITION clause mention" if static_partition
                      else "mentions")
            clause = ("and PARTITION clause return" if static_partition
                      else "returns")
            raise ImpalaUnsupportedError(
                f"Column permutation {prefix} {comparator} columns "
                f"({len(cols)}) than the SELECT / VALUES clause {clause} "
                f"({len(df.columns)})")
        if t.partition_cols:
            miss = [c for c in t.partition_cols if c.lower() not in mentioned]
            if miss:
                raise ImpalaUnsupportedError(
                    "Not enough partition columns mentioned in query."
                    " Missing columns are: " + ", ".join(miss))
        df = df.toDF(*cols)
        if static_partition:
            for k, v in static_partition.items():
                df = df.withColumn(k, F.lit(v))
        # unmentioned columns are set to NULL (InsertStmt.java:77-88)
        have = {c.lower() for c in df.columns}
        for c, f in zip(target.columns, target.schema.fields):
            if c.lower() not in have:
                df = df.withColumn(c, F.lit(None).cast(f.dataType))
        df = df.select(
            *[F.col(c).cast(f.dataType)
              for c, f in zip(target.columns, target.schema.fields)]
        )
    else:
        if static_partition:
            for k, v in static_partition.items():
                df = df.withColumn(k, F.lit(v))
        # Impala InsertStmt analysis: column count must match the target
        # exactly; values bind by POSITION and cast to the target types.
        # Without this an off-by-one SELECT silently appends a mismatched
        # parquet schema into the table directory.
        if len(df.columns) != len(target.columns):
            # InsertStmt.java:520-525 exact text (comparator flips with the
            # direction of the mismatch)
            comparator = "more" if len(target.columns) > len(df.columns) else "fewer"
            raise ImpalaUnsupportedError(
                f"Target table 'default.{table}' has {comparator} columns "
                f"({len(target.columns)}) than the SELECT / VALUES clause "
                f"returns ({len(df.columns)})"
            )
        df = df.toDF(*target.columns).select(
            *[F.col(c).cast(f.dataType) for c, f in zip(target.columns, target.schema.fields)]
        )
    if t.primary_key and not overwrite:
        # Kudu-surface INSERT semantics: a row whose primary key already
        # exists is DISCARDED and the statement continues (Impala INSERT
        # into Kudu reports it as a row error, not a failure); within the
        # batch the first occurrence wins (ops apply in order)
        from pyspark.sql import Window

        df = (
            df.withColumn("__ord", F.monotonically_increasing_id())
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(*t.primary_key)
                    .orderBy(F.col("__ord").asc())
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__ord", "__rn")
            .join(
                _read_path(spark, t).select(*t.primary_key),
                on=list(t.primary_key),
                how="left_anti",
            )
            .select(*target.columns)
        )
    elif t.primary_key:
        # OVERWRITE replaces the data; only intra-batch duplicates need
        # resolving (first wins, same op ordering)
        from pyspark.sql import Window

        df = (
            df.withColumn("__ord", F.monotonically_increasing_id())
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(*t.primary_key)
                    .orderBy(F.col("__ord").asc())
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__ord", "__rn")
        )
    if hints and "shuffle" in hints and t.partition_cols:
        # [shuffle] plan hint (InsertStmt.java planHints_): add one
        # exchange on the partition keys before the sink so each output
        # partition is written by one task — the reference's cure for
        # the many-small-files insert; noshuffle/clustered/noclustered
        # are accepted and need no action on Spark's write path
        df = df.repartition(*[F.col(c) for c in t.partition_cols])
    mode = "overwrite" if overwrite else "append"
    if t.range_cols:
        # Kudu parity: rows outside every declared range partition are
        # rejected before anything is written
        _validate_in_range(df, t.name, t.range_cols, t.range_spec)
        if not t.partition_cols:
            # bound-form layout: keep appended files range-clustered so
            # footer min/max stays the skipping lever
            df = _range_cluster(df, t.range_cols, len(t.range_spec))
    if t.catalog_name:
        # bucketed target: insertInto preserves the catalog bucket spec
        # (a plain path write would interleave unbucketed files and
        # silently break the exchange-free join invariant)
        df.write.mode(mode).insertInto(t.catalog_name)
    elif t.partition_cols:
        df = df.sortWithinPartitions(*t.partition_cols)
        # Match Impala INSERT OVERWRITE PARTITION: replace only the
        # partitions present in the input. Per-WRITER option, not session
        # conf — a session-wide dynamic mode silently changes the
        # semantics of every later partitioned overwrite (a CTAS re-create
        # stopped truncating orphan partitions; caught by the gate).
        (df.write.mode(mode)
           .option("partitionOverwriteMode", "dynamic")
           .partitionBy(*t.partition_cols).parquet(t.path))
    else:
        df.write.mode(mode).parquet(t.path)
    return _refresh_view(spark, t)


def _ack(spark: SparkSession, msg: str) -> DataFrame:
    """One-row status result of a statement that returns no rows."""
    return spark.sql(f"SELECT '{msg}' AS result")


def truncate(spark: SparkSession, stmt_or_table: str) -> DataFrame:
    """TRUNCATE [TABLE] [IF EXISTS] name — drop all rows, keep schema
    (A/TruncateStmt.java:32: IF EXISTS makes a missing table a no-op)."""
    m = re.match(
        r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<ife>IF\s+EXISTS\s+)?([\w`]+)\s*$",
        stmt_or_table, re.IGNORECASE)
    name = m.group(2).strip("`") if m else stmt_or_table
    if m and m.group("ife") and table_info(name) is None:
        return _ack(spark, "table does not exist (IF EXISTS)")
    t = _managed(name)
    schema = spark.table(name).schema
    empty = spark.createDataFrame([], schema)
    if t.catalog_name:
        return _overwrite(spark, t, empty)
    empty.write.mode("overwrite").parquet(t.path)
    return _refresh_view(spark, t)


def load_data(spark: SparkSession, stmt: str) -> DataFrame:
    """LOAD DATA INPATH 'dir' [OVERWRITE] INTO TABLE name (cup:678)."""
    m = re.match(
        r"^\s*LOAD\s+DATA\s+INPATH\s+'([^']+)'\s+(OVERWRITE\s+)?INTO\s+TABLE\s+([\w`]+)\s*$",
        stmt,
        re.IGNORECASE,
    )
    if not m:
        raise ValueError(f"cannot parse LOAD DATA: {stmt}")
    path, overwrite, name = m.group(1), bool(m.group(2)), m.group(3).strip("`")
    t = _managed(name)
    df = spark.read.parquet(path)
    if t.catalog_name:
        # route through insertInto: dropping raw files into a bucketed
        # table's directory would break the bucket-spec invariant
        df.write.mode("overwrite" if overwrite else "append").insertInto(t.catalog_name)
    else:
        df.write.mode("overwrite" if overwrite else "append").parquet(t.path)
    return _refresh_view(spark, t)


# ---------------------------------------------------------------------------
# UPDATE / DELETE / UPSERT — analysis/ModifyStmt.java:41-59 semantics on
# parquet via read-modify-overwrite. The reference rewrites the statement to
# a SELECT of (key columns + assignment RHS exprs) and hands rows to Kudu;
# we evaluate the same exprs with when(pred, rhs) and rewrite the files.
# ---------------------------------------------------------------------------

_UPDATE_RE = re.compile(
    r"^\s*UPDATE\s+([\w`]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^\s*DELETE\s+FROM\s+([\w`]+)(?:\s+WHERE\s+(.*))?$", re.IGNORECASE | re.DOTALL
)
_UPSERT_RE = re.compile(
    r"^\s*UPSERT\s+INTO\s+(?:TABLE\s+)?([\w`]+)\s*"
    r"(?:\(([^)]*)\)\s*)?"  # column permutation (InsertStmt.java:73)
    r"(SELECT\s+.*|VALUES\s*.*|WITH\s+.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_JOIN_RE = re.compile(
    r"^\s*DELETE\s+([\w`]+)\s+FROM\s+(.*)$", re.IGNORECASE | re.DOTALL
)


def _top_level_kw(stmt: str, kw: str) -> int:
    """Index of the first occurrence of keyword `kw` at paren depth 0
    outside string literals, or -1 (word-boundary matched)."""
    depth = 0
    in_str: str | None = None
    low = stmt.lower()
    k = kw.lower()
    for i, ch in enumerate(stmt):
        if in_str:
            if ch == in_str:
                in_str = None
        elif ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith(k, i):
            before_ok = i == 0 or not (stmt[i - 1].isalnum() or stmt[i - 1] in "_`")
            j = i + len(k)
            after_ok = j >= len(stmt) or not (stmt[j].isalnum() or stmt[j] in "_`")
            if before_ok and after_ok:
                return i
    return -1


def _resolve_modify_target(tgt: str, from_clause: str) -> str:
    """Resolve the DELETE/UPDATE target token — a table name or an alias
    declared in the FROM clause (ModifyStmt.java:116-130)."""
    name = tgt.strip("`")
    if table_info(name) is not None:
        return name
    ref = from_ref_path(name, from_clause)
    if ref is not None and table_info(ref) is not None:
        return ref
    raise ValueError(f"'{name}' is not a valid table alias or reference.")


def _split_assignments(set_clause: str) -> list[tuple[str, str]]:
    out, depth, cur = [], 0, []
    for ch in set_clause:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    pairs = []
    for a in out:
        col, _, rhs = a.partition("=")
        pairs.append((col.strip().strip("`"), rhs.strip()))
    return pairs


#: chars Spark/Hive escape in partition directory names
#: (ExternalCatalogUtils.escapePathName char set)
_HIVE_UNSAFE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(i) for i in range(32)}


def _part_value_str(v) -> str:
    """Render a partition value the way Spark's partition writer does
    (ExternalCatalogUtils / Cast-to-string semantics), not Python str():
    booleans are lowercase, fractional seconds drop trailing zeros. A
    mismatch here makes the vanished-partition rmtree target a dir that
    does not exist, silently resurrecting deleted rows (ADVICE r5)."""
    import datetime

    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += ("%.6f" % (v.microsecond / 1e6))[1:].rstrip("0")
        return s
    return str(v)


def _hive_part_dir(t: ManagedTable, values: tuple) -> str:
    """Filesystem dir of one Hive-layout partition (k1=v1/k2=v2)."""
    segs = []
    for k, v in zip(t.partition_cols, values):
        if v is None:
            s = "__HIVE_DEFAULT_PARTITION__"
        else:
            s = "".join(
                f"%{ord(c):02X}" if c in _HIVE_UNSAFE else c
                for c in _part_value_str(v)
            )
        segs.append(f"{k}={s}")
    return os.path.join(t.path, *segs)


#: scoped-rewrite cap: above this many touched partitions the OR-of-
#: conjunctions predicate stops being a win (plan size grows linearly in
#: branches and the rewrite approaches a full-table write anyway) — the
#: callers fall back to the staging full rewrite
MAX_SCOPED_PARTITIONS = 256


def _part_filter(t: ManagedTable, touched: list[tuple]):
    """Static partition predicate (OR of per-partition key conjunctions)
    from a collected touched-partition list — Catalyst partition-prunes
    it, so the rewrite scan READS only the touched partitions."""
    disj = None
    for values in touched:
        conj = None
        for k, v in zip(t.partition_cols, values):
            c = F.col(k).isNull() if v is None else (F.col(k) == F.lit(v))
            conj = c if conj is None else (conj & c)
        disj = conj if disj is None else (disj | conj)
    return disj if disj is not None else F.lit(False)


def _rewrite_partitions(
    spark: SparkSession, t: ManagedTable, new_rows: DataFrame, touched: list[tuple]
) -> DataFrame:
    """Replace exactly the `touched` partitions of a partitioned managed
    table with `new_rows` (which must hold ALL surviving rows of those
    partitions and nothing else). Untouched partitions are never read or
    rewritten — their files stay byte-identical (test-pinned), so a keyed
    modify on a 100 TB table rewrites KBs. Mirrors
    streaming.upsert_stream_to_table's dynamic-partition-overwrite merge
    (r4), with one addition: a touched partition whose rows ALL disappear
    is absent from the write output, which dynamic overwrite cannot
    delete — those directories are removed explicitly."""
    # materialize BEFORE overwriting the files being read (via
    # materialize_stage: honors spark.graft.checkpoint.mode so the
    # read-before-overwrite barrier survives executor loss on a cluster)
    from impala_spark.operators import materialize_stage

    new_rows = materialize_stage(new_rows)
    remaining = {
        tuple(r[c] for c in t.partition_cols)
        for r in new_rows.select(*t.partition_cols).distinct().collect()
    }
    (
        new_rows.sortWithinPartitions(*t.partition_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*t.partition_cols)
        .parquet(t.path)
    )
    for values in touched:
        if tuple(values) not in remaining:
            shutil.rmtree(_hive_part_dir(t, tuple(values)), ignore_errors=True)
    return _refresh_view(spark, t)


def _touched_partitions(df: DataFrame, t: ManagedTable, pred) -> list[tuple]:
    """Distinct partition keys holding rows where `pred` IS TRUE. The
    collect is metadata-scale: bounded by the number of partitions the
    WHERE touches, the same driver-side granularity at which the
    reference's catalog tracks HdfsPartition objects."""
    rows = (
        df.filter(pred.eqNullSafe(F.lit(True)))
        .select(*t.partition_cols)
        .distinct()
        .collect()
    )
    return [tuple(r[c] for c in t.partition_cols) for r in rows]


def modify(spark: SparkSession, stmt: str, strict: bool = False) -> DataFrame:
    # -- UPDATE ... SET ... FROM <joined refs> [WHERE ...] (ModifyStmt:
    # the FROM clause names the target by alias; assignments may read
    # the joined tables). Detected by a top-level FROM that precedes any
    # top-level WHERE — a WHERE-subquery's FROM sits inside parens.
    if strict:
        # ModifyStmt analysis: only Kudu tables are modifiable
        # (AnalyzeModifyStmtsTest "Impala does not support modifying a
        # non-Kudu table"); the engine's PK-less parquet tables are the
        # HDFS-table analog. Permissive mode keeps the documented
        # read-modify-overwrite superset.
        tm = re.match(
            r"^\s*(?:UPDATE\s+|DELETE\s+(?:FROM\s+)?)([\w`]+)", stmt,
            re.IGNORECASE)
        if tm:
            tgt = tm.group(1).strip("`")
            ti = table_info(tgt)
            if ti is not None and not ti.primary_key:
                raise ImpalaUnsupportedError(
                    "Impala does not support modifying a non-Kudu table: "
                    f"default.{tgt}")
    um = re.match(r"^\s*UPDATE\s+([\w`]+)\s+SET\s+", stmt, re.IGNORECASE)
    if um:
        tail = stmt[um.end():]
        fi, wi = _top_level_kw(tail, "FROM"), _top_level_kw(tail, "WHERE")
        if fi >= 0 and (wi < 0 or fi < wi):
            return _update_from(
                spark, um.group(1), tail[:fi], tail[fi + 4:])
    m = _DELETE_RE.match(stmt)
    if m is None:
        dm = _DELETE_JOIN_RE.match(stmt)
        if dm:
            return _delete_from(spark, dm.group(1), dm.group(2))
    m = _UPDATE_RE.match(stmt)
    if m:
        name, set_clause, where = m.group(1).strip("`"), m.group(2), m.group(3)
        t = _managed(name)
        df = _read_path(spark, t)
        pred = F.expr(translate(where)) if where else F.lit(True)
        assigns = _split_assignments(set_clause)
        keyset = {k.lower() for k in t.primary_key}
        for col, _rhs in assigns:
            if col.strip("`").lower() in keyset:
                # ModifyStmt.java:267 exact text — Kudu-surface keys are
                # immutable (the FROM-form path has the same guard)
                raise ImpalaUnsupportedError(
                    f"Key column '{col.strip('`')}' cannot be updated.")
        set_cols = {c for c, _ in assigns}
        if t.partition_cols and where and not (set_cols & set(t.partition_cols)):
            # Partition-scoped rewrite: only partitions with matching rows
            # are read back and replaced. (A SET on a partition column can
            # move rows ACROSS partitions — destination partitions would
            # need their non-matching rows in the output too; that rare
            # case keeps the full rewrite below.)
            touched = _touched_partitions(df, t, F.expr(translate(where)))
            if not touched:
                return _refresh_view(spark, t)
            if len(touched) > MAX_SCOPED_PARTITIONS:
                touched = None  # unselective WHERE: full rewrite below
        else:
            touched = None
        if touched is not None:
            scoped = df.filter(_part_filter(t, touched))
            for col, rhs in assigns:
                scoped = scoped.withColumn(
                    col, F.when(pred, F.expr(translate(rhs))).otherwise(F.col(col))
                )
            return _rewrite_partitions(spark, t, scoped.select(*df.columns), touched)
        for col, rhs in assigns:
            df = df.withColumn(col, F.when(pred, F.expr(translate(rhs))).otherwise(F.col(col)))
        return _overwrite(spark, t, df)

    m = _DELETE_RE.match(stmt)
    if m:
        name, where = m.group(1).strip("`"), m.group(2)
        t = _managed(name)
        df = _read_path(spark, t)
        if where and t.partition_cols:
            pred = F.expr(translate(where))
            touched = _touched_partitions(df, t, pred)
            if not touched:
                return _refresh_view(spark, t)
            if len(touched) <= MAX_SCOPED_PARTITIONS:
                scoped = df.filter(_part_filter(t, touched)).filter(
                    ~pred.eqNullSafe(F.lit(True))
                )
                return _rewrite_partitions(spark, t, scoped, touched)
            # unselective WHERE: full rewrite below
        if where:
            # keep rows where the predicate is NOT TRUE (null-safe: a row
            # with NULL predicate is not deleted — Impala DELETE semantics)
            df = df.filter(~F.expr(translate(where)).eqNullSafe(F.lit(True)))
        else:
            df = df.limit(0)
        return _overwrite(spark, t, df)

    m = _UPSERT_RE.match(stmt)
    if m:
        name, cols_text, src_sql = (
            m.group(1).strip("`"), m.group(2), m.group(3))
        t = _managed(name)
        if not t.primary_key:
            raise ValueError(f"UPSERT requires a primary key on {name}")
        src = spark.sql(translate(f"SELECT * FROM ({src_sql})" if src_sql.upper().startswith("VALUES") else src_sql))
        if cols_text is not None:
            src = _upsert_permutation(spark, t, name, src, cols_text)
        return upsert(spark, name, src)

    raise ValueError(f"cannot parse modify statement: {stmt}")


def _upsert_permutation(spark, t, name, src, cols_text: str):
    """UPSERT column permutation (InsertStmt.java:73-90 with the Kudu
    key-coverage rule): mentioned columns bind by position; ALL primary
    key columns must be mentioned; unmentioned columns keep the EXISTING
    row's value on a key match (Kudu upsert writes only the mentioned
    cells) and are NULL for new keys."""
    target = spark.table(name)
    by_lower = {c.lower(): c for c in target.columns}
    cols: list[str] = []
    seen: set[str] = set()
    for raw in cols_text.split(","):
        c = raw.strip().strip("`")
        if c.lower() not in by_lower:
            raise ImpalaUnsupportedError(
                f"Unknown column '{c}' in column permutation")
        if c.lower() in seen:
            raise ImpalaUnsupportedError(
                f"Duplicate column '{c}' in column permutation")
        seen.add(c.lower())
        cols.append(by_lower[c.lower()])
    missing_keys = [k for k in t.primary_key if k.lower() not in seen]
    if missing_keys:
        # checkRequiredKuduColumns (InsertStmt.java:540-557), UPSERT op
        raise ImpalaUnsupportedError(
            "All primary key columns must be specified for UPSERTing"
            " into Kudu tables. Missing columns are: "
            + ", ".join(missing_keys))
    if len(cols) != len(src.columns):
        comparator = "fewer" if len(cols) < len(src.columns) else "more"
        raise ImpalaUnsupportedError(
            f"Column permutation mentions {comparator} columns "
            f"({len(cols)}) than the SELECT / VALUES clause returns "
            f"({len(src.columns)})")
    src = src.toDF(*cols)
    unmentioned = [c for c in target.columns if c.lower() not in seen]
    if unmentioned:
        existing = _read_path(spark, t).select(
            *t.primary_key, *unmentioned)
        src = src.join(existing, on=list(t.primary_key), how="left")
    return src.select(
        *[F.col(c).cast(f.dataType)
          for c, f in zip(target.columns, target.schema.fields)]
    )


def _delete_from(spark: SparkSession, tgt: str, rest: str) -> DataFrame:
    """DELETE <target> FROM <joined refs> [WHERE ...] (ModifyStmt.java:
    the source statement selects the target's key columns through the
    join; matching keys are removed from the target)."""
    name = _resolve_modify_target(tgt, rest)
    t = _managed(name)
    if not t.primary_key:
        raise ValueError(
            f"DELETE with a FROM clause requires a primary key on {name}")
    tgt_q = tgt.strip("`")
    keys_sql = "SELECT DISTINCT %s FROM %s" % (
        ", ".join(f"{tgt_q}.{k} AS {k}" for k in t.primary_key), rest)
    keys = spark.sql(translate(keys_sql))
    kept = _read_path(spark, t).join(
        keys, on=list(t.primary_key), how="left_anti")
    return _overwrite(spark, t, kept)


def _update_from(
    spark: SparkSession, tgt: str, set_clause: str, rest: str
) -> DataFrame:
    """UPDATE <target> SET ... FROM <joined refs> [WHERE ...]
    (ModifyStmt.java: assignments may reference the joined tables; the
    source statement selects key columns + assignment RHS exprs)."""
    name = _resolve_modify_target(tgt, rest)
    t = _managed(name)
    if not t.primary_key:
        raise ValueError(
            f"UPDATE with a FROM clause requires a primary key on {name}")
    target = spark.table(name)
    assigns = _split_assignments(set_clause)
    seen: set[str] = set()
    keyset = {k.lower() for k in t.primary_key}
    for col, _ in assigns:
        c = col.strip("`")
        if c.lower() in keyset:
            # ModifyStmt.java:267 exact text
            raise ImpalaUnsupportedError(
                f"Key column '{c}' cannot be updated.")
        if c.lower() in seen:
            raise ImpalaUnsupportedError(
                f"Duplicate value assignment to column: '{c}'")
        seen.add(c.lower())
    tgt_q = tgt.strip("`")
    sel = "SELECT %s, %s FROM %s" % (
        ", ".join(f"{tgt_q}.{k} AS {k}" for k in t.primary_key),
        ", ".join(f"({rhs}) AS __set_{i}" for i, (_, rhs) in enumerate(assigns)),
        rest,
    )
    matches = (
        spark.sql(translate(sel))
        .dropDuplicates(list(t.primary_key))
        .withColumn("__hit", F.lit(True))
    )
    df = _read_path(spark, t).join(
        matches, on=list(t.primary_key), how="left")
    types = {f.name: f.dataType for f in target.schema.fields}
    for i, (col, _) in enumerate(assigns):
        c = col.strip("`")
        df = df.withColumn(
            c,
            F.when(F.col("__hit").eqNullSafe(F.lit(True)),
                   F.col(f"__set_{i}").cast(types[c])).otherwise(F.col(c)),
        )
    return _overwrite(spark, t, df.select(*target.columns))


_ALTER_ADD_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+ADD\s+COLUMNS?\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+DROP\s+(?:COLUMN\s+)?([\w`]+)\s*$", re.IGNORECASE
)
_ALTER_CHANGE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+CHANGE\s+(?:COLUMN\s+)?([\w`]+)\s+([\w`]+)\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ALTER_ADD_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+ADD\s+(IF\s+NOT\s+EXISTS\s+)?PARTITION\s*\(([^)]+)\)\s*$",
    re.IGNORECASE,
)
_ALTER_DROP_PART_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+DROP\s+(IF\s+EXISTS\s+)?PARTITION\s*\(([^)]+)\)\s*$",
    re.IGNORECASE,
)
_ALTER_RENAME_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+RENAME\s+TO\s+([\w`]+)\s*$", re.IGNORECASE
)
_ALTER_REPLACE_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+REPLACE\s+COLUMNS?\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_SET_PROPS_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+SET\s+(TBLPROPERTIES|SERDEPROPERTIES)"
    r"\s*\((.*)\)\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: 'k'='v' pairs inside a properties_map (sql-parser.cup properties_map)
_PROP_PAIR_RE = re.compile(r"'((?:[^'\\]|\\.)*)'\s*=\s*'((?:[^'\\]|\\.)*)'")
_ALTER_SET_FILEFORMAT_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s*(?:PARTITION\s*\(([^)]*)\)\s*)?"
    r"SET\s+FILEFORMAT\s+(\w+)\s*$",
    re.IGNORECASE,
)
_ALTER_RECOVER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s+RECOVER\s+PARTITIONS\s*$", re.IGNORECASE
)
_ALTER_SET_LOCATION_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s*(?:PARTITION\s*\(([^)]*)\)\s*)?"
    r"SET\s+LOCATION\s+'([^']*)'\s*$",
    re.IGNORECASE,
)
_ALTER_SET_CACHED_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+([\w`]+)\s*(?:PARTITION\s*\(([^)]*)\)\s*)?"
    r"SET\s+(?:CACHED\s+IN\s+'([^']*)'(?:\s+WITH\s+REPLICATION\s*=\s*(\d+))?"
    r"|(UNCACHED))\s*$",
    re.IGNORECASE,
)


def _partition_subdir(t: ManagedTable, spec: str) -> str:
    """'k=v, k2=v2' -> 'k=v/k2=v2' in the table's partition-column order."""
    kv = {}
    for item in spec.split(","):
        k, eq, v = item.partition("=")
        if not eq:
            raise ValueError(f"bad PARTITION spec item: {item!r}")
        val = v.strip().strip("'\"")
        # Partition values become filesystem path components; reject
        # anything that could escape the table directory ('..', '/',
        # os.sep) — otherwise DROP PARTITION would rmtree an arbitrary
        # path. Same whitelist Hive applies to unescaped partition paths.
        if not re.fullmatch(r"[A-Za-z0-9_.\- :]+", val) or ".." in val:
            raise ValueError(f"invalid PARTITION value {val!r}: must match [A-Za-z0-9_.- :]+")
        kv[k.strip().strip("`")] = val
    missing = [c for c in t.partition_cols if c not in kv]
    if missing or set(kv) - set(t.partition_cols):
        raise ValueError(
            f"PARTITION spec {sorted(kv)} must name exactly {t.partition_cols}"
        )
    return "/".join(f"{c}={kv[c]}" for c in t.partition_cols)


def alter_table(spark: SparkSession, stmt: str) -> DataFrame:
    """ALTER TABLE ADD COLUMNS / DROP COLUMN / CHANGE col / RENAME TO
    (analysis/AlterTableStmt.java family; cup: alter_tbl_stmt).

    Schema evolution on managed parquet via read-transform-overwrite — the
    Spark-native equivalents of the reference's catalog-only mutations.
    """
    m = _ALTER_ADD_RE.match(stmt)
    if m:
        name, cols = m.group(1).strip("`"), m.group(2)
        t = _managed(name)
        df = _read_table(spark, t)
        existing = {c.lower() for c in df.columns}
        for spec in cols.split(","):
            col, _, typ = spec.strip().partition(" ")
            col = col.strip("`")
            # AlterTableAddReplaceColsStmt (AnalyzeDDLTest exact texts)
            if col.lower() in {p.lower() for p in t.partition_cols}:
                raise ImpalaUnsupportedError(
                    f"Column name conflicts with existing partition column: {col.lower()}"
                )
            if col.lower() in existing:
                raise ImpalaUnsupportedError(f"Column already exists: {col.lower()}")
            existing.add(col.lower())
            df = df.withColumn(col, F.lit(None).cast(typ.strip()))
        _pin_schema(t, df)
        return _overwrite(spark, t, df)
    m = _ALTER_DROP_RE.match(stmt)
    if m:
        name, col = m.group(1).strip("`"), m.group(2).strip("`")
        t = _managed(name)
        if col.lower() in {p.lower() for p in t.partition_cols}:
            # AlterTableDropColStmt (AnalyzeDDLTest exact text)
            raise ImpalaUnsupportedError(f"Cannot drop partition column: {col.lower()}")
        if col.lower() in {b.lower() for b in t.bucket_cols}:
            # the persisted hash layout (PARTITION BY HASH) needs the
            # column; the reference's Kudu tables likewise pin key columns
            raise ImpalaUnsupportedError(
                f"Cannot drop hash partition column: {col.lower()}"
            )
        if col.lower() in {r.lower() for r in t.range_cols}:
            raise ImpalaUnsupportedError(
                f"Cannot drop range partition column: {col.lower()}"
            )
        df = _read_table(spark, t)
        if col not in df.columns:
            raise ValueError(f"ALTER TABLE {name} DROP COLUMN: no column '{col}'")
        dropped = df.drop(col)
        _pin_schema(t, dropped)
        return _overwrite(spark, t, dropped)
    m = _ALTER_CHANGE_RE.match(stmt)
    if m:
        name, old, new, typ = (g.strip("`") for g in m.groups())
        t = _managed(name)
        if old.lower() in {p.lower() for p in t.partition_cols}:
            # AlterTableAlterColStmt (AnalyzeDDLTest exact text)
            raise ImpalaUnsupportedError(f"Cannot modify partition column: {old.lower()}")
        if old.lower() in {b.lower() for b in t.bucket_cols}:
            raise ImpalaUnsupportedError(
                f"Cannot modify hash partition column: {old.lower()}"
            )
        if old.lower() in {r.lower() for r in t.range_cols}:
            raise ImpalaUnsupportedError(
                f"Cannot modify range partition column: {old.lower()}"
            )
        df = _read_table(spark, t).withColumn(old, F.col(old).cast(typ))
        if old != new:
            df = df.withColumnRenamed(old, new)
        _pin_schema(t, df)
        return _overwrite(spark, t, df)
    m = _ALTER_ADD_PART_RE.match(stmt)
    if m:
        # AlterTableAddPartitionStmt: materialize the partition directory
        # (Hive-style k=v path). An empty dir is a 0-row partition, same
        # contract as the reference's catalog-only add.
        name, ine, spec = m.group(1).strip("`"), m.group(2), m.group(3)
        t = _managed(name)
        if not t.partition_cols:
            raise ValueError(f"ALTER TABLE {name} ADD PARTITION: table is not partitioned")
        pdir = os.path.join(t.path, _partition_subdir(t, spec))
        if os.path.isdir(pdir) and not ine:
            # PartitionSpec.java:125 exact text
            raise ImpalaUnsupportedError(
                "Partition spec already exists: ("
                + ", ".join(i.strip() for i in spec.split(",")) + ")."
            )
        os.makedirs(pdir, exist_ok=True)
        return _refresh_view(spark, t)
    m = _ALTER_DROP_PART_RE.match(stmt)
    if m:
        # AlterTableDropPartitionStmt: remove the partition's directory
        # (data included — Impala DROP PARTITION drops the data too).
        name, ife, spec = m.group(1).strip("`"), m.group(2), m.group(3)
        t = _managed(name)
        sub = _partition_subdir(t, spec)
        pdir = os.path.join(t.path, sub)
        if not os.path.isdir(pdir) and not ife:
            # PartitionSpec.java:122 exact text
            raise ImpalaUnsupportedError(
                "Partition spec does not exist: ("
                + ", ".join(i.strip() for i in spec.split(",")) + ")."
            )
        shutil.rmtree(pdir, ignore_errors=True)
        return _refresh_view(spark, t)
    m = _ALTER_REPLACE_RE.match(stmt)
    if m:
        # AlterTableAddReplaceColsStmt with replace=true: the new list
        # REPLACES every non-partition column (catalog-only in the
        # reference; parquet slots re-resolve by name). Here: existing
        # columns carry their data (cast to the declared type), new names
        # are NULL-filled, unlisted columns drop.
        name, cols = m.group(1).strip("`"), m.group(2)
        t = _managed(name)
        df = _read_table(spark, t)
        part_lower = {p.lower() for p in t.partition_cols}
        specs: list[tuple[str, str]] = []
        seen: set[str] = set()
        for spec in cols.split(","):
            col, _, typ = spec.strip().partition(" ")
            col = col.strip("`")
            if col.lower() in part_lower:
                # AnalyzeDDLTest exact text (shared with the ADD path)
                raise ImpalaUnsupportedError(
                    f"Column name conflicts with existing partition column: {col.lower()}"
                )
            if col.lower() in seen:
                raise ImpalaUnsupportedError(f"Duplicate column name: {col.lower()}")
            seen.add(col.lower())
            specs.append((col, typ.strip()))
        for key in [*t.bucket_cols, *t.range_cols]:
            if key.lower() not in seen:
                # the persisted hash/range layout needs its key columns
                # (same contract as the DROP/CHANGE guards above)
                raise ImpalaUnsupportedError(
                    f"Cannot drop hash partition column: {key.lower()}"
                    if key in t.bucket_cols
                    else f"Cannot drop range partition column: {key.lower()}"
                )
        by_lower = {c.lower(): c for c in df.columns}
        out = [
            (F.col(by_lower[col.lower()]) if col.lower() in by_lower
             else F.lit(None)).cast(typ).alias(col)
            for col, typ in specs
        ]
        out += [F.col(p) for p in t.partition_cols]
        replaced = df.select(*out)
        _pin_schema(t, replaced)
        return _overwrite(spark, t, replaced)
    m = _ALTER_SET_FILEFORMAT_RE.match(stmt)
    if m:
        # AlterTableSetFileFormatStmt (metadata-only in the reference —
        # future inserts use the new format, existing files are
        # reinterpreted). Here the declared format validates and
        # round-trips through SHOW CREATE TABLE; the physical layout
        # stays parquet, the same posture CREATE ... STORED AS has.
        from impala_spark.sources import format_spec

        name, fmt = m.group(1).strip("`"), m.group(3)
        t = _managed(name)
        format_spec(fmt)  # unknown/unsupported formats raise here
        t.file_format = fmt.strip().upper()
        return _refresh_view(spark, t)
    m = _ALTER_RECOVER_RE.match(stmt)
    if m:
        # AlterTableRecoverPartitionsStmt: register Hive-style k=v
        # directories added outside the engine. Spark's path-based
        # partition discovery re-lists on refresh, so one refresh IS the
        # recovery (the reference walks HDFS and adds catalog entries).
        name = m.group(1).strip("`")
        t = _managed(name)
        if not t.partition_cols:
            # AlterTableRecoverPartitionsStmt.java:53 exact text
            raise ImpalaUnsupportedError(f"Table is not partitioned: {name}")
        return _refresh_view(spark, t)
    m = _ALTER_SET_LOCATION_RE.match(stmt)
    if m:
        # AlterTableSetLocationStmt: point the table at a new directory.
        name, part, loc = m.group(1).strip("`"), m.group(2), m.group(3)
        t = _managed(name)
        if part is not None:
            raise ImpalaUnsupportedError(
                "per-partition SET LOCATION is not supported on this "
                "engine's uniform-layout managed tables; move the "
                "partition directory and RECOVER PARTITIONS instead"
            )
        if t.cached_pool is not None:
            # AlterTableSetLocationStmt.java:107 exact text
            raise ImpalaUnsupportedError(
                f"Target table is cached, please uncache before changing "
                f"the location using: ALTER TABLE default.{name} SET UNCACHED"
            )
        if not os.path.isabs(loc.removeprefix("file://")):
            raise ImpalaUnsupportedError(f"URI path must be absolute: {loc}")
        t.path = loc.removeprefix("file://")
        os.makedirs(t.path, exist_ok=True)
        return _refresh_view(spark, t)
    m = _ALTER_SET_CACHED_RE.match(stmt)
    if m:
        # AlterTableSetCachedStmt: HDFS cache directive. The Spark analog
        # is a storage-level cache on the table's view — same contract
        # (hot reads served from memory, transparent to queries).
        name, pool, uncached = m.group(1).strip("`"), m.group(3), m.group(5)
        t = _managed(name)
        if uncached:
            try:
                spark.catalog.uncacheTable(t.name)
            except Exception:
                pass  # not cached — UNCACHED is idempotent like the reference
            t.cached_pool = None
            return _refresh_view(spark, t)
        t.cached_pool = pool
        # refresh FIRST: createOrReplaceTempView would drop the cache
        df = _refresh_view(spark, t)
        spark.catalog.cacheTable(t.name)
        return df
    m = _ALTER_SET_PROPS_RE.match(stmt)
    if m:
        # AlterTableSetTblProperties.java: metastore key/value updates.
        # Stored on the ManagedTable and emitted by SHOW CREATE TABLE;
        # catalog-backed tables also push into the Spark catalog so a
        # re-attach (persistent metastore) keeps them.
        name, kind, body = m.group(1).strip("`"), m.group(2).upper(), m.group(3)
        t = _managed(name)
        pairs = {k: v for k, v in _PROP_PAIR_RE.findall(body)}
        if not pairs:
            raise ValueError(f"cannot parse properties map: ({body})")
        if kind == "TBLPROPERTIES":
            if "storage_handler" in pairs:
                # AlterTableSetTblProperties.java:63 exact text
                raise ImpalaUnsupportedError(
                    "Changing the 'storage_handler' table property is not "
                    "supported to protect against metadata corruption."
                )
            t.tbl_properties.update(pairs)
            if t.catalog_name:
                kv = ", ".join(f"'{k}'='{v}'" for k, v in pairs.items())
                spark.sql(
                    f"ALTER TABLE {t.catalog_name} SET TBLPROPERTIES ({kv})"
                )
        else:
            t.serde_properties.update(pairs)
        return _refresh_view(spark, t)
    m = _ALTER_RENAME_RE.match(stmt)
    if m:
        old, new = m.group(1).strip("`"), m.group(2).strip("`")
        t = _managed(old)
        if new in _REGISTRY:
            raise ValueError(f"ALTER TABLE RENAME: table '{new}' already exists")
        if t.catalog_name:
            # the catalog entry, its location, and the registry must move
            # together; not worth the surface until a user needs it
            raise ImpalaUnsupportedError(
                "ALTER TABLE RENAME is not supported on hash-bucketed tables"
            )
        _bump(old)
        _unshadow_fixture(spark, old)
        spark.catalog.dropTempView(old)
        _REGISTRY[new] = ManagedTable(
            name=new, path=t.path, partition_cols=t.partition_cols,
            primary_key=t.primary_key, schema=t.schema,
        )
        del _REGISTRY[old]
        return _refresh_view(spark, _REGISTRY[new])
    raise ValueError(f"cannot parse ALTER TABLE: {stmt}")


def upsert(spark: SparkSession, table: str, source: DataFrame) -> DataFrame:
    """UPSERT (sql-parser.cup:1128): replace rows matching on the primary
    key, insert the rest — MERGE WHEN MATCHED UPDATE ALL / NOT MATCHED INSERT.

    Partitioned targets rewrite only the touched partitions: the source's
    destination partitions PLUS any partition currently holding one of the
    source's primary keys (a key whose partition value changes must have
    its old row removed from the old partition)."""
    t = _managed(table)
    target = _read_path(spark, t)
    source = source.toDF(*target.columns)
    # a key repeated WITHIN the batch applies in row order, last wins
    # (Kudu applies upsert ops sequentially) — without this the union
    # below would land duplicate primary keys in the table
    from pyspark.sql import Window

    source = (
        source.withColumn("__ord", F.monotonically_increasing_id())
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(*t.primary_key).orderBy(F.col("__ord").desc())
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__ord", "__rn")
    )
    if t.partition_cols:
        src_parts = source.select(*t.partition_cols).distinct()
        hit_parts = (
            target.join(
                source.select(*t.primary_key).distinct(), t.primary_key, "left_semi"
            )
            .select(*t.partition_cols)
            .distinct()
        )
        touched = [
            tuple(r[c] for c in t.partition_cols)
            for r in src_parts.union(hit_parts).distinct().collect()
        ]
        if not touched:
            return _refresh_view(spark, t)
        if len(touched) <= MAX_SCOPED_PARTITIONS:
            keep = target.filter(_part_filter(t, touched)).join(
                source.select(*t.primary_key), on=t.primary_key, how="left_anti"
            )
            return _rewrite_partitions(spark, t, keep.unionByName(source), touched)
        # source touches most of the table: full merge below
    keep = target.join(source.select(*t.primary_key), on=t.primary_key, how="left_anti")
    merged = keep.unionByName(source)
    return _overwrite(spark, t, merged)


def _overwrite(spark: SparkSession, t: ManagedTable, df: DataFrame) -> DataFrame:
    if t.catalog_name:
        # bucketed rewrite: materialize first (overwriting the table being
        # read), then saveAsTable re-writes WITH the bucket spec — a path
        # write would silently drop it
        from impala_spark.operators import materialize_stage

        df = materialize_stage(df)
        (
            df.write.mode("overwrite")
            .bucketBy(t.num_buckets, *t.bucket_cols)
            .sortBy(*t.bucket_cols)
            .format("parquet")
            .saveAsTable(t.catalog_name)
        )
        return _refresh_view(spark, t)
    # Parquet overwrite of the table we are reading requires a staging dir.
    # COMMIT PROTOCOL NOTE: rmtree+rename is atomic-enough on a local
    # POSIX filesystem (rename is atomic; the window after rmtree loses
    # reads, not data). On object stores (S3/GCS) rename is COPY+DELETE —
    # a production deployment must swap this for a commit protocol with
    # atomic publish semantics (Iceberg/Delta/Hudi table commit, or
    # Hadoop's v2 FileOutputCommitter + marker files). The reference has
    # the same constraint (HdfsTableSink writes to an HDFS staging dir and
    # renames).
    staging = t.path + ".staging"
    if t.partition_cols:
        df.sortWithinPartitions(*t.partition_cols).write.mode("overwrite").partitionBy(
            *t.partition_cols
        ).parquet(staging)
    elif t.range_cols:
        # bound-form range layout: a rewrite (UPDATE/DELETE/ALTER)
        # re-clusters so footer min/max stays the skipping lever
        _range_cluster(df, t.range_cols, len(t.range_spec)).write.mode(
            "overwrite"
        ).parquet(staging)
    else:
        df.write.mode("overwrite").parquet(staging)
    shutil.rmtree(t.path, ignore_errors=True)
    os.rename(staging, t.path)
    return _refresh_view(spark, t)


# ---------------------------------------------------------------------------
# Plain CREATE TABLE (column definitions, no AS SELECT) —
# sql-parser.cup:2373-2403 create_tbl_stmt: tbl_def + optional
# partition_column_defs + tbl_options. Registers an EMPTY managed table so
# the INSERT/UPSERT/ALTER write path applies to it like any CTAS table.
# ---------------------------------------------------------------------------

#: Impala column type -> Spark DDL type (CHAR/VARCHAR carry length
#: semantics only at CAST time in expressions — see parser CAST rewrite —
#: and store as STRING, which is also what Impala writes to parquet).
_COL_TYPE_MAP = [
    (re.compile(r"(?i)^(?:CHAR|VARCHAR)\s*\(\s*\d+\s*\)$"), "STRING"),
    (re.compile(r"(?i)^REAL$"), "DOUBLE"),
    (re.compile(r"(?i)^DATETIME$"), "TIMESTAMP"),
]


def _spark_col_type(impala_type: str) -> str:
    t = impala_type.strip()
    for rx, repl in _COL_TYPE_MAP:
        if rx.match(t):
            return repl
    if re.match(r"(?i)^(ARRAY|MAP|STRUCT)\s*<", t):
        # CHAR/VARCHAR nested in complex types normalize to STRING too —
        # Spark refuses char/varchar in a materialized schema (the
        # declared texts survive on ManagedTable.declared_cols)
        return re.sub(r"(?i)\b(?:CHAR|VARCHAR)\s*\(\s*\d+\s*\)", "STRING", t)
    return t  # TINYINT/SMALLINT/INT/BIGINT/FLOAT/DOUBLE/DECIMAL(p,s)/
    #           STRING/BOOLEAN/TIMESTAMP/ARRAY<>/MAP<>/STRUCT<> parse as-is


def _parse_col_defs(
    defs: str, normalize: bool = True
) -> tuple[list[tuple[str, str]], list[str]]:
    """'(a INT, b STRING, PRIMARY KEY (a))' -> ([(a, INT), ...], [pk...]).
    normalize=False keeps the declared Impala type texts (CHAR/VARCHAR
    intact) for the JDBC metadata surface."""
    cols: list[tuple[str, str]] = []
    pk: list[str] = []
    depth, cur, items = 0, [], []
    for ch in defs:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            items.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        items.append("".join(cur))
    for item in items:
        item = item.strip()
        m = re.match(r"(?is)^PRIMARY\s+KEY\s*\((.*)\)$", item)
        if m:
            pk = [c.strip().strip("`") for c in m.group(1).split(",")]
            continue
        m = re.match(r"(?s)^([`\w]+)\s+(.+?)(?:\s+COMMENT\s+'.*')?$", item)
        if not m:
            raise ValueError(f"cannot parse column definition: {item!r}")
        # TypeDef bounds (TypeDef.java:76-119) apply to column defs too
        validate_type_def(m.group(2))
        ctype = _spark_col_type(m.group(2)) if normalize \
            else m.group(2).strip()
        cols.append((m.group(1).strip("`"), ctype))
    return cols, pk


def create_table(
    spark: SparkSession,
    name: str,
    col_defs: str,
    partition_defs: str | None = None,
    primary_key: list[str] | None = None,
) -> DataFrame:
    """CREATE TABLE with explicit columns (analysis/CreateTableStmt.java).
    Impala declares partition columns separately WITH types; they become
    ordinary (trailing) columns that drive the partitioned write layout —
    exactly the Hive/Impala physical model."""
    from pyspark.sql.types import _parse_datatype_string

    cols, pk = _parse_col_defs(col_defs)
    # CreateTableStmt column analysis (AnalyzeDDLTest exact texts)
    seen: set[str] = set()
    for c, _t in cols:
        if c.lower() in seen:
            raise ImpalaUnsupportedError(f"Duplicate column name: {c.lower()}")
        seen.add(c.lower())
    pcols: list[str] = []
    if partition_defs:
        parts, _ = _parse_col_defs(partition_defs)
        pseen: set[str] = set()
        for c, _t in parts:
            if c.lower() in pseen:
                raise ImpalaUnsupportedError(
                    f"Duplicate partition key name: {c.lower()}"
                )
            pseen.add(c.lower())
            if c.lower() in seen:
                raise ImpalaUnsupportedError(
                    f"Duplicate column name: {c.lower()}"
                )
        pcols = [c for c, _t in parts]
        cols += parts
    ddl_schema = ", ".join(f"`{c}` {t}" for c, t in cols)
    schema = _parse_datatype_string(ddl_schema)
    path = os.path.join(WAREHOUSE, name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    declared, _ = _parse_col_defs(col_defs, normalize=False)
    if partition_defs:
        declared += _parse_col_defs(partition_defs, normalize=False)[0]
    t = ManagedTable(name, path, pcols, primary_key or pk, schema,
                     declared_cols=declared)
    _REGISTRY[name] = t
    return _refresh_view(spark, t)
