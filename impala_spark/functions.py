"""Impala builtin functions re-expressed over pyspark.sql.functions.

The reference registers builtins in catalog/BuiltinsDb.java (aggregates
:666-950, analytics :953-1054) plus generated ScalarBuiltins. Spark ships
nearly the whole library under the same names; this module is the alias
table for the rest, kept JVM-side (no Python UDFs) so every call stays
inside whole-stage codegen.

SQL-string callers get the same aliases via parser.translate(); this module
serves the DataFrame API.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints here

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Aggregates (BuiltinsDb.java:666-950)
# ---------------------------------------------------------------------------


def ndv(col: Column | str, rsd: float | None = None) -> Column:
    """Impala ndv() — HLL approximate count-distinct (BuiltinsDb.java:752-760).

    rsd is the target relative standard deviation (Spark default 0.05);
    pass a smaller value where callers need a tighter estimate, at the
    cost of a larger (but still constant-size) sketch.
    """
    return F.approx_count_distinct(col, rsd) if rsd is not None else F.approx_count_distinct(col)


def ndv_sketch(col: Column | str) -> Column:
    """Impala ndv_no_finalize() (BuiltinsDb.java:761-771): the mergeable
    HLL intermediate state used by COMPUTE INCREMENTAL STATS — per-partition
    sketches union without rescanning old partitions. Spark: Datasketches
    HLL via hll_sketch_agg; merge with hll_union_agg, read with
    hll_sketch_estimate."""
    return F.hll_sketch_agg(col)


def appx_median(col: Column | str) -> Column:
    """Impala appx_median() (BuiltinsDb.java:731-740)."""
    return F.percentile_approx(col, 0.5)


def histogram(col: Column | str, buckets: int = 10) -> Column:
    """Impala histogram() — equi-height bucket boundaries (BuiltinsDb.java:741-751)."""
    fracs = [i / buckets for i in range(1, buckets)]
    return F.percentile_approx(col, fracs)


def group_concat(col: Column | str, sep: str = ", ") -> Column:
    """Impala group_concat(expr[, sep]) (BuiltinsDb.java:928-951).

    Unordered in Impala; callers needing determinism should sort the input
    or use group_concat_sorted.
    """
    return F.array_join(F.collect_list(col), sep)


def group_concat_sorted(col: Column | str, sep: str = ", ") -> Column:
    """Deterministic variant: elements sorted ascending before joining."""
    return F.array_join(F.array_sort(F.collect_list(col)), sep)


def sample(col: Column | str, n: int = 20) -> Column:
    """Impala sample() reservoir aggregate (BuiltinsDb.java:721-730).

    Deterministic stand-in: first n values in ascending order — same type
    surface (a delimited string of sampled values).
    """
    return F.array_join(F.slice(F.array_sort(F.collect_list(col)), 1, n), ", ")


# ---------------------------------------------------------------------------
# Conditional scalars (ScalarBuiltins / ConditionalFunctions)
# ---------------------------------------------------------------------------


def nvl(col: Column, default: Column) -> Column:
    return F.coalesce(col, default)


def zeroifnull(col: Column) -> Column:
    return F.coalesce(col, F.lit(0))


def nullifzero(col: Column) -> Column:
    return F.nullif(col, F.lit(0))


def decode(expr: Column, *pairs_and_default: Column) -> Column:
    """Impala DECODE — CASE with NULL-safe comparison (analysis/CaseExpr.java:37-60).

    decode(e, s1, r1, s2, r2, ..., [default]); e <=> s_i selects r_i.
    """
    args = list(pairs_and_default)
    default = args.pop() if len(args) % 2 == 1 else F.lit(None)
    cond = None
    result: Column = default
    whens = [(args[i], args[i + 1]) for i in range(0, len(args), 2)]
    for search, res in reversed(whens):
        result = F.when(expr.eqNullSafe(search), res).otherwise(result)
    _ = cond
    return result


# ---------------------------------------------------------------------------
# Regex/like family (analysis/LikePredicate.java:35-39)
# ---------------------------------------------------------------------------


def iregexp(col: Column, pattern: str) -> Column:
    """Case-insensitive regex match."""
    return col.rlike(f"(?i){pattern}")


def ilike(col: Column, pattern: str) -> Column:
    return col.ilike(pattern)


# ---------------------------------------------------------------------------
# Sort helpers — Impala default null ordering
# (analysis/OrderByElement.java:71-81): ASC => NULLS LAST, DESC => NULLS FIRST
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# UDF / UDA surface — the reference's CREATE FUNCTION / CREATE AGGREGATE
# FUNCTION (analysis/CreateUdfStmt.java, CreateUdaStmt.java) maps to
# spark.udf.register. Scalar UDFs register as vectorized pandas UDFs
# (Arrow-batched — the 10-100x-over-row-at-a-time path); the UDA registers
# as a pandas grouped-agg UDF.
# ---------------------------------------------------------------------------


#: SYMBOL -> (is_aggregate, factory returning the pandas UDF object).
#: The reference's CREATE FUNCTION points at a binary via LOCATION/SYMBOL
#: (analysis/CreateUdfStmt.java:35-75); here SYMBOL resolves into this
#: library of Arrow-batched implementations and LOCATION is accepted and
#: ignored (no native binaries in a Spark-native engine).
def _make_add_tax():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def add_tax(price: pd.Series) -> pd.Series:
        # literals can arrive as decimal.Decimal objects; coerce first
        return price.astype("float64") * 1.1

    return add_tax


def _make_geomean():
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean_uda(v: pd.Series) -> float:
        import numpy as np

        pos = v[v > 0]
        if len(pos) == 0:
            return float("nan")
        return float(np.exp(np.log(pos.astype("float64")).mean()))

    return geomean_uda


UDF_LIBRARY = {
    "add_tax": (False, _make_add_tax),
    "geomean": (True, _make_geomean),
}


def create_function(spark, name: str, symbol: str, aggregate: bool = False) -> None:
    """CREATE [AGGREGATE] FUNCTION name ... SYMBOL='symbol' — bind a
    library implementation under the user's chosen name."""
    entry = UDF_LIBRARY.get(symbol.strip().strip("'\""))
    if entry is None:
        raise ValueError(
            f"SYMBOL '{symbol}' not found in UDF library "
            f"(available: {sorted(UDF_LIBRARY)})"
        )
    is_agg, factory = entry
    if is_agg != aggregate:
        kind = "AGGREGATE FUNCTION" if is_agg else "scalar FUNCTION"
        raise ValueError(f"SYMBOL '{symbol}' implements a {kind}")
    spark.udf.register(name, factory())


def register_udfs(spark) -> list[str]:
    """Register the demo UDF/UDA surface; returns the registered names.

    At 100 TB these run Arrow-batched per partition — no per-row Python
    round trips. Anything expressible as built-ins should still prefer
    built-ins (see module docstring); this is the escape hatch the
    reference exposes as CREATE FUNCTION.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def add_tax(price: pd.Series) -> pd.Series:
        return price * 1.1

    @pandas_udf("double")
    def geomean_uda(v: pd.Series) -> float:
        import numpy as np

        pos = v[v > 0]
        if len(pos) == 0:
            return float("nan")
        return float(np.exp(np.log(pos.astype("float64")).mean()))

    spark.udf.register("add_tax", add_tax)
    spark.udf.register("geomean", geomean_uda)
    return ["add_tax", "geomean"]


def register_hash_udfs(spark) -> list[str]:
    """Impala's hash builtins over STRING input (BuiltinsDb fnv_hash /
    murmur_hash): exact FNV-1a 64 and MurmurHash2 64A (seed 0) over the
    UTF-8 bytes, returned as the signed-64 wrap the reference returns.
    Both algorithms are public (Fowler–Noll–Vo; Appleby's MurmurHash2).

    These are Arrow-batched pandas UDFs — a per-string byte loop is the
    honest implementation of a byte-sequential hash. When the exact
    Impala hash values don't matter (partitioning, sampling, bucketing),
    prefer Spark's JVM-side xxhash64 — this surface exists for value
    parity with queries written against the reference."""
    from pyspark.sql.functions import pandas_udf

    _MASK = (1 << 64) - 1

    def _signed(h: int) -> int:
        return h - (1 << 64) if h >= (1 << 63) else h

    def _fnv1a(data: bytes) -> int:
        h = 0xCBF29CE484222325
        for b in data:
            h = ((h ^ b) * 0x100000001B3) & _MASK
        return _signed(h)

    def _murmur64a(data: bytes, seed: int = 0) -> int:
        m, r = 0xC6A4A7935BD1E995, 47
        h = (seed ^ ((len(data) * m) & _MASK)) & _MASK
        n8 = len(data) - (len(data) % 8)
        for i in range(0, n8, 8):
            k = int.from_bytes(data[i:i + 8], "little")
            k = (k * m) & _MASK
            k ^= k >> r
            k = (k * m) & _MASK
            h = ((h ^ k) * m) & _MASK
        tail = data[n8:]
        if tail:
            h ^= int.from_bytes(tail, "little")
            h = (h * m) & _MASK
        h ^= h >> r
        h = (h * m) & _MASK
        h ^= h >> r
        return _signed(h)

    @pandas_udf("bigint")
    def fnv_hash(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _fnv1a(str(v).encode("utf-8")) for v in s],
            dtype="Int64",
        )

    @pandas_udf("bigint")
    def murmur_hash(s: pd.Series) -> pd.Series:
        return pd.Series(
            [None if v is None else _murmur64a(str(v).encode("utf-8")) for v in s],
            dtype="Int64",
        )

    @pandas_udf("boolean")
    def sleep_ms(ms: pd.Series) -> pd.Series:
        # UtilityFunctions sleep(ms): sleeps per evaluated row, returns
        # true — the reference's test/throttling helper
        import time as _time

        out = []
        for v in ms:
            if v is not None:
                _time.sleep(float(v) / 1000.0)
            out.append(True if v is not None else None)
        return pd.Series(out, dtype="object")

    spark.udf.register("fnv_hash", fnv_hash)
    spark.udf.register("murmur_hash", murmur_hash)
    spark.udf.register("sleep", sleep_ms)
    return ["fnv_hash", "murmur_hash", "sleep"]


def asc_impala(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.asc_nulls_last()


def desc_impala(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.desc_nulls_first()
