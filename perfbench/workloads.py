"""Workload definitions: which ops a run issues, in what order, per seed.

An op is one call through a public entry point: a statement text handed
to `ImpalaEngine.sql` ("sql"), or a registry builder name looked up in
`queries.SPARK_QUERIES` ("builder"). Both are followed by `toArrow()`.

Each workload is a fixed multiset of ops per cycle (the mix never depends
on the seed, so medians compare across seeds); the seed only orders the
ops inside each cycle. Runs measure whole cycles, so every run measures
the same mix. The tables are fixed too: `data/` holds the sf0.01 TPC-H-style
fixtures (seed 42) that the repository's oracle gate and tests run on.
"""

from __future__ import annotations

import os
import random
from typing import NamedTuple

from oracle import fingerprint


class Op(NamedTuple):
    kind: str  # registry name, or the ETL step name
    entry: str  # "sql" or "builder"
    text: str  # statement text; "" for builders


class Workload(NamedTuple):
    name: str
    #: a cycle's ops in canonical order; `order_cycle` permutes the movable ones
    cycle: tuple[Op, ...]
    #: indexes into `cycle` whose position is fixed (ETL steps keep order)
    pinned: frozenset[int]
    timeout_s: float
    min_ops: int
    strict: bool


#: the ten tables every op reads (sf0.01: lineitem ~= 60k rows)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# -- interactive: dashboard statements through the strict front door ----------

#: Repeated four times per cycle: the hot set of a dashboard.
INTERACTIVE_HOT = (
    "tpch_q6_forecast_revenue",
    "tpch_q14_promo_revenue",
    "agg_basic",
    "filter_predicates",
    "tpcds_q96_shape",
)
#: Issued once per cycle: one or two statements of each shape family.
INTERACTIVE_COLD = (
    "expr_string_funcs",
    "expr_date_funcs",
    "subquery_exists",
    "subquery_in",
    "union_all",
    "join_right_outer",
    "agg_group_concat",
    "tpch_q19_discounted_revenue",
    "agg_exact_percentiles",
    "analytic_lag_lead",
    "join_three_way",
    "tpcds_q42_shape",
    "group_by_having",
    "tpch_q3_shipping_priority",
)
HOT_REPEATS = 4

# -- batch: one ETL cycle plus LLM pipelines built through the registry -------

ETL_TABLE = "perfbench_etl"
ETL_COPY = "perfbench_etl_copy"
#: rows the INSERT and UPSERT steps take from `orders`
ETL_KEYS = 3000
#: (step, statement). Every step is checked against etl_expected().
ETL_STEPS = (
    (
        "create",
        f"CREATE TABLE {ETL_TABLE} (k BIGINT, q BIGINT, s STRING, PRIMARY KEY (k)) "
        "PARTITION BY HASH (k) PARTITIONS 4 STORED AS KUDU",
    ),
    (
        "insert",
        f"INSERT INTO {ETL_TABLE} SELECT o_orderkey, o_custkey, o_orderpriority "
        f"FROM orders WHERE o_orderkey < {ETL_KEYS}",
    ),
    ("update", f"UPDATE {ETL_TABLE} SET q = q + 1 WHERE k % 7 = 0"),
    (
        "upsert",
        f"UPSERT INTO {ETL_TABLE} SELECT o_orderkey + {ETL_KEYS // 2}, o_custkey * 2, "
        f"o_orderstatus FROM orders WHERE o_orderkey < {ETL_KEYS}",
    ),
    ("delete", f"DELETE FROM {ETL_TABLE} WHERE k % 5 = 0"),
    (
        "readback",
        f"SELECT s, COUNT(*) AS n, SUM(q) AS sq FROM {ETL_TABLE} GROUP BY s",
    ),
    # Impala also spells this CREATE TABLE ... STORED AS PARQUET AS SELECT;
    # the engine sends that spelling to Spark, which rejects it (see README).
    (
        "ctas",
        f"CREATE TABLE {ETL_COPY} AS SELECT s, COUNT(*) AS n FROM {ETL_TABLE} "
        "WHERE q > 100 GROUP BY s",
    ),
    (
        "overwrite",
        f"INSERT OVERWRITE {ETL_COPY} SELECT s, COUNT(*) FROM {ETL_TABLE} GROUP BY s",
    ),
    ("drop", f"DROP TABLE {ETL_COPY}"),
    ("drop", f"DROP TABLE {ETL_TABLE}"),
)
#: Registry builders of the LLM pipelines; each op clears the plan cache.
BATCH_BUILDERS = (
    "llm_semantic_dedup",
    "llm_minhash_lsh",
)
#: batch cycles per run, so every op kind has more than one sample
BATCH_CYCLES = 2


def _interactive() -> Workload:
    from impala_spark.queries import SPARK_QUERIES

    names = [n for n in INTERACTIVE_HOT for _ in range(HOT_REPEATS)] + list(INTERACTIVE_COLD)
    cycle = tuple(Op(n, "sql", SPARK_QUERIES[n].__doc__) for n in names)
    return Workload("interactive", cycle, frozenset(), 10.0, 100, True)


def _batch() -> Workload:
    cycle = tuple(Op(k, "sql", s) for k, s in ETL_STEPS) + tuple(
        Op(n, "builder", "") for n in BATCH_BUILDERS
    )
    pinned = frozenset(range(len(ETL_STEPS)))
    return Workload("batch", cycle, pinned, 60.0, BATCH_CYCLES * len(cycle), False)


WORKLOADS = {"interactive": _interactive, "batch": _batch}


def get(name: str) -> Workload:
    return WORKLOADS[name]()


def order_cycle(w: Workload, rng: random.Random) -> list[Op]:
    """One cycle: movable ops shuffled into seeded slots, pinned ops kept
    in their order in the slots left over."""
    pinned = [w.cycle[i] for i in sorted(w.pinned)]
    movable = [op for i, op in enumerate(w.cycle) if i not in w.pinned]
    rng.shuffle(movable)
    slots = set(rng.sample(range(len(w.cycle)), len(movable)))
    it_m, it_p = iter(movable), iter(pinned)
    return [next(it_m) if pos in slots else next(it_p) for pos in range(len(w.cycle))]


def cycles(w: Workload, seed: int):
    """Endless stream of cycles for a seed; the same seed, the same ops."""
    rng = random.Random(seed)
    while True:
        yield order_cycle(w, rng)


def etl_expected(orders) -> dict[str, list]:
    """Expected result of each ETL step, keyed by statement text, computed
    from the `orders` table (an Arrow table) in plain Python.

    DML steps return the table they wrote, so each is checked against the
    model's full table; CREATE and DROP are checked by row count.
    """
    keys = orders.column("o_orderkey").to_pylist()
    cust = orders.column("o_custkey").to_pylist()
    prio = orders.column("o_orderpriority").to_pylist()
    status = orders.column("o_orderstatus").to_pylist()
    table = {k: (c, p) for k, c, p in zip(keys, cust, prio) if k < ETL_KEYS}

    def full() -> list:
        return ["fp", fingerprint(["k", "q", "s"], [(k, q, s) for k, (q, s) in table.items()])]

    def counts(min_q: int | None) -> dict[str, list[int]]:
        agg: dict[str, list[int]] = {}
        for q, s in table.values():
            if min_q is None or q > min_q:
                a = agg.setdefault(s, [0, 0])
                a[0] += 1
                a[1] += q
        return agg

    out: dict[str, list] = {}
    steps = dict(ETL_STEPS[1:-2])
    out[ETL_STEPS[0][1]] = ["rows", 0]
    out[steps["insert"]] = full()
    table = {k: (q + 1 if k % 7 == 0 else q, s) for k, (q, s) in table.items()}
    out[steps["update"]] = full()
    for k, c, st in zip(keys, cust, status):
        if k < ETL_KEYS:
            table[k + ETL_KEYS // 2] = (c * 2, st)
    out[steps["upsert"]] = full()
    table = {k: v for k, v in table.items() if k % 5 != 0}
    out[steps["delete"]] = full()
    out[steps["readback"]] = [
        "fp",
        fingerprint(["s", "n", "sq"], [(s, n, sq) for s, (n, sq) in counts(None).items()]),
    ]
    out[steps["ctas"]] = ["fp", fingerprint(["s", "n"], [(s, n) for s, (n, _) in counts(100).items()])]
    out[steps["overwrite"]] = [
        "fp",
        fingerprint(["s", "n"], [(s, n) for s, (n, _) in counts(None).items()]),
    ]
    for _, text in ETL_STEPS[-2:]:
        out[text] = ["rows", 1]
    return out
