"""Scaling probe: wall-clock vs scale factor for the operators whose
100 TB story depends on their growth curve.

Runs each probe at sf0.001 / sf0.01 / sf0.1 (10x data steps), warm
(second run timed), and prints the per-step growth ratio. A bucketed
candidate-generation operator should grow ~linearly (ratio ~10 or less
per 10x step, overhead-dominated below that); anything quadratic shows
ratios racing toward 100.

Usage: python tools/scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from impala_spark.queries import SPARK_QUERIES
from impala_spark.session import get_spark

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

PROBES = [
    "pricing_summary",          # scan+agg: linear in rows
    "tpch_q3_shipping_priority",  # multi-join
    "llm_dedup_exact",          # one hash shuffle
    "llm_minhash_lsh",          # banded LSH + exact rescore
    "llm_ngram_jaccard",        # rarity-ordered PPJoin
    "llm_token_frequencies",    # explode + agg
    "llm_pack_sequences",       # applyInPandas packing
    "events_stream_stream_join",  # interval join
    "llm_semantic_dedup",       # cluster equi-join + pairwise cosine
    "llm_dsir_weights",         # hashed-bucket distributions, broadcast
    "llm_frame_sampling",       # narrow per-frame generate
    "llm_curation_pipeline",    # full funnel incl. distributed prefix sum
]


def main() -> None:
    from impala_spark.queries import _PLAN_CACHE

    spark = get_spark("impala_spark_scale_probe")
    results: dict[str, list[float]] = {}
    for name in PROBES:
        fn = SPARK_QUERIES[name]
        times = []
        for sf in SFS:
            fn(spark, sf).count()  # warm (plans/JIT)
            # fresh plan: the registry engines' plan caches would otherwise
            # skip translate and analysis — that measures reuse, not growth
            _PLAN_CACHE.clear()
            t0 = time.time()
            fn(spark, sf).count()
            times.append(round(time.time() - t0, 3))
        results[name] = times
        r1 = times[1] / times[0] if times[0] else float("nan")
        r2 = times[2] / times[1] if times[1] else float("nan")
        print(
            f"# {name}: {times} growth x{r1:.1f}, x{r2:.1f} per 10x data",
            file=sys.stderr,
        )
    print(json.dumps({"metric": "scale_probe", "sfs": SFS, "times": results}))


if __name__ == "__main__":
    main()
