"""Capture explain("formatted") for registry queries into plans/<tag>/.

Usage: python tools/capture_plans.py [--front-door] <outdir> <suffix> [sf_dir] [name ...]
e.g.   python tools/capture_plans.py plans/r12 after /root/testdata/sf0.1 \
           join_fact_fact llm_minhash_lsh
       python tools/capture_plans.py --front-door plans/r14 after

Default mode: the registry builders (`SPARK_QUERIES[name](spark, sf_dir)`),
default names the bench HEADLINE suite, default sf_dir /root/testdata/sf0.1.

--front-door: each name's registry SQL text through a strict
`ImpalaEngine.sql` — the path perfbench's `interactive` workload takes —
default names that workload's distinct statements, default sf_dir its
tables (perfbench/data). Data paths are written relative to sf_dir as
given, so dumps from two checkouts compare line for line.
"""
from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from impala_spark.session import get_spark


def _interactive_names() -> list[str]:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from workloads import INTERACTIVE_COLD, INTERACTIVE_HOT

    return list(INTERACTIVE_HOT + INTERACTIVE_COLD)


def main() -> None:
    args = sys.argv[1:]
    front_door = "--front-door" in args
    if front_door:
        args.remove("--front-door")
    if len(args) < 2:
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    outdir, suffix = args[0], args[1]
    from impala_spark.queries import SPARK_QUERIES

    if front_door:
        sf_dir = args[2] if len(args) > 2 else "perfbench/data"
        names = args[3:] or _interactive_names()
    else:
        from bench import HEADLINE

        sf_dir = args[2] if len(args) > 2 else "/root/testdata/sf0.1"
        names = args[3:] or HEADLINE
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    if front_door:
        from impala_spark.engine import ImpalaEngine

        eng = ImpalaEngine(spark, sf_dir, strict=True)
    for name in names:
        if front_door:
            df = eng.sql(SPARK_QUERIES[name].__doc__)
        else:
            df = SPARK_QUERIES[name](spark, sf_dir)
        # Public API only (ADVICE r12): df.explain prints from Python, so
        # redirecting stdout captures the exact formatted plan without
        # touching _jdf/_jvm internals.
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue().replace(os.path.abspath(sf_dir), sf_dir)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} exchange mentions)",
              flush=True)


if __name__ == "__main__":
    main()
