"""Expected results for one run.

    python3 perfbench/prepare.py <workload> <run_dir>

Writes to <run_dir>/expected.json the expected result of every distinct op
of the workload over the tables in `perfbench/data`: a DuckDB fingerprint
of the registry's oracle SQL, or the ETL row model's. run.py calls this in
a child process, so DuckDB's memory does not count in the measured
process's peak RSS.
"""

from __future__ import annotations

import json
import os
import sys

import oracle
import workloads


def prepare(workload: str, run_dir: str) -> None:
    import pyarrow.parquet as pq
    from impala_spark.queries import ORACLE_SQL

    w = workloads.get(workload)
    etl = workloads.etl_expected(pq.read_table(os.path.join(workloads.DATA_DIR, "orders.parquet")))
    duck = oracle.DuckOracle(workloads.DATA_DIR)
    expected = [
        [op.kind, op.text, etl.get(op.text) or ["fp", duck.fingerprint(ORACLE_SQL[op.kind])]]
        for op in dict.fromkeys(w.cycle)
    ]
    duck.close()
    with open(os.path.join(run_dir, "expected.json"), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    prepare(sys.argv[1], sys.argv[2])
