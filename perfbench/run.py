"""The repository's benchmark: Impala statements and LLM pipelines, end to end.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Statements go through the public front door (`ImpalaEngine.sql` then
`DataFrame.toArrow`); pipelines through the public registry builders
(`queries.SPARK_QUERIES[name]` then `toArrow`). One process, one
closed-loop client, Spark `local[nproc]`. Every run starts from its own
expected results and its own warehouse, Spark local dirs and temp dir, all
under `.perfbench-runs/` in the checkout, removed at exit.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed`, and the end-to-end metrics (`--trace 0`) or the per-layer ones
(`--trace 1`). Per-op lines and run context go to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import resource
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from typing import NamedTuple

import oracle
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_HEAP = "2g"
JVM_YOUNG = "256m"
USER = "perfbench"
POOL_XML = """<?xml version="1.0"?>
<allocations>
  <queue name="root">
    <queue name="default"><aclSubmitApps>*</aclSubmitApps></queue>
  </queue>
  <queuePlacementPolicy><rule name="default"/></queuePlacementPolicy>
</allocations>
"""
LLAMA_XML = """<?xml version="1.0"?>
<configuration>
  <property><name>llama.am.throttling.maximum.placed.reservations.root.default</name><value>4</value></property>
</configuration>
"""
AUTHZ_SETUP = (
    "CREATE ROLE perfbench_admin",
    f"GRANT ROLE perfbench_admin TO GROUP {USER}",
    "GRANT ALL ON SERVER TO ROLE perfbench_admin",
)
#: (module, class or None, attribute, span name): the public functions the
#: traced run wraps, at the names their callers look up.
WRAPS = (
    ("impala_spark.engine", "ImpalaEngine", "sql", "engine.sql"),
    ("impala_spark.engine", None, "translate", "parser.translate"),
    ("impala_spark.authz", "AuthzPolicy", "check_access", "authz.check"),
    ("impala_spark.pools", "AdmissionController", "admit", "pools.admit"),
    ("pyspark.sql", "SparkSession", "sql", "build.spark_sql"),
    ("impala_spark.operators", None, "materialize_stage", "operators.materialize"),
)
PINNED_ENV = ("SPARK_GRAFT_PERSIST_CATALOG", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS")
ETL_WRITES = ("insert", "update", "upsert", "delete", "ctas", "overwrite")
DDL_KINDS = ("create", "insert", "update", "upsert", "delete", "ctas", "overwrite", "drop")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class OpResult(NamedTuple):
    kind: str
    latency_s: float
    ok: bool


# -- pure helpers (unit-tested in perfbench/tests) ----------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def charged(results: list[OpResult], timeout_s: float) -> list[float]:
    """Latencies with every failed op charged the workload's timeout."""
    return [r.latency_s if r.ok else max(r.latency_s, timeout_s) for r in results]


def end_to_end(results: list[OpResult], timeout_s: float, setup_s: float, rss_mb: float) -> dict[str, float]:
    lat = charged(results, timeout_s)
    by_kind: dict[str, list[float]] = {}
    for r, x in zip(results, lat):
        by_kind.setdefault(r.kind, []).append(x)
    geo = math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_kind.values()))
    ok = sum(r.ok for r in results)
    return {
        "setup_s": setup_s,
        "ops_per_s": ok / sum(r.latency_s for r in results),
        "p50_ms": percentile(lat, 50) * 1e3,
        "p90_ms": percentile(lat, 90) * 1e3,
        "geomean_ms": geo * 1e3,
        "peak_rss_mb": rss_mb,
    }


def check(expected: list, table) -> bool:
    how, want = expected
    if how == "rows":
        return table.num_rows == want
    return oracle.arrow_fingerprint(table) == want


# -- isolation and process control --------------------------------------------


def isolate(run_dir: str) -> dict[str, str]:
    """Point every writable location of the run into run_dir and pin the
    session: no persisted catalog, local[nproc], a JVM heap that fits."""
    d = {k: os.path.join(run_dir, k) for k in ("warehouse", "spark-local", "tmp", "spark-warehouse")}
    for path in d.values():
        os.makedirs(path)
    submit = [
        "--conf", f"spark.sql.warehouse.dir={d['spark-warehouse']}",
        "--conf", "spark.ui.showConsoleProgress=false",
        # A fixed heap and young generation, neither touched in advance: the
        # collector's sizing decisions no longer move the JVM's resident size,
        # while old-generation and native growth still do.
        "--driver-java-options",
        f"-Xms{JVM_HEAP} -Xmn{JVM_YOUNG} -Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData",
        "pyspark-shell",
    ]
    env = {
        "IMPALA_SPARK_WAREHOUSE": d["warehouse"],
        "SPARK_LOCAL_DIRS": d["spark-local"],
        "TMPDIR": d["tmp"],
        "SPARK_GRAFT_PERSIST_CATALOG": "0",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": JVM_HEAP,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(entry))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def _wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for pids to exit; kill what is left at the deadline and wait again."""

    def alive() -> list[int]:
        out = []
        for pid in pids:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                        out.append(pid)
            except OSError:
                pass
        return out

    def wait() -> None:
        deadline = time.monotonic() + timeout_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)

    wait()
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and everything it forked, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(tree, 15)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_steal_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


# -- the run ------------------------------------------------------------------


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        env = isolate(run_dir)
        log("perfbench env " + json.dumps({k: env[k] for k in PINNED_ENV}))
        t0 = time.perf_counter()
        import impala_spark.engine  # noqa: F401  (the program's import is part of set-up)

        self.import_s = time.perf_counter() - t0
        self.w = workloads.get(args.workload)
        self.tracer = spans.Tracer()
        self.spark = None
        self.layer: dict[str, list[float]] = {}  # metric -> one sample per op

    def sample(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    # -- inputs and expected results, before set-up starts ---------------
    def prepare(self) -> None:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), self.w.name, self.run_dir],
            check=True,
        )
        self.data_dir = workloads.DATA_DIR
        with open(os.path.join(self.run_dir, "expected.json")) as f:
            self.expected = {(kind, text): want for kind, text, want in json.load(f)}
        with open(os.path.join(self.run_dir, "pools.xml"), "w") as f:
            f.write(POOL_XML)
        with open(os.path.join(self.run_dir, "llama-site.xml"), "w") as f:
            f.write(LLAMA_XML)

    # -- set-up: launch, engine, registration, warm pass -------------------
    def setup(self) -> float:
        from impala_spark.engine import ImpalaEngine
        from impala_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        eng = ImpalaEngine(self.spark, self.data_dir, strict=self.w.strict, server_name="server1", user=USER)
        for stmt in AUTHZ_SETUP:
            eng.sql(stmt)
        eng.configure_request_pools(
            os.path.join(self.run_dir, "pools.xml"), os.path.join(self.run_dir, "llama-site.xml")
        )
        self.eng = eng
        t2 = time.perf_counter()
        for j, op in enumerate(dict.fromkeys(self.w.cycle)):
            ok, lat, why = self.run_op(op, f"warm-{j}")
            log(f"warm {op.kind} {lat * 1e3:.1f}ms {'ok' if ok else 'FAIL ' + why}")
        t3 = time.perf_counter()
        self.session_times = {
            "session.launch_s": t1 - t0 + self.import_s,
            "session.engine_init_s": t2 - t1,
            "session.warm_s": t3 - t2,
        }
        return t3 - t0 + self.import_s

    def run_op(self, op: workloads.Op, group: str) -> tuple[bool, float, str]:
        """One op: timed call plus toArrow, then an untimed result check."""
        from impala_spark import queries

        sc = self.spark.sparkContext
        sc.setJobGroup(group, op.kind, True)
        timer = threading.Timer(self.w.timeout_s, sc.cancelJobGroup, (group,))
        timer.daemon = True
        if op.entry == "builder":
            queries._PLAN_CACHE.clear()
        tr = self.tracer
        df = table = None
        why = ""
        timer.start()
        t0 = time.perf_counter()
        root = tr.begin("op") if tr.active else -1
        try:
            if op.entry == "sql":
                df = self.eng.sql(op.text)
            else:
                df = tr.call("build.builder", queries.SPARK_QUERIES[op.kind], self.spark, self.data_dir)
            table = tr.call("execute.arrow", df.toArrow)
        except Exception as e:  # an error is a failed op, not a failed run
            lines = str(e).strip().splitlines()
            why = f"{type(e).__name__}: {lines[0][:160] if lines else ''}"
        finally:
            if root >= 0:
                tr.end(root)
            lat = time.perf_counter() - t0
            timer.cancel()
        self.last = (df, table)
        if table is None:
            return False, lat, why
        if lat > self.w.timeout_s:
            return False, lat, "timeout"
        if not check(self.expected[(op.kind, op.text)], table):
            return False, lat, "result differs from the expected result"
        return True, lat, ""

    # -- measurement ----------------------------------------------------
    def measure(self) -> list[OpResult]:
        results: list[OpResult] = []
        traced = bool(self.args.trace)
        kinds_seen: set[str] = set()
        repeats = 0
        steal0, total0 = cpu_steal_ticks()
        gc0 = self._gc_ms()
        start = time.perf_counter()
        for cycle in workloads.cycles(self.w, self.args.seed):
            for op in cycle:
                i = len(results)
                self.tracer.active = traced
                self.tracer.op = i
                pre = self._ddl_snapshot() if traced and op.kind in ETL_WRITES else None
                ok, lat, why = self.run_op(op, f"op-{i}")
                self.tracer.active = False
                repeats += op.kind in kinds_seen
                kinds_seen.add(op.kind)
                results.append(OpResult(op.kind, lat, ok))
                log(f"op {i} {op.kind} {lat * 1e3:.1f}ms {'ok' if ok else 'FAIL ' + why}")
                if traced:
                    self._collect_layers(i, op, lat, pre)
            if time.perf_counter() - start >= self.args.seconds and len(results) >= self.w.min_ops:
                break
        steal1, total1 = cpu_steal_ticks()
        self.gc_ms = self._gc_ms() - gc0
        self.repeat_frac = repeats / len(results)
        log(
            f"measured {len(results)} ops in {time.perf_counter() - start:.1f}s; "
            f"repeat share {self.repeat_frac:.3f}; cpu steal "
            f"{(steal1 - steal0) / max(total1 - total0, 1):.4f} (context only)"
        )
        return results

    # -- per-layer collection (traced ops only, outside the timed call) ---
    def _gc_ms(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))

    def _ddl_snapshot(self) -> dict[str, tuple[int, int]]:
        snap = {}
        for base, _, files in os.walk(os.environ["IMPALA_SPARK_WAREHOUSE"]):
            for f in files:
                p = os.path.join(base, f)
                st = os.stat(p)
                snap[p] = (st.st_size, st.st_mtime_ns)
        return snap

    def _live_bytes(self) -> int:
        total = 0
        for name in (workloads.ETL_TABLE, workloads.ETL_COPY):
            if self.spark.catalog.tableExists(name):
                for uri in self.spark.table(name).inputFiles():
                    path = uri[len("file:"):] if uri.startswith("file:") else uri
                    if os.path.exists(path):
                        total += os.path.getsize(path)
        return total

    def _collect_layers(self, i: int, op, lat: float, pre) -> None:
        df, table = self.last
        sc = self.spark.sparkContext
        self.sample("build.py4j_calls", self.tracer.counts.get((i, "build.py4j_calls"), 0))
        st = sc.statusTracker()
        jobs = st.getJobIdsForGroup(f"op-{i}")
        stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
        infos = [x for s in stages if (x := st.getStageInfo(s))]
        self.sample("spark.jobs", len(jobs))
        self.sample("spark.stages", len(stages))
        self.sample("spark.tasks", sum(x.numTasks for x in infos))
        self.sample("spark.failed_tasks", sum(x.numFailedTasks for x in infos))
        if table is not None:
            self.sample("result.rows", table.num_rows)
            self.sample("result.bytes", table.nbytes)
            qe = df._jdf.queryExecution()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                ph = kv._2()
                self.sample(f"catalyst.{kv._1()}_ms", float(ph.endTimeMs() - ph.startTimeMs()))
            self.sample("execute.shuffle_bytes", shuffle_bytes(qe.executedPlan()))
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.sample("jvm.heap_used_mb", mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20)
        if op.kind in DDL_KINDS:
            self.sample(f"ddl.{op.kind}_ms", lat * 1e3)
        if pre is not None:
            post = self._ddl_snapshot()
            written = sum(s for p, (s, m) in post.items() if pre.get(p) != (s, m))
            live = self._live_bytes()
            self.sample("ddl.bytes_written", written)
            if live:
                self.sample("ddl.rewrite_frac", written / live)
                self.sample("ddl.space_amp", sum(s for s, _ in post.values()) / live)

    def per_layer(self, results: list[OpResult], units: dict[str, str]) -> dict[str, float]:
        for layers in spans.per_op(self.tracer.spans).values():
            for name, rec in layers.items():
                self.sample(f"{name}_ms", rec["outer"] * 1e3)
                self.sample(f"{name}_calls", rec["n"])
                if name == "engine.sql":
                    self.sample("engine.self_ms", rec["self"] * 1e3)
        values = dict(self.session_times)
        values["trace.ops_per_s"] = sum(r.ok for r in results) / sum(r.latency_s for r in results)
        values["fail_frac"] = sum(not r.ok for r in results) / len(results)
        values["ops.repeat_frac"] = self.repeat_frac
        values["jvm.gc_ms"] = self.gc_ms
        for name, unit in units.items():
            samples = self.layer.get(name)
            if name in values:
                pass
            elif not samples:
                values[name] = 0.0
            elif unit in ("count", "B"):
                values[name] = statistics.fmean(samples)  # per op that reached the layer
            else:
                values[name] = statistics.median(samples)
        return values

    # -- whole run ------------------------------------------------------
    def run(self) -> dict:
        t0 = time.perf_counter()
        self.prepare()
        log(f"prepared expected results in {time.perf_counter() - t0:.1f}s")
        tr = self.tracer
        if self.args.trace:
            for module, cls, attr, name in WRAPS:
                owner = importlib.import_module(module)
                tr.wrap(getattr(owner, cls) if cls else owner, attr, name)
        try:
            setup_s = self.setup()
            log(f"set up in {setup_s:.1f}s")
            if self.args.trace:
                client = self.spark.sparkContext._gateway._gateway_client
                send = client.send_command

                def counted(*a, **k):
                    tr.count("build.py4j_calls")
                    return send(*a, **k)

                client.send_command = counted
            results = self.measure()
            jvm_pid = self.spark.sparkContext._gateway.proc.pid
            py_mb, jvm_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0, vm_hwm_mb(jvm_pid)
            log(f"peak rss: python {py_mb:.1f} MB, jvm {jvm_mb:.1f} MB")
            rss_mb = py_mb + jvm_mb
            units = load_units("per_layer" if self.args.trace else "end_to_end")
            if self.args.trace:
                values = self.per_layer(results, units)
            else:
                values = end_to_end(results, self.w.timeout_s, setup_s, rss_mb)
            metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()}
        finally:
            tr.restore()
            if self.spark is not None:
                t0 = time.perf_counter()
                stop_spark(self.spark)
                log(f"stopped in {time.perf_counter() - t0:.1f}s")
        failed = sum(not r.ok for r in results)
        return {"correct": failed == 0, "attempted": len(results), "failed": failed, "metrics": metrics}


def shuffle_bytes(plan) -> int:
    """Sum of shuffle write bytes over a physical plan, through AQE stages."""
    total, todo = 0, [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        metric = node.metrics().get("shuffleBytesWritten")
        if metric.isDefined():
            total += int(metric.get().value())
        children = node.children()
        todo += [children.apply(j) for j in range(children.size())]
    return total


def load_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "impala_spark", "engine.py")):
        log(f"perfbench: no impala_spark package under {ROOT}; run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    runs = os.path.join(ROOT, ".perfbench-runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=runs)
    try:
        result = Bench(args, run_dir).run()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
