"""Benchmark entry point: runs one workload in this process and prints one
JSON result line.

    python3 perfbench/run.py --workload corpus_ops --seed 1 --seconds 10 --trace 0

With ``--trace 0`` the result carries the end-to-end metrics (setup_s,
pass_s, cpu_s, peak_rss_mb); with ``--trace 1`` the per-layer metrics.
A run: build the FHIR fixtures if missing (off the clock), start the
session (local[nproc-1], fixed heap), run the workload's untimed warm-up
passes, run timed passes for ``--seconds``, then check every query's
warm-up output against its DuckDB oracle. The seed permutes query order
within each pass; the input tables are fixed. Details and host stamps go
to perfbench/work/results/. See README.md for the workloads and layers.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import types  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

from probes import (  # noqa: E402
    SparkRest,
    Spans,
    cpu_times,
    steal_share,
    tree_cpu_s,
    tree_peak_rss_mb,
)
from workloads import TESTDATA, WORKLOADS  # noqa: E402

DRIVER_HEAP = "2g"
TIMED_MIN = 5  # timed passes per run at least, whatever --seconds says
ENGINE_FIXTURES = "/tmp/interop_spark_fixtures"
OPERATOR_LAYERS = ("dedup", "similarity", "pq", "text", "theta")
FHIR_LEGS = (
    "fhir.reader.ingest_s",
    "fhir.write.sink_s",
    "fhir.analytics.rejoin_s",
    "fhir.analytics.omop_s",
    "fhir.writer.encode_s",
)


def host_stamp() -> dict:
    """1-minute load average and CPU pressure (share of time some task
    waited for a CPU, last 10 s and 60 s) on this host."""
    stamp = {"loadavg_1m": os.getloadavg()[0]}
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        for kv in some[1:3]:
            k, v = kv.split("=")
            stamp[f"cpu_pressure_{k}"] = float(v)
    except OSError:  # kernels without pressure stall information
        pass
    return stamp


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def relocate_fixtures(root: str) -> None:
    """The engine caches generated FHIR fixtures under a fixed /tmp root.
    Point that root at ``root`` inside the checkout, so no run writes
    outside its checkout or reads another checkout's cache.
    ``build_fixtures`` checks that the redirection took effect."""
    import interop_spark.fhir.gen as gen

    def join(a, *p):
        return os.path.join(root if a == ENGINE_FIXTURES else a, *p)

    shim = types.SimpleNamespace(**vars(os))
    shim.path = types.SimpleNamespace(**vars(os.path))
    shim.path.join = join
    gen.os = shim


def start_spark(run_dir: str, cores: int):
    from interop_spark.session import get_spark

    java = (
        f"-Xms{DRIVER_HEAP} "
        f"-Djava.io.tmpdir={run_dir}/tmp "
        f"-Dderby.system.home={run_dir}/derby"
    )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": java,
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            "spark.local.dir": f"{run_dir}/local",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def build_fixtures(spark, sf_dir: str, root: str) -> None:
    """The corpora the fhir_notebook queries read: the notebook chain's
    bundle files and the bulk-export NDJSON files. The engine reuses them
    once they exist, so only the first run of a checkout builds them."""
    from interop_spark.fhir.gen import write_corpus, write_ndjson_corpus
    from interop_spark.queries.fhir_queries import _E2E_LIMIT, _SYNTH_LIMIT

    for d in (write_corpus(spark, sf_dir, max_custkey=_E2E_LIMIT),
              write_ndjson_corpus(spark, sf_dir, max_custkey=_SYNTH_LIMIT)):
        if not d.startswith(root + os.sep):
            raise RuntimeError(f"fixtures written outside {root}: {d}")


def corpus_gen_s(spark, sf_dir: str, reps: int = 3) -> float:
    """Median time the fixture generator takes to produce both corpora
    (the rows ``build_fixtures`` writes out), without the file writes."""
    from interop_spark.fhir.gen import bundle_json_df, ndjson_resource_dfs
    from interop_spark.queries.fhir_queries import _E2E_LIMIT, _SYNTH_LIMIT

    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        bundle_json_df(spark, sf_dir, max_custkey=_E2E_LIMIT).collect()
        for df in ndjson_resource_dfs(spark, sf_dir, _SYNTH_LIMIT).values():
            df.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def persisted_rdds(sc) -> int:
    """RDDs still persisted once the unreachable ones are released. Queued
    listener events can still hold a finished query's plan, so drain the
    listener bus first; then run a Python and a JVM garbage collection,
    give Spark's ContextCleaner time to unpersist what they freed, and
    repeat until two rounds agree."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    prev, deadline = -1, time.time() + 10
    while True:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.25)
        n = sc._jsc.getPersistentRDDs().size()
        if n == prev or time.time() > deadline:
            return n
        prev = n


def jit_s(sc) -> float:
    """Seconds the driver JVM's JIT compilers have spent so far."""
    mx = sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return mx.getTotalCompilationTime() / 1e3


def codegen_compiles(sc) -> int:
    """Classes Spark's code generator has compiled so far (cache misses)."""
    cg = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def heap_used_mb(sc) -> float:
    """Megabytes in use on the driver JVM's heap; right after
    ``persisted_rdds`` this is the live set."""
    mx = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 1e6


class OperatorCalls:
    """Records which operator modules a query's construction calls."""

    PREFIX = "interop_spark.operators."

    def __init__(self) -> None:
        self.modules: set[str] = set()

    def __call__(self, frame, event, arg):
        if event == "call":
            mod = frame.f_globals.get("__name__", "")
            if mod.startswith(self.PREFIX):
                self.modules.add(mod[len(self.PREFIX):])

    def __enter__(self):
        sys.setprofile(self)
        return self

    def __exit__(self, *exc):
        sys.setprofile(None)


class Runner:
    def __init__(self, spark, workload, sf_dir: str, seed: int):
        import __spark_entry__ as entry

        self.spark, self.sc = spark, spark.sparkContext
        self.workload, self.sf_dir = workload, sf_dir
        registry = entry.queries()
        self.fns = {q: registry[q] for q in workload.queries}
        self.rng = random.Random(seed)
        self.spans = Spans()
        self.errors: dict[str, str] = {}
        self.attempted = self.failed = 0
        self.outputs: dict = {}  # query -> pandas frame from warm-up pass 0
        self.operator_modules: dict[str, set[str]] = {}

    def _noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_query(self, q: str, pass_i: int, traced: bool, collect: bool,
                  profile: bool = False):
        """(construct_s, execute_s) of one query, or None if it failed."""
        self.attempted += 1
        group = f"perfbench/p{pass_i}/{q}"
        try:
            if traced:
                self.sc.setJobGroup(f"{group}/construct", q)
            t0 = time.perf_counter()
            if profile:
                with OperatorCalls() as calls:
                    df = self.fns[q](self.spark, self.sf_dir)
                self.operator_modules[q] = calls.modules
            else:
                df = self.fns[q](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if traced:
                self.sc.setJobGroup(f"{group}/execute", q)
            if collect:
                self.outputs[q] = df.toPandas()
            else:
                self._noop(df)
            t2 = time.perf_counter()
        except Exception as e:  # a failing query is a failed operation
            self.failed += 1
            self.errors.setdefault(q, f"{type(e).__name__}: {e}"[:500])
            log(f"{q} failed in pass {pass_i}: {type(e).__name__}")
            return None
        finally:
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        return t1 - t0, t2 - t1

    def run_pass(self, pass_i: int, traced=False, collect=False, profile=False):
        order = self.rng.sample(self.workload.queries, len(self.workload.queries))
        times = {}
        jit0, codegen0 = jit_s(self.sc), codegen_compiles(self.sc)
        for q in order:
            if traced:
                with self.spans.span("query", pass_i=pass_i, query=q):
                    t = self.run_query(q, pass_i, traced, collect, profile)
            else:
                t = self.run_query(q, pass_i, traced, collect, profile)
            if t is not None:
                times[q] = t
        return {"order": order, "times": times,
                "jit_s": jit_s(self.sc) - jit0,
                "codegen_compiles": codegen_compiles(self.sc) - codegen0}

    def count_persisted(self, rounds: int = 2) -> dict:
        """Persisted RDDs after each query, run in the workload's own
        order rather than the seed's. What a query leaves persisted can
        depend on the query before it, so the first round only brings the
        engine to the state that order leaves behind and the last round
        reads the same in every run. Ends with the live heap."""
        for _ in range(rounds):
            counts = []
            for q in self.workload.queries:
                self.run_query(q, -1, traced=False, collect=False)
                counts.append(persisted_rdds(self.sc))
        return {"persisted": counts, "live_heap_mb": heap_used_mb(self.sc)}


def median_sum(passes: list[dict], phase: int | None = None) -> float:
    """Sum over queries of each query's median across the passes."""
    total = 0.0
    queries = set().union(*(p["times"] for p in passes))
    for q in queries:
        vals = [
            sum(p["times"][q]) if phase is None else p["times"][q][phase]
            for p in passes
            if q in p["times"]
        ]
        total += statistics.median(vals)
    return total


def calibration_s(spark) -> float:
    """Fixed in-memory hash + aggregate + sort that uses no repo code:
    its time moves only with the host. Timed once after one warm-up."""
    from pyspark.sql import functions as F

    def work() -> float:
        t0 = time.perf_counter()
        (
            spark.range(100_000)
            .select((F.xxhash64("id") % 100003).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("k")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    work()
    return work()


def canon(v) -> str:
    if v is None:
        return "None"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def check_outputs(outputs: dict, sf_dir: str) -> dict[str, str]:
    """Compare each collected output with its DuckDB oracle twin: same
    columns, same rows in any order. Returns {query: why} for mismatches."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'"
            )
    bad = {}
    for q, sdf in outputs.items():
        if q not in oracles:
            bad[q] = "no oracle twin"
            continue
        ddf = con.execute(oracles[q]).df()
        cols = sorted(sdf.columns)
        if cols != sorted(ddf.columns):
            bad[q] = f"columns {cols} vs {sorted(ddf.columns)}"
            continue
        a = sorted(tuple(map(canon, r)) for r in sdf[cols].itertuples(False, None))
        b = sorted(tuple(map(canon, r)) for r in ddf[cols].itertuples(False, None))
        if a != b:
            bad[q] = f"{len(a)} vs {len(b)} rows, values differ"
    con.close()
    return bad


def exec_stats(rest: SparkRest, passes: list[dict]) -> dict:
    """Per traced pass: jobs per phase and stage metrics, from the UI."""
    jobs = rest.settled_jobs()
    stages = rest.stages()
    per_pass = {}
    for p in passes:
        i = p["pass_i"]
        prefix = f"perfbench/p{i}/"
        mine = [j for j in jobs if (j.get("jobGroup") or "").startswith(prefix)]
        sids = {s for j in mine for s in j["stageIds"] if s in stages}
        st = [stages[s] for s in sids]
        mb = 1e6
        per_pass[i] = {
            "queries.construct_jobs": sum(
                j["jobGroup"].endswith("/construct") for j in mine
            ),
            "queries.execute_jobs": sum(
                j["jobGroup"].endswith("/execute") for j in mine
            ),
            "exec.stages": len(st),
            "exec.tasks": sum(s["numCompleteTasks"] for s in st),
            "exec.task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "exec.task_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "exec.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in st) / mb,
            "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in st) / mb,
            "exec.spill_mb": sum(s["diskBytesSpilled"] for s in st) / mb,
            "exec.input_mb": sum(s["inputBytes"] for s in st) / mb,
            "exec.output_mb": sum(s["outputBytes"] for s in st) / mb,
        }
    return per_pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one warm-up and one timed pass on sf0.001")
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]
    sf_dir = os.path.join(TESTDATA, "sf0.001" if args.smoke else workload.sf)
    if not os.path.isdir(sf_dir):
        log(f"input tables not found: {sf_dir}")
        return 2
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import interop_spark  # noqa: F401
    except ImportError as e:
        log(f"engine not importable from {ROOT}: {e}")
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    fixtures = os.path.join(WORK, "fixtures")
    relocate_fixtures(fixtures)
    detail: dict = {
        "workload": workload.name, "seed": args.seed, "trace": args.trace,
        "sf_dir": sf_dir, "host_before": host_stamp(),
    }
    pid = os.getpid()
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    try:
        spark = start_spark(run_dir, cores)
    except Exception as e:
        log(f"Spark did not start: {e}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    try:
        result = measure(spark, workload, sf_dir, fixtures, args, detail, pid,
                         cores)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["host_after"] = host_stamp()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(
        WORK, "results",
        f"{workload.name}-seed{args.seed}-trace{args.trace}-{pid}.json",
    )
    with open(out, "w") as f:
        json.dump({**detail, "result": result}, f, indent=1, default=str)
    log(f"detail: {out}")
    print(json.dumps(result))
    return 0


def measure(spark, workload, sf_dir, fixtures, args, detail, pid,
            cores) -> dict:
    t_session = time.time()
    detail["cores"] = cores
    runner = Runner(spark, workload, sf_dir, args.seed)
    fixture_s = 0.0
    if workload.fhir_fixtures:
        t0 = time.perf_counter()
        build_fixtures(spark, sf_dir, fixtures)
        fixture_s = time.perf_counter() - t0
    log(f"session up in {t_session - T_PROCESS:.1f}s, fixtures {fixture_s:.1f}s")

    # -- warm-up ---------------------------------------------------------
    warm, warm_cpu, warm_wall = [], [], []
    for pass_i in range(1 if args.smoke else workload.warmup):
        c0, w0 = tree_cpu_s(pid), time.perf_counter()
        warm.append(runner.run_pass(pass_i, collect=pass_i == 0,
                                    profile=bool(args.trace) and pass_i == 0))
        warm_cpu.append(tree_cpu_s(pid) - c0)
        warm_wall.append(time.perf_counter() - w0)
    pass_i = len(warm)
    t_warm = time.time()
    setup_s = t_warm - T_PROCESS - fixture_s
    log(f"warm-up {pass_i} passes, cpu/pass {[round(c, 1) for c in warm_cpu]}")

    # -- timed passes ----------------------------------------------------
    timed: list[dict] = []
    c0, host0 = tree_cpu_s(pid), cpu_times()
    t0 = time.time()
    # a traced run alternates traced and untraced passes
    n_min = (1 if args.smoke else TIMED_MIN) * (1 + args.trace)
    while len(timed) < n_min or time.time() - t0 < args.seconds:
        traced = bool(args.trace) and len(timed) % 2 == 0
        p = runner.run_pass(pass_i, traced=traced)
        p.update(pass_i=pass_i, traced=traced)
        timed.append(p)
        pass_i += 1
    cpu_s = (tree_cpu_s(pid) - c0) / len(timed)
    peak_rss_mb = tree_peak_rss_mb(pid)
    untraced = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    log(f"{len(timed)} timed passes in {time.time() - t0:.1f}s")

    detail.update(
        fixture_s=fixture_s, warmup_cpu_s=warm_cpu, warmup_wall_s=warm_wall,
        warmup_passes=[{k: p[k] for k in ("times", "jit_s", "codegen_compiles")}
                       for p in warm],
        steal_share_timed=steal_share(host0, cpu_times()),
        timed_passes=[{k: p[k] for k in ("pass_i", "order", "times", "traced",
                                          "jit_s", "codegen_compiles")}
                      for p in timed],
        calibration_s=calibration_s(spark),
    )
    if args.trace:
        detail["count_pass"] = counted = runner.count_persisted()
        metrics = layer_metrics(runner, workload, sf_dir, traced, untraced,
                                counted, t_session)
        detail["spans"] = runner.spans.records
        detail["operator_modules"] = {
            q: sorted(m) for q, m in runner.operator_modules.items()
        }
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median_sum(untraced),
            "cpu_s": cpu_s,
            "peak_rss_mb": peak_rss_mb,
        }

    # -- correctness of every query's warm-up output ---------------------
    bad = check_outputs(runner.outputs, sf_dir)
    detail["errors"] = {**runner.errors, **bad}
    failed = runner.failed + len(bad)
    for q, why in detail["errors"].items():
        log(f"FAILED {q}: {why}")
    spec = SPEC["per_layer" if args.trace else "end_to_end"]
    return {
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in spec
        },
    }


def layer_metrics(runner, workload, sf_dir, traced, untraced, counted,
                  t_session) -> dict[str, float]:
    from fhir_legs import notebook_legs

    med = statistics.median
    m: dict[str, float] = {
        "session.start_s": t_session - T_PROCESS,
        "fhir.gen.corpus_s": (corpus_gen_s(runner.spark, sf_dir)
                              if workload.fhir_fixtures else 0.0),
        "queries.construct_s": median_sum(traced, 0),
        "queries.execute_s": median_sum(traced, 1),
    }
    stats = exec_stats(SparkRest(runner.spark), traced)
    for k in next(iter(stats.values())):
        m[k] = med(s[k] for s in stats.values())
    m["queries.persisted_rdds_max"] = max(counted["persisted"])
    m["queries.persisted_rdds_end"] = counted["persisted"][-1]
    m["exec.live_heap_mb"] = counted["live_heap_mb"]
    m["exec.jit_s"] = med(p["jit_s"] for p in traced)
    for layer in OPERATOR_LAYERS:
        qs = {q for q, mods in runner.operator_modules.items() if layer in mods}
        m[f"operators.{layer}.s"] = median_sum(
            [{"times": {q: t for q, t in p["times"].items() if q in qs}}
             for p in traced]
        )
    legs = (
        notebook_legs(runner.spark, sf_dir, runner.spans)
        if workload.fhir_fixtures else {}
    )
    for name in FHIR_LEGS:
        m[name] = legs.get(name, 0.0)
    m["trace.overhead_s"] = median_sum(traced) - median_sum(untraced)
    return m


if __name__ == "__main__":
    sys.exit(main())
