#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of the registry queries.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from a checkout of the repository (any working directory works;
the checkout is found from this file's location). One run:

1. generates the workload's input tables from the seed (gen.py) into
   a per-run work directory under the checkout, which also holds the
   run's TMPDIR, Spark local dirs, warehouse and checkpoints, and is
   deleted at exit;
2. computes each query's DuckDB oracle result on those files;
3. launches the JVM, creates the SparkSession (`session.get_spark`,
   `local[nproc]`) and warms it up; then stops and re-creates the
   session in the running JVM twice, keeping the last session;
4. runs one cold pass over the workload's queries, then timed passes
   until they add up to `--seconds` (at least two; a traced run
   alternates traced and untraced passes), hashing every result and
   comparing it with the oracle and with the cold pass;
5. stops Spark and waits for the JVM and its Python workers to end,
   then prints the metrics and one JSON line: end-to-end metrics with
   `--trace 0`, per-layer metrics (tracing.py) with `--trace 1`.

Exits 2 without a result when the checkout lacks the program.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import host  # noqa: E402
from tracing import (  # noqa: E402
    Tracer, installed, per_layer, per_layer_units)
from workloads import WORKLOADS  # noqa: E402

SETUPS = 3       # session set-ups per run, the first launches the JVM
COLD_PASSES = 1  # untimed passes before the timed ones
TIMED_PASSES = 2  # at least; pass_s and cpu_s are their medians
END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s",
              "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(msg, flush=True)


def prepare_env(work: str, traced: bool) -> dict:
    """Point every scratch location of the run into `work` and pin the
    core count; must run before the JVM starts."""
    dirs = {k: os.path.join(work, k)
            for k in ("data", "tmp", "spark-local", "jvm-tmp", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    conf = ["spark.ui.showConsoleProgress=false"]
    if traced:  # keep every job, stage and execution of the run
        conf += ["spark.ui.retainedJobs=100000",
                 "spark.ui.retainedStages=100000",
                 "spark.sql.ui.retainedExecutions=100000"]
    submit = " ".join(f"--conf {c}" for c in conf)
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_CPUS": str(nproc),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYTHONWARNINGS": "ignore::FutureWarning",
        "PYSPARK_SUBMIT_ARGS":
            f"{submit} --driver-java-options "
            f"'-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData "
            # a fixed young generation and a 2 GB initial heap keep the
            # collector's pause-time sizing, which follows host load, out
            # of peak RSS; the heap is committed but not touched, so RSS
            # still grows with what the program allocates and retains
            "-Xmn512m -Xms2g "
            # C1 only reaches steady speed within the cold pass, where
            # C2 kept speeding up for ten passes and more
            "-XX:TieredStopAtLevel=1' pyspark-shell",
    })
    tempfile.tempdir = dirs["tmp"]
    # spark-warehouse, derby.log and metastore_db land in the cwd
    os.chdir(dirs["cwd"])
    return {"nproc": nproc, **dirs}


def stop_spark() -> None:
    """Stop Spark, shut the JVM this process launched and wait until it
    and the Python workers it forked have ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = host.tree_pids()[1:]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of input
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = [p for p in children if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in children:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def load_value_hash():
    """The order-insensitive result hash of tools/verify_local.py."""
    path = os.path.join(ROOT, "tools", "verify_local.py")
    spec = importlib.util.spec_from_file_location("verify_local", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.value_hash


def oracle_results(queries, registry, data: str, tables, value_hash) -> dict:
    import duckdb
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t)}.parquet'")
        out = {}
        for q in queries:
            df = con.sql(registry[q].oracle).df()
            out[q] = (len(df), sorted(df.columns), value_hash(df))
        return out
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(d, f)).st_size
    return total


def start_session():
    """Create the session, launching the JVM if none runs, and warm it
    up; returns the session, the creation time and the warm-up time."""
    from examples_scala_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    # plan, shuffle and collect once, and start the Python worker daemon
    spark.range(4000).selectExpr("id % 10 AS k").groupBy("k").count() \
        .toPandas()
    spark.range(100).mapInPandas(lambda it: it, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


class Pass:
    """One pass over the queries: per-query timings and outcomes."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.wall = 0.0
        self.cpu = 0.0
        self.spans: dict[str, int] = {}   # query -> span id
        self.times: dict[str, tuple[float, float]] = {}  # build, action
        self.errors: dict[str, str] = {}
        self.hashes: dict[str, tuple] = {}


def run_pass(spark, queries, registry, data, value_hash,
             tracer=None) -> Pass:
    p = Pass(tracer is not None)

    def span(name):
        return tracer.span(name) if tracer else contextlib.nullcontext({})
    for q in queries:
        c0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with span(f"queries.{q}") as rec:
                with span("build"):
                    df = registry[q].fn(spark, data)
                t1 = time.perf_counter()
                with span("action"):
                    pdf = df.toPandas()
        except Exception as e:  # a failing query is counted, not fatal
            p.errors[q] = f"{type(e).__name__}: {str(e)[:300]}"
            continue
        finally:
            t2 = time.perf_counter()
            p.wall += t2 - t0
            p.cpu += host.tree_cpu_s() - c0
        p.times[q] = (t1 - t0, t2 - t1)
        if tracer:
            p.spans[q] = rec["id"]
        p.hashes[q] = (len(pdf), sorted(pdf.columns), value_hash(pdf))
    return p


def check(passes, expected) -> tuple[int, int, list[str]]:
    """Count attempted and failed executions: a failure raised, or its
    result differs from the oracle or from the first pass."""
    attempted = failed = 0
    problems = []
    first = {}
    for i, p in enumerate(passes):
        for q, want in expected.items():
            attempted += 1
            if q in p.errors:
                failed += 1
                problems.append(f"pass {i} {q}: {p.errors[q]}")
                continue
            got = p.hashes[q]
            first.setdefault(q, got)
            if got != want:
                failed += 1
                problems.append(
                    f"pass {i} {q}: oracle mismatch (rows {got[0]} vs "
                    f"{want[0]}, cols {got[1] == want[1]}, hash "
                    f"{got[2]} vs {want[2]})")
            elif got != first[q]:
                failed += 1
                problems.append(f"pass {i} {q}: differs from first pass")
    return attempted, failed, problems


def run(args, env) -> int:
    wl = WORKLOADS[args.workload]
    queries = wl.queries
    load0 = host.loadavg()
    inputs = gen.generate(wl.tables, args.seed, env["data"])
    facts = host.describe(ROOT)
    for k, v in {**facts, "nproc": env["nproc"],
                 "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
                 "loadavg_start": load0, "workload": args.workload,
                 "queries": ",".join(queries), "seed": args.seed,
                 "seconds": args.seconds, "trace": args.trace,
                 "inputs": json.dumps(inputs)}.items():
        log(f"# {k}: {v}")

    from examples_scala_spark.queries import REGISTRY
    value_hash = load_value_hash()
    t0 = time.perf_counter()
    expected = oracle_results(queries, REGISTRY, env["data"], wl.tables,
                              value_hash)
    log(f"# oracle_s: {time.perf_counter() - t0:.3f}")

    with host.RssSampler() as rss:
        setups = []
        for i in range(SETUPS):
            spark, start_s, warm_s = start_session()
            setups.append((start_s, warm_s))
            log(f"# setup {i}: start {start_s:.3f} s, "
                f"warm-up {warm_s:.3f} s")
            if i < SETUPS - 1:
                spark.stop()
        tracer = None
        if args.trace:
            tracer = Tracer(spark, f"pb{os.getpid()}")
        tmp0 = dir_bytes(env["tmp"])
        steal0 = host.steal_s()
        passes = []
        for i in range(COLD_PASSES):  # JIT and code generation warm up
            passes.append(run_pass(spark, queries, REGISTRY, env["data"],
                                   value_hash))
            log(f"# pass {i} (cold, not timed): wall "
                f"{passes[-1].wall:.3f} s")
        timed = 0.0
        while True:
            # traced runs alternate traced and untraced passes
            traced = args.trace and (len(passes) - COLD_PASSES) % 2 == 0
            pass_steal0 = host.steal_s()
            if traced:
                tracer.begin_pass()
                with installed(tracer):
                    p = run_pass(spark, queries, REGISTRY, env["data"],
                                 value_hash, tracer)
            else:
                p = run_pass(spark, queries, REGISTRY, env["data"],
                             value_hash)
            passes.append(p)
            timed += p.wall
            log(f"# pass {len(passes) - 1}: wall {p.wall:.3f} s, cpu "
                f"{p.cpu:.2f} s, steal {host.steal_s() - pass_steal0:.2f} s"
                f"{' (traced)' if p.traced else ''}")
            if timed >= args.seconds and \
                    len(passes) >= COLD_PASSES + TIMED_PASSES:
                break
        log(f"# steal_s over the passes: {host.steal_s() - steal0:.2f}")
        tmp_left = (dir_bytes(env["tmp"]) - tmp0) / len(passes)
        if args.trace:
            layers = per_layer(spark, tracer, passes[COLD_PASSES:], setups,
                               env["nproc"])
            layers["sources.tmp_bytes_left"] = tmp_left
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        stop_spark()
    workers_mb = rss.workers_peak / 2**20
    log(f"# peak RSS: driver and JVM {rss.peak / 2**20:.1f} MB, python "
        f"workers {workers_mb:.1f} MB; sampler cpu {rss.cpu_s:.3f} s")
    if args.trace:
        layers["operators.python_workers_rss_mb"] = workers_mb
    log(f"# loadavg_end: {host.loadavg()}")

    attempted, failed, problems = check(passes, expected)
    for msg in problems:
        log(f"FAIL {msg}")
    log(f"# fail_ratio: {failed / attempted:.4f} ({failed}/{attempted})")
    untraced = [p for p in passes[COLD_PASSES:] if not p.traced]

    if args.trace:
        metrics = layers
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": statistics.median(a + b for a, b in setups),
            "pass_s": statistics.median(p.wall for p in untraced),
            "cpu_s": statistics.median(p.cpu for p in untraced),
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = END_TO_END
    for name, value in metrics.items():
        log(f"{name} = {value:.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("examples_scala_spark", os.path.join("tools",
                                                      "verify_local.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env = prepare_env(work, bool(args.trace))
        return run(args, env)
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
