"""Benchmark of the g1_etl_spark engine: three closed-loop workloads.

    python3 perfbench/run.py --workload org_extract --seed 1 --seconds 5 --trace 0

Run from the root of a checkout (Python workers import ``g1_etl_spark``
from the working directory). One client sends the next op only after the
previous one returned, on ``local[<cpus>]``. A run:

1. generates its inputs from ``--seed`` under ``.perfbench_work/``;
2. sets up ``SETUPS`` times (``get_spark`` + a codegen warm pass) and
   keeps the median as ``setup_s``;
3. runs one pass over the workload's ops, repeated until ``--seconds``
   have elapsed, timing each op from outside the program;
4. checks every output of the pass, untimed;
5. prints one JSON line: the end-to-end metrics with ``--trace 0``, or,
   with ``--trace 1``, the per-layer metrics read from Spark's event log
   of a traced run. The tracing overhead compares its pass time with
   that of an earlier untraced run of the same inputs in this checkout,
   or of an untraced child run when there was none.

``--workload all`` runs the three workloads one after the other, ``--tiny``
runs one op per workload on the smallest inputs, and ``--record-hashes``
stores the ``org_extract`` payload hashes of the current code as the
expected ones. See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

STARTED = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = len(os.sched_getaffinity(0))
WORKLOADS = ("org_extract", "analytic_exec", "curation_build")
SETUPS = 5
UNTRACED = os.path.join(ROOT, ".perfbench_work", "untraced.json")
DRIVER_MEMORY = "2g"

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "catalog.load_s": "s",
    "entities.build_s": "s", "entities.driver_s": "s", "entities.jobs": "count",
    "entities.result_mb": "MB", "entities.write_s": "s", "entities.write_mb": "MB",
    "plans.build_s": "s", "plans.build_driver_s": "s", "plans.build_jobs": "count",
    "plans.build_stages": "count", "plans.build_task_s": "s",
    "plans.build_result_mb": "MB", "plans.checkpoints": "count",
    "catalyst.plan_s": "s",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.input_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB", "exec.skew_max": "ratio",
    "exec.core_util": "ratio",
    "python.sent_mb": "MB", "python.returned_mb": "MB", "python.run_s": "s",
    "python.init_s": "s",
    "trace_overhead_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=(*WORKLOADS, "all"),
                   help="'all' runs each workload in turn and prints them all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="one op on the smallest inputs (self-test)")
    p.add_argument("--record-hashes", action="store_true",
                   help="store the org_extract payload hashes of this code")
    args = p.parse_args(argv)
    if not args.workload and not args.record_hashes:
        p.error("--workload is required")
    return args


def log(*parts) -> None:
    print(*parts, flush=True)


# ------------------------------------------------------------ session ----

def spark_conf(work: str, event_dir: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        # a fixed, pre-touched heap keeps the JVM's resident set from
        # following G1's run-to-run heap sizing decisions
        "spark.driver.extraJavaOptions": (f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                                          f"-Djava.io.tmpdir={tmp}"),
    }
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    return conf


def warm(spark, data_dir: str) -> None:
    """Codegen warm pass on tiny inputs: scan, aggregate, broadcast
    join, window and JSON serialization."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    orders = spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
    li.groupBy("l_returnflag").agg(F.sum("l_quantity"), F.count("*")).collect()
    first = Window.partitionBy("o_custkey").orderBy("l_shipdate", "l_linenumber")
    (li.join(F.broadcast(orders), F.col("l_orderkey") == F.col("o_orderkey"))
     .withColumn("rn", F.row_number().over(first)).filter("rn = 1").count())
    orders.select(F.to_json(F.struct("*"))).limit(100).collect()


def drop_cached(spark) -> int:
    """Free cached and checkpointed RDDs between ops (as bench.py does)
    and collect the garbage outside the timed region. Returns how many
    persistent RDDs the op left behind."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    left = rdds.size()
    for rdd in list(rdds.values()):
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()
    return left


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb() -> float:
    """Python high-water mark plus that of the largest ended child (the
    driver JVM, once ``shutdown`` has waited for it); Linux reports KiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    child = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + child) / 1024


# ---------------------------------------------------------------- run ----

def run(args, work: str, untraced_wall_s: float | None = None) -> dict:
    """One run; traced when given the untraced pass time to compare with."""
    from g1_etl_spark.session import get_spark
    from perfbench import datagen, workloads

    warm_dir = os.path.join(work, "warm")
    datagen.star_schema(warm_dir, 0.001, args.seed)
    wl = workloads.make(args.workload, args.seed, args.tiny, work)
    wl.prepare()
    traced = untraced_wall_s is not None
    event_dir = os.path.join(work, "events") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    conf = spark_conf(work, event_dir)

    windows: list[tuple] = []
    setups, spark = [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        phases = workloads.Phases(windows, f"setup{i}")
        spark = phases.run("start", get_spark, "perfbench", CPUS, conf)
        spark.sparkContext.setLogLevel("ERROR")
        phases.run("warm", warm, spark, warm_dir)
        setups.append(phases.times)

    ops, passes, failed = [], [], 0
    started = time.perf_counter()
    while not passes or time.perf_counter() - started < args.seconds:
        pass_s = 0.0
        for name in wl.ops():
            phases = workloads.Phases(windows, f"p{len(passes)}:{name}")
            t0 = time.perf_counter()
            try:
                extra = wl.run_op(spark, name, phases)
                ok = True
            except Exception:  # a failed op counts, the run goes on
                traceback.print_exc()
                log(f"op {name} failed")
                extra, ok = {}, False
                failed += 1
            latency = time.perf_counter() - t0
            pass_s += latency
            cleanup = workloads.Phases(windows, phases.op)
            left = cleanup.run("cleanup", drop_cached, spark)
            ops.append({"op": phases.op, "latency_s": latency, "ok": ok,
                        "phases": phases.times, "persistent_rdds": left, **extra})
        passes.append(pass_s)

    check = workloads.Phases(windows, "check")
    verdict = check.run("check", wl.check)
    t0 = time.perf_counter()
    shutdown(spark)
    log(f"check took {check.times['check']:.2f} s, shutdown {time.perf_counter() - t0:.2f} s")

    wrong = sum(not v for v in verdict.values())
    for i, s in enumerate(setups):
        log(f"setup {i}: start={s['start']:.3f} warm={s['warm']:.3f} s")
    for op in ops:
        log(f"op {op['op']:36s} {op['latency_s']:8.3f} s  "
            + " ".join(f"{k}={v:.3f}" for k, v in op["phases"].items()))
    log(f"{len(ops)} ops in {len(passes)} pass(es); fail_frac={failed / len(ops):.3f}"
        f" wrong_frac={wrong / max(1, len(verdict)):.3f}"
        + "".join(f"; wrong output: {k}" for k, v in verdict.items() if not v))

    result = {
        "correct": failed == 0 and bool(verdict) and wrong == 0,
        "attempted": len(ops),
        "failed": failed,
    }
    setup_s = [s["start"] + s["warm"] for s in setups]
    if not traced:
        values = {
            "setup_s": statistics.median(setup_s),
            "wall_s": statistics.median(passes),
            "op_p50_s": statistics.median(o["latency_s"] for o in ops),
            "peak_rss_mb": peak_rss_mb(),
        }
        units = END_TO_END
    else:
        values = layer_metrics(args, event_dir, windows, ops, setups, len(passes))
        values["trace_overhead_frac"] = statistics.median(passes) / untraced_wall_s - 1
        units = PER_LAYER
    result["metrics"] = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return result


def layer_metrics(args, event_dir: str, windows: list, ops: list, setups: list,
                  n_passes: int) -> dict:
    """Per-layer totals of one pass from the event log, plus set-up.
    The per-op, per-phase records go to ``trace_path(args)``."""
    from perfbench import eventlog

    log_ = eventlog.read(event_dir)
    keyed = [((op, phase), start, end) for op, phase, start, end in windows]
    jobs, orphans = eventlog.attribute(log_, keyed)
    log(f"event log: {len(log_.jobs)} jobs, {len(orphans)} outside any phase")
    if orphans:
        raise RuntimeError(f"jobs outside any phase: {[j.job_id for j in orphans]}")

    per_op: dict[str, dict[str, dict]] = {}
    for (op, phase), start, end in keyed:
        if not op.startswith(("setup", "check")) and phase != "cleanup":
            per_op.setdefault(op, {})[phase] = eventlog.summarize(
                log_, jobs[(op, phase)], start, end)
    with open(trace_path(args), "w") as f:
        json.dump({"spans": windows, "setups": setups, "ops": per_op}, f)
    for op, phases in per_op.items():
        log(f"trace {op}: " + "; ".join(
            f"{phase} {s['wall_s']:.3f} s, {s['jobs']} jobs, {s['stages']} stages, "
            f"{s['tasks']} tasks, driver {s['driver_s']:.3f} s, result {s['result_mb']:.3f} MB"
            for phase, s in phases.items()))

    total: dict[str, float] = {}
    for phases in per_op.values():
        for phase, s in phases.items():
            for k, v in s.items():
                total[f"{phase}.{k}"] = total.get(f"{phase}.{k}", 0) + v / n_passes
    entity = args.workload == "org_extract"

    def g(key: str, on: bool = True) -> float:
        # a phase absent from this workload's path reads 0
        return total.get(key, 0.0) if on else 0.0

    def python(key: str) -> float:
        return sum(g(f"{phase}.python_{key}") for phase in ("load", "build", "exec"))

    exec_wall = g("exec.wall_s")
    out = {
        "session.start_s": statistics.median(s["start"] for s in setups),
        "session.warm_s": statistics.median(s["warm"] for s in setups),
        "catalog.load_s": g("load.wall_s"),
        "entities.build_s": g("build.wall_s", entity),
        "entities.driver_s": g("build.driver_s", entity),
        "entities.jobs": g("build.jobs", entity),
        "entities.result_mb": g("build.result_mb", entity),
        "entities.write_s": g("write.wall_s"),
        "entities.write_mb": sum(o.get("write_mb", 0) for o in ops) / n_passes,
        "plans.build_s": g("build.wall_s", not entity),
        "plans.build_driver_s": g("build.driver_s", not entity),
        "plans.build_jobs": g("build.jobs", not entity),
        "plans.build_stages": g("build.stages", not entity),
        "plans.build_task_s": g("build.task_s", not entity),
        "plans.build_result_mb": g("build.result_mb", not entity),
        "plans.checkpoints": (0.0 if entity else
                              sum(o["persistent_rdds"] for o in ops) / n_passes),
        "catalyst.plan_s": g("plan.wall_s"),
        "exec.skew_max": max((p["exec"]["skew_max"] for p in per_op.values()
                              if "exec" in p), default=0.0),
        "exec.core_util": g("exec.task_s") / (exec_wall * CPUS) if exec_wall else 0.0,
        "python.sent_mb": python("sent_mb"),
        "python.returned_mb": python("returned_mb"),
        "python.run_s": python("run_s"),
        "python.init_s": python("init_s"),
    }
    for key in ("wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        out[f"exec.{key}"] = g(f"exec.{key}")
    return out


def trace_path(args) -> str:
    return os.path.join(ROOT, ".perfbench_work",
                        f"trace-{args.workload}-{args.seed}{'-tiny' * args.tiny}.json")


def _run_key(args) -> str:
    return f"{args.workload}:{args.seed}:{int(args.tiny)}"


def remember_wall_s(args, wall_s: float) -> None:
    """Keep the untraced pass time of these inputs for a later traced run."""
    table = {}
    if os.path.exists(UNTRACED):
        with open(UNTRACED) as f:
            table = json.load(f)
    table[_run_key(args)] = wall_s
    with open(UNTRACED + ".tmp", "w") as f:
        json.dump(table, f)
    os.replace(UNTRACED + ".tmp", UNTRACED)


def kept_or_child_wall_s(args) -> float:
    """Untraced pass time of the same inputs in this checkout: the one an
    earlier untraced run kept, else that of an untraced child run."""
    if os.path.exists(UNTRACED):
        with open(UNTRACED) as f:
            kept = json.load(f).get(_run_key(args))
        if kept:
            return kept
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    if args.tiny:
        cmd.append("--tiny")
    child = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170)
    if child.returncode != 0:
        raise RuntimeError(f"untraced child run exited {child.returncode}")
    return json.loads(child.stdout.strip().splitlines()[-1])["metrics"]["wall_s"]["value"]


def run_all(args) -> int:
    """Run every workload as its own child run (one JVM each) and print
    each one's log and every metric by name and unit."""
    results = {}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + ["--tiny"] * args.tiny
        lines = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True,
                               timeout=600).stdout.strip().splitlines()
        for line in lines[:-1]:
            log(f"{name}: {line}")
        results[name] = json.loads(lines[-1])
    for name, result in results.items():
        log(f"{name}: correct={result['correct']} attempted={result['attempted']} "
            f"failed={result['failed']}")
        for metric, m in result["metrics"].items():
            log(f"  {metric} = {m['value']:.4f} {m['unit']}")
    print(json.dumps(results), flush=True)
    return 0


def record_hashes(work: str) -> None:
    from g1_etl_spark.session import get_spark
    from perfbench import workloads

    spark = get_spark("perfbench-record", CPUS, spark_conf(work, None))
    for tiny in (False, True):
        wl = workloads.make("org_extract", 0, tiny, os.path.join(work, str(tiny)))
        wl.prepare()
        for op in map(str, wl.orgs):
            wl.run_op(spark, op, workloads.Phases([], op))
        wl.record()
        log(f"recorded {len(wl.outputs)} payload hashes for {wl.fixture}")
    shutdown(spark)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "g1_etl_spark", "session.py")):
        print("perfbench: no g1_etl_spark package next to perfbench/; run it "
              "from a full checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    os.chdir(ROOT)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "tmp"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
    })
    try:
        if args.record_hashes:
            record_hashes(work)
            return 0
        result = run(args, work, kept_or_child_wall_s(args) if args.trace else None)
        if not args.trace:
            remember_wall_s(args, result["metrics"]["wall_s"]["value"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - STARTED:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
