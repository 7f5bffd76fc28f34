"""CDC engine benchmark: run one workload on one seed, print one result.

    python3 perfbench/run.py --workload tail --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout; the engine is imported from
there.  Everything the run writes stays under ``.perfbench_work/`` in the
current directory.  The last line of standard output is a JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  A fuller record of the run (seed,
host, versions, every metric, tracing overhead) is written to
``.perfbench_work/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
DRIVER_MEMORY = "1g"
WARMUP_SCALE = 0.1


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build_spark(work: str, event_log: str | None):
    from pyspark.sql import SparkSession

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = local        # pyspark's gateway hand-off files
    # both JVMs (spark-submit's launcher and the driver) keep their temp
    # and perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
    b = (SparkSession.builder.master(f"local[{nproc()}]")
         .appName("cdc-perfbench")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.driver.extraJavaOptions",
                 # the whole heap from the start: peak RSS then tracks
                 # off-heap and Python memory instead of heap growth
                 f"-Xms{DRIVER_MEMORY} -Xlog:disable")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(2 * nproc()))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()      # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of this machine so far: steal is time the
    hypervisor ran something else while a CPU here had work."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def git_commit() -> str | None:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=HERE,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def run(workload: str, seed: int, seconds: int, trace: bool,
        root: str, spark=None, corrupt=None, warm: bool = True) -> dict:
    """One benchmark run.  Returns the full record; ``record["result"]``
    is the line the command prints.  ``spark`` reuses a session (the
    self-test); ``corrupt(table)`` damages the table before the oracle
    check (the self-test's negative case); ``warm=False`` skips the
    warm-up pass."""
    from tracing import Tracer, coverage, spark_metrics, span_metrics
    from workloads import WORKLOADS, Ctx

    spec = load_spec()
    run_id = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(root, "runs", run_id)
    event_log = os.path.join(work, "eventlog") if trace and spark is None else None
    own_spark = spark is None
    steal0, total0 = cpu_ticks()
    t0 = time.perf_counter()
    if own_spark:
        spark = build_spark(work, event_log)
    spark_start_s = time.perf_counter() - t0
    tracer = Tracer(trace, run_id, spark)
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(trace), "nproc": nproc(),
              "spark_version": spark.version,
              "java_version": spark._jvm.System.getProperty("java.version"),
              "driver_memory": spark.conf.get("spark.driver.memory",
                                              DRIVER_MEMORY),
              "git_commit": git_commit(), "spark_start_s": spark_start_s}
    fn = WORKLOADS[workload]
    ctx = Ctx(spark, work, seed, seconds, tracer, corrupt=corrupt)
    if warm:
        # the same code path at toy size, in its own directory, untimed
        ctx.warm = lambda: fn(Ctx(
            spark, os.path.join(work, "warmup"), seed,
            seconds * WARMUP_SCALE, Tracer(False, run_id), warmup=True))
    out, layer = {}, {}
    try:
        t0 = time.perf_counter()
        try:
            tracer.install()
            try:
                out = fn(ctx)
            finally:
                tracer.uninstall()
        except Exception:  # the run's one failure boundary: report it
            ctx.op(False, traceback.format_exc())
        record["warmup_s"] = ctx.warmup_s
        record["measure_s"] = time.perf_counter() - t0
        steal1, total1 = cpu_ticks()
        # timings from runs with a high share are slow for reasons
        # outside the program
        record["host_steal_share"] = (steal1 - steal0) / max(
            total1 - total0, 1)
        out["peak_rss_mb"] = peak_rss_mb(spark)
        layer = out.pop("layer", {})
        if trace and tracer.spans:
            layer.update(span_metrics(tracer))
            layer.setdefault("trace.coverage",
                             coverage(tracer, "engine.run_available"))
            tracer.write(os.path.join(root, "traces", f"{run_id}.jsonl"))
        if own_spark:
            stop_spark(spark)
            if event_log:
                layer.update(spark_metrics(event_log, tracer))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record.update(attempted=ctx.attempted, failed=ctx.failed,
                  errors=ctx.errors, e2e=out, layer=layer)

    kind = "per_layer" if trace else "end_to_end"
    metrics = {}
    ok = ctx.failed == 0
    for m in spec[kind]:
        v = (layer if trace else out).get(m["name"], 0 if trace else None)
        if v is None:
            ok = False
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    record["result"] = {"correct": ok and ctx.attempted > 0,
                        "attempted": max(ctx.attempted, 1),
                        "failed": ctx.failed, "metrics": metrics}
    _save(root, record)
    return record


def _save(root: str, record: dict) -> None:
    """Write the run record; a traced run also records its overhead
    against the latest untraced run of the same workload and seed."""
    res = os.path.join(root, "results")
    os.makedirs(res, exist_ok=True)
    key = f"{record['workload']}-s{record['seed']}"
    if record["trace"]:
        base = os.path.join(res, f"{key}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["e2e"]
            record["tracing_overhead"] = {
                k: v - untraced[k] for k, v in record["e2e"].items()
                if isinstance(v, (int, float)) and k in untraced}
    with open(os.path.join(res, f"{key}-t{record['trace']}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    try:
        import debezium_connector_db2_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from "
              f"{os.getcwd()}: {e}", file=sys.stderr)
        return 2
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        print(f"perfbench: unknown workload {a.workload!r}; one of {names}",
              file=sys.stderr)
        return 2
    root = os.path.join(os.getcwd(), ".perfbench_work")
    rec = run(a.workload, a.seed, a.seconds, bool(a.trace), root)
    for e in rec["errors"]:
        print(f"perfbench: failure: {e}", file=sys.stderr)
    print(json.dumps(rec["result"]), flush=True)
    return 0 if rec["result"]["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
