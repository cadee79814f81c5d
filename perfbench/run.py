"""Benchmark runner for the wikistream-spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see BENCHMARK.json and
perfbench/NOTES.md): ``pipeline``, ``query_mix``.
With ``--trace 0`` the last stdout line carries every end-to-end metric
of BENCHMARK.json; with ``--trace 1`` every per-layer metric. The line
before it holds the workload's own figures and any failures. Everything
the run writes goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "query_mix")
# two task slots on a 4-core host leave a core for the Python driver and
# its workers and one for the JVM's compiler and GC threads, so a run
# measures the engine rather than the scheduler (at this size local[2]
# also beat local[4]: see perfbench/NOTES.md)
CPUS = 2
DRIVER_MEMORY = "2g"
# a fixed heap and capped JIT and GC thread counts: the JVM's own
# threads stay within the cores the run leaves free
JVM_OPTIONS = (
    f"-Xms{DRIVER_MEMORY} -XX:CICompilerCount=2 -XX:ParallelGCThreads={CPUS} -XX:ConcGCThreads=1"
)


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _rss_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _wait_for_jvm() -> None:
    """End the JVM this process launched and wait for it to exit (it
    quits when its stdin closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _session(work: str, cpus: int, event_log: str | None):
    from wikistream_event_data_pipeline_aws_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTIONS}",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        driver_memory=DRIVER_MEMORY,
        extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    harness_path = os.path.join(ROOT, "tests", "oracle_harness.py")
    if not os.path.isdir(os.path.join(ROOT, "wikistream_event_data_pipeline_aws_spark")):
        _die(f"engine package not found under {ROOT}; run from a full checkout")
    # measure this checkout's engine, never an installed copy
    sys.path.insert(0, ROOT)
    if not os.path.isfile(harness_path):
        _die("tests/oracle_harness.py not found; run from a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.makedirs(os.path.join(work, "history"), exist_ok=True)
    # keep every temporary file of this process, its JVM and its Python
    # workers inside the checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    sys.path.insert(0, HERE)
    import tracing
    import workloads
    from stats import Ledger

    hspec = importlib.util.spec_from_file_location("perfbench_oracle_harness", harness_path)
    harness = importlib.util.module_from_spec(hspec)
    hspec.loader.exec_module(harness)

    traced = bool(a.trace)
    cpus = min(CPUS, os.cpu_count() or CPUS)
    event_log = os.path.join(run_dir, "eventlog") if traced else None
    tracer = tracing.Tracer(traced, uuid.uuid4().hex[:12])
    ledger = Ledger()

    t = time.perf_counter()
    with tracer.span("setup.session"):
        spark = _session(run_dir, cpus, event_log)
    session_s = time.perf_counter() - t
    jobs = tracing.JobTags(spark) if traced else None
    ctx = workloads.Ctx(spark, run_dir, a.seed, a.seconds, tracer, ledger, jobs, harness)

    phases = None
    try:
        if a.workload == "pipeline":
            phases = workloads.pipeline(ctx)
        else:
            workloads.query_mix(ctx, *workloads.load_mix(os.path.join(HERE, "query_mix.json")))
    except Exception as e:  # noqa: BLE001 - reported in the result, not lost
        traceback.print_exc()
        ledger.attempt()
        ledger.fail("workload", f"raised {type(e).__name__}: {e}".splitlines()[0][:300])
    if not ctx.fixture_s or not ctx.ready_t:
        ctx.fixture_s, ctx.ready_t = ctx.fixture_s or [0.0], ctx.ready_t or time.perf_counter()

    # set-up: process start until ready, with the repeated fixture
    # builds counted once at their median
    fixtures = ctx.fixture_s
    setup_s = ctx.ready_t - T_START - sum(fixtures) + statistics.median(fixtures)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss = _rss_mb("self") + _rss_mb(jvm_pid)
    ctx.layer["memory.peak_rss_mb"] = peak_rss
    ctx.detail.update(
        peak_rss_mb=peak_rss,
        setup_s=setup_s,
        session_s=session_s,
        warm_s=ctx.warm_s,
        fixture_s=statistics.median(fixtures),
        failure_ratio=ledger.failure_ratio,
        failure_base=ledger.attempted,
    )

    history = os.path.join(work, "history", f"{a.workload}.jsonl")
    if traced:
        L = ctx.layer
        L["ops.failure_ratio"] = ledger.failure_ratio
        spark.stop()
        ev = tracing.parse_event_log(event_log)
        for k in ("executor_run_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            L[f"spark.{k}"] = ev[k]
        if phases is not None:
            # the single-threaded baseline: the same drain and initial
            # cycle on local[1], in a fresh session of the same JVM
            sse, med = phases
            spark = _session(run_dir, 1, None)
            ctx.spark = spark
            sse_one, med_one = sse.single_core(), med.single_core()
            spark.stop()
            L["single_core.drain_events_per_s"] = sse_one
            L["single_core.initial_cycle_s"] = med_one
            multi_eps = L.get("sse.drain_events_per_s", 0.0)
            multi_cycle = L.get("medallion.initial_cycle_s", 0.0)
            L["single_core.drain_speedup"] = multi_eps / sse_one if sse_one else 0.0
            L["single_core.cycle_speedup"] = med_one / multi_cycle if multi_cycle else 0.0
        untraced = []
        if os.path.exists(history):
            with open(history) as f:
                untraced = [json.loads(line)["run_s"] for line in f if line.strip()]
        L["trace.run_s"] = ctx.e2e.get("run_s", 0.0)
        L["trace.untraced_runs"] = len(untraced)
        L["trace.overhead_s"] = L["trace.run_s"] - statistics.median(untraced) if untraced else 0.0
        tracer.dump(os.path.join(work, f"spans-{a.workload}.jsonl"))
        names = spec["per_layer"]
        values = L
    else:
        ctx.e2e["setup_s"] = setup_s
        spark.stop()
        if "run_s" in ctx.e2e:
            with open(history, "a") as f:
                f.write(json.dumps({"seed": a.seed, "run_s": ctx.e2e["run_s"]}) + "\n")
        names = spec["end_to_end"]
        values = ctx.e2e

    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing and not traced:
        ledger.attempt()
        ledger.fail("metrics", f"not measured: {missing}")
    print(json.dumps({"workload": a.workload, "detail": ctx.detail, "failures": ledger.failures[:20]}, default=str))
    _wait_for_jvm()
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": max(1, ledger.attempted),
                "failed": ledger.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
