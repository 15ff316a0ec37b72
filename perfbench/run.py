"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pgx_clinic --seed 1 --seconds 5 \
        --trace 0

Run it from the root of a checkout. One run: set up (JVM and Spark
session, warm-up, seeded inputs) once, from process start; run the
workload's pass of fixed work in a closed loop with one client until
``--seconds`` have passed (at least one pass); check every output
outside the timed window; stop Spark and wait for its JVM to exit.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, parses it offline into per-span engine counters and
prints the per-layer metrics. The last line of stdout is the result
object; the line before it holds the host/config fingerprint and every
span. Exits non-zero without a result if the program cannot be run.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import spans  # noqa: E402

#: Spans whose job counts are per-layer metrics; a span that a workload
#: never opens reads 0 jobs. Their times are in the detail line only, so
#: that no per-layer time is a constant 0 on some workload.
LAYER_SPANS = (
    ["pipeline.run_job"]
    + [f"pipeline.stage.{s}" for s in (
        "variant", "hetVariant", "geneHaplotype", "novelHaplotype",
        "genotype", "genePhenotype", "phenotypeDrugRecommendation",
        "genotypeDrugRecommendation")]
    + ["report.pdr", "report.gdr", "warehouse.materialize",
       "curation.build", "curation.write"]
    + [f"queries.{m}" for m in (
        "queries", "dedup", "text", "similarity", "sampling", "multimodal",
        "web", "bloom", "html")]
    + [f"query.{q}" for q in (
        "q_dedup_spans", "q_dedup_verified_pairs", "q_dedup_simhash_pairs",
        "q_ann_sq_adc", "q_ann_pq_adc", "q_report_collapse", "q_fk_resolve")]
)


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def driver_heap(mem_mb: float) -> str:
    """A quarter of the host's memory, 2-16 GiB: the library's own
    default asks for 16g, more than small hosts have."""
    return f"{max(2, min(16, int(mem_mb / 1024 / 4)))}g"


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def jvm_opts(work: str) -> str:
    """Keep JVM temp files in the work directory and skip hsperfdata."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"


def session_confs(work: str, heap: str, trace: bool) -> dict[str, str]:
    confs = {
        "spark.driver.memory": heap,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "sql-warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts(work),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return confs


def warm(spark) -> None:
    """Start the Python workers and Arrow path with a tiny grouped
    pandas job, as the pipeline's het kernel does."""
    df = spark.range(64).selectExpr("id % 4 AS k", "id AS v")
    df.groupBy("k").applyInPandas(lambda pdf: pdf, df.schema).count()


def stop(spark) -> None:
    """Stop Spark, close the gateway and wait until the JVM has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def heap_after_gc_mb(spark) -> float:
    """Driver heap in use after a full collection: what the program
    still holds."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def storage(spark) -> dict[str, float]:
    jsc = spark.sparkContext._jsc
    cached = sum(i.memSize() + i.diskSize()
                 for i in jsc.sc().getRDDStorageInfo())
    return {"persisted_rdds": jsc.getPersistentRDDs().size(),
            "cached_mb": cached / 2**20}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import haplorec_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    from haplorec_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    mem_mb = mem_total_mb()
    heap = driver_heap(mem_mb)
    work = os.path.join(os.getcwd(), ".perfbench-work", str(os.getpid()))
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import the program; every temp file stays in work.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts(work)
    confs = session_confs(work, heap, bool(args.trace))

    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{nproc}]", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        t_up = time.perf_counter()
        warm(spark)
        t_warm = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, args.seed, work)
        t_set = time.perf_counter()
        setup = {"setup_s": t_set - T_PROCESS,
                 "session.start_s": t_up - T_PROCESS,
                 "session.warm_s": t_warm - t_up,
                 "inputs_s": t_set - t_warm}

        tracer = spans.Tracer(spark.sparkContext)
        passes, ops = [], []
        t_run = time.perf_counter()
        while True:
            t = time.perf_counter()
            with tracer.span("pass"):
                ops += wl.run_pass(tracer, len(passes))
            passes.append(time.perf_counter() - t)
            store = storage(spark)
            if time.perf_counter() - t_run >= args.seconds:
                break

        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid)
        heap_mb = heap_after_gc_mb(spark)

        t_check = time.perf_counter()
        failures = {}
        tracer.sc.setJobGroup("perfbench-check", "check")
        for op in ops:
            try:
                errors = wl.check(op)
            except Exception:  # a check that raises fails its operation
                errors = [traceback.format_exc(limit=3)]
            if errors:
                failures[op.name] = errors[:5]
        fingerprint = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": nproc, "mem_total_mb": round(mem_mb),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "git_head": git_head(),
            "shuffle_partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"),
            "driver_heap": heap,
        }
        app_id = spark.sparkContext.applicationId
        t_stop = time.perf_counter()
        stop(spark)
        spark = None
        t_end = time.perf_counter()

        run_s = statistics.median(passes)
        detail = {"fingerprint": fingerprint, "passes_s": passes,
                  "setup": setup, "jvm_rss_mb_peak": rss_mb,
                  "heap_after_gc_mb": heap_mb, "check_s": t_stop - t_check,
                  "stop_s": t_end - t_stop, "failures": failures,
                  "ops": [op.name for op in ops],
                  "fail_frac": len(failures) / len(ops)}
        if hasattr(wl, "reference_bounds"):
            detail["reference_bounds"] = wl.reference_bounds(tracer.spans)
        if hasattr(wl, "geomean_s"):
            detail["query_s_geomean"] = wl.geomean_s(ops)
        if args.trace:
            groups = spans.parse_event_log(
                os.path.join(work, "events", app_id))
            table = spans.span_metrics(tracer.spans, groups)
            detail["spans"] = table
            detail["jobs_in_passes"] = sum(
                spans.jobs_submitted(groups, sp.start, sp.end)
                for sp in tracer.spans if sp.name == "pass")
            metrics = layer_metrics(table, passes, setup, store, rss_mb,
                                    heap_mb)
        else:
            metrics = {
                "setup_s": (setup["setup_s"], "s"),
                "run_s": (run_s, "s"),
            }
        print(json.dumps(detail))
        print(json.dumps({
            "correct": not failures, "attempted": len(ops),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def layer_metrics(table: list[dict], passes: list[float],
                  setup: dict[str, float], store: dict[str, float],
                  rss_mb: float, heap_mb: float) -> dict[str, tuple]:
    """Per-layer metrics of a traced run, per pass of fixed work. A
    named span counts the jobs of the spans nested in it too."""
    n = len(passes)

    def per_pass(key: str, name: str | None = None,
                 nested: bool = True) -> float:
        if name is None:
            return sum(r[key] for r in table) / n
        totals = (spans.subtree_totals(table, key) if nested
                  else [r[key] for r in table])
        return sum(t for r, t in zip(table, totals)
                   if r["name"] == name) / n

    out = {
        "session.start_s": (setup["session.start_s"], "s"),
        "session.warm_s": (setup["session.warm_s"], "s"),
        "traced.run_s": (statistics.median(passes), "s"),
    }
    for name in LAYER_SPANS:
        out[f"{name}.jobs"] = (per_pass("jobs", name), "count")
    for name in ("pipeline.stage.geneHaplotype", "pipeline.stage.hetVariant"):
        out[f"{name}.shuffle_mb"] = (per_pass("shuffle_mb", name), "MB")
    out["warehouse.materialize.mb_written"] = (
        per_pass("mb_written", "warehouse.materialize"), "MB")
    out["storage.persisted_rdds"] = (store["persisted_rdds"], "count")
    out["storage.cached_mb"] = (store["cached_mb"], "MB")
    out["jvm.rss_mb_peak"] = (rss_mb, "MB")
    out["jvm.heap_after_gc_mb"] = (heap_mb, "MB")
    # Whole-pass totals over every span of the pass; "pass" itself holds
    # the jobs that ran between its child spans.
    refs = per_pass("stage_refs")
    out.update({
        "pass.jobs": (per_pass("jobs"), "count"),
        "pass.stages": (per_pass("stages"), "count"),
        "pass.stages_skipped": (
            1 - per_pass("stages") / refs if refs else 0.0, "ratio"),
        "pass.tasks": (per_pass("tasks"), "count"),
        "pass.task_s": (per_pass("task_s"), "s"),
        "pass.driver_s": (per_pass("driver_s", "pass", nested=False), "s"),
        "pass.shuffle_mb": (per_pass("shuffle_mb"), "MB"),
        "pass.spill_mb": (per_pass("spill_mb"), "MB"),
        "pass.gc_s": (per_pass("gc_s"), "s"),
        "pass.task_failures": (per_pass("task_failures"), "count"),
    })
    return out


if __name__ == "__main__":
    sys.exit(main())
