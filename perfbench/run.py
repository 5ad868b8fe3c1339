"""Link-graph benchmark: one named workload, one seed, one Spark driver process.

    python3 perfbench/run.py --workload powerlaw_converge --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The lines
before it are a readable report (quartiles, sample counts, self times).

A run starts the session, prepares the inputs from the seed, builds the
oracle (cached on disk per input), runs an untimed warm-up pass (see
Workload.warmup), then runs timed passes until the next pass would end past
--seconds (at least one; with --trace 1 at least two, untraced and traced
alternating). After each pass the outputs are checked against the oracle,
the engine counters of its job group are read, and the session cache is
cleared. setup_s is the cold path a user pays once per
process (session, inputs, warm-up pass; not the oracle); a repeat inside
the same process would run warm and measure something no user pays, so it
is measured once.

Run configuration, set here before the JVM starts:
  - master local[nproc] from this one process; shuffle partitions are the
    engine default, max(nproc, 8);
  - SPARK_GRAFT_DRIVER_MEM=3g: pcd_spark/session.py defaults the driver heap
    to 32g, more than a 15 GB machine shared with other work can give;
  - PYTHONPATH holds the checkout root, so the pandas-UDF workers (which
    synth_corpus's mapInPandas runs in) can import pcd_spark;
  - SPARK_LOCAL_DIRS, TMPDIR and java.io.tmpdir point into .bench_work/ in
    the checkout, which the run deletes when it ends; oracles are cached in
    .bench_cache/;
  - spark.ui.retainedJobs/retainedStages are raised so that the status
    store keeps every stage of a pass; a pass with a stage the store lost
    fails the run, because its task counts would be short;
  - --seed picks the generated inputs; the same seed gives the same inputs.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench.tracing import (  # noqa: E402
    Tracer,
    edges_per_s,
    percentile,
    quartiles,
    self_times,
    tail_percentile,
    union_length,
)

DRIVER_MEM = "3g"
RETAINED = "200000"  # jobs and stages kept by the status store


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(work: Path) -> None:
    for d in ("spark-local", "tmp"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")


# ---------------------------------------------------------------------------
# engine counters and gauges
# ---------------------------------------------------------------------------


def engine_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and tasks of one pass's job group, from the status
    store, plus the engine's busy time (union of job run intervals)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    intervals = []
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            raise RuntimeError(f"status store lost job {j} of {group}")
        stage_ids.update(info.stageIds)
        data = store.job(j)
        if data.submissionTime().isDefined() and data.completionTime().isDefined():
            intervals.append(
                (data.submissionTime().get().getTime() / 1e3, data.completionTime().get().getTime() / 1e3)
            )
    stages = tasks = failed = 0
    for s in stage_ids:
        info = tracker.getStageInfo(s)
        if info is None:
            raise RuntimeError(f"status store lost stage {s} of {group}")
        if info.numCompletedTasks + info.numFailedTasks > 0:  # skipped stages ran nothing
            stages += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    busy = union_length(intervals, float("-inf"), float("inf"))
    return {
        "spark.jobs": len(jobs),
        "spark.stages": stages,
        "spark.tasks": tasks,
        "spark.failed_tasks": failed,
        "spark.busy_s": busy,
    }


def cached_mb(spark) -> float:
    """Block-manager memory held by cached and locally checkpointed RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 2**20


def jvm_heap_peak_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    peak = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            peak += pool.getPeakUsage().getUsed()
    return peak / 2**20


def release(spark) -> None:
    """Pass hygiene: drop cached tables and let the JVM reclaim
    checkpoint blocks whose DataFrames are gone."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


# ---------------------------------------------------------------------------
# process lifetime
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the JVM, the Python worker daemon and its workers) is gone."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                os.kill(p, signal.SIGKILL)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

#: layers whose self time a traced pass reports; an idle layer reports 0.
#: The session layer is not among them: set-up runs untraced, and the
#: session's one call is its start (session.start_s).
SELF_LAYERS = (
    "corpus", "graph.partition", "graph.superstep", "graph.pagerank",
    "graph.lpa", "graph.cc", "graph.triangles", "storage", "bench",
)


def layer_metrics(p, spans, counters: dict, wl, setup: dict) -> dict[str, float]:
    def dur(name):
        return sum(s.dur for s in spans if s.name == name)

    def attributed(name):
        return sum(sum(s.attributed.values()) for s in spans if s.name == name)

    st = p.stats
    steps = [x for _, ss in p.superstep_calls for x in ss]
    tail = tail_percentile(steps)
    derive_s = dur("corpus.derive")
    cold = getattr(wl, "cold_steps", 0)
    resume = st.get("storage.resume_supersteps", 0)
    m = {
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "corpus.derive_s": derive_s,
        "corpus.files_per_s": st.get("corpus.files", 0) / derive_s if derive_s else 0.0,
        "corpus.edges": st.get("corpus.edges", 0),
        "corpus.incremental_s": dur("corpus.incremental"),
        "corpus.incremental_files": st.get("corpus.incremental_files", 0),
        "graph.partition.num_parts": st.get("graph.partition.num_parts", 0),
        "graph.superstep.steps": len(steps),
        "graph.superstep.step_p50_s": statistics.median(steps) if steps else 0.0,
        "graph.superstep.step_tail_s": tail[1] if tail else 0.0,
        "graph.superstep.first_step_s": statistics.median(p.first_steps) if p.first_steps else 0.0,
    }
    for algo in ("pagerank", "lpa"):
        name = f"graph.{algo}"
        m[f"{name}.s"] = dur(name)
        m[f"{name}.supersteps"] = st.get(f"{name}.supersteps", 0)
        m[f"{name}.setup_s"] = dur(name) - attributed(name)
    m.update({
        "graph.cc.s": dur("graph.cc"),
        "graph.cc.supersteps": st.get("graph.cc.supersteps", 0),
        "graph.triangles.s": dur("graph.triangles"),
        "graph.triangles.total": st.get("graph.triangles.total", 0),
        "storage.checkpoint_s": dur("storage.checkpoint"),
        "storage.checkpoints": st.get("storage.checkpoints", 0),
        "storage.bytes_written_mb": st.get("storage.bytes_written", 0) / 2**20,
        "storage.commit_s": dur("storage.commit"),
        "storage.resume_supersteps": resume,
        "storage.resume_saved_ratio": 1.0 - resume / cold if cold else 0.0,
    })
    m.update(counters)
    selfs = self_times(spans)
    m["session.self_s"] = setup["start_s"]
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    return m


def run(args, work: Path) -> tuple[dict, list[str]]:
    from pcd_spark.session import get_spark

    from perfbench.workloads import WORKLOADS, Pass

    report: list[str] = []
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        cores=cores,
        extra_confs={
            "spark.ui.retainedJobs": RETAINED,
            "spark.ui.retainedStages": RETAINED,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # ready means a job has run
        start_s = time.perf_counter() - t0

        tracer = Tracer(enabled=False)
        wl = WORKLOADS[args.workload](spark, args.seed, str(work / "data"), str(ROOT / ".bench_cache"), tracer)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.build_oracle()
        oracle_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        release(spark)
        warmup_s = time.perf_counter() - t
        setup = {"start_s": start_s, "warmup_s": warmup_s}
        setup_s = start_s + prepare_s + warmup_s
        report.append(
            f"setup_s {setup_s:.3f} = session {start_s:.3f} + inputs {prepare_s:.3f} + warm-up {warmup_s:.3f}"
        )
        report.append(f"oracle_s {oracle_s:.3f} (outside setup_s and the passes)")

        sc = spark.sparkContext
        passes = []
        t_first = time.perf_counter()
        while True:
            n = len(passes) + 1
            traced = bool(args.trace) and n % 2 == 0
            tracer.enabled, tracer.pass_id = traced, f"pass-{n}"
            wl.before_pass(n)
            group = f"perfbench-pass-{n}"
            sc.setJobGroup(group, group)
            p = Pass(tracer)
            t_pass = time.perf_counter()
            with tracer.span("bench.pass"):
                wl.run_pass(p, n)
            job_s = time.perf_counter() - t_pass
            sc.setLocalProperty("spark.jobGroup.id", None)
            counters = engine_counters(spark, group)
            counters["spark.cached_mb_after_pass"] = cached_mb(spark)
            counters["spark.jvm_hwm_mb"] = jvm_heap_peak_mb(spark)
            wl.check(p)
            spans = tracer.of_pass(tracer.pass_id)
            layers = layer_metrics(p, spans, counters, wl, setup) if traced else None
            eps = edges_per_s(p.superstep_calls) if p.superstep_calls and not p.failures else None
            passes.append(
                {"traced": traced, "job_s": job_s, "edges_per_s": eps, "attempted": p.attempted,
                 "failures": p.failures, "layers": layers, "steps": [x for _, s in p.superstep_calls for x in s]}
            )
            report.append(
                f"pass {n} {'traced' if traced else 'untraced'} job_s {job_s:.3f} "
                f"ops {p.attempted} failed {len(p.failures)} jobs {counters['spark.jobs']} "
                f"tasks {counters['spark.tasks']} cached_mb {counters['spark.cached_mb_after_pass']:.1f}"
            )
            report.extend(f"  FAILED {f}" for f in p.failures)
            p.out.clear()
            release(spark)
            elapsed = time.perf_counter() - t_first
            last = elapsed / len(passes)
            if len(passes) >= (2 if args.trace else 1) and elapsed + last > args.seconds:
                break

        attempted = sum(x["attempted"] for x in passes)
        failed = sum(len(x["failures"]) for x in passes)
        plain = [x for x in passes if not x["traced"]]
        jobs = [x["job_s"] for x in plain]
        q1, med, q3 = quartiles(jobs)
        report.append(f"job_s median {med:.3f} q1 {q1:.3f} q3 {q3:.3f} n={len(jobs)}")
        if args.trace:
            traced = [x for x in passes if x["traced"]]
            keys = traced[0]["layers"].keys()
            metrics = {k: statistics.median(x["layers"][k] for x in traced) for k in keys}
            overhead = statistics.median(x["job_s"] for x in traced) - med
            metrics["trace.overhead_s"] = overhead
            steps = [s for x in traced for s in x["steps"]]
            p90 = percentile(steps, 0.9)
            report.append(
                f"graph.superstep.step_p90_s {p90:.4f}" if p90 is not None
                else f"graph.superstep.step_p90_s not reported: {len(steps)} samples, p90 needs 100"
            )
            report.append(f"tracing overhead {overhead:+.3f} s = traced job_s - untraced job_s")
            report.append("self time per layer (median over traced passes):")
            for layer in ("session", *SELF_LAYERS):
                report.append(f"  {layer:<18} {metrics[f'{layer}.self_s']:9.3f} s")
            report.append(
                f"  {'spark':<18} {metrics['spark.busy_s']:9.3f} s busy (jobs running; "
                "the engine runs under every span above, so this overlaps them)"
            )
        else:
            eps = [x["edges_per_s"] for x in plain if x["edges_per_s"] is not None]
            metrics = {
                "setup_s": setup_s,
                "job_s": med,
                "edges_per_s": statistics.median(eps) if eps else 0.0,
                "success_rate": 1.0 - failed / attempted,
            }
        report.append(f"success_rate {1.0 - failed / attempted:.4f} (attempted {attempted}, failed {failed})")
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        return result, report
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "pcd_spark" / "__init__.py").is_file():
        print(f"perfbench: no pcd_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}

    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _configure_env(work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    missing = set(units) - set(result["metrics"])
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for line in report:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
