#!/usr/bin/env python3
"""tsfresh_spark benchmark: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload tokens_extract --seed 1 --seconds 6 --trace 0

Run from the root of a checkout (the directory holding ``tsfresh_spark/`` and
``BENCHMARK.json``).  The run starts a ``local[N]`` Spark session with N the
number of usable cores, makes the workload's inputs from ``--seed``, runs one
untimed warm-up job, then submits one job at a time until ``--seconds`` of job
time have been measured.  Every job's output is checked.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates traced and untraced jobs, runs the per-layer probes and reports
the per-layer metrics.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it are a
human-readable summary.  Spans of a traced run are written to
``.perfbench/traces/``; scratch data lives in ``.perfbench/work-<pid>/`` and is
removed on exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402


def process_age() -> float:
    """Seconds since this process was created, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_T0 = process_age()
ROOT = os.getcwd()


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "smoke"), default="full",
        help="input size; 'smoke' is the seconds-long size the benchmark's tests use",
    )
    ap.add_argument(
        "--min-jobs", type=int, default=1, metavar="K",
        help="run at least K timed jobs, however long they take",
    )
    ap.add_argument(
        "--corrupt-job", type=int, default=None, metavar="K",
        help="tamper with timed job K's output before it is checked (the "
        "benchmark's tests use it to see the failure counted)",
    )
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work``, let the Python
    workers import the checkout's package, and give every process one BLAS
    thread: N workers on N cores must not oversubscribe them, and the
    driver-side recomputation of the sampled features must run with the
    same threading as the workers to match them bit for bit.  Must run
    before numpy is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(cores: int, work: str):
    from tsfresh_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # a fixed, small heap: with build_session's 8g default the JVM's
            # resident set follows GC timing and peak_rss_mb spreads past
            # its bound across seeds (perfbench/README.md)
            "spark.driver.memory": "512m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context and the JVM behind it, then wait for every
    process this one started (the JVM and its Python workers)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from proctree import descendants, reap

    started = descendants(os.getpid())
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(started)


@contextlib.contextmanager
def stage_profile(spark, tracer, enabled: bool):
    """StageProfiler around a traced job; its two status-store snapshots
    are part of the tracing overhead."""
    if not enabled:
        yield None
        return
    from tsfresh_spark.plans.profiling import StageProfiler

    prof = StageProfiler(spark)
    with tracer.span("plans.StageProfiler.enter"):
        prof.__enter__()
    yield prof
    with tracer.span("plans.StageProfiler.exit"):
        prof.__exit__(None, None, None)


def run_job(workload, spark, tracer, null, *, traced: bool, run_id: str, corrupt: bool = False) -> dict:
    """One job: timed submit-to-result, then untimed read-back and checks."""
    tracer.run_id = run_id
    t = tracer if traced else null
    rec = {"run_id": run_id, "traced": traced, "out": None, "plans": None, "errors": []}
    start = time.perf_counter()
    try:
        with t.span("job"):
            with stage_profile(spark, t, traced) as prof:
                out = workload.job(t)
        rec["seconds"] = time.perf_counter() - start
        rec["end"] = time.perf_counter()
        rec["plans"] = prof.summary() if prof is not None else None
        out = workload.observe(out, tracer)
        if corrupt:
            workload.corrupt(out)
        rec["errors"] = workload.check(out)
        rec["out"] = out
    except Exception as exc:  # a failed job is counted, and the loop goes on
        rec.setdefault("seconds", time.perf_counter() - start)
        rec.setdefault("end", time.perf_counter())
        rec["errors"] = [f"job raised {exc!r}"]
    for err in rec["errors"]:
        print(f"[{workload.name} {run_id}] check failed: {err}", file=sys.stderr)
    return rec


def measure(workload, spark, tracer, null, seconds: float, trace: bool,
            min_jobs: int, corrupt_job: int | None):
    """Closed loop: submit the next job when the previous one is done, until
    ``seconds`` of job time are measured and at least ``min_jobs`` jobs ran.
    A traced run alternates untraced and traced jobs and has at least one of
    each."""
    jobs = []
    spent = 0.0
    while True:
        kinds = {j["traced"] for j in jobs}
        if spent >= seconds and len(jobs) >= max(min_jobs, 1) and (not trace or len(kinds) == 2):
            break
        k = len(jobs)
        rec = run_job(
            workload, spark, tracer, null,
            traced=trace and k % 2 == 1, run_id=f"job{k}", corrupt=corrupt_job == k,
        )
        spent += rec["seconds"]
        jobs.append(rec)
    return jobs


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def single_core_points_per_s(workload, work: str, seconds: float) -> float:
    """Throughput of tokens_extract at ``local[1]`` on the docs the
    ``local[N]`` run used: a new session, one warm-up job, then the median
    of at least two jobs."""
    from tracing import NullTracer

    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    workload.rebind(start_session(1, work))
    null = NullTracer()
    workload.job(null)
    times = []
    while sum(times) < seconds or len(times) < 2:
        a = time.perf_counter()
        workload.job(null)
        times.append(time.perf_counter() - a)
    return workload.points / statistics.median(times)


def per_layer_metrics(args, workload, tracer, jobs, cores, work) -> dict:
    """Every per-layer metric this workload exercises; a layer the workload
    never calls is left out and reads 0."""
    tracer.run_id = "probes"
    m = workload.layer_metrics(tracer, jobs)
    m["sources.gen_s"] = sum(
        s["end"] - s["start"] for s in tracer.spans
        if s["run_id"] == "setup" and s["name"].startswith("sources.")
    )
    traced = [j for j in jobs if j["traced"] and j["plans"] is not None]
    untraced = [j["seconds"] for j in jobs if not j["traced"] and not j["errors"]]

    def med(f):
        return statistics.median(f(j) for j in traced)

    m["plans.task_s"] = med(lambda j: j["plans"]["executor_run_time_ms"] / 1000.0)
    m["plans.slot_util"] = med(
        lambda j: j["plans"]["executor_run_time_ms"] / 1000.0 / (j["seconds"] * cores)
    )
    m["plans.stages"] = med(lambda j: float(j["plans"]["num_stages"]))
    m["plans.tasks"] = med(lambda j: float(j["plans"]["num_tasks"]))
    m["plans.shuffle_bytes"] = med(lambda j: float(j["plans"]["shuffle_write_bytes"]))
    m["plans.spill_bytes"] = med(
        lambda j: float(j["plans"]["memory_spilled_bytes"] + j["plans"]["disk_spilled_bytes"])
    )
    m["kernels.task_share"] = (
        m["kernels.ms_per_series"] / 1000.0 * workload.feature_series / m["plans.task_s"]
        if m["plans.task_s"] else 0.0
    )
    traced_s = statistics.median(j["seconds"] for j in traced)
    m["trace.overhead_frac"] = traced_s / statistics.median(untraced) - 1.0
    if args.workload == "tokens_extract":
        points_per_s = workload.points / statistics.median(untraced)
        m["plans.speedup_1core"] = points_per_s / single_core_points_per_s(
            workload, work, args.seconds / 2
        )
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tsfresh_spark")):
        print(f"perfbench: no tsfresh_spark/ package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    prepare_environment(work)

    from proctree import PeakRss
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    null = NullTracer()
    tracer = Tracer() if args.trace else null
    rss = PeakRss().start()
    try:
        spark = start_session(cores, work)
        workload = WORKLOADS[args.workload](spark, args.seed, args.size, work, cores)
        workload.generate(tracer)
        warm = run_job(workload, spark, tracer, null, traced=False, run_id="warmup")
        if warm["out"] is None:
            raise RuntimeError(f"warm-up job failed: {warm['errors'][0]}")
        setup_s = AGE_AT_T0 + (warm["end"] - T0)
        jobs = measure(
            workload, spark, tracer, null, args.seconds, bool(args.trace),
            min_jobs=args.min_jobs, corrupt_job=args.corrupt_job,
        )
        peak_mb = rss.stop()
        all_jobs = [warm, *jobs]
        failed = sum(1 for j in all_jobs if j["errors"])
        ok_times = [j["seconds"] for j in jobs if j["out"] is not None and not j["traced"]]
        if not ok_times:
            raise RuntimeError("no timed job completed")
        q1, job_s, q3 = quartiles(ok_times)
        if args.trace:
            values = per_layer_metrics(args, workload, tracer, jobs, cores, work)
            wanted = spec["per_layer"]
            os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"
            ))
        else:
            values = {
                "setup_s": setup_s,
                "job_s": job_s,
                "points_per_s": workload.points / job_s,
                "peak_rss_mb": peak_mb,
            }
            wanted = spec["end_to_end"]
    finally:
        rss.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"points {workload.points}  jobs {len(jobs)} timed + 1 warm-up")
    print(f"  job_s quartiles {q1:.4f} / {job_s:.4f} / {q3:.4f} s over {len(ok_times)} untraced jobs: "
          + " ".join(f"{t:.3f}" for t in ok_times))
    print(f"  failed_frac {failed / len(all_jobs):.4f} ({failed} of {len(all_jobs)} jobs)")
    if args.workload == "rollup_cascade":
        last = next(j["out"] for j in reversed(all_jobs) if j["out"] is not None)
        print(f"  stored_bytes_per_point {workload.stored_bytes(last) / workload.points:.4f} B")
    for name, m in metrics.items():
        print(f"  {name:38s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_jobs),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
