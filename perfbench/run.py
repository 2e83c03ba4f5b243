#!/usr/bin/env python3
"""The repository benchmark: one process per workload, one closed-loop
client, every operation checked.

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The process starts a Spark session on
``local[<cores>]`` (``SPARK_GRAFT_CPUS`` = the cores this process may
use), generates its inputs from ``--seed``, runs every operation once
unrecorded (the cold pass), then runs passes over all operations, in an
order drawn from the seed, until ``--seconds`` have gone by. Between
operations it drops every cached and checkpointed frame, so no result
survives from one operation to the next.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run, in
which every other pass is traced (spans around the package's layer
functions, Spark's event log on) and the difference between traced and
untraced passes is reported as the tracing overhead. The line before it
(``report ...``) has the run's details: environment, sample counts,
failed operations by name and the workload's own layer metrics.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

import time

T0 = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_etl_pyspark_inmet_spark"
DRIVER_MEM = "1g"

# Functions of workloads.py. Their sizes keep one run (set-up, cold pass,
# timed passes) under a minute on a 4-core host; README.md has the budget.
WORKLOADS = ("pipelines", "queries")

# The end-to-end metrics the last line carries; the report line also has
# latency_tail_s, failed_ops_ratio and (pipelines) stored_bytes_per_input_byte.
END_TO_END = ("setup_s", "rows_per_s", "latency_p50_s", "peak_rss_mb")
EXEC = ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "scheduler_delay_s", "failed_tasks",
        "python_stages", "rows_to_python")


@dataclass
class Sample:
    op: str
    t0: float  # epoch seconds, for lining up with the event log
    t1: float
    traced: bool
    pass_no: int


@dataclass
class Run:
    samples: list[Sample] = field(default_factory=list)
    attempted: int = 0
    failures: list[str] = field(default_factory=list)


def _vmhwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU clock ticks used, reaped children included)."""
    table = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            with contextlib.suppress(OSError), open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
                table[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _jvm_pid(proc) -> int:
    """The JVM's pid: spark-submit execs java, but look one level down in
    case a shell stayed in between."""
    with open(f"/proc/{proc.pid}/comm") as f:
        if f.read().strip() == "java":
            return proc.pid
    return next((pid for pid, (ppid, _) in _processes().items() if ppid == proc.pid), proc.pid)


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it
    (the JVM and its Python workers)."""
    table = _processes()
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += table.get(pid, (0, 0))[1]
        todo += [child for child, (ppid, _) in table.items() if ppid == pid]
    return total / os.sysconf("SC_CLK_TCK")


def _host_probe_s() -> float:
    """Wall time of a fixed pure-Python loop, independent of the package:
    on a shared host it shows how fast the machine ran during this run."""
    t = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t


def _steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _environment(seed: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    commit = "unknown"
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            path = os.path.join(ROOT, ".git", ref[5:])
            if os.path.exists(path):
                with open(path) as f:
                    commit = f.read().strip()
    # A checkout without .git still identifies its code by this hash.
    source = hashlib.sha256()
    for dirpath, _, names in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for name in sorted(n for n in names if n.endswith(".py")):
            with open(os.path.join(dirpath, name), "rb") as f:
                source.update(f.read())
    with open("/proc/meminfo") as f:
        ram_kb = int(f.readline().split()[1])
    return {"commit": commit, "package_sha256": source.hexdigest()[:16],
            "nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(ram_kb / 2**20, 1), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__, "seed": seed}


def _start_spark(work: str, trace: bool):
    from airflow_etl_pyspark_inmet_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def _warm_up(spark, work: str) -> None:
    """Generic first-use costs: the first parquet scan and the Arrow
    Python worker pool. The UDF also proves the workers import the
    package from this checkout."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.functions import pandas_udf

    path = os.path.join(work, "warmup.parquet")
    pq.write_table(pa.table({"x": list(range(100))}), path)
    if spark.read.parquet(path).count() != 100:
        raise RuntimeError("the warm-up parquet scan lost rows")

    @pandas_udf("string")
    def package_file(x: pd.Series) -> pd.Series:
        import airflow_etl_pyspark_inmet_spark as pkg

        return pd.Series([pkg.__file__] * len(x))

    found = {r[0] for r in spark.range(4).select(package_file("id")).collect()}
    want = {os.path.join(ROOT, PACKAGE, "__init__.py")}
    if found != want:
        raise RuntimeError(f"Python workers import {found}, expected {want}")


def _drop_cached(spark) -> None:
    """Drop every cached and checkpointed frame and collect the driver's
    Python garbage, so each operation starts from the same state."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    gc.collect()


def _run_op(spark, op, span, run: Run, traced: bool, pass_no: int) -> Sample:
    _drop_cached(spark)
    t0 = time.time()
    try:
        with span(f"op.{op.name}"):
            out = op.run(spark, span)
        t1 = time.time()
    except Exception as e:  # an operation that raises is counted, and the run goes on
        t1 = time.time()
        traceback.print_exc(file=sys.stderr)
        out, reason = None, f"raised {type(e).__name__}: {str(e).splitlines()[0][:200]}"
    else:
        try:
            reason = op.check(out)
        except Exception as e:
            reason = f"check raised {type(e).__name__}: {e}"
    run.attempted += 1
    if reason:
        run.failures.append(f"{op.name}: {reason}")
        print(f"FAILED {op.name}: {reason}", file=sys.stderr)
    return Sample(op.name, t0, t1, traced, pass_no)


def _tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond) of the highest percentile with
    at least ten samples beyond it; the maximum when there are fewer than
    eleven samples."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, 0
    return s[n - 11], round(100 * (n - 10) / n, 1), 10


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in (os.path.join(ROOT, PACKAGE, "__init__.py"),
                 os.path.join(ROOT, "__spark_entry__.py"),
                 os.path.join(ROOT, "scripts", "oracle_check.py")):
        if not os.path.exists(need):
            print(f"perfbench: {need} is missing; run from a full checkout", file=sys.stderr)
            return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]

    try:
        t_spark = time.time()
        spark = _start_spark(work, bool(args.trace))
        try:
            t_warm = time.time()
            _warm_up(spark, work)
            t_ready = time.time()
            report = _measure(spark, work, args, {"session.get_spark_s": t_warm - t_spark,
                                                  "session.warmup_s": t_ready - t_warm,
                                                  "setup_s": t_ready - T0})
            jvm_rss = _vmhwm_mb(_jvm_pid(spark.sparkContext._gateway.proc))
        finally:
            _stop(spark)
        run = report.pop("_run")
        if args.trace:
            from eventlog import reduce_event_log

            events = os.path.join(work, "events")
            (log,) = [os.path.join(events, f) for f in os.listdir(events)]
            metrics = _layer_metrics(report, run, reduce_event_log(log), cores)
        else:
            driver_rss = _vmhwm_mb(os.getpid())
            report["rss_mb"] = {"driver": driver_rss, "jvm": jvm_rss}
            report["metrics"]["peak_rss_mb"] = (driver_rss + jvm_rss, "MB")
            metrics = {k: report["metrics"][k] for k in END_TO_END}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report.pop("_spans", None)
    report["wall_s"] = time.time() - T0
    print("report " + json.dumps(report, sort_keys=True, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _measure(spark, work: str, args, setup: dict) -> dict:
    from spans import Tracer

    import workloads

    t = time.time()
    prepared = getattr(workloads, args.workload)(work, args.seed)
    prepare_s = time.time() - t
    ops = prepared.ops
    run = Run()
    tracer = Tracer(spark) if args.trace else None
    tracing = False  # true while a traced pass runs

    def span(name):
        return tracer.span(name) if tracing else contextlib.nullcontext()

    t = time.time()
    for op in ops:
        _run_op(spark, op, span, run, False, -1)
    first_pass = time.time() - t

    rng = random.Random(args.seed)
    passes = 0
    t_start, cpu_start, steal_start = time.perf_counter(), _tree_cpu_s(), _steal_s()
    while time.perf_counter() - t_start < args.seconds or passes < (2 if args.trace else 1):
        tracing = bool(args.trace) and passes % 2 == 1
        if tracing:
            tracer.install(sink_name=_sink_name)
        order = list(ops)
        rng.shuffle(order)
        for op in order:
            run.samples.append(_run_op(spark, op, span, run, tracing, passes))
        if tracing:
            tracer.uninstall()
        passes += 1

    untraced = [s for s in run.samples if not s.traced]
    lat = [s.t1 - s.t0 for s in untraced]
    per_op = {}
    for s in untraced:
        per_op.setdefault(s.op, []).append(s.t1 - s.t0)
    tail, pct, beyond = _tail(lat)
    metrics = {
        "setup_s": (setup["setup_s"], "s"),
        "rows_per_s": (prepared.pass_rows / sum(statistics.median(v) for v in per_op.values()),
                       "rows/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail, "s"),
        "failed_ops_ratio": (len(run.failures) / run.attempted, "ratio"),
    }
    if "stored_bytes" in prepared.info:
        metrics["stored_bytes_per_input_byte"] = (
            statistics.median(prepared.info["stored_bytes"]) / prepared.info["csv_bytes"], "ratio")
    return {
        "workload": args.workload, "environment": _environment(args.seed),
        "input": prepared.info, "passes": passes, "samples": len(lat),
        "latency_tail_percentile": pct, "latency_tail_samples_beyond": beyond,
        "failed_ops": run.failures, "prepare_s": prepare_s, "first_pass_s": first_pass,
        "timed_s": time.perf_counter() - t_start, "timed_cpu_s": _tree_cpu_s() - cpu_start,
        "timed_steal_s": _steal_s() - steal_start, "host_probe_s": _host_probe_s(),
        **setup,
        "op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
        "metrics": metrics, "_run": run, "_spans": tracer.spans if tracer else [],
    }


def _sink_name(path: str) -> str:
    return f"plans.inmet_pipeline.write.{os.path.basename(path.rstrip('/'))}"


def _is_exec(name: str) -> bool:
    return name.endswith(".exec") or ".write." in name


def _layer_metrics(report: dict, run: Run, jobs, cores: int) -> dict:
    """Per-layer metrics of the traced passes, each the median over those
    passes of its per-pass value. Jobs are tied to spans by job group;
    pass-level ``spark.exec`` counters take every job that started inside
    a timed operation. The workload's own layer metrics (named after the
    span's layer and function) go to ``report["layers"]``."""
    from eventlog import busy_seconds, sum_jobs

    spans = report["_spans"]
    by_span: dict[int, list] = {}
    for j in jobs:
        if j.group and j.group.startswith("span-"):
            by_span.setdefault(int(j.group[5:]), []).append(j)
    children: dict[int | None, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def inclusive(span) -> list:
        out = list(by_span.get(span.span_id, []))
        for c in children.get(span.span_id, []):
            out += inclusive(c)
        return out

    per_pass: dict[int, dict] = {}
    coverage, attributed, n_jobs = [], 0, 0
    for sample in (s for s in run.samples if s.traced):
        m = per_pass.setdefault(sample.pass_no, {})

        def add(key, value):
            m[key] = m.get(key, 0) + value

        op_jobs = [j for j in jobs if sample.t0 <= j.start <= sample.t1]
        n_jobs += len(op_jobs)
        attributed += sum(1 for j in op_jobs if j.group)
        c = sum_jobs(op_jobs)
        for k in EXEC + ("python_udf_s",):
            add(f"spark.exec.{k}", c[k])
        wall = sample.t1 - sample.t0
        add("spark.exec.driver_idle_s", wall - busy_seconds(op_jobs, sample.t0, sample.t1))
        add("_task_s", c["task_s"])
        add("_wall", wall)
        if sample.op == "run_pipeline":
            add("sources.inmet_csv.scan_cpu_s", c["input_cpu_s"])
            add("sources.inmet_csv.scan_amplification", c["input_bytes"] / report["input"]["csv_bytes"])
            m["plans.inmet_pipeline.output_files"] = report["input"]["output_files"]
        (root,) = [s for s in children.get(None, [])
                   if s.name == f"op.{sample.op}" and sample.t0 <= s.start <= sample.t1]
        root_s = root.end - root.start
        coverage.append(sum(s.end - s.start for s in children.get(root.span_id, [])) / root_s)
        op_spans = [s for s in spans if root.start <= s.start <= root.end and s is not root]
        exec_spans = [s for s in op_spans if _is_exec(s.name)]
        exec_s = sum(s.end - s.start for s in exec_spans)
        add("plans.exec_s", exec_s)
        add("plans.build_s", root_s - exec_s)
        add("plans.build_jobs", len(inclusive(root)) - sum(len(inclusive(s)) for s in exec_spans))
        for s in op_spans:
            incl, dur = inclusive(s), s.end - s.start
            if s.name.startswith("plans.queries."):
                base = s.name.removesuffix(".exec")
                add(f"{base}.exec_s" if _is_exec(s.name) else f"{base}.build_s", dur)
                add(f"{base}.jobs", len(incl))
            elif s.name.startswith("plans.inmet_pipeline.write."):
                add(f"plans.inmet_pipeline.write_s.{s.name.rsplit('.', 1)[1]}", dur)
                add("plans.inmet_pipeline.write_jobs", len(incl))
            elif s.name == "plans.inmet_pipeline.run_pipeline":
                for b in children.get(s.span_id, []):
                    if not _is_exec(b.name):
                        add("plans.inmet_pipeline.build_s", b.end - b.start)
                        add("plans.inmet_pipeline.build_jobs", len(inclusive(b)))
            elif s.name.startswith("sources.inmet_csv."):
                add("sources.inmet_csv.build_s", dur)
                add("sources.inmet_csv.build_jobs", len(incl))
            elif s.name.startswith("operators."):
                add(f"{s.name}.build_s", dur)
                add(f"{s.name}.build_jobs", len(incl))
    for m in per_pass.values():
        m["spark.exec.slot_busy_ratio"] = m.pop("_task_s") / (m.pop("_wall") * cores)
    medians = {k: statistics.median(m.get(k, 0) for m in per_pass.values())
               for k in sorted({k for m in per_pass.values() for k in m})}
    pass_s = {True: {}, False: {}}
    for s in run.samples:
        pass_s[s.traced][s.pass_no] = pass_s[s.traced].get(s.pass_no, 0) + s.t1 - s.t0
    t_traced, t_plain = (statistics.median(pass_s[t].values()) for t in (True, False))
    # The last line carries the metrics every workload has (BENCHMARK.json);
    # the rest, and the Python UDF time (zero where no UDF runs), go here.
    report["layers"] = {k: v for k, v in medians.items()
                        if not k.startswith(("spark.exec.", "plans.build", "plans.exec"))}
    report["layers"]["spark.exec.python_udf_s"] = medians["spark.exec.python_udf_s"]
    report["trace"] = {"span_coverage_min": min(coverage), "jobs": n_jobs,
                       "jobs_attributed": attributed, "traced_pass_s": t_traced,
                       "untraced_pass_s": t_plain}
    out = {
        "session.get_spark_s": (report["session.get_spark_s"], "s"),
        "session.warmup_s": (report["session.warmup_s"], "s"),
        "first_pass_s": (report["first_pass_s"], "s"),
        "trace.overhead_s": (t_traced - t_plain, "s"),
        "plans.build_s": (medians["plans.build_s"], "s"),
        "plans.build_jobs": (medians["plans.build_jobs"], "count"),
        "plans.exec_s": (medians["plans.exec_s"], "s"),
    }
    for k in EXEC:
        unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
        out[f"spark.exec.{k}"] = (medians[f"spark.exec.{k}"], unit)
    out["spark.exec.slot_busy_ratio"] = (medians["spark.exec.slot_busy_ratio"], "ratio")
    out["spark.exec.driver_idle_s"] = (medians["spark.exec.driver_idle_s"], "s")
    return out


if __name__ == "__main__":
    sys.exit(main())
