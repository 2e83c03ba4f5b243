"""Self-tests of the benchmark's own parts: the event-log reducer, the
INMET generator's expectations and the output checks.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]

from eventlog import reduce_event_log, sum_jobs  # noqa: E402
from inmet_gen import write_inmet  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import STAR, _check_inmet, _queries, canonical_hash  # noqa: E402


@pytest.fixture(scope="module")
def work():
    """A scratch directory inside the checkout, as a benchmark run uses."""
    path = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(work):
    from airflow_etl_pyspark_inmet_spark.session import get_spark

    events = os.path.join(work, "events")
    os.makedirs(events)
    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(work, "local"))
    s = get_spark(app_name="perfbench-selftest", master="local[2]", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{events}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    s.events_dir = events
    yield s
    s.stop()


def _log_with_job_end(spark, job_group: str) -> str:
    """The event log once it holds the end of a job in ``job_group``;
    Spark's listener bus writes it asynchronously."""
    (name,) = os.listdir(spark.events_dir)
    path = os.path.join(spark.events_dir, name)
    deadline = time.time() + 60
    while time.time() < deadline:
        jobs = reduce_event_log(path)
        if any(j.group == job_group and j.end > j.start for j in jobs):
            return path
        time.sleep(0.5)
    raise AssertionError(f"no finished job of {job_group} in {path}")


def test_reducer_counts_jobs_and_shuffle_of_a_grouped_query(spark):
    from pyspark.sql import functions as F

    tracer = Tracer(spark)
    with tracer.span("grouped") as span:
        rows = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count().collect()
    assert len(rows) == 7
    group = f"span-{span.span_id}"
    jobs = [j for j in reduce_event_log(_log_with_job_end(spark, group)) if j.group == group]
    total = sum_jobs(jobs)
    assert total["jobs"] > 0
    assert total["tasks"] > 0
    assert total["shuffle_write_bytes"] > 0
    assert total["shuffle_read_bytes"] > 0


@pytest.fixture(scope="module")
def pipeline_output(spark, work):
    from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import run_pipeline

    src, out = os.path.join(work, "csv"), os.path.join(work, "out")
    exp = write_inmet(src, n_stations=2, seed=11)
    run_pipeline(spark, f"{src}/*.csv", out_dir=out)
    return out, exp, src


def test_generator_covers_the_fixture_spec(pipeline_output):
    _, _, src = pipeline_output
    raw = b""
    for name in sorted(os.listdir(src)):
        with open(os.path.join(src, name), "rb") as f:
            raw += f.read()
    meta = raw.decode("iso-8859-1")
    body = [line for line in raw.decode("utf-8", errors="replace").splitlines()
            if line[:1].isdigit()]
    assert "REGIÃO:;" in meta and "ESTAÇÃO:;" in meta and "MONTE VERDE" in meta
    assert "DATA DE FUNDACAO:;18/12/02" in meta and "DATA DE FUNDACAO:;19/12/2004" in meta
    assert all(line.endswith(";") and line.count(";") == 19 for line in body)
    cells = {c for line in body for c in line.split(";")}
    assert {"None", ""} <= cells
    assert any(c.startswith(",") for c in cells)


def test_generator_expectations_match_run_pipeline(pipeline_output):
    out, exp, _ = pipeline_output
    assert exp["counts"]["previsoes"] == 2 * 4344
    assert _check_inmet(out, exp) is None


def test_inmet_check_flags_a_wrong_result(pipeline_output):
    out, exp, _ = pipeline_output
    key = next(iter(exp["kpis"]))
    media, tmax, precip, dias = exp["kpis"][key]
    wrong = {**exp, "kpis": {**exp["kpis"], key: (media + 0.01, tmax, precip, dias)}}
    assert "KPI" in _check_inmet(out, wrong)
    fewer = {**exp, "counts": {**exp["counts"], "previsoes": exp["counts"]["previsoes"] - 1}}
    assert "previsoes" in _check_inmet(out, fewer)


def test_query_check_flags_a_wrong_result(spark, work):
    prepared = _queries(work, seed=5, families=[(["q21_three_way_join"], STAR[1])])
    (op,) = prepared.ops
    columns, rows = op.run(spark, lambda name: contextlib.nullcontext())
    assert op.check((columns, rows)) is None
    assert op.check((columns, rows[1:])) is not None
    changed = [tuple(rows[0])[:-1] + (None,)] + rows[1:]
    assert op.check((columns, changed)) is not None
    assert canonical_hash(columns, list(reversed(rows))) == canonical_hash(columns, rows)
