"""The benchmark's workloads: seeded inputs, the operations a closed-loop
client sends, and the check each operation's output must pass.

Every check runs outside the timed region. Query outputs are compared
with the query's DuckDB oracle (``__spark_entry__.oracle_sql()``) by an
order-insensitive hash over ``scripts/oracle_check.py``'s canonical
values; the INMET pipeline's parquet output is read back with DuckDB and
compared with the expectations :mod:`inmet_gen` computed on its own.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import re
import shutil
from dataclasses import dataclass
from typing import Callable

import duckdb

from inmet_gen import write_inmet
from star_gen import write_star

# The star-schema HEADLINE queries of bench.py; the vector-search and
# multimodal queries that cross the Arrow/pandas-UDF boundary; the c4
# curation pipeline. Each family with the input tables its queries read.
STAR = (("q01_pricing_summary q02_daily_supplier_agg q03_monthly_kpis q12_topk_per_group "
         "q13_running_window q16_distinct_agg q18_sessionize q21_three_way_join q24_asof_join "
         "q25_range_join q27_lag_lead q33_correlated_subquery q35_regression_per_group").split(),
        ("lineitem", "orders", "customer", "supplier", "part", "nation", "region", "events"))
VECTOR = ("s1_cosine_topk s3_ivf_topk d6_dedup_embedding m1_decode_meta".split(),
          ("embeddings", "documents"))
CURATION = (["c4_pretraining_pipeline"], ("documents",))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
SF = 0.01
INMET_STATIONS = 6
INMET_TABLES = ("cidades", "datas", "previsoes", "dim_cidade_atributos",
                "fato_agg_previsoes_dia", "cidade_kpis_mensal")


@dataclass
class Op:
    name: str
    run: Callable  # (spark, span) -> output
    check: Callable  # output -> None, or a one-line reason it is wrong


@dataclass
class Prepared:
    ops: list[Op]
    pass_rows: int  # input rows one pass over every op reads
    info: dict


def canonical_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns in name order, rows
    sorted, values canonicalised as scripts/oracle_check.py does."""
    from oracle_check import canon

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in canon_rows:
        h.update(repr(r).encode())
    return f"{len(canon_rows)}:{h.hexdigest()}"


def _oracle_hash(con, sql: str) -> str:
    # DuckDB inlines a CTE at each reference; the c4 oracle then runs for
    # minutes. Materialized CTEs give the same rows in under a second.
    try:
        res = con.execute(re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", sql))
    except duckdb.Error:
        res = con.execute(sql)
    return canonical_hash([d[0] for d in res.description], res.fetchall())


def pipelines(work: str, seed: int) -> Prepared:
    """The two whole pipelines: the INMET ETL and the c4 curation query."""
    inmet, c4 = _inmet(work, seed, INMET_STATIONS), _queries(work, seed, [CURATION])
    inmet.info.update(c4.info)  # the INMET check adds to this dict as it runs
    return Prepared(inmet.ops + c4.ops, inmet.pass_rows + c4.pass_rows, inmet.info)


def queries(work: str, seed: int) -> Prepared:
    return _queries(work, seed, [STAR, VECTOR])


def _queries(work: str, seed: int, families) -> Prepared:
    import __spark_entry__ as entry

    data = os.path.join(work, "data")
    rows = write_star(data, SF, seed)
    registry, oracles = entry.queries(), entry.oracle_sql()
    names = [n for family, _ in families for n in family]
    with contextlib.closing(duckdb.connect()) as con:
        con.execute("SET enable_progress_bar=false")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        expected = {n: _oracle_hash(con, oracles[n]) for n in names}

    def make(name: str) -> Op:
        def run(spark, span):
            with span(f"plans.queries.{name}"):
                df = registry[name](spark, data)
            with span(f"plans.queries.{name}.exec"):
                return df.columns, df.collect()

        def check(out):
            got = canonical_hash(*out)
            return None if got == expected[name] else f"hash {got[:24]} != oracle {expected[name][:24]}"

        return Op(name, run, check)

    pass_rows = sum(len(family) * sum(rows[t] for t in tables) for family, tables in families)
    return Prepared([make(n) for n in names], pass_rows, {"sf": SF, "table_rows": rows})


def _inmet(work: str, seed: int, n_stations: int) -> Prepared:
    from airflow_etl_pyspark_inmet_spark.plans import inmet_pipeline

    src = os.path.join(work, "csv")
    exp = write_inmet(src, n_stations, seed)
    glob = os.path.join(src, "*.csv")
    outs = os.path.join(work, "out")
    counter = iter(range(1 << 30))
    info = {"stations": n_stations, "csv_bytes": exp["bytes"], "csv_rows": exp["rows"],
            "stored_bytes": []}

    def run(spark, span):
        out_dir = os.path.join(outs, f"run{next(counter)}")
        inmet_pipeline.run_pipeline(spark, glob, out_dir=out_dir)
        return out_dir

    def check(out_dir):
        try:
            size, files = parquet_bytes(out_dir)
            info["stored_bytes"].append(size)
            info["output_files"] = files
            return _check_inmet(out_dir, exp)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    return Prepared([Op("run_pipeline", run, check)], exp["rows"], info)


def parquet_bytes(out_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``out_dir``."""
    size = files = 0
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files


def _check_inmet(out_dir: str, exp: dict) -> str | None:
    with contextlib.closing(duckdb.connect()) as con:
        def table(name):
            return f"read_parquet('{out_dir}/{name}/**/*.parquet', hive_partitioning=true)"

        for name in INMET_TABLES:
            n = con.execute(f"SELECT count(*) FROM {table(name)}").fetchone()[0]
            if n != exp["counts"][name]:
                return f"{name}: {n} rows, expected {exp['counts'][name]}"
        reg = con.execute(f"SELECT sum(registros_horarios) FROM {table('fato_agg_previsoes_dia')}"
                          ).fetchone()[0]
        if reg != exp["registros"]:
            return f"sum(registros_horarios) = {reg}, expected {exp['registros']}"
        got = con.execute(
            "SELECT cidade_sk, ano, mes, mensal_temp_media, mensal_temp_max, "
            f"mensal_precip_total, dias_com_precip FROM {table('cidade_kpis_mensal')}"
        ).fetchall()
    for sk, ano, mes, *vals in got:
        want = exp["kpis"].get((sk, ano, mes))
        if want is None:
            return f"unexpected KPI row {(sk, ano, mes)}"
        if vals[3] != want[3] or not all(
                math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) for a, b in zip(vals[:3], want[:3])):
            return f"KPI {(sk, ano, mes)} = {vals}, expected {list(want)}"
    return None
