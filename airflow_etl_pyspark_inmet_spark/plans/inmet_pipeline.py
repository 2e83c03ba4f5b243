"""The INMET pipeline, re-expressed Spark-first.

Replaces the whole reference flow — job_parquet.py (extract/transform),
dag_inmet.py (orchestration + Snowflake load), and the three analytic
``sql/create_*.sql`` queries — with one DataFrame program. Stage
boundaries in the reference were process/network boundaries (Airflow ->
spark-submit -> HDFS -> WebHDFS -> pandas -> Snowflake, SURVEY.md §3);
here every stage is a DataFrame. ``run_pipeline`` parses the CSVs once:
the station dim and the cleaned hourly fact are materialized (eager local
checkpoints) and every output table is derived from those two. The driver
collects one ``(file, header)`` row per input file (the reader) and the
2-scalar min/max date bound (A1).

Scale notes (100 TB stance):
- The fact table is the only big thing. It is written partitioned by
  ``ano`` so downstream monthly/daily queries get partition pruning.
- ``dim_cidade_atributos`` and ``datas`` are tiny at any scale (stations,
  days) -> explicitly broadcast in every join (J1, J2).
- Daily aggregation (A2) shuffles once on (wmo, data_medicao); the monthly
  rollup (A3) reuses the already-reduced daily aggregate, so the second
  shuffle is over ~days x stations rows, not hourly rows.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException, IllegalArgumentException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import (
    date_parts,
    dayfirst_date,
    decimal_comma_to_double,
    surrogate_key,
    zero_fill,
)
from ..operators.util import lineage_checkpoint_eager
from ..schemas import MEASURE_COLS, MEASURE_RENAMES
from ..sources.inmet_csv import read_inmet_measurements, read_inmet_stations


def build_cidades(
    spark: SparkSession, input_glob: str, decimal_parity: bool = False
) -> DataFrame:
    """Station dimension (job_parquet.py:57-104 + write at 236-240):
    typed lat/long/alt (decimal-comma), day-first founding date,
    rows with unparseable ``data_fundacao`` dropped (P7).

    ``decimal_parity=True`` emits the reference warehouse types exactly —
    DECIMAL(11,8) lat/long, DECIMAL(9,2) altitude
    (create_dim_cidades.sql:9-11) — so the output loads into STAGE_DDL's
    ``dim_cidades`` without implicit casts. Default stays DOUBLE
    (SURVEY §1.2): cheaper arithmetic, and every downstream agg in this
    engine re-types explicitly anyway."""
    raw = read_inmet_stations(spark, input_glob)
    lat = decimal_comma_to_double("latitude")
    lon = decimal_comma_to_double("longitude")
    alt = decimal_comma_to_double("altitude")
    if decimal_parity:
        lat = lat.cast("decimal(11,8)")
        lon = lon.cast("decimal(11,8)")
        alt = alt.cast("decimal(9,2)")
    return raw.select(
        "regiao",
        "uf",
        "estacao",
        "wmo",
        lat.alias("latitude"),
        lon.alias("longitude"),
        alt.alias("altitude"),
        dayfirst_date("data_fundacao").alias("data_fundacao"),
        "_src",
    ).filter(F.col("data_fundacao").isNotNull())


def build_previsoes(
    spark: SparkSession, input_glob: str, cidades: DataFrame | None = None
) -> DataFrame:
    """Hourly fact (job_parquet.py:108-225): 5 measures decimal-comma
    parsed + renamed (F1), date parsed multi-format (F3), null-date rows
    dropped (P7), measures zero-filled BEFORE any aggregation (F5), station
    code attached via broadcast join on source file (replaces the per-file
    ``df['wmo'] = constant`` at job_parquet.py:182-185)."""
    body = read_inmet_measurements(spark, input_glob)
    cid = cidades if cidades is not None else build_cidades(spark, input_glob)
    wmo_by_src = cid.select("_src", "wmo")

    fact = body.select(
        "_src",
        dayfirst_date("data").alias("data_medicao"),
        *[
            decimal_comma_to_double(raw).alias(canon)
            for raw, canon in MEASURE_RENAMES.items()
        ],
    ).filter(F.col("data_medicao").isNotNull())

    fact = fact.join(F.broadcast(wmo_by_src), "_src").select(
        "wmo", "data_medicao", *MEASURE_COLS
    )
    return zero_fill(fact, MEASURE_COLS)


def build_datas(previsoes: DataFrame) -> DataFrame:
    """Dense daily calendar between global min/max measurement date
    (job_parquet.py:261-280). One combined min/max aggregation (A1 — the
    reference runs two separate collect()s), then a fully distributed
    ``sequence + explode`` replaces pandas ``date_range`` (F12)."""
    bounds = previsoes.agg(
        F.min("data_medicao").alias("lo"), F.max("data_medicao").alias("hi")
    ).first()
    spark = previsoes.sparkSession
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(bounds["lo"]), F.lit(bounds["hi"]), F.expr("interval 1 day")
            )
        ).alias("data_medicao")
    )
    parts = date_parts("data_medicao")
    return cal.select("data_medicao", *[expr.alias(n) for n, expr in parts.items()])


def dim_cidade_atributos(cidades: DataFrame) -> DataFrame:
    """Warehouse city dim with surrogate key (create_dim_cidade_atributos
    .sql:5-22): ``cidade_sk = UPPER(wmo)-UPPER(uf)-UPPER(estacao)``."""
    return cidades.select(
        surrogate_key("wmo", "uf", "estacao").alias("cidade_sk"),
        "wmo",
        "uf",
        "estacao",
        "regiao",
        "latitude",
        "longitude",
        "altitude",
        "data_fundacao",
    )


def fato_agg_previsoes_dia(previsoes: DataFrame, dim_cidade: DataFrame) -> DataFrame:
    """Daily aggregate (create_analitic_fato_agg_previsoes_dia.sql:4-19):
    inner join fact x city dim on wmo (J1, dim broadcast), group by
    (wmo, cidade_sk, data_medicao) with MIN/MAX/AVG/SUM/COUNT (A2).

    One shuffle on the group keys; Spark's hash aggregate does the
    partial (map-side) + final phases automatically."""
    j = previsoes.join(
        F.broadcast(dim_cidade.select("wmo", "cidade_sk")), "wmo", "inner"
    )
    return j.groupBy("wmo", "cidade_sk", "data_medicao").agg(
        F.min("temperatura_c").alias("temp_min_c"),
        F.max("temperatura_c").alias("temp_max_c"),
        F.avg("temperatura_c").alias("temp_avg_c"),
        F.sum("precipitacao_mm").alias("precip_total_mm"),
        F.avg("pressao_atm_kpa").alias("pressao_avg_kpa"),
        F.avg("vento_mps").alias("vento_avg_mps"),
        F.avg("umidade_porcentagem").alias("umidade_avg_pct"),
        F.count(F.lit(1)).alias("registros_horarios"),
    )


def cidade_kpis_mensal(
    fato_dia: DataFrame, dim_cidade: DataFrame, datas: DataFrame
) -> DataFrame:
    """Monthly KPIs (create_analitic_cidade_kpis_mensal.sql:5-18): 3-way
    inner join daily-agg x city dim (wmo) x calendar (data_medicao), both
    dims broadcast (J2), group by (cidade_sk, ano, mes) with
    AVG-of-daily-averages, MAX, SUM and COUNT_IF(precip>0) (A3, P10)."""
    j = (
        fato_dia.join(F.broadcast(dim_cidade.select("wmo")), "wmo", "inner")
        .join(
            F.broadcast(datas.select("data_medicao", "ano", "mes")),
            "data_medicao",
            "inner",
        )
    )
    return j.groupBy("cidade_sk", "ano", "mes").agg(
        F.avg("temp_avg_c").alias("mensal_temp_media"),
        F.max("temp_max_c").alias("mensal_temp_max"),
        F.sum("precip_total_mm").alias("mensal_precip_total"),
        F.count_if(F.col("precip_total_mm") > 0).alias("dias_com_precip"),
    )


def run_pipeline(
    spark: SparkSession,
    input_glob: str,
    out_dir: str | None = None,
    retries: int = 1,
) -> dict[str, DataFrame]:
    """Full pipeline with the same dependency shape as the reference DAG
    (dag_inmet.py:209-220): ingest -> dims || fact -> daily agg -> monthly
    KPIs. Returns all six tables; optionally persists them as parquet
    (fact partitioned by year for downstream partition pruning).

    Task-level resilience, mirroring the DAG's per-task retry semantics
    (dag_inmet.py default_args) without Airflow: each persisting stage is
    an IDEMPOTENT overwrite (mode=overwrite, fixed paths), so a stage
    that dies mid-write can be re-run — here, up to ``retries`` times —
    without duplicating or corrupting output; a re-run of the whole
    pipeline is likewise a no-op-shaped overwrite, the same contract the
    reference gets from `CREATE OR REPLACE` + write_pandas(overwrite).

    The CSVs are parsed once per call: the station dim and the cleaned
    hourly fact are materialized up front (eager ``localCheckpoint``, one
    job each), and every table, the calendar bound and every write read
    those blocks instead of re-deriving them from the raw text. So a
    retry covers SINK failures only (the write re-reads the materialized
    blocks); a failure while parsing/cleaning raises from the build
    itself, and a lost checkpoint block fails every attempt and surfaces
    as the ``RuntimeError`` below — the trade
    ``operators.util.lineage_checkpoint`` documents."""
    cidades = lineage_checkpoint_eager(build_cidades(spark, input_glob))
    previsoes = lineage_checkpoint_eager(
        build_previsoes(spark, input_glob, cidades)
    )
    datas = build_datas(previsoes)
    dim_cidade = dim_cidade_atributos(cidades)
    fato_dia = fato_agg_previsoes_dia(previsoes, dim_cidade)
    kpis = cidade_kpis_mensal(fato_dia, dim_cidade, datas)

    tables = {
        "cidades": cidades.drop("_src"),
        "datas": datas,
        "previsoes": previsoes,
        "dim_cidade_atributos": dim_cidade,
        "fato_agg_previsoes_dia": fato_dia,
        "cidade_kpis_mensal": kpis,
    }
    if out_dir:
        for name, df in tables.items():
            w = df.write.mode("overwrite")
            if name == "previsoes":
                w = df.withColumn("ano", F.year("data_medicao")).write.mode(
                    "overwrite"
                ).partitionBy("ano")
            last: Exception | None = None
            for _attempt in range(retries + 1):
                try:
                    w.parquet(f"{out_dir}/{name}")
                    last = None
                    break
                except (AnalysisException, IllegalArgumentException):
                    # deterministic (plan/config) failure: retrying would
                    # recompute the whole upstream plan just to hit the
                    # same error — surface immediately
                    raise
                except Exception as e:  # transient executor/FS failure
                    last = e
            if last is not None:
                raise RuntimeError(
                    f"pipeline stage write:{name} failed after "
                    f"{retries + 1} attempts"
                ) from last
    return tables
