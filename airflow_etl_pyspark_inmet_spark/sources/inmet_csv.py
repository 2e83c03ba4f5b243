"""Distributed reader for INMET dual-section station CSVs.

File format (FIXTURES.md §A): lines 1-8 are ``KEY:;value`` station metadata,
line 9 is the measurement header, lines 10+ are ``;``-separated hourly rows
(decimal comma, usually a trailing ``;``).

The reference isolates the sections positionally — ``limit(8)`` for metadata
(job_parquet.py:61-68) and an RDD ``zipWithIndex`` skip for the body
(job_parquet.py:117-123) — inside a per-file Python loop, pulling every file
through ``toPandas``. None of that survives scale: positional tricks assume
single-partition sequential reads, and the loop serializes all I/O through
the driver.

This reader is order- and partition-independent: one globbed ``spark.read
.text`` over all files, sections classified BY PATTERN (metadata lines match
``key:;``, header lines start with ``Data;``, data lines start with a date),
metadata pivoted per-file with ``groupBy(file).pivot(key)``, and body parsed
with ``from_csv`` against the schema of its file's header. Scales to any
number of files; the only driver materialization is one ``(file, header)``
row per file, which says which files share a header shape.

Pattern safety: a data line always starts with a date (``2025/01/01;`` or
``01/01/2025;``), so it can never match the metadata pattern ``^[^;0-9][^;]*:;``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import sanitize_name

# Metadata line: non-empty, non-numeric-leading key, then ':;'.
_META_LINE_RE = r"^[^;0-9][^;]*:;"
# The same rule over a whole decoded file: every metadata line, up to its
# line break. UNIX_LINES (?d) makes '\n' the only line terminator '^' sees
# — Latin-1 byte 0x85 decodes to U+0085, which Java regex otherwise treats
# as a line break too.
_META_LINES_RE = r"(?dm)^[^;0-9\r\n][^;\r\n]*:;[^\r\n]*"

# Reference key names -> canonical column names (job_parquet.py:81-82 rename
# map, applied after ':'-strip + lowercase; we additionally sanitize).
_META_RENAMES = {"codigo_wmo": "wmo", "data_de_fundacao": "data_fundacao"}

_META_KEYS = [
    "regiao",
    "uf",
    "estacao",
    "codigo_wmo",
    "latitude",
    "longitude",
    "altitude",
    "data_de_fundacao",
]


# Lowercase accented chars (Latin-1 Portuguese set) -> ASCII for key
# sanitization; values keep their accents. Built pairwise so the two
# translate() arguments can never fall out of alignment.
_ACCENT_MAP = {
    "a": "ãâáàä", "e": "éêèë", "i": "íîìï", "o": "õôóòö",
    "u": "úûùü", "c": "ç", "n": "ñ",
}
_ACCENTS = "".join(v for v in _ACCENT_MAP.values())
_ASCII = "".join(k * len(v) for k, v in _ACCENT_MAP.items())


def _norm_src(col: F.Column) -> F.Column:
    """Normalize a file URI to a plain path: binaryFile's ``path`` says
    ``file:/root/x`` while ``input_file_name()`` says ``file:///root/x`` —
    both must join as ``/root/x``."""
    return F.regexp_replace(col, r"^[a-zA-Z0-9.+-]+:/+", "/")


def _lines(spark: SparkSession, path: str) -> DataFrame:
    """All lines of all files (UTF-8 — the reference's body encoding,
    job_parquet.py:131), tagged with their source file."""
    return (
        spark.read.text(path)
        .select(
            F.col("value"), _norm_src(F.input_file_name()).alias("_src")
        )
        .filter(F.length(F.trim(F.col("value"))) > 0)
    )


def _meta_lines(spark: SparkSession, path: str) -> DataFrame:
    """The metadata lines of every file, decoded as ISO-8859-1 — the
    reference reads the station-metadata section with that charset
    (job_parquet.py:63) while the body is UTF-8 (:131). ``spark.read.text``
    decodes UTF-8 only (irreversibly replacing invalid bytes), so the
    metadata path reads raw bytes per file (``binaryFile``) and decodes
    JVM-side. One ``regexp_extract_all`` pulls only the lines matching
    :data:`_META_LINE_RE`'s rule, so the thousands of body lines per file
    are never split out or exploded. One row per file before the explode —
    INMET stations are one small file each, so file-level parallelism is
    the scale axis here, same as the text scan."""
    return (
        spark.read.format("binaryFile")
        .load(path)
        .select(
            _norm_src(F.col("path")).alias("_src"),
            F.explode(
                F.regexp_extract_all(
                    F.decode(F.col("content"), "ISO-8859-1"),
                    F.lit(_META_LINES_RE),
                    0,
                )
            ).alias("value"),
        )
    )


def read_inmet_stations(spark: SparkSession, path: str) -> DataFrame:
    """Station metadata: one row per input file, raw string columns
    ``regiao uf estacao wmo latitude longitude altitude data_fundacao``
    plus ``_src`` (source file) for joining with measurements.

    Replaces P1/S3 (job_parquet.py:57-104) with a distributed
    ``groupBy(file).pivot(key).agg(first(value))`` — no limit(8), no pandas.
    Metadata bytes are decoded as ISO-8859-1 (reference parity —
    job_parquet.py:63); values keep their accents, keys are accent-folded
    before sanitizing so ``REGIÃO:`` and ``REGIAO:`` pivot to the same
    ``regiao`` column.
    """
    meta = _meta_lines(spark, path).select(
        "_src",
        F.regexp_extract("value", r"^([^;]*):;", 1).alias("raw_key"),
        F.regexp_replace(F.substring_index("value", ":;", -1), ";+$", "").alias("val"),
    )
    # Sanitize keys JVM-side with the same rules as sanitize_name, plus
    # accent folding (the key alphabet is ASCII + ' ()' + Latin-1 accents).
    meta = meta.withColumn(
        "key",
        F.regexp_replace(
            F.regexp_replace(
                F.translate(F.lower(F.trim(F.col("raw_key"))), _ACCENTS, _ASCII),
                r"[^a-z0-9]+",
                "_",
            ),
            r"^_+|_+$",
            "",
        ),
    )
    pivoted = (
        meta.groupBy("_src")
        .pivot("key", _META_KEYS)  # explicit values: skips the distinct-scan job
        .agg(F.first("val", ignorenulls=True))
    )
    for old, new in _META_RENAMES.items():
        pivoted = pivoted.withColumnRenamed(old, new)
    return pivoted


def read_inmet_measurements(spark: SparkSession, path: str) -> DataFrame:
    """Hourly measurement rows from every file under ``path``, all columns
    as raw strings with sanitized header names, plus ``_src``.

    Replaces S4/S5/P6/F8 (text read + zipWithIndex skip + csv-on-RDD,
    job_parquet.py:113-135). Strategy: classify lines by pattern, collect
    one ``(file, header)`` row per file in one job, and parse each
    header-shape group (one per INMET format revision) with ``from_csv``
    under its own schema, selecting the group's body lines by file name.
    Files with reordered/renamed columns therefore still parse correctly —
    by name, not position. Body lines of a file without a header line are
    dropped.
    """
    lines = _lines(spark, path)
    is_meta = F.col("value").rlike(_META_LINE_RE)
    is_header = F.col("value").startswith("Data;")

    header_of = dict(lines.filter(is_header).select("_src", "value").collect())
    files_by_header: dict[str, list[str]] = {}
    for src, header in header_of.items():
        files_by_header.setdefault(header, []).append(src)
    if not files_by_header:
        raise ValueError(f"no INMET header line found under {path}")

    body = lines.filter(~is_meta & ~is_header).withColumn(
        "value", F.regexp_replace("value", ";+$", "")  # F8 trailing ';'
    )

    parsed_parts = []
    for header, files in files_by_header.items():
        raw_names = [h for h in header.rstrip(";").split(";")]
        names = _dedupe([sanitize_name(n) for n in raw_names])
        ddl = ", ".join(f"`{n}` STRING" for n in names)
        part = (
            body.filter(F.col("_src").isin(files))
            .withColumn("_row", F.from_csv("value", ddl, {"sep": ";"}))
            .select("_src", "_row.*")
        )
        parsed_parts.append(part)

    out = parsed_parts[0]
    for p in parsed_parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _dedupe(names: list[str]) -> list[str]:
    seen: dict[str, int] = {}
    out = []
    for n in names:
        if n in seen:
            seen[n] += 1
            out.append(f"{n}_{seen[n]}")
        else:
            seen[n] = 0
            out.append(n)
    return out
