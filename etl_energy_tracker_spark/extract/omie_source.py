"""OMIE file source (S4) — Spark rendering of
_descargador_omie.py:206-448.

The reference downloads monthly zips of daily ``;``-separated files,
filters member names by date/session, parses European decimals and
``%d/%m/%Y`` dates, and derives the intra session from the filename.

Here the file payloads are plain text lines (injectable — no
network); parsing is Spark-native: ``spark.read.csv`` with ``sep=';'``
over the raw zone in production, or ``csv_lines_to_df`` for in-memory
payloads (a JVM-local frame via ``session.local_frame``). Session
extraction from filenames uses the same regex the engine applies via
``input_file_name()`` when reading from disk.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

# e.g. PDBC_STOTA_20240115.1 → intra session 1 (id_mercado 2..8 = session+1)
SESSION_RE = re.compile(r"\.(\d+)$")


def session_from_filename(name: str) -> int | None:
    m = SESSION_RE.search(name.strip())
    return int(m.group(1)) if m else None


def member_in_range(name: str, start: str, end: str) -> bool:
    """Zip-member date filter (_descargador_omie.py:243-268): member
    names embed YYYYMMDD."""
    m = re.search(r"(\d{8})", name)
    if not m:
        return False
    d = f"{m.group(1)[:4]}-{m.group(1)[4:6]}-{m.group(1)[6:8]}"
    return start <= d <= end


def csv_lines_to_df(
    spark: SparkSession, lines: list[str], filename: str
) -> DataFrame:
    """Daily OMIE file body → raw rows. First line is the header;
    ``;``-separated; European dates normalized to ISO; the session
    suffix from the filename becomes id_mercado (diario=1,
    intra session n → id n+1)."""
    header = [h.strip() for h in lines[0].split(";")]
    data = [
        [c.strip() or None for c in ln.split(";")]
        for ln in lines[1:]
        if ln.strip() and not ln.startswith("*")
    ]
    ncols = len(header)
    data = [row[:ncols] + [None] * (ncols - len(row)) for row in data]
    schema = ", ".join(f"`{c}` string" for c in header)
    df = local_frame(spark, data, schema)
    session = session_from_filename(filename)
    id_mercado = 1 if session is None else session + 1
    if "Fecha" in df.columns:
        df = df.withColumn(
            "Fecha",
            F.when(
                F.col("Fecha").rlike(r"^\d{2}/\d{2}/\d{4}$"),
                F.date_format(F.to_date("Fecha", "dd/MM/yyyy"), "yyyy-MM-dd"),
            ).otherwise(F.col("Fecha")),
        )
    return df.withColumn("id_mercado", F.lit(id_mercado))


def read_raw_dir(spark: SparkSession, path: str) -> DataFrame:
    """Production path: semicolon CSV over the raw zone with filename-
    derived session (input_file_name + regexp_extract — S4's Spark
    primitive)."""
    df = spark.read.option("sep", ";").option("header", True).csv(path)
    session = F.regexp_extract(F.input_file_name(), r"\.(\d+)(?:\.csv)?$", 1)
    return df.withColumn(
        "id_mercado",
        F.when(session == "", F.lit(1)).otherwise(session.cast("int") + 1),
    )
