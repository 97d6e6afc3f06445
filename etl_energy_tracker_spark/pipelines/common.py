"""Shared pipeline steps (SURVEY §2.2): date-filter modes, zero/NA
drops, and the mixed-granularity datetime standardization every source
goes through. All are `df.transform(step)`-composable pure functions —
the Spark analog of the reference's `pipeline = [(func, kwargs), ...]`
loops (_procesador_esios.py:318-349)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import timegrid as tg


def filter_date_mode(
    df: DataFrame,
    date_col: str,
    mode: str,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """F1 three-mode date filter (esios_transform.py:38-111):
    'latest' = rows on the max date, 'single' = one date,
    'multiple' = inclusive range. 'latest' is a broadcast join against
    a 1-row agg — no global window, no driver round-trip."""
    d = F.to_date(date_col)
    if mode == "latest":
        mx = df.agg(F.max(d).alias("_mx"))
        return df.join(F.broadcast(mx), d == F.col("_mx")).drop("_mx")
    if mode == "single":
        if not start:
            raise ValueError("single mode needs start")
        return df.where(d == F.to_date(F.lit(start)))
    if mode == "multiple":
        if not (start and end):
            raise ValueError("multiple mode needs start and end")
        return df.where(d.between(F.to_date(F.lit(start)), F.to_date(F.lit(end))))
    raise ValueError(f"unknown mode {mode!r}")


def drop_zero_na(df: DataFrame, col: str) -> DataFrame:
    """F7 (_descargador_i90.py:286-292)."""
    return df.where(F.col(col).isNotNull() & (F.col(col) != 0))


def drop_empty_rows(df: DataFrame, required: tuple[str, ...]) -> DataFrame:
    """F8 (_procesador_omie.py:34-63): drop rows NaN in all required cols."""
    return df.na.drop(how="all", subset=list(required))


def standardize_datetime(
    df: DataFrame, dim: DataFrame, value_col: str | None = None
) -> DataFrame:
    """Mixed-granularity (fecha, hora) → canonical 15-min UTC grid.

    Rows whose ``granularity`` is hourly ('Hora') carry DST-suffixed
    hour labels, other rows 1-based quarter indices; both become a
    quarter index for the one conversion, then hourly rows expand ×4
    with the volume ``value_col`` ÷4 (etl_date_utils.py:826-863)."""
    is_hourly = F.col("granularity") == "Hora"
    idx = F.when(is_hourly, tg.hourly_quarter_idx(F.col("hora"))).otherwise(
        tg.parse_quarter_label(F.col("hora"))
    )
    df = tg.with_utc_from_quarter(df, dim, quarter_idx=idx)
    divide = (value_col,) if value_col else ()
    return tg.expand_hourly_to_15min(df, is_hourly, divide_cols=divide)


def parse_european_number(col: F.Column) -> F.Column:
    """C1 (_procesador_omie.py:112-123): '1.234,56' → 1234.56."""
    return (
        F.replace(F.replace(col, F.lit("."), F.lit("")), F.lit(","), F.lit("."))
        .cast("double")
    )


# P4 rename normalization for upstream schema drift
# (extract/omie_extractor.py:372-403: post-2025-03 OMIE renames
# Periodo→Hora and Potencia→Energía Compra/Venta; _descargador_i90.py:547-550:
# post-SRS I90 renames Participante del Mercado→Unidad de Programación).
SCHEMA_DRIFT_RENAMES: dict[str, str] = {
    "Periodo": "Hora",
    "Potencia Compra/Venta": "Energía Compra/Venta",
    "Participante del Mercado": "Unidad de Programación",
}


def normalize_schema_drift(df: DataFrame) -> DataFrame:
    """Apply the known upstream renames so downstream pipelines see one
    schema regardless of file vintage. Conditional: only renames when
    the old name is present and the new one is not."""
    for old, new in SCHEMA_DRIFT_RENAMES.items():
        if old in df.columns and new not in df.columns:
            df = df.withColumnRenamed(old, new)
    return df
