"""I90 settlement pipeline — Spark rendering of I90Processor
(_procesador_i90.py): per-market sentido/redespacho filters, zero/NA
drop, DST-aware standardization to the 15-min UTC grid, and the intra
cumulative→incremental differencing (W1) as a window over the union of
diario baseline + sessions.

The differencing is THE operator the reference does with per-session
left joins (_procesador_i90.py:504-553); as a window it is a single
shuffle on (entity, datetime_utc) instead of one join per session —
the shape that survives 100×."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..config.market_config import MARKET_BY_ID, REDESPACHO_FILTERS, SENTIDO_FILTERS
from ..schemas import validate
from .common import drop_zero_na, standardize_datetime

RENAMES = {
    "Unidad de Programación": "up",
    "precios": "precio",
    "Tipo Transacción": "tipo_transaccion",
}


def apply_market_filters(df: DataFrame, market_id: int) -> DataFrame:
    """F3 sentido + F4 redespacho from config
    (_procesador_i90.py:89-104)."""
    sentido = SENTIDO_FILTERS.get(market_id)
    if sentido and "Sentido" in df.columns:
        df = df.where(F.col("Sentido") == sentido)
    redes = REDESPACHO_FILTERS.get(market_id)
    if redes and "Redespacho" in df.columns:
        df = df.where(F.col("Redespacho").isin(list(redes)))
    return df


def finalize_columns(df: DataFrame, market_id: int, value_col: str) -> DataFrame:
    """P2 (_procesador_i90.py:211-233): rename to canonical names, keep
    tipo_transaccion when present. One projection."""
    source = {RENAMES.get(c, c): c for c in df.columns}
    cols = [F.col(source.get(n, n)).alias(n) for n in ("datetime_utc", "up", value_col)]
    cols.append(F.lit(market_id).alias("id_mercado"))
    if "tipo_transaccion" in source and value_col == "volumenes":
        cols.append(F.col(source["tipo_transaccion"]).alias("tipo_transaccion"))
    return df.select(*cols)


def exclude_error_dates(
    df: DataFrame,
    errors: DataFrame | None,
    sheet: str | None,
    fecha_col: str = "fecha",
) -> DataFrame:
    """F10 wired into the ingest path (_descargador_i90.py:77-86,
    306-337; configs/i90_config.py:196-215): drop every row whose fecha
    appears in the error table for this market's sheet — known-bad
    publications must not silently enter the lake. Broadcast anti-join
    against the (tiny) error dimension; at scale the fecha predicate
    also prunes partitions when fecha is a partition column."""
    if errors is None or sheet is None:
        return df
    bad = (
        errors.where(F.col("tipo_error") == sheet)
        .select(F.to_date("fecha").alias("_bad_fecha"))
        .distinct()
    )
    return df.join(
        F.broadcast(bad), F.to_date(F.col(fecha_col)) == F.col("_bad_fecha"), "left_anti"
    )


def transform_volumenes(
    raw: DataFrame,
    market_id: int,
    dim: DataFrame,
    errors: DataFrame | None = None,
) -> DataFrame:
    """raw_volumenes_i90 → processed volumenes_i90 for one market."""
    sheet = (m := MARKET_BY_ID.get(market_id)) and m.sheet_i90_volumenes
    df = (
        raw.transform(lambda d: exclude_error_dates(d, errors, sheet))
        .transform(lambda d: apply_market_filters(d, market_id))
        .transform(lambda d: drop_zero_na(d, "volumenes"))
        .transform(
            lambda d: standardize_datetime(
                d, dim, value_col="volumenes", value_is_volume=True
            )
        )
        .transform(lambda d: finalize_columns(d, market_id, "volumenes"))
    )
    dataset = "volumenes_i90_tipo" if "tipo_transaccion" in df.columns else "volumenes_i90"
    return validate(df, dataset)


def transform_precios(
    raw: DataFrame,
    market_id: int,
    dim: DataFrame,
    errors: DataFrame | None = None,
) -> DataFrame:
    sheet = (m := MARKET_BY_ID.get(market_id)) and m.sheet_i90_precios
    df = (
        raw.transform(lambda d: exclude_error_dates(d, errors, sheet))
        .transform(lambda d: apply_market_filters(d, market_id))
        .transform(
            lambda d: standardize_datetime(
                d, dim, value_col="precios", value_is_volume=False
            )
        )
        .withColumn("precios", F.round("precios", 2))
        .transform(lambda d: finalize_columns(d, market_id, "precio"))
    )
    # precios table carries no entity column
    return validate(df.select("datetime_utc", "id_mercado", "precio"), "precios")


def diario_baseline(volumenes_diario: DataFrame) -> DataFrame:
    """A2 (_procesador_i90.py:470-489): baseline = diario volumes with
    tipo_transaccion=='Mercado', summed per (datetime_utc, up)."""
    df = volumenes_diario
    if "tipo_transaccion" in df.columns:
        df = df.where(F.col("tipo_transaccion") == "Mercado")
    return df.groupBy("datetime_utc", "up").agg(
        F.sum("volumenes").alias("volumenes")
    )


def intra_incremental(
    baseline: DataFrame, sessions: DataFrame, session_col: str = "session"
) -> DataFrame:
    """W1/J4: cumulative intra programs → per-session increments.

    `sessions` holds cumulative volumes with an integer session number
    (2..8); the diario baseline is session 1. For each
    (up, datetime_utc), increment = cumulative(n) − cumulative(n−1),
    where a missing n−1 row counts as 0 (_procesador_i90.py:525-537 —
    the reference left-joins session n onto n−1 and fills 0; the lag
    must therefore only look back exactly one session).
    """
    base = baseline.select(
        "datetime_utc", "up", "volumenes", F.lit(1).alias(session_col)
    )
    uni = sessions.select("datetime_utc", "up", "volumenes", session_col).unionByName(
        base
    )
    w = W.partitionBy("up", "datetime_utc").orderBy(session_col)
    prev_vol = F.lag("volumenes").over(w)
    prev_ses = F.lag(session_col).over(w)
    increment = F.col("volumenes") - F.when(
        prev_ses == F.col(session_col) - 1, F.coalesce(prev_vol, F.lit(0.0))
    ).otherwise(F.lit(0.0))
    return (
        uni.withColumn("vol_incr", increment)
        .where(F.col(session_col) > 1)  # baseline rows are inputs, not outputs
        .select(
            "datetime_utc",
            "up",
            F.col("vol_incr").alias("volumenes"),
            session_col,
        )
    )
