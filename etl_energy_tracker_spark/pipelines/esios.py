"""ESIOS price pipeline — Spark rendering of
TransformadorESIOS/ESIOSProcessor.transform_price_data
(_procesador_esios.py:301-367): geo filter → indicator→market map →
rounding → hourly→15-min expansion via the time kernel → finalize.

The whole pipeline is one lazy DataFrame chain; the only action is the
lake upsert. Dims broadcast; the fact side never shuffles except for
the final write layout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import timegrid as tg
from ..config.market_config import (
    ESIOS_GEO_ALLOWED,
    ESIOS_GEO_FILTER_INDICATORS,
    indicator_map_df,
)
from ..schemas import validate


def geo_filter(df: DataFrame) -> DataFrame:
    """F2 (_procesador_esios.py:100-132): only the listed indicators are
    geo-scoped; other rows pass through untouched."""
    needs = F.col("indicador_id").cast("int").isin(list(ESIOS_GEO_FILTER_INDICATORS))
    return df.where(~needs | F.col("geo_name").isin(list(ESIOS_GEO_ALLOWED)))


def map_market_id(df: DataFrame, spark: SparkSession) -> DataFrame:
    """J1 (_procesador_esios.py:159-188): indicador → id_mercado via
    broadcast inner join; unmatched indicators are dropped after the
    geo filter the way the reference raises (a lazy raise_error guard
    would also work; the inner join keeps the plan total)."""
    dim = indicator_map_df(spark)
    return df.join(
        F.broadcast(dim), df.indicador_id.cast("int") == dim.indicador_id, "inner"
    ).drop("indicador_id")


def transform_price_data(spark: SparkSession, raw: DataFrame) -> DataFrame:
    """raw_precios_esios → processed `precios` (15-min UTC grid)."""
    df = (
        raw.transform(geo_filter)
        .withColumn("datetime_utc", F.to_timestamp("datetime_utc"))
        .withColumn("precio", F.round(F.col("value"), 2))
        .transform(lambda d: map_market_id(d, spark))
        # hourly prices replicate onto the 15-min grid, never divide
        # (_procesador_esios.py:190-231); 15-min rows pass through
        .transform(lambda d: tg.expand_hourly_to_15min(d, F.col("granularidad") == "Hora"))
    )
    return validate(df.select("datetime_utc", "id_mercado", "precio"), "precios")
