"""ESIOS price pipeline — Spark rendering of
TransformadorESIOS/ESIOSProcessor.transform_price_data
(_procesador_esios.py:301-367): geo filter → indicator→market map →
rounding → hourly→15-min expansion via the time kernel → finalize.

The whole pipeline is one lazy DataFrame chain; the only action is the
lake upsert. The market map is a literal expression, not a join; the
fact side never shuffles except for the final write layout."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import timegrid as tg
from ..config.market_config import (
    ESIOS_GEO_ALLOWED,
    ESIOS_GEO_FILTER_INDICATORS,
    INDICATOR_TO_MARKET,
)
from ..schemas import validate


def geo_filter(df: DataFrame) -> DataFrame:
    """F2 (_procesador_esios.py:100-132): only the listed indicators are
    geo-scoped; other rows pass through untouched."""
    needs = F.col("indicador_id").cast("int").isin(list(ESIOS_GEO_FILTER_INDICATORS))
    return df.where(~needs | F.col("geo_name").isin(list(ESIOS_GEO_ALLOWED)))


def map_market_id(df: DataFrame) -> DataFrame:
    """J1 (_procesador_esios.py:159-188): indicador → id_mercado through
    a literal map (a static config, so no dimension frame and no
    broadcast); rows whose indicator has no market are dropped after
    the geo filter, as an inner join with the map would drop them."""
    market = F.create_map(
        *[x for ind, mid in INDICATOR_TO_MARKET.items() for x in (F.lit(ind), F.lit(mid))]
    )[F.col("indicador_id").cast("int")]
    return (
        df.withColumn("id_mercado", market.cast("smallint"))
        .where(F.col("id_mercado").isNotNull())
        .drop("indicador_id")
    )


def transform_price_data(spark: SparkSession, raw: DataFrame) -> DataFrame:
    """raw_precios_esios → processed `precios` (15-min UTC grid)."""
    df = (
        raw.transform(geo_filter)
        .withColumn("datetime_utc", F.to_timestamp("datetime_utc"))
        .withColumn("precio", F.round(F.col("value"), 2))
        .transform(map_market_id)
        # hourly prices replicate onto the 15-min grid, never divide
        # (_procesador_esios.py:190-231); 15-min rows pass through
        .transform(lambda d: tg.expand_hourly_to_15min(d, F.col("granularidad") == "Hora"))
    )
    return validate(df.select("datetime_utc", "id_mercado", "precio"), "precios")
