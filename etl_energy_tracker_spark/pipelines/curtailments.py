"""Curtailment pipeline — Spark rendering of CurtailmentProcessor
(_procesador_curtailments.py:28-101): Sentido=='Bajar' prefilter, RTx
classification from the two redespacho lists (F9), fixed
id_mercado=13, canonical column finalize. Works for both the UP-keyed
(i90) and technology-keyed (i3) variants."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config.market_config import (
    CURTAILMENT_MARKET_ID,
    RT1_REDESPACHO,
    RT5_REDESPACHO,
)
from ..schemas import validate
from .common import drop_zero_na, standardize_datetime


def classify_rtx(df: DataFrame) -> DataFrame:
    """F9 (_procesador_curtailments.py:28-59; lists
    configs/curtailment_config.py:19-20): Redespacho → R1/R5, drop
    unmatched."""
    rtx = (
        F.when(F.col("Redespacho").isin(list(RT1_REDESPACHO)), F.lit("R1"))
        .when(F.col("Redespacho").isin(list(RT5_REDESPACHO)), F.lit("R5"))
        .otherwise(F.lit(None).cast("string"))
    )
    return df.withColumn("RTx", rtx).where(F.col("RTx").isNotNull())


def transform(raw: DataFrame, dim: DataFrame, entity_raw: str = "Unidad de Programación") -> DataFrame:
    """raw i90/i3 curtailment rows → curtailments_i90 / curtailments_i3."""
    entity_out = "up" if entity_raw == "Unidad de Programación" else "tecnologia"
    df = (
        raw.where(F.col("Sentido") == "Bajar")
        .transform(classify_rtx)
        .withColumn("tipo", F.col("Redespacho"))
        .transform(lambda d: drop_zero_na(d, "volumenes"))
        .transform(lambda d: standardize_datetime(d, dim, value_col="volumenes"))
        .withColumnRenamed(entity_raw, entity_out)
        .withColumn("id_mercado", F.lit(CURTAILMENT_MARKET_ID))
        .select("datetime_utc", entity_out, "RTx", "tipo", "volumenes", "id_mercado")
    )
    dataset = "curtailments_i90" if entity_out == "up" else "curtailments_i3"
    return validate(df, dataset)
