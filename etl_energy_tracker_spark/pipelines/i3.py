"""I3 per-technology pipeline — Spark rendering of I3Processor
(_procesador_i3.py): technology semi-join filter (F6), PHF→Intra
program mapping (J3), DST-aware standardization, per-technology intra
differencing (mirrors i90.intra_incremental with tecnologia as the
entity)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config.market_config import MARKET_BY_NAME, PHF_INTRA_MAP, tecnologias_df
from ..schemas import validate
from .common import drop_zero_na, standardize_datetime
from .i90 import apply_market_filters


def technology_filter(df: DataFrame, spark: SparkSession) -> DataFrame:
    """F6 (_procesador_i3.py:37-57): keep rows whose Concepto is a known
    generation technology — broadcast left-semi join against the dim."""
    dim = tecnologias_df(spark)
    return df.join(
        F.broadcast(dim), df["Concepto"] == dim["tecnologia"], "left_semi"
    )


def map_programa_to_market(df: DataFrame) -> DataFrame:
    """J3 (_procesador_i3.py:71-94): 'PHF-n' → 'Intra n' → id_mercado,
    as chained literal-map lookups (no join needed — the maps are
    static config)."""
    phf_map = F.create_map(
        *[x for k, v in PHF_INTRA_MAP.items() for x in (F.lit(k), F.lit(v))]
    )
    name_to_id = F.create_map(
        *[
            x
            for name, m in MARKET_BY_NAME.items()
            for x in (F.lit(name), F.lit(m.id))
        ]
    )
    return df.withColumn("id_mercado", name_to_id[phf_map[F.col("Programa")]])


def transform_volumenes(
    spark: SparkSession,
    raw: DataFrame,
    dim: DataFrame,
    market_id: int | None = None,
) -> DataFrame:
    """raw_volumenes_i3 → processed volumenes_i3. If ``market_id`` is
    None the market comes from the Programa column (intra files)."""
    df = raw.transform(lambda d: technology_filter(d, spark))
    if market_id is not None:
        df = apply_market_filters(df, market_id).withColumn(
            "id_mercado", F.lit(market_id)
        )
    else:
        df = map_programa_to_market(df)
    df = (
        df.transform(lambda d: drop_zero_na(d, "volumenes"))
        .transform(lambda d: standardize_datetime(d, dim, value_col="volumenes"))
        .withColumnRenamed("Concepto", "tecnologia")
        .select("datetime_utc", "tecnologia", "volumenes", "id_mercado")
    )
    return validate(df, "volumenes_i3")
