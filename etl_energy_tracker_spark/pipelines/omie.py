"""OMIE auction/continuous pipeline — Spark rendering of
OMIEProcessor (_procesador_omie.py): empty-row cleanup, matched-offer
filter, European decimal parse, buy/sell sign, period parse (1-based
hour index or 'HxQy'), duplicate aggregation, and the MIC
(continuous intraday) contract parse.

OMIE hour labels are *positions* in the local day (1..24/25), so the
elapsed-time kernel handles DST days with no special cases."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import timegrid as tg
from ..schemas import validate
from .common import drop_empty_rows, parse_european_number


def clean_and_filter(df: DataFrame) -> DataFrame:
    """F8 + F5 (_procesador_omie.py:34-63,127-129)."""
    df = drop_empty_rows(df, ("Fecha", "Hora", "Unidad"))
    return df.where(F.col("Ofertada (O)/Casada (C)") == "C")


def signed_energy(df: DataFrame) -> DataFrame:
    """C1 + C9 (_procesador_omie.py:112-154): parse European decimals,
    buy offers ('C') negate."""
    energy = parse_european_number(F.col("Energía Compra/Venta"))
    return df.withColumn(
        "volumenes",
        F.when(F.col("Tipo Oferta") == "C", -energy).otherwise(energy),
    )


def with_datetime(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Hora is either a 1-based local hour position ('1'..'25') or
    'HxQy' (_procesador_omie.py:277-296). Both are quarter indices of
    the local day — an hour position h starts at quarter (h−1)·4+1, on
    DST days too — so UTC comes from the one conversion, then hour rows
    expand ×4 (volumes ÷4). A NULL Hora counts as an hour row."""
    is_hq = F.coalesce(F.col("Hora").rlike("^H\\d+Q\\d+$"), F.lit(False))
    idx = F.when(is_hq, tg.parse_omie_period(F.col("Hora"))).otherwise(
        (F.col("Hora").cast("int") - 1) * 4 + 1
    )
    df = tg.with_utc_from_quarter(df, dim, fecha="Fecha", quarter_idx=idx)
    return tg.expand_hourly_to_15min(df, ~is_hq, divide_cols=("volumenes",))


def aggregate_volumes(df: DataFrame) -> DataFrame:
    """A1/A6 (_procesador_omie.py:699-724): sum duplicate unit rows per
    (uof, datetime_utc, id_mercado). One hash aggregate, map-side
    partials free."""
    return (
        df.groupBy(
            F.col("Unidad").alias("uof"), F.col("datetime_utc"), F.col("id_mercado")
        )
        .agg(F.sum("volumenes").alias("volumenes"))
    )


def transform_volumenes(raw: DataFrame, dim: DataFrame) -> DataFrame:
    """raw_volumenes_omie (diario + intra sessions) → volumenes_omie."""
    df = (
        raw.transform(clean_and_filter)
        .transform(signed_energy)
        .transform(lambda d: with_datetime(d, dim))
        .transform(aggregate_volumes)
    )
    return validate(df, "volumenes_omie")


def transform_mic(raw: DataFrame, dim: DataFrame) -> DataFrame:
    """Continuous intraday (MIC): C5 contract parse — chars 1-8 delivery
    date, 10-11 1-based delivery hour (_procesador_omie.py:156-169,
    258-273); buy units negative; duplicates kept (legitimate trades).
    MIC contracts are hourly products; the UTC instant comes from the
    same elapsed-time kernel via the quarter index of the hour start."""
    uof = F.coalesce(F.col("Unidad venta"), F.col("Unidad compra"))
    is_buy = F.col("Unidad compra").isNotNull()
    qty = parse_european_number(F.col("Cantidad"))
    df = (
        raw.withColumn("uof", uof)
        .withColumn("_delivery_fecha", F.to_date(F.substring("Contrato", 1, 8), "yyyyMMdd"))
        .withColumn("_delivery_hour", F.substring("Contrato", 10, 2).cast("int"))
        .withColumn("precio", parse_european_number(F.col("Precio")))
        .withColumn("volumenes", F.when(is_buy, -qty).otherwise(qty))
        .withColumn("fecha_fichero", F.col("Fecha"))
    )
    df = tg.with_utc_from_quarter(
        df,
        dim,
        fecha="_delivery_fecha",
        quarter_idx=(F.col("_delivery_hour") - 1) * 4 + 1,
    )
    out = df.select(
        "datetime_utc", "uof", "volumenes", "precio", "id_mercado", "fecha_fichero"
    )
    return validate(out, "volumenes_mic")
