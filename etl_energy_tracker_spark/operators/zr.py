"""Regulation-zone (ZR/BSP) tracking — Spark rendering of
tracking/ZR_tracking.py:98-470 and tracking/descarga_bsp_esios.py.

The reference maintains a third entity dimension beside UP/UOF: the
`zr_listado` table (esios_id, i90_id, obsoleta, potencia), refreshed
from two sources — the ESIOS UP export (zones + max power of their
generation units) and the REE BSP-aFRR listing (ESIOS zone name →
I90 zone code). Four change kinds:

- new zone      (in ESIOS, never seen in the dim)        → insert, log 'habilitada'
- obsolete zone (active in dim, gone from ESIOS)         → flag, not logged (ZR_tracking.py:408-429)
- potencia drift (active zone, 2-dp rounded power moved) → update, log 'potencia'
- i90 backfill  (active zone, i90_id NULL, mapping knows)→ update, log 'i90_id'

Zones already obsolete in the dim pass through untouched — a
reappearing obsolete zone is NOT revived (new = esios ∖ all-db,
ZR_tracking.py:203-206).

Scale shape: the dimension is inherently small (dozens of zones), so
every join broadcasts; the heavy side is the UP export aggregation —
one hash aggregate with map-side partials, decimal-exact power sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipelines.common import parse_european_number

ZR_DIM_COLS = ["esios_id", "i90_id", "obsoleta", "potencia"]

# the REE BSP-aFRR listing's zone-name and zone-code columns
BSP_ZONE_COL = "Descripción corta BSP-aFRR"
BSP_CODE_COL = "Código BSP-aFRR"


def esios_zone_aggregate(up_df: DataFrame, parse_potencia: bool = True) -> DataFrame:
    """Generation zones with their total max power
    (ZR_tracking.py:98-136) from the ESIOS UP export columns: filter
    'Generación' UPs, parse the European-format power, round each to
    2 dp, sum per trimmed zone. Sums run decimal-exact (2-dp inputs),
    so the result is reproducible regardless of partitioning."""
    pot = F.col("Potencia máxima MW")
    if parse_potencia:
        pot = parse_european_number(pot)
    return (
        up_df.where(F.col("Tipo de UP") == "Generación")
        .select(
            F.trim(F.col("Zona de Regulación")).alias("esios_id"),
            F.round(pot, 2).cast("decimal(18,2)").alias("_pot"),
        )
        .groupBy("esios_id")
        .agg(F.sum("_pot").cast("double").alias("potencia"))
    )


def bsp_mapping(bsp_df: DataFrame) -> DataFrame:
    """ESIOS zone name → I90 zone code from the REE BSP-aFRR listing
    (ZR_tracking.py:138-171), both sides trimmed."""
    return (
        bsp_df.select(
            F.trim(F.col(BSP_ZONE_COL)).alias("esios_id"),
            F.trim(F.col(BSP_CODE_COL)).alias("i90_id"),
        )
        .dropDuplicates(["esios_id"])
    )


def _marked(dim: DataFrame, esios_zones: DataFrame, mapping: DataFrame) -> DataFrame:
    """Full-outer dim ⟗ snapshot (broadcast — both are zone-sized),
    plus the mapping, with presence markers."""
    d = dim.select(
        "esios_id",
        F.col("i90_id").alias("_d_i90"),
        F.col("obsoleta").alias("_d_obs"),
        F.col("potencia").alias("_d_pot"),
        F.lit(True).alias("_in_dim"),
    )
    e = esios_zones.select(
        "esios_id",
        F.col("potencia").alias("_e_pot"),
        F.lit(True).alias("_in_esios"),
    )
    m = mapping.select("esios_id", F.col("i90_id").alias("_m_i90"))
    # no broadcast hint on the full-outer (unsupported build side); both
    # inputs are zone-sized, so the shuffle is trivial either way
    return (
        d.join(e, "esios_id", "full_outer")
        .join(F.broadcast(m), "esios_id", "left")
        .withColumn("_in_dim", F.coalesce("_in_dim", F.lit(False)))
        .withColumn("_in_esios", F.coalesce("_in_esios", F.lit(False)))
    )


def zr_apply_changes(
    dim: DataFrame, esios_zones: DataFrame, mapping: DataFrame
) -> DataFrame:
    """The updated zr_listado dimension (ZR_tracking.py:346-470), as a
    pure DataFrame for the caller to overwrite the dim table with."""
    j = _marked(dim, esios_zones, mapping)
    active = F.col("_in_dim") & (F.col("_d_obs") == 0)
    return j.select(
        "esios_id",
        F.when(~F.col("_in_dim"), F.col("_m_i90"))
        .when(active & F.col("_d_i90").isNull(), F.col("_m_i90"))
        .otherwise(F.col("_d_i90"))
        .alias("i90_id"),
        F.when(~F.col("_in_dim"), F.lit(0))
        .when(active & ~F.col("_in_esios"), F.lit(1))
        .otherwise(F.col("_d_obs"))
        .alias("obsoleta"),
        F.when(~F.col("_in_dim"), F.col("_e_pot"))
        .when(active & F.col("_in_esios"), F.col("_e_pot"))
        .otherwise(F.col("_d_pot"))
        .alias("potencia"),
    )


def zr_change_log(
    dim: DataFrame,
    esios_zones: DataFrame,
    mapping: DataFrame,
    date_updated: str,
) -> DataFrame:
    """The reference's change log (ZR_tracking.py:213-241,296-341):
    'habilitada' for new zones, 'potencia' for 2-dp drift on active
    zones, 'i90_id' for backfills. Obsolete flagging is intentionally
    unlogged, as in the reference. Numeric old/new values ride in
    typed columns (old_num/new_num) — stringifying floats is not
    engine-portable."""
    j = _marked(dim, esios_zones, mapping)
    active = F.col("_in_dim") & (F.col("_d_obs") == 0)

    new_zones = j.where(~F.col("_in_dim")).select(
        "esios_id",
        F.lit("habilitada").alias("field_changed"),
        F.lit(None).cast("double").alias("old_num"),
        F.lit(None).cast("double").alias("new_num"),
        F.lit("false").alias("old_str"),
        F.lit("true").alias("new_str"),
    )
    potencia = (
        j.where(active & F.col("_in_esios"))
        .where(F.round("_d_pot", 2) != F.round("_e_pot", 2))
        .select(
            "esios_id",
            F.lit("potencia").alias("field_changed"),
            F.round("_d_pot", 2).alias("old_num"),
            F.round("_e_pot", 2).alias("new_num"),
            F.lit(None).cast("string").alias("old_str"),
            F.lit(None).cast("string").alias("new_str"),
        )
    )
    backfill = (
        j.where(active & F.col("_d_i90").isNull() & F.col("_m_i90").isNotNull())
        .select(
            "esios_id",
            F.lit("i90_id").alias("field_changed"),
            F.lit(None).cast("double").alias("old_num"),
            F.lit(None).cast("double").alias("new_num"),
            F.lit(None).cast("string").alias("old_str"),
            F.col("_m_i90").alias("new_str"),
        )
    )
    return (
        new_zones.unionByName(potencia)
        .unionByName(backfill)
        .withColumn("date_updated", F.lit(date_updated))
    )
