"""Entity-dimension tracking (SCD-style maintenance of UP/UOF/ZR
listings) — Spark rendering of tracking/UP_tracking.py:282-320 and
UOF_tracking.py:297-363.

new = incoming ∖ dimension, obsolete = dimension ∖ incoming — both as
broadcast left-anti joins (J8); `apply_changes` produces the updated
dimension the way the reference's keyed UPDATE/INSERT does, as a pure
DataFrame so the caller overwrites the dim table in the lake."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def detect_changes(incoming: DataFrame, dimension: DataFrame, key: str) -> DataFrame:
    """Returns (entity key, change ∈ {'new','obsolete'})."""
    inc = incoming.select(key).distinct()
    dim = dimension.select(key).distinct()
    new = inc.join(dim, key, "left_anti").withColumn("change", F.lit("new"))
    obsolete = dim.join(inc, key, "left_anti").withColumn("change", F.lit("obsolete"))
    return new.unionByName(obsolete)


def apply_changes(incoming: DataFrame, dimension: DataFrame, key: str) -> DataFrame:
    """Updated dimension: new entities appended (obsoleta=0), missing
    entities flagged obsoleta=1, surviving entities keep their row.
    Matches the up_listado shape (FIXTURES.md §3.2)."""
    changes = detect_changes(incoming, dimension, key)
    new_rows = (
        changes.where(F.col("change") == "new")
        .select(key)
        .withColumn("obsoleta", F.lit(0))
        .withColumn("date_updated", F.current_date())
    )
    obsolete_keys = changes.where(F.col("change") == "obsolete").select(key)
    kept = dimension.join(F.broadcast(obsolete_keys), key, "left_anti").withColumn(
        "date_updated", F.current_date()
    )
    flagged = (
        dimension.join(F.broadcast(obsolete_keys), key, "left_semi")
        .withColumn("obsoleta", F.lit(1))
        .withColumn("date_updated", F.current_date())
    )
    cols = [key, "obsoleta", "date_updated"]
    return (
        kept.select(*cols)
        .unionByName(flagged.select(*cols))
        .unionByName(new_rows.select(*cols))
    )


def attribute_change_log(
    incoming: DataFrame,
    dim: DataFrame,
    key: str,
    num_fields: tuple[str, ...],
    str_fields: tuple[str, ...],
    date_updated: str,
) -> DataFrame:
    """Per-field attribute-drift change log — Spark rendering of
    UP_tracking.py:388-494 (check_up_changes): for entities present in
    both sides, each tracked field that moved yields one log row;
    entities new to the dim log 'habilitada', entities gone log
    'obsoleta' (the UP tracker logs obsoletions, unlike ZR). The
    reference's null-skip rule is preserved: a common entity whose
    incoming row has ANY tracked field null is skipped entirely (old
    values kept, nothing compared); a null OLD value against a non-null
    new one IS a change (pandas NaN != x semantics → null-safe
    inequality here).

    One full-outer join + per-field when-projections — no per-entity
    loop; numeric values ride in old_num/new_num, strings in
    old_str/new_str (engine-portable, no float stringification)."""
    fields = list(num_fields) + list(str_fields)
    i = incoming.select(
        F.col(key).alias("entity"),
        *[F.col(f).alias(f"_n_{f}") for f in fields],
        F.lit(True).alias("_in_inc"),
    )
    d = dim.select(
        F.col(key).alias("entity"),
        *[F.col(f).alias(f"_o_{f}") for f in fields],
        F.lit(True).alias("_in_dim"),
    )
    j = (
        i.join(d, "entity", "full_outer")
        .withColumn("_in_inc", F.coalesce("_in_inc", F.lit(False)))
        .withColumn("_in_dim", F.coalesce("_in_dim", F.lit(False)))
    )

    def _flag(name: str, old_s, new_s) -> DataFrame:
        return (
            F.lit(name).alias("field_changed"),
            F.lit(None).cast("double").alias("old_num"),
            F.lit(None).cast("double").alias("new_num"),
            old_s.alias("old_str"),
            new_s.alias("new_str"),
        )

    out = j.where(~F.col("_in_dim")).select(
        "entity", *_flag("habilitada", F.lit("false"), F.lit("true"))
    )
    out = out.unionByName(
        j.where(F.col("_in_dim") & ~F.col("_in_inc")).select(
            "entity", *_flag("obsoleta", F.lit("false"), F.lit("true"))
        )
    )
    comparable = F.col("_in_inc") & F.col("_in_dim")
    for f in fields:
        comparable = comparable & F.col(f"_n_{f}").isNotNull()
    for f in num_fields:
        out = out.unionByName(
            j.where(comparable & ~F.col(f"_n_{f}").eqNullSafe(F.col(f"_o_{f}"))).select(
                "entity",
                F.lit(f).alias("field_changed"),
                F.col(f"_o_{f}").cast("double").alias("old_num"),
                F.col(f"_n_{f}").cast("double").alias("new_num"),
                F.lit(None).cast("string").alias("old_str"),
                F.lit(None).cast("string").alias("new_str"),
            )
        )
    for f in str_fields:
        out = out.unionByName(
            j.where(comparable & ~F.col(f"_n_{f}").eqNullSafe(F.col(f"_o_{f}"))).select(
                "entity",
                F.lit(f).alias("field_changed"),
                F.lit(None).cast("double").alias("old_num"),
                F.lit(None).cast("double").alias("new_num"),
                F.col(f"_o_{f}").cast("string").alias("old_str"),
                F.col(f"_n_{f}").cast("string").alias("new_str"),
            )
        )
    return out.withColumn("date_updated", F.lit(date_updated))


def up_change_log(
    incoming: DataFrame, dim: DataFrame, date_updated: str
) -> DataFrame:
    """UP listing change log: potencia (numeric) + zona_regulacion
    (string) drift, habilitada/obsoleta transitions
    (UP_tracking.py:388-494)."""
    return attribute_change_log(
        incoming, dim, "UP", ("potencia",), ("zona_regulacion",), date_updated
    )


def map_tecnologia_id(
    df: DataFrame,
    tecnologias: DataFrame,
    strict: bool = True,
) -> DataFrame:
    """tipo_produccion → tecnologia_id via the technology dim
    (UP_tracking.py:239-279): broadcast join; in strict mode an
    unmapped production type fails the job naming the value (the
    reference raises on unmapped), enforced JVM-side with raise_error —
    no driver-side scan."""
    t = tecnologias.select(
        F.col("tecnologia").alias("tipo_produccion"), F.col("id").alias("tecnologia_id")
    )
    joined = df.join(F.broadcast(t), "tipo_produccion", "left")
    tid = F.col("tecnologia_id")
    if strict:
        tid = F.when(
            tid.isNull() & F.col("tipo_produccion").isNotNull(),
            F.raise_error(
                F.concat(F.lit("unmapped production type: "), F.col("tipo_produccion"))
            ),
        ).otherwise(tid)
    return joined.withColumn("tecnologia_id", tid).drop("tipo_produccion")


def update_tecnologias(p48_raw: DataFrame, dim: DataFrame) -> DataFrame:
    """Technology-dimension maintenance from P48 data — Spark rendering
    of tecnologias_generacion/p48_tecnologias_generacion.py:27-108: the
    distinct non-null Concepto values of the latest P48 file that are
    not yet in `tecnologias_generacion` are appended; existing rows are
    untouched. The reference leans on DB auto-increment for ids; here
    new rows get max(id)+rank ordered by name — deterministic across
    runs and engines. The global window is safe: it runs on the handful
    of *new* names, never on the P48 fact rows (distinct reduces
    first)."""
    incoming = (
        p48_raw.select(F.col("Concepto").alias("tecnologia"))
        .where(F.col("tecnologia").isNotNull())
        .distinct()
    )
    new = incoming.join(dim.select("tecnologia"), "tecnologia", "left_anti")
    max_id = dim.agg(F.coalesce(F.max("id"), F.lit(0)).alias("_mx"))
    new_rows = (
        new.crossJoin(F.broadcast(max_id))
        .withColumn(
            "id",
            (F.col("_mx") + F.row_number().over(W.orderBy("tecnologia"))).cast("int"),
        )
        .select("id", "tecnologia")
    )
    return dim.select("id", "tecnologia").unionByName(new_rows)
