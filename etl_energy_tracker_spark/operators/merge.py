"""MERGE INTO emulation for a lake without Delta/Iceberg jars.

The reference's upsert semantics (K3/K4) are keyed overwrite; richer
CDC needs the full MERGE matrix — update matched, insert new,
optionally delete missing — and SCD2 needs history retention. Both
are expressible as pure DataFrame set algebra:

    merged = (target ⟕anti source)          -- untouched rows
           ∪ (source ⋈semi target → update) -- matched, updated
           ∪ (source ⟕anti target → insert) -- brand new

One shuffle on the key for each side; at 100 TB the caller bounds the
rewrite by partition-pruning `target` to the partitions `source`
touches (exactly what Lake.upsert_processed does) before merging.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_into(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_missing: bool = False,
) -> DataFrame:
    """MERGE: source rows win on key match, new keys insert, and with
    ``delete_missing`` target keys absent from source drop (full-sync
    semantics reduce to "result = source"). Column sets must match."""
    if delete_missing:
        return source.select(*target.columns)
    kept = target.join(source.select(*keys), keys, "left_anti")
    return kept.unionByName(source.select(*target.columns))


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    tracked_cols: list[str],
) -> DataFrame:
    """SCD Type-2: close the current version of changed keys and append
    the new version; history rows are immutable.

    ``dim`` carries (key, tracked..., valid_from, valid_to, is_current);
    ``changes`` carries (key, tracked...). A change is any tracked-col
    difference vs the current version."""
    cur = dim.where(F.col("is_current"))
    hist = dim.where(~F.col("is_current"))

    cmp_cond: Column = F.lit(False)
    for c in tracked_cols:
        cmp_cond = cmp_cond | (
            ~F.col(f"cur.{c}").eqNullSafe(F.col(f"chg.{c}"))
        )
    joined = cur.alias("cur").join(changes.alias("chg"), key, "inner")
    changed_keys = joined.where(cmp_cond).select(key)

    today = F.current_date()
    closed = (
        cur.join(F.broadcast(changed_keys), key, "left_semi")
        .withColumn("valid_to", today)
        .withColumn("is_current", F.lit(False))
    )
    unchanged_cur = cur.join(changed_keys, key, "left_anti")

    new_keys = changes.join(cur.select(key), key, "left_anti").select(key)
    opening_keys = changed_keys.unionByName(new_keys)
    opened = (
        changes.join(F.broadcast(opening_keys), key, "left_semi")
        .withColumn("valid_from", today)
        .withColumn("valid_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    cols = dim.columns
    return (
        hist.select(*cols)
        .unionByName(closed.select(*cols))
        .unionByName(unchanged_cur.select(*cols))
        .unionByName(opened.select(*cols))
    )
