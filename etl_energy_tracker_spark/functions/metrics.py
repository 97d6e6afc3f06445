"""Side-effect data-quality metrics via ``observe()``.

The reference computes its price-quality report as a separate pandas
pass (_procesador_esios.py:37-83 — mean/std, null/negative/zero/
outlier counts) purely for logging. On Spark the idiomatic shape is
``DataFrame.observe``: the metrics accumulate *during* the main
action — zero extra scans, exactly-once per action — and surface on
the driver afterwards."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_value_quality(df: DataFrame, value_col: str) -> tuple[DataFrame, Observation]:
    """Attach the reference's quality metrics to the frame. Returns
    (observed frame, observation); read ``observation.get`` after the
    next action on the frame."""
    obs = Observation("value_quality")
    v = F.col(value_col)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.avg(v), 4).alias("mean"),
        F.round(F.stddev_samp(v), 4).alias("std"),
        F.count(F.when(v.isNull(), 1)).alias("n_null"),
        F.count(F.when(v < 0, 1)).alias("n_negative"),
        F.count(F.when(v == 0, 1)).alias("n_zero"),
        F.min(v).alias("min"),
        F.max(v).alias("max"),
    )
    return observed, obs
