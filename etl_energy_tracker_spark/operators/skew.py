"""Skew-aware join: salting for hot keys.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime, but only for sort-merge joins and only per shuffle block.
Explicit salting is the deterministic fallback when one key dominates
(a single UP/UOF holding most of a market's volume is the realistic
case here): the fact side gets a random salt in [0, n), the dim side
is exploded ×n, and the join key becomes (key, salt) — the hot key's
rows spread over n tasks instead of one straggler."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join fact⋈dim on ``key`` with the fact side salted.

    The dim side replicates ×n_salts (explode), so it should be the
    smaller input. Result columns = fact columns + dim columns minus
    the duplicate key."""
    salted_fact = fact.withColumn(
        "_salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_fact.join(salted_dim, [key, "_salt"])
    return out.drop("_salt")
