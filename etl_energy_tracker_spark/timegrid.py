"""DST-aware time kernel for the Europe/Madrid market calendar.

The reference spends ~600 lines (etl_date_utils.py:18-66,241-576,
579-863) on Madrid local-time algebra: hourly labels with DST
suffixes ("02-03a"/"02-03b"), 15-minute indices over 92/96/100-slot
days, and local→UTC conversion on 23/25-hour days. Here the whole
kernel is native column expressions around one tiny broadcast
dimension:

    dst_dim: fecha → (day_type, day_start_offset, n_hours, n_quarters)

built from the EU rule (last Sunday of March springs forward at
02:00 local, last Sunday of October falls back at 03:00 local —
public EU directive 2000/84/EC, same rule the reference derives from
pytz internals).

Every source reaches the 15-min UTC grid through two functions:

- :func:`with_utc_from_quarter` is the one local→UTC conversion. A
  local day's k-th quarter is ``local_midnight_utc + (k−1)·15 min``
  with ``local_midnight_utc = fecha 00:00 − day_start_offset``. The
  formulation is linear in elapsed time, so every source label is a
  quarter index of its local day — 15-min labels directly, hourly DST
  labels via :func:`hourly_quarter_idx`, OMIE hour positions as
  ``(h−1)·4+1`` — and 23/25-hour days need no special case.
- :func:`expand_hourly_to_15min` is the one granularity expansion: it
  runs in UTC after the conversion and turns each hourly row into its
  four quarters.
"""

from __future__ import annotations

import datetime as dt
import functools

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DAY_NORMAL, DAY_FALL_BACK, DAY_SPRING_FWD = 0, 1, 2


def _last_sunday(year: int, month: int) -> dt.date:
    d = dt.date(year, month + 1, 1) if month < 12 else dt.date(year + 1, 1, 1)
    d -= dt.timedelta(days=1)
    return d - dt.timedelta(days=(d.weekday() + 1) % 7)


def madrid_transitions(start_year: int = 2000, end_year: int = 2035) -> list[tuple[dt.date, int]]:
    """(date, day_type) for every Madrid DST transition day."""
    out: list[tuple[dt.date, int]] = []
    for y in range(start_year, end_year + 1):
        out.append((_last_sunday(y, 3), DAY_SPRING_FWD))
        out.append((_last_sunday(y, 10), DAY_FALL_BACK))
    return out


@functools.cache
def dst_dim(spark: SparkSession, start_year: int = 2000, end_year: int = 2035) -> DataFrame:
    """Per-date dimension for every day in range — tiny (~13k rows),
    always broadcast. Columns:

    - ``fecha``: date
    - ``day_type``: 0 normal / 1 fall-back (25 h) / 2 spring-fwd (23 h)
    - ``day_start_offset``: UTC offset (hours) at local midnight
    - ``n_hours`` / ``n_quarters``: local day length (23/24/25, 92/96/100)

    Built entirely JVM-side (exploded date sequence + the EU last-Sunday
    rule as column expressions) — shipping 13k Python rows through
    createDataFrame cost ~1 s of py4j serialization on every pipeline
    call. The plan is memoized per session (``functools.cache``, not a
    module-level dict: catalog fingerprints hash module globals as
    constants, so runtime state must not live in one)."""

    def last_sunday(month: int) -> Column:
        last = F.last_day(F.make_date(F.col("y"), F.lit(month), F.lit(1)))
        return F.date_sub(last, (F.dayofweek(last) - 1) % 7)

    days = spark.sql(
        f"SELECT explode(sequence(DATE'{start_year}-01-01', "
        f"DATE'{end_year}-12-31')) AS fecha"
    ).withColumn("y", F.year("fecha"))
    spring, fall = last_sunday(3), last_sunday(10)
    day_type = (
        F.when(F.col("fecha") == spring, F.lit(DAY_SPRING_FWD))
        .when(F.col("fecha") == fall, F.lit(DAY_FALL_BACK))
        .otherwise(F.lit(DAY_NORMAL))
    )
    n_hours = (
        F.when(day_type == DAY_SPRING_FWD, 23)
        .when(day_type == DAY_FALL_BACK, 25)
        .otherwise(24)
    )
    dim = days.select(
        "fecha",
        day_type.cast("tinyint").alias("day_type"),
        F.when((F.col("fecha") > spring) & (F.col("fecha") <= fall), 2)
        .otherwise(1)
        .cast("tinyint")
        .alias("day_start_offset"),
        n_hours.cast("tinyint").alias("n_hours"),
        (n_hours * 4).cast("smallint").alias("n_quarters"),
    )
    return dim


# ---------------------------------------------------------------------------
# label parsing (C2/C3/C4)
# ---------------------------------------------------------------------------


def parse_hour_label(hora: Column) -> tuple[Column, Column]:
    """'HH-HH+1[a|b]' / 'HH[a|b]' → (base_hour int, suffix '', 'a' or 'b').

    Reference: etl_date_utils.py:241-296 (regex
    ``^(\\d{1,2})(?:-\\d{1,2})?([ab]?)$``).
    """
    base = F.regexp_extract(hora, r"^(\d{1,2})", 1).cast("int")
    suffix = F.regexp_extract(hora, r"([ab])$", 1)
    return base, suffix


def parse_quarter_label(hora: Column) -> Column:
    """15-min label: numeric index '1'..'100' (1-based quarter of the
    local day; 92/100 on DST days — etl_date_utils.py:441-576)."""
    return hora.cast("int")


def parse_omie_period(periodo: Column) -> Column:
    """OMIE 'HxQy' → 1-based 15-min index (h-1)*4+q
    (_procesador_omie.py:277-296)."""
    h = F.regexp_extract(periodo, r"H(\d+)Q(\d+)", 1).cast("int")
    q = F.regexp_extract(periodo, r"H(\d+)Q(\d+)", 2).cast("int")
    return (h - 1) * 4 + q


# ---------------------------------------------------------------------------
# elapsed-time conversion
# ---------------------------------------------------------------------------


def elapsed_hours(day_type: Column, hour: Column, suffix: Column) -> Column:
    """Position of a local hourly label within the day's elapsed hours.

    - normal: h
    - spring-forward (23 h): hour 2 doesn't exist; h≥3 shift down 1
    - fall-back (25 h): 00,01,02a keep h; 02b is elapsed 3; h≥3 shift up 1

    Reference semantics: etl_date_utils.py:362-438 (suffix ``a`` =
    first occurrence/CEST, ``b`` = second/CET).
    """
    return (
        F.when(day_type == DAY_SPRING_FWD, F.when(hour >= 3, hour - 1).otherwise(hour))
        .when(
            day_type == DAY_FALL_BACK,
            F.when((hour == 2) & (suffix == "b"), F.lit(3))
            .when(hour >= 3, hour + 1)
            .otherwise(hour),
        )
        .otherwise(hour)
    )


def hourly_quarter_idx(hora: Column) -> Column:
    """DST-suffixed hourly label → 1-based quarter index of its hour
    start. Reads the ``day_type`` that :func:`with_utc_from_quarter`
    joins, so it is only valid inside that call's ``quarter_idx``."""
    base, suffix = parse_hour_label(hora)
    return elapsed_hours(F.col("day_type"), base, suffix) * 4 + 1


def with_utc_from_quarter(
    df: DataFrame,
    dim: DataFrame,
    fecha: str = "fecha",
    quarter_idx: Column | str = "quarter_idx",
    out: str = "datetime_utc",
) -> DataFrame:
    """Attach ``datetime_utc`` from a local date + 1-based 15-min index:
    ``fecha 00:00 + (idx−1)·15 min − day_start_offset·60 min``. The
    index expression may read the joined ``day_type``."""
    idx = F.col(quarter_idx) if isinstance(quarter_idx, str) else quarter_idx
    d = dim.select(F.col("fecha").alias("_dim_fecha"), "day_type", "day_start_offset")
    local_day = F.to_date(fecha)
    utc = F.to_timestamp(local_day) + F.make_interval(
        mins=(idx - 1) * 15 - F.col("day_start_offset") * 60
    )
    return (
        df.join(F.broadcast(d), local_day == F.col("_dim_fecha"), "left")
        .withColumn(out, utc)
        .drop("_dim_fecha", "day_type", "day_start_offset")
    )


def utc_to_madrid_date(ts: Column) -> Column:
    """Local (Europe/Madrid) calendar date of a UTC instant — used for
    the linking prep's local-day filter (_linking_algorithm.py:82-173).
    UTC→local is never ambiguous, so the engine primitive suffices."""
    return F.to_date(F.from_utc_timestamp(ts, "Europe/Madrid"))


# ---------------------------------------------------------------------------
# granularity conversion (A3/A4)
# ---------------------------------------------------------------------------


def expand_hourly_to_15min(
    df: DataFrame,
    hourly: Column,
    ts_col: str = "datetime_utc",
    divide_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Rows where ``hourly`` holds become 4 rows at +0/15/30/45 min with
    ``divide_cols`` (volumes) ÷4, other value columns (prices)
    replicating; all other rows, NULL predicate included, pass through.
    Reference: etl_date_utils.py:826-863. One conditional explode —
    distributed, no shuffle, one scan of the source."""
    is_h = F.coalesce(hourly, F.lit(False))
    offs = F.when(
        is_h, F.array(F.lit(0), F.lit(15), F.lit(30), F.lit(45))
    ).otherwise(F.array(F.lit(0)))
    # one withColumns: every replacement reads the exploded row's input
    # values, and each DataFrame call costs a driver-side analysis
    shifted = {ts_col: F.col(ts_col) + F.make_interval(mins=F.col("_off"))}
    shifted |= {c: F.when(is_h, F.col(c) / 4).otherwise(F.col(c)) for c in divide_cols}
    return df.withColumn("_off", F.explode(offs)).withColumns(shifted).drop("_off")


def rollup_15min_to_hourly(
    df: DataFrame,
    group_cols: tuple[str, ...] = (),
    mean_cols: tuple[str, ...] = (),
) -> DataFrame:
    """15-min → hourly prices: truncate ``datetime_utc`` to the hour,
    mean of each price column, ids grouped. Reference:
    etl_date_utils.py:866-937."""
    hour = F.date_trunc("hour", "datetime_utc").alias("datetime_utc")
    return df.groupBy(hour, *group_cols).agg(*[F.avg(c).alias(c) for c in mean_cols])


def with_local_labels(df: DataFrame, dim: DataFrame) -> DataFrame:
    """Inverse kernel: UTC ``datetime_utc`` → Madrid local (fecha, hourly label
    with DST suffix, 1-based quarter index) — what a writer producing
    reference-shaped raw files needs (the exact inverse of
    with_utc_from_quarter with either index).

    Fall-back days label the repeated local hour 2 as '02-03a' (first
    occurrence, CEST) or '02-03b' (second, CET), disambiguated by the
    UTC hour; all other labels follow directly from the local wall
    clock. The quarter index is elapsed time since local midnight."""
    local = F.from_utc_timestamp(F.col("datetime_utc"), "Europe/Madrid")
    d = dim.select(
        F.col("fecha").alias("_dim_fecha"), "day_type", "day_start_offset"
    )
    out = df.withColumn("_local", local).withColumn(
        "fecha", F.to_date("_local")
    ).join(F.broadcast(d), F.col("fecha") == F.col("_dim_fecha"), "left")

    h = F.hour("_local")
    ambiguous = (F.col("day_type") == DAY_FALL_BACK) & (h == 2)
    suffix = F.when(
        ambiguous, F.when(F.hour("datetime_utc") == 0, F.lit("a")).otherwise(F.lit("b"))
    ).otherwise(F.lit(""))
    hora = F.concat(
        F.lpad(h.cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((h + 1) % 24).cast("string"), 2, "0"),
        suffix,
    )
    local_midnight_utc = F.to_timestamp(F.col("fecha")) - F.make_interval(
        hours=F.col("day_start_offset")
    )
    quarter_idx = (
        (F.unix_micros(F.col("datetime_utc")) - F.unix_micros(local_midnight_utc))
        / 900_000_000
    ).cast("int") + 1
    return (
        out.withColumn("hora", hora)
        .withColumn("quarter_idx", quarter_idx)
        .drop("_local", "_dim_fecha", "day_type", "day_start_offset")
    )
