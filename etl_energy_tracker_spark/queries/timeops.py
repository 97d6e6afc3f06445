"""Time-grid and parsing operator surface (SURVEY §2.7 scalar
functions C1-C9 and §2.4 A3/A4 granularity conversions).

The reference spends ~600 lines on Madrid DST time algebra
(etl_date_utils.py). Here each kernel is a *native column
expression* — regexp/arithmetic/timezone primitives that Catalyst
codegens — demonstrated as an oracle-checked round trip on the
testdata `events`/`orders` tables. The market-shaped end-to-end
pipelines reuse the same expressions from ``timegrid.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import timegrid as tg
from ..functions.stable import stable_avg, stable_avg_expr, stable_sum, stable_sum_expr
from ..sources.registry import load_table
from .catalog import register


@register(
    "hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_ts,
           event_type,
           {stable_avg_expr('value')} AS avg_value,
           {stable_sum_expr('value')} AS sum_value,
           COUNT(*) AS n
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("time", "aggregate"),
    doc="A3 15min→hourly rollup: truncate to hour, numeric→mean "
    "(etl_date_utils.py:866-937).",
)
def hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour_ts"), F.col("event_type")
        ).agg(
            stable_avg("value", "avg_value"),
            stable_sum("value", "sum_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "expand_hourly_to_15min",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour_ts,
               {stable_sum_expr('value')} AS hour_value
        FROM events
        GROUP BY date_trunc('hour', ts)
    )
    SELECT hour_ts + to_minutes(off) AS datetime_15min,
           hour_value / 4 AS value_15min
    FROM hourly
    CROSS JOIN (VALUES (0), (15), (30), (45)) AS offsets(off)
    """,
    tags=("time", "reshape"),
    doc="A4 hourly→15-min expansion: each hourly row ×4 with +0/15/30/45 "
    "offsets, volumes ÷4 (etl_date_utils.py:826-863), through the "
    "pipelines' own kernel (timegrid.expand_hourly_to_15min). explode() "
    "keeps it fully distributed — no driver loop.",
)
def expand_hourly_to_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts")).agg(
        stable_sum("value", "hour_value")
    )
    return tg.expand_hourly_to_15min(
        hourly, F.lit(True), ts_col="hour_ts", divide_cols=("hour_value",)
    ).select(
        F.col("hour_ts").alias("datetime_15min"),
        F.col("hour_value").alias("value_15min"),
    )


@register(
    "parse_hour_range",
    oracle=r"""
    WITH synth AS (
        SELECT event_id,
               lpad(CAST(EXTRACT(hour FROM ts) AS VARCHAR), 2, '0')
               || '-'
               || lpad(CAST((EXTRACT(hour FROM ts) + 1) % 24 AS VARCHAR), 2, '0')
               || CASE WHEN event_id % 7 = 0 THEN 'a'
                       WHEN event_id % 11 = 0 THEN 'b'
                       ELSE '' END AS hora
        FROM events
    )
    SELECT event_id, hora,
           CAST(regexp_extract(hora, '^(\d{1,2})', 1) AS INTEGER) AS hour_base,
           regexp_extract(hora, '([ab])$', 1) AS dst_suffix
    FROM synth
    """,
    tags=("time", "parse"),
    doc="C2 hour-range + DST suffix parse: '02-03a'/'02-03b' → base hour + "
    "ambiguity flag via regexp (etl_date_utils.py:241-296). Synthesised "
    "round trip over events.",
)
def parse_hour_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hour = F.hour("ts")
    hora = F.concat(
        F.lpad(hour.cast("string"), 2, "0"),
        F.lit("-"),
        F.lpad(((hour + 1) % 24).cast("string"), 2, "0"),
        F.when(F.col("event_id") % 7 == 0, F.lit("a"))
        .when(F.col("event_id") % 11 == 0, F.lit("b"))
        .otherwise(F.lit("")),
    )
    return ev.select("event_id", hora.alias("hora")).select(
        "event_id",
        "hora",
        F.regexp_extract("hora", r"^(\d{1,2})", 1).cast("int").alias("hour_base"),
        F.regexp_extract("hora", r"([ab])$", 1).alias("dst_suffix"),
    )


@register(
    "parse_quarter_period",
    oracle=r"""
    WITH synth AS (
        SELECT event_id,
               'H' || CAST(EXTRACT(hour FROM ts) + 1 AS VARCHAR)
               || 'Q' || CAST(CAST(EXTRACT(minute FROM ts) AS INTEGER) // 15 + 1 AS VARCHAR)
                   AS periodo
        FROM events
    )
    SELECT event_id, periodo,
           (CAST(regexp_extract(periodo, 'H(\d+)Q(\d+)', 1) AS INTEGER) - 1) * 4
             + CAST(regexp_extract(periodo, 'H(\d+)Q(\d+)', 2) AS INTEGER)
               AS idx_15min
    FROM synth
    """,
    tags=("time", "parse"),
    doc="C4 OMIE 'HxQy' period → 15-min index (h-1)*4+q "
    "(_procesador_omie.py:277-296).",
)
def parse_quarter_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    periodo = F.concat(
        F.lit("H"),
        (F.hour("ts") + 1).cast("string"),
        F.lit("Q"),
        (F.floor(F.minute("ts") / 15) + 1).cast("string"),
    )
    parsed = (
        (F.regexp_extract("periodo", r"H(\d+)Q(\d+)", 1).cast("int") - 1) * 4
        + F.regexp_extract("periodo", r"H(\d+)Q(\d+)", 2).cast("int")
    )
    return ev.select("event_id", periodo.alias("periodo")).select(
        "event_id", "periodo", parsed.alias("idx_15min")
    )


@register(
    "parse_european_decimal",
    oracle="""
    WITH synth AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS s
        FROM orders
    ), parts AS (
        SELECT o_orderkey,
               reverse(split_part(s, '.', 1)) AS rev,
               split_part(s, '.', 2) AS frac
        FROM synth
    ), euro_t AS (
        SELECT o_orderkey,
               reverse(array_to_string(list_transform(
                   range(1, CAST(ceil(length(rev) / 3.0) AS INT) + 1),
                   i -> substr(rev, CAST((i-1)*3+1 AS INT), 3)), '.'))
               || ',' || frac AS euro
        FROM parts
    )
    SELECT o_orderkey, euro,
           CAST(replace(replace(euro, '.', ''), ',', '.') AS DOUBLE) AS parsed
    FROM euro_t
    """,
    tags=("parse",),
    doc="C1 European decimal parse: '1.234,56' → 1234.56 via two "
    "regexp-free replaces (_procesador_omie.py:112-123). The euro-format "
    "input is synthesised from o_totalprice (reverse/chunk-3/join "
    "thousands grouping) so the parse is a verified round trip.",
)
def parse_european_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    synth = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("s"),
    ).select(
        "o_orderkey",
        F.reverse(F.split_part(F.col("s"), F.lit("."), F.lit(1))).alias("rev"),
        F.split_part(F.col("s"), F.lit("."), F.lit(2)).alias("frac"),
    )
    euro = F.concat(
        F.reverse(
            F.expr(
                "concat_ws('.', transform("
                "sequence(1, CAST(ceil(length(rev) / 3.0) AS INT)), "
                "i -> substr(rev, CAST((i-1)*3+1 AS INT), 3)))"
            )
        ),
        F.lit(","),
        F.col("frac"),
    )
    return synth.select("o_orderkey", euro.alias("euro")).select(
        "o_orderkey",
        "euro",
        F.replace(F.replace(F.col("euro"), F.lit("."), F.lit("")), F.lit(","), F.lit("."))
        .cast("double")
        .alias("parsed"),
    )


@register(
    "parse_contract_code",
    oracle="""
    WITH synth AS (
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y%m%d') || ' '
               || lpad(CAST(EXTRACT(hour FROM o_orderdate) + 1 AS VARCHAR), 2, '0')
                   AS contrato
        FROM orders
    )
    SELECT o_orderkey, contrato,
           CAST(strptime(substr(contrato, 1, 8), '%Y%m%d') AS DATE) AS delivery_date,
           CAST(substr(contrato, 10, 2) AS INTEGER) AS delivery_hour
    FROM synth
    """,
    tags=("parse", "time"),
    doc="C5 MIC contract parse: chars 1-8 = delivery date, 10-11 = hour "
    "(_procesador_omie.py:258-273).",
)
def parse_contract_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    contrato = F.concat(
        F.date_format("o_orderdate", "yyyyMMdd"),
        F.lit(" "),
        F.lpad((F.hour("o_orderdate") + 1).cast("string"), 2, "0"),
    )
    return orders.select("o_orderkey", contrato.alias("contrato")).select(
        "o_orderkey",
        "contrato",
        F.to_date(F.substring("contrato", 1, 8), "yyyyMMdd").alias("delivery_date"),
        F.substring("contrato", 10, 2).cast("int").alias("delivery_hour"),
    )


@register(
    "madrid_local_to_utc",
    oracle="""
    SELECT event_id, ts AS local_ts,
           make_timestamp(epoch_us(timezone('Europe/Madrid', ts))) AS utc_ts
    FROM events
    WHERE EXTRACT(hour FROM ts) NOT IN (2, 3)
    """,
    tags=("time",),
    doc="C6 Europe/Madrid local→UTC conversion (etl_date_utils.py:579-822) "
    "as a native to_utc_timestamp expression. Hours 2-3 excluded: DST "
    "ambiguous/nonexistent local times are resolved by the explicit "
    "transition-dim path in timegrid.py, not engine defaults.",
)
def madrid_local_to_utc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.where(~F.hour("ts").isin(2, 3))
        .select(
            "event_id",
            F.col("ts").alias("local_ts"),
            F.to_utc_timestamp(F.col("ts"), "Europe/Madrid").alias("utc_ts"),
        )
    )


@register(
    "quarter_to_utc",
    oracle="""
    SELECT event_id,
           DATE '2024-01-01' + CAST(event_id % 366 AS INT) AS fecha,
           CAST(event_id % 96 + 1 AS INT) AS quarter_idx,
           make_timestamp(epoch_us(timezone('Europe/Madrid',
               CAST(DATE '2024-01-01' + CAST(event_id % 366 AS INT)
                    AS TIMESTAMP))))
             + (event_id % 96) * INTERVAL 15 MINUTE AS datetime_utc
    FROM events
    """,
    tags=("time", "join"),
    doc="C3 local-date + 1-based 15-min quarter index -> UTC instant "
    "(etl_date_utils.py:418-520) via the broadcast DST transition dim "
    "(timegrid.dst_dim): local midnight resolves through the day's "
    "UTC offset, so 23/24/25-hour days (92/96/100 quarters) map "
    "correctly. Dates synthesized across all of 2024, covering both "
    "Madrid DST transitions; the oracle derives midnight through "
    "DuckDB's ICU timezone conversion — two independent DST sources "
    "agreeing. The dim join is a broadcast of ~13k tiny rows; the "
    "fact side never shuffles.",
)
def quarter_to_utc(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    df = ev.select(
        "event_id",
        F.date_add(
            F.to_date(F.lit("2024-01-01")), (F.col("event_id") % 366).cast("int")
        ).alias("fecha"),
        ((F.col("event_id") % 96) + 1).cast("int").alias("quarter_idx"),
    )
    return tg.with_utc_from_quarter(df, tg.dst_dim(spark)).select(
        "event_id", "fecha", "quarter_idx", "datetime_utc"
    )


@register(
    "interval_range_join",
    oracle=f"""
    WITH spikes AS (
        SELECT event_id AS spike_id, ts AS w_start,
               ts + INTERVAL 30 MINUTE AS w_end
        FROM events WHERE value > 220
    )
    SELECT s.spike_id,
           COUNT(e.event_id) AS n_in_window,
           {stable_sum_expr('e.value')} AS sum_in_window
    FROM spikes s
    JOIN events e ON e.ts >= s.w_start AND e.ts < s.w_end
    GROUP BY s.spike_id
    """,
    tags=("time", "join", "range"),
    doc="Interval overlap join (events falling inside each spike's "
    "30-minute window) via grid bucketing: both sides are keyed to "
    "30-minute grid cells, the interval exploded to the <=2 cells it "
    "overlaps, then an EQUI-join on the cell plus the exact range "
    "filter. The naive range-predicate join has no equality key and "
    "plans as a broadcast-nested-loop (O(N*M) comparisons) — the grid "
    "key turns it into a shuffled/broadcast hash join whose probe work "
    "is |cell| per row, which survives a 1000x scale-up. Cell width = "
    "interval length, so each interval lands in at most 2 cells and "
    "every (interval, event) match is produced exactly once (an event "
    "has a single cell).",
)
def interval_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    # exact integer division (DIV floors; double-divide-then-cast
    # truncates toward zero and leans on double precision)
    cell = F.expr("unix_micros(ts) DIV 1800000000")
    spikes = (
        ev.where(F.col("value") > 220)
        .select(
            F.col("event_id").alias("spike_id"),
            F.col("ts").alias("w_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
            F.explode(F.array(cell, cell + 1)).alias("cell"),
        )
    )
    probe = ev.select("event_id", "ts", "value", cell.alias("cell"))
    return (
        spikes.join(probe, "cell")
        .where((F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .groupBy("spike_id")
        .agg(
            F.count(F.lit(1)).alias("n_in_window"),
            stable_sum("value", "sum_in_window"),
        )
    )


@register(
    "rollup_cascade_daily",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day_ts, event_type,
           COUNT(*) AS n,
           {stable_sum_expr('value')} AS sum_value,
           ROUND({stable_sum_expr('value')} / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY date_trunc('day', ts), event_type
    """,
    tags=("time", "aggregate"),
    doc="Multi-resolution rollup cascade (the hypertable continuous-"
    "aggregate pattern): the daily aggregate is computed FROM the "
    "hourly partials — sum of sums, sum of counts — not by rescanning "
    "raw rows, and the average is derived once at the end from the "
    "exact decimal total. At 100 TB the hourly layer is a materialized "
    "table ~1/1000th the raw size, so every coarser resolution (day, "
    "month) costs a scan of the next-finer aggregate only; exact "
    "decimal accumulation makes the cascade bit-identical to a direct "
    "aggregation, which the oracle verifies.",
)
def rollup_cascade_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_dec"),
    )
    return (
        hourly.groupBy(F.to_date("hour_ts").alias("day_ts"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_dec").alias("day_dec"),
        )
        .select(
            "day_ts",
            "event_type",
            "n",
            F.col("day_dec").cast("double").alias("sum_value"),
            F.round(F.col("day_dec").cast("double") / F.col("n"), 6).alias(
                "avg_value"
            ),
        )
    )


# -------------------------------------- seasonal-naive backtesting

_SEASON_H = 168  # one week of hours — the classic seasonal-naive lag


@register(
    "seasonal_naive_backtest",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT a.event_type,
           COUNT(*) AS n_hours,
           CAST(SUM(CAST(ROUND(ABS(a.v - f.v), 6) AS DECIMAL(38,6)))
                AS DOUBLE) AS sum_abs_err,
           CASE WHEN SUM(CAST(a.v AS DECIMAL(38,6))) = 0 THEN NULL
                ELSE ROUND(
                    CAST(SUM(CAST(ROUND(ABS(a.v - f.v), 6) AS DECIMAL(38,6)))
                         AS DOUBLE)
                    / CAST(SUM(CAST(a.v AS DECIMAL(38,6))) AS DOUBLE), 6)
           END AS wape
    FROM hourly a
    JOIN hourly f
      ON f.event_type = a.event_type
     AND f.h = a.h - INTERVAL {_SEASON_H} HOUR
    GROUP BY a.event_type
    """,
    tags=("time", "stats"),
    doc="Seasonal-naive forecast backtest: predict each hour's total "
    "as the same hour one week earlier (the s=168 seasonal-naive "
    "baseline every forecasting pipeline must beat) and report the "
    "per-type WAPE (weighted absolute percentage error — one "
    "division per GROUP, unlike MAPE's per-row division, so the only "
    "float steps are one deterministic per-row subtraction rounded "
    "to 6 dp and one final divide). Hourly totals and both error "
    "sums are DECIMAL-exact, so shuffle order cannot move the "
    "result. Plan: one hourly aggregate + one self-join on "
    "(event_type, shifted hour) — co-partitioned on the same key, "
    "one exchange at scale.",
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(stable_sum("value", "v"))
    a = hourly.alias("a")
    f = hourly.alias("f")
    joined = a.join(
        f,
        (F.col("f.event_type") == F.col("a.event_type"))
        & (F.col("f.h") == F.col("a.h") - F.expr(f"INTERVAL {_SEASON_H} HOURS")),
    )
    err_dec = F.round(F.abs(F.col("a.v") - F.col("f.v")), 6).cast("decimal(38,6)")
    act_dec = F.col("a.v").cast("decimal(38,6)")
    return joined.groupBy(F.col("a.event_type").alias("event_type")).agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(err_dec).cast("double").alias("sum_abs_err"),
        F.when(F.sum(act_dec) == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.sum(err_dec).cast("double") / F.sum(act_dec).cast("double"), 6
            )
        )
        .alias("wape"),
    )


# ------------------------------------------ hopping window aggregate

@register(
    "hopping_window_agg",
    oracle="""
    WITH hop AS (
        SELECT time_bucket(INTERVAL 15 MINUTE, ts)
                   - CAST(k AS INT) * INTERVAL 15 MINUTE AS window_start,
               event_type, value
        FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM hop GROUP BY window_start, event_type
    """,
    tags=("time", "window", "aggregate"),
    doc="Hopping (sliding) window aggregation: 1-hour windows advancing "
    "every 15 minutes, so each event contributes to FOUR overlapping "
    "windows — the smoothing window shape dashboards use where "
    "tumbling windows jitter. Spark's native window(ts, '1 hour', "
    "'15 minutes') generates the window replicas inside the aggregate "
    "(one explode + one hash aggregate — the 4x row amplification is "
    "map-side, before combine); sums are DECIMAL-exact so replica "
    "order cannot move them. The oracle derives the same four "
    "window-start replicas arithmetically.",
)
def hopping_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            stable_sum("value", "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


# ---------------------------------------------------------------- EWMA

# Exponentially weighted moving average over the 24 PRIOR points of
# each user's event series. The weights (1-alpha)^(k-1) are inlined as
# repr() double literals so Spark and DuckDB parse bit-identical
# constants and evaluate the identical expression tree — pow() libm
# differences never enter the plan.
_EWMA_DEPTH = 24
_EWMA_BETA = 0.8  # 1 - alpha
_EWMA_W = [repr(_EWMA_BETA**k) for k in range(_EWMA_DEPTH)]
_EWMA_MIN_PRIOR = 4
_EWMA_THRESH = 150.0


def _ewma_sql_terms(lag_fmt: str) -> tuple[str, str, str]:
    """(weighted sum, weight sum, prior count) SQL fragments.

    ``lag_fmt`` renders the k-th lag of ``value`` (1-based) in the
    target dialect; missing lags (series head) contribute nothing to
    either sum, so the average is bias-corrected by construction.
    """
    num = " + ".join(
        f"COALESCE({lag_fmt.format(k=k + 1)}, 0.0) * {w}"
        for k, w in enumerate(_EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fmt.format(k=k + 1)} IS NOT NULL THEN {w} ELSE 0.0 END)"
        for k, w in enumerate(_EWMA_W)
    )
    cnt = " + ".join(
        f"(CASE WHEN {lag_fmt.format(k=k + 1)} IS NOT NULL THEN 1 ELSE 0 END)"
        for k in range(_EWMA_DEPTH)
    )
    return num, den, cnt


_EWMA_NUM, _EWMA_DEN, _EWMA_CNT = _ewma_sql_terms(
    "lag(value, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
)


@register(
    "ewma_anomaly",
    oracle=f"""
    WITH scored AS (
        SELECT user_id, event_id, value,
               ({_EWMA_NUM}) AS num,
               ({_EWMA_DEN}) AS den,
               ({_EWMA_CNT}) AS n_prior
        FROM events
    )
    SELECT user_id, event_id, value,
           ROUND(num / den, 6) AS ewma_prev,
           ROUND(value - num / den, 6) AS deviation
    FROM scored
    WHERE n_prior >= {_EWMA_MIN_PRIOR}
      AND ABS(value - num / den) > {_EWMA_THRESH!r}
    """,
    tags=("time", "window", "anomaly"),
    doc="EWMA anomaly detection: each event is scored against the "
    "exponentially weighted moving average of its user's previous "
    f"{_EWMA_DEPTH} events (beta={_EWMA_BETA}, bias-corrected over "
    "whatever history exists, minimum 4 prior points) and emitted when "
    "the absolute deviation exceeds the threshold. The recurrence is "
    "unrolled into a fixed 24-term weighted sum of lag() columns — ONE "
    "window pass, no per-row Python state and no unbounded-prefix "
    "cumulative trick (whose pow(beta, -row_number) factor overflows "
    "on long series). All 24 lags share a single window spec, so "
    "Spark computes them in one sort+scan per user partition; at "
    "100 TB the shuffle is the unavoidable hash-partition by user_id "
    "and nothing else. Weight constants are inlined double literals, "
    "identical in both engines. Filtering compares the UNROUNDED "
    "deviation on both sides; rounding is display-only.",
)
def ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", k + 1).over(w) for k in range(_EWMA_DEPTH)]
    num = sum(
        (F.coalesce(lg, F.lit(0.0)) * float(wt) for lg, wt in zip(lags, _EWMA_W)),
        F.lit(0.0),
    )
    den = sum(
        (F.when(lg.isNotNull(), float(wt)).otherwise(0.0) for lg, wt in zip(lags, _EWMA_W)),
        F.lit(0.0),
    )
    n_prior = sum(
        (F.when(lg.isNotNull(), 1).otherwise(0) for lg in lags), F.lit(0)
    )
    scored = ev.select(
        "user_id", "event_id", "value",
        num.alias("num"), den.alias("den"), n_prior.alias("n_prior"),
    )
    ewma = F.col("num") / F.col("den")
    return (
        scored.where(
            (F.col("n_prior") >= _EWMA_MIN_PRIOR)
            & (F.abs(F.col("value") - ewma) > _EWMA_THRESH)
        )
        .select(
            "user_id", "event_id", "value",
            F.round(ewma, 6).alias("ewma_prev"),
            F.round(F.col("value") - ewma, 6).alias("deviation"),
        )
    )


# ------------------------------------------------- gap interpolation

@register(
    "grid_gap_interpolation",
    oracle="""
    WITH hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               CAST((CAST(SUM(CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT))
                     AS BIGINT) * 10000) // COUNT(*) AS BIGINT) AS vm
        FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    spans AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly
        GROUP BY user_id
    ),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1,
                   INTERVAL 1 HOUR)) AS h
        FROM spans
    ),
    joined AS (
        SELECT g.user_id, g.h, hourly.vm
        FROM grid g LEFT JOIN hourly USING (user_id, h)
    ),
    bounded AS (
        SELECT user_id, h, vm,
               last_value(s IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev,
               first_value(s IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt
        FROM (SELECT user_id, h,
                     CASE WHEN vm IS NOT NULL
                          THEN {'h': h, 'vm': vm} END AS s, vm
              FROM joined)
    ),
    filled AS (
        SELECT user_id, h,
               CASE WHEN vm IS NOT NULL THEN 0 ELSE 1 END AS interpolated,
               CASE
                 WHEN vm IS NOT NULL THEN vm
                 WHEN prev.vm IS NULL THEN nxt.vm
                 WHEN nxt.vm IS NULL THEN prev.vm
                 ELSE (prev.vm * ((epoch_us(nxt.h) - epoch_us(h)) // 3600000000)
                          + nxt.vm * ((epoch_us(h) - epoch_us(prev.h)) // 3600000000))
                          // ((epoch_us(nxt.h) - epoch_us(prev.h)) // 3600000000)
               END AS value_micro
        FROM bounded
    )
    SELECT user_id, h AS hour_ts,
           CAST(value_micro AS DOUBLE) / 1000000 AS value,
           interpolated
    FROM filled
    """,
    tags=("time", "window", "grid"),
    doc="Time-grid gap interpolation — the backfill primitive for the "
    "15-minute/hourly energy grid this engine is built around: each "
    "user's hourly series is densified to a complete grid "
    "(per-series min..max span, exploded map-side from one row per "
    "series), missing slots are linearly interpolated between the "
    "nearest present neighbors (two IGNORE-NULLS window passes carry "
    "the previous/next observation as a (time, value) struct), and "
    "edge gaps clamp to the nearest observation. ALL arithmetic is "
    "fixed-point micro-units: hourly means floor-divide exact cent "
    "sums, and the interpolation is the all-positive weighted form "
    "(prev*(t2-t) + next*(t-t1)) div (t2-t1), so no float rounding "
    "ever touches a half boundary (a plain round() here diverges "
    "cross-engine: midpoints of 6-dp values ARE exact halves, where "
    "Spark rounds the decimal repr and DuckDB the binary double). "
    "Every window partitions by the series key — one hash exchange "
    "shared by the densify join and both fills; the grid explode "
    "adds rows proportional to the series span, never a cross join.",
)
def grid_gap_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.expr(
            "CAST((CAST(SUM(CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT))"
            " AS BIGINT) * 10000) DIV COUNT(*) AS BIGINT)"
        ).alias("vm")
    )
    spans = hourly.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    joined = grid.join(hourly, ["user_id", "h"], "left")
    s = F.when(F.col("vm").isNotNull(), F.struct(F.col("h"), F.col("vm")))
    # both fills as GROWING frames (unbounded-preceding): Spark
    # evaluates a growing frame incrementally in O(n), but a shrinking
    # frame (CURRENT ROW .. UNBOUNDED FOLLOWING) re-aggregates per row
    # — O(n^2) per partition, measured 18s vs <1s on the sf0.1 grid.
    # The forward fill runs over ascending h, the backward fill over
    # descending h; same semantics as first_value IGNORE NULLS over
    # the following frame (which the DuckDB oracle keeps).
    w_prev = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    w_next = (
        W.partitionBy("user_id")
        .orderBy(F.desc("h"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    bounded = joined.select(
        "user_id", "h", "vm",
        F.last(s, ignorenulls=True).over(w_prev).alias("prev"),
        F.last(s, ignorenulls=True).over(w_next).alias("nxt"),
    )
    # all-positive weighted mean in micro-units: floor == truncate,
    # so DuckDB // and Spark DIV agree; integer HOUR deltas keep every term BIGINT on both engines
    # (DuckDB epoch() returns DOUBLE and its double->BIGINT cast
    # ROUNDS, not truncates — epoch_us is the exact-integer form)
    interp = F.expr(
        "(prev.vm * ((unix_timestamp(nxt.h) - unix_timestamp(h)) DIV 3600)"
        " + nxt.vm * ((unix_timestamp(h) - unix_timestamp(prev.h)) DIV 3600))"
        " DIV ((unix_timestamp(nxt.h) - unix_timestamp(prev.h)) DIV 3600)"
    )
    value_micro = (
        F.when(F.col("vm").isNotNull(), F.col("vm"))
        .when(F.col("prev").isNull(), F.col("nxt.vm"))
        .when(F.col("nxt").isNull(), F.col("prev.vm"))
        .otherwise(interp)
    )
    return bounded.select(
        "user_id",
        F.col("h").alias("hour_ts"),
        (value_micro.cast("double") / 1_000_000).alias("value"),
        F.when(F.col("vm").isNotNull(), 0).otherwise(1).alias("interpolated"),
    )


# ------------------------------------------ time-weighted average


@register(
    "time_weighted_average",
    oracle="""
    WITH e AS (
        SELECT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               epoch_us(ts) AS us,
               event_id,
               CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT) AS vc
        FROM events
    ),
    weighted AS (
        SELECT user_id, day, vc,
               COALESCE(
                   lead(us) OVER (PARTITION BY user_id, day
                                  ORDER BY us, event_id),
                   epoch_us(CAST(day AS TIMESTAMP) + INTERVAL 1 DAY)
               ) - us AS dur_us
        FROM e
    )
    SELECT user_id, day,
           COUNT(*) AS n_events,
           CAST(SUM(vc * dur_us) // SUM(dur_us) AS BIGINT) AS twap_centi
    FROM weighted GROUP BY user_id, day
    """,
    tags=("time", "window", "aggregate"),
    doc="Time-weighted average (TWAP) over irregularly sampled events: "
    "each reading holds until the next one (last-observation-carried-"
    "forward), the final reading of the day until midnight, and the "
    "daily average weights each value by its holding duration — the "
    "standard aggregation for sensor/price/telemetry series where "
    "arithmetic mean over-weights bursts. Exact integer arithmetic: "
    "centi-unit values x microsecond durations summed as BIGINT, one "
    "integer division at the end — no float accumulation order "
    "dependence. Scale: one window pass partitioned by (user, day) "
    "and one hash aggregate on the same key; both shuffle on the "
    "natural partition key, no global sort.",
)
def time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        (F.col("value").cast("decimal(38,2)") * 100)
        .cast("bigint")
        .alias("vc"),
    )
    w = W.partitionBy("user_id", "day").orderBy("us", "event_id")
    day_end_us = F.unix_micros(
        F.to_timestamp(F.date_add(F.col("day"), 1))
    )
    weighted = e.select(
        "user_id",
        "day",
        "vc",
        (F.coalesce(F.lead("us").over(w), day_end_us) - F.col("us")).alias(
            "dur_us"
        ),
    )
    return weighted.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("SUM(vc * dur_us) DIV SUM(dur_us)").alias("twap_centi"),
    )


# ------------------------------------- interval concurrency sweep

_IVL_US = 3_600_000_000  # each event occupies [ts, ts + 1h)


@register(
    "concurrent_intervals_peak",
    oracle=f"""
    WITH pts AS (
        SELECT event_type, epoch_us(ts) AS t, 1 AS delta, event_id
        FROM events
        UNION ALL
        SELECT event_type, epoch_us(ts) + {_IVL_US} AS t, -1 AS delta,
               event_id
        FROM events
    ),
    swept AS (
        SELECT event_type, t, delta,
               SUM(delta) OVER (PARTITION BY event_type
                   ORDER BY t, delta, event_id
                   ROWS UNBOUNDED PRECEDING) AS concurrent
        FROM pts
    ),
    peaks AS (
        SELECT event_type, MAX(concurrent) AS peak_concurrent
        FROM swept GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(p.peak_concurrent AS BIGINT) AS peak_concurrent,
           MIN(s.t) AS peak_at_us
    FROM swept s JOIN peaks p
      ON s.event_type = p.event_type AND s.concurrent = p.peak_concurrent
    GROUP BY s.event_type, p.peak_concurrent
    """,
    tags=("time", "window", "aggregate"),
    doc="Peak interval concurrency via the classic +1/-1 sweep: each "
    "event occupies [ts, ts+1h); starts and ends become +1/-1 points, "
    "a running sum ordered by (time, delta) — ends sort before starts "
    "at the same instant, the half-open [s,e) convention — gives the "
    "live count at every boundary, and the per-type maximum plus its "
    "first occurrence time is the capacity-planning answer (peak "
    "concurrent sessions/jobs/connections). Scale: 2 rows per "
    "interval, one window pass partitioned by type ordered by time — "
    "the same shape as sessionization, no self-join of intervals "
    "(the naive overlap join is quadratic; the sweep is n log n).",
)
def concurrent_intervals_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir).select(
        "event_type", F.unix_micros("ts").alias("t0"), "event_id"
    )
    pts = ev.select(
        "event_type",
        F.col("t0").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    ).unionByName(
        ev.select(
            "event_type",
            (F.col("t0") + _IVL_US).alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    swept = pts.withColumn("concurrent", F.sum("delta").over(w))
    peaks = swept.groupBy("event_type").agg(
        F.max("concurrent").alias("peak_concurrent")
    )
    return (
        swept.join(peaks, "event_type")
        .where(F.col("concurrent") == F.col("peak_concurrent"))
        .groupBy("event_type", "peak_concurrent")
        .agg(F.min("t").alias("peak_at_us"))
        .select(
            "event_type",
            F.col("peak_concurrent").cast("bigint").alias("peak_concurrent"),
            "peak_at_us",
        )
    )


# ----------------------------------------------- OHLC bars per hour


@register(
    "ohlc_bars_hourly",
    oracle="""
    WITH e AS (
        SELECT event_type, date_trunc('hour', ts) AS hour_ts,
               CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT) AS vc,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id) AS rn_o,
               row_number() OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn_c
        FROM events
    )
    SELECT event_type, hour_ts,
           CAST(MAX(CASE WHEN rn_o = 1 THEN vc END) AS BIGINT) AS open_centi,
           CAST(MAX(vc) AS BIGINT) AS high_centi,
           CAST(MIN(vc) AS BIGINT) AS low_centi,
           CAST(MAX(CASE WHEN rn_c = 1 THEN vc END) AS BIGINT) AS close_centi,
           COUNT(*) AS n_events
    FROM e GROUP BY event_type, hour_ts
    """,
    tags=("time", "aggregate", "window"),
    doc="Hourly OHLC bars per event type — the candlestick aggregation "
    "every market/telemetry pipeline ships (the engine's domain is "
    "electricity-market prices): open/close are the first/last value "
    "in the hour with a total (ts, event_id) tie-break so concurrent "
    "ticks resolve identically on every engine and run; high/low are "
    "plain min/max. Values in exact centi-units via the decimal cast "
    "(no float accumulation anywhere — OHLC does no arithmetic, only "
    "selection, so the bars are bit-exact). Scale: the two "
    "row_number windows and the final aggregate all share one "
    "(event_type, hour) hash partitioning — one exchange total, no "
    "global sort; bars-per-group output is bounded by the calendar, "
    "not the tick volume.",
)
def ohlc_bars_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    e = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour_ts"),
        F.unix_micros("ts").alias("us"),
        "event_id",
        (F.col("value").cast("decimal(38,2)") * 100)
        .cast("bigint")
        .alias("vc"),
    )
    grp = ["event_type", "hour_ts"]
    w_o = W.partitionBy(*grp).orderBy("us", "event_id")
    w_c = W.partitionBy(*grp).orderBy(F.desc("us"), F.desc("event_id"))
    return (
        e.withColumn("rn_o", F.row_number().over(w_o))
        .withColumn("rn_c", F.row_number().over(w_c))
        .groupBy(*grp)
        .agg(
            F.max(F.when(F.col("rn_o") == 1, F.col("vc"))).alias("open_centi"),
            F.max("vc").alias("high_centi"),
            F.min("vc").alias("low_centi"),
            F.max(F.when(F.col("rn_c") == 1, F.col("vc"))).alias("close_centi"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ------------------------------------------ CUSUM change-point scan

# alarm threshold: 5x the series' mean absolute deviation (integer)
_CUSUM_H_MULT = 5


@register(
    "cusum_changepoint",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(SUM(CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT))
                    AS BIGINT) AS xc
        FROM events GROUP BY event_type, date_trunc('hour', ts)
    ),
    mu AS (
        SELECT event_type,
               CAST(SUM(xc) // COUNT(*) AS BIGINT) AS mu_centi,
               {_CUSUM_H_MULT} * CAST(SUM(abs(xc - (SELECT CAST(SUM(i.xc) // COUNT(*) AS BIGINT)
                                                    FROM hourly i
                                                    WHERE i.event_type = hourly.event_type)))
                                      // COUNT(*) AS BIGINT) AS h_thr,
               COUNT(*) AS n_hours
        FROM hourly GROUP BY event_type
    ),
    pfx AS (
        SELECT h.event_type, h.h, mu.mu_centi, mu.h_thr, mu.n_hours,
               SUM(h.xc - mu.mu_centi)
                   OVER (PARTITION BY h.event_type ORDER BY h.h
                         ROWS UNBOUNDED PRECEDING) AS p
        FROM hourly h JOIN mu ON h.event_type = mu.event_type
    ),
    s AS (
        SELECT event_type, mu_centi, h_thr, n_hours,
               p - LEAST(CAST(0 AS BIGINT),
                         MIN(p) OVER (PARTITION BY event_type ORDER BY h
                                      ROWS UNBOUNDED PRECEDING)) AS cusum
        FROM pfx
    )
    SELECT event_type, n_hours, mu_centi, h_thr,
           CAST(MAX(cusum) AS BIGINT) AS max_cusum,
           CAST(SUM(CASE WHEN cusum > h_thr THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alarms
    FROM s GROUP BY event_type, n_hours, mu_centi, h_thr
    """,
    tags=("time", "anomaly", "window"),
    doc="One-sided CUSUM change-point scan per event type over the "
    "hourly series: S_t = max(0, S_{t-1} + (x_t - mu)), alarm when "
    "S_t exceeds 5x the series' integer mean absolute deviation — "
    "the classic sequential drift detector, a different failure mode "
    "than the EWMA spike detector and the MAD outlier screen (CUSUM "
    "accumulates small sustained shifts). The recursion is eliminated "
    "with the closed form S_t = P_t - min(0, running_min(P)) over the "
    "plain deviation prefix sum P, so the whole scan is two stacked "
    "window passes sharing ONE (event_type, hour-order) sort — no "
    "per-group array state, no fold (a DuckDB list_reduce fold was "
    "rejected: its struct_pack lambda reads already-overwritten "
    "accumulator fields). Exact integer centi-units end to end. "
    "Scale: one hash partition by series key, windows and the final "
    "aggregate share it; state per row is O(1).",
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            (F.col("value").cast("decimal(38,2)") * 100)
            .cast("bigint")
            .alias("vc"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("vc").cast("bigint").alias("xc"))
    )
    mu = hourly.groupBy("event_type").agg(
        F.expr("SUM(xc) DIV COUNT(*)").alias("mu_centi"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    dev = hourly.join(mu, "event_type").select(
        "event_type", "h", "mu_centi", "n_hours",
        (F.col("xc") - F.col("mu_centi")).alias("d"),
    )
    thr = dev.groupBy("event_type").agg(
        F.expr(
            f"{_CUSUM_H_MULT} * (SUM(abs(d)) DIV COUNT(*))"
        ).alias("h_thr")
    )
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(
        W.unboundedPreceding, 0
    )
    p = F.sum("d").over(w)
    s = dev.withColumn("p", p).withColumn(
        "cusum", F.col("p") - F.least(F.lit(0).cast("long"), F.min("p").over(w))
    )
    return (
        s.join(thr, "event_type")
        .groupBy("event_type", "n_hours", "mu_centi", "h_thr")
        .agg(
            F.max("cusum").alias("max_cusum"),
            F.sum(
                F.when(F.col("cusum") > F.col("h_thr"), 1).otherwise(0)
            ).alias("n_alarms"),
        )
    )


# ------------------------------------------- burst detection (Viterbi)

# Two-state burst model in the shape of Kleinberg 2002 ("Bursty and
# Hierarchical Structure in Streams"): base state expects the mean
# hourly rate, burst state twice the mean; switching states costs
# gamma. Costs are exact integers (|n_t*H - s*total|, gamma = total),
# so the Viterbi recurrence is bit-identical on every engine — no
# log-likelihood float surface. The per-hour label is the FILTERED
# (online) argmin of the running Viterbi costs, not the smoothed
# backtrack — the variant a streaming monitor can actually emit.


def _burst_oracle() -> str:
    return """
    WITH RECURSIVE bounds AS (
        SELECT CAST(epoch_us(MIN(ts)) // 3600000000 AS BIGINT) AS h0,
               CAST(epoch_us(MAX(ts)) // 3600000000 AS BIGINT) AS h1
        FROM events
    ),
    spine AS (
        SELECT unnest(generate_series(
            (SELECT h0 FROM bounds), (SELECT h1 FROM bounds))) AS t
    ),
    counts AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS t,
               COUNT(*) AS c
        FROM events GROUP BY event_type, 2
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    grid AS (
        SELECT ty.event_type,
               s.t - (SELECT h0 FROM bounds) + 1 AS idx,
               CAST(COALESCE(c.c, 0) AS BIGINT) AS n
        FROM types ty CROSS JOIN spine s
        LEFT JOIN counts c ON c.event_type = ty.event_type AND c.t = s.t
    ),
    tot AS (
        SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS hh
        FROM grid GROUP BY event_type
    ),
    em AS (
        SELECT g.event_type, g.idx,
               ABS(g.n * t.hh - t.total) AS e0,
               ABS(g.n * t.hh - 2 * t.total) AS e1,
               t.total AS gamma
        FROM grid g JOIN tot t USING (event_type)
    ),
    steps AS (
        SELECT event_type, idx, e0 AS v0, e1 + gamma AS v1, gamma
        FROM em WHERE idx = 1
        UNION ALL
        SELECT e.event_type, e.idx,
               e.e0 + LEAST(s.v0, s.v1 + s.gamma),
               e.e1 + LEAST(s.v1, s.v0 + s.gamma),
               s.gamma
        FROM steps s JOIN em e
          ON e.event_type = s.event_type AND e.idx = s.idx + 1
    ),
    labeled AS (
        SELECT event_type, idx,
               CASE WHEN v1 < v0 THEN 1 ELSE 0 END AS b, v0, v1
        FROM steps
    ),
    islands AS (
        SELECT event_type, grp, COUNT(*) AS len FROM (
            SELECT event_type,
                   idx - row_number() OVER (
                       PARTITION BY event_type ORDER BY idx) AS grp
            FROM labeled WHERE b = 1
        ) GROUP BY event_type, grp
    ),
    finals AS (
        SELECT event_type, LEAST(v0, v1) AS final_cost
        FROM labeled
        WHERE idx = (SELECT MAX(idx) FROM labeled)
    )
    SELECT l.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(l.b) AS BIGINT) AS n_burst_hours,
           CAST(COALESCE((SELECT MAX(len) FROM islands i
                          WHERE i.event_type = l.event_type), 0)
               AS BIGINT) AS longest_burst,
           CAST(MIN(f.final_cost) AS BIGINT) AS final_cost
    FROM labeled l JOIN finals f USING (event_type)
    GROUP BY l.event_type
    """


@register(
    "burst_detection_viterbi",
    oracle=_burst_oracle(),
    tags=("time", "anomaly", "iterative"),
    doc="Two-state burst detection in the shape of Kleinberg 2002: "
    "per event type, hourly counts on a complete hour spine feed a "
    "Viterbi recurrence with integer emission costs |n_t*H - s*total| "
    "(base s=1, burst s=2) and transition penalty gamma = total; the "
    "per-hour burst label is the filtered argmin of the running "
    "costs (the online variant a streaming monitor emits — no "
    "backward pass). Reports burst-hour count, the longest burst "
    "run, and the final path cost per type. All-integer costs make "
    "the 720-step recurrence bit-identical across engines; the "
    "oracle replays it as a recursive CTE. Scale: counts collapse "
    "map-side to the (types x hours) grid — the sequential kernel "
    "runs per TYPE on that bounded grid via applyInPandas (the "
    "GroupState precedent), never on raw events; a year of hourly "
    "data is 8760 rows per type no matter the corpus size. "
    "Complements ewma_anomaly/cusum_changepoint (point alarms) with "
    "state-duration structure. Ref parity: beyond-reference "
    "time-series analytics.",
)
def burst_detection_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hours = ev.select(
        "event_type",
        (F.unix_timestamp("ts") / 3600).cast("long").alias("t"),
    )
    bounds = hours.agg(
        F.min("t").alias("h0"), F.max("t").alias("h1")
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1")).alias("t"),
        F.col("h0"),
    )
    counts = hours.groupBy("event_type", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    types = ev.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(spine))
        .join(counts, ["event_type", "t"], "left")
        .select(
            "event_type",
            (F.col("t") - F.col("h0") + 1).alias("idx"),
            F.coalesce("c", F.lit(0)).cast("long").alias("n"),
        )
    )
    tot = grid.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("hh"),
    )
    em = grid.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "idx",
        F.abs(F.col("n") * F.col("hh") - F.col("total")).alias("e0"),
        F.abs(F.col("n") * F.col("hh") - 2 * F.col("total")).alias("e1"),
        F.col("total").alias("gamma"),
    )

    def viterbi(pdf):
        import pandas as pd

        pdf = pdf.sort_values("idx")
        gamma = int(pdf["gamma"].iloc[0])
        v0 = v1 = None
        n_burst = longest = cur = 0
        for e0, e1 in zip(pdf["e0"].to_numpy(), pdf["e1"].to_numpy()):
            e0, e1 = int(e0), int(e1)
            if v0 is None:
                v0, v1 = e0, e1 + gamma
            else:
                v0, v1 = (
                    e0 + min(v0, v1 + gamma),
                    e1 + min(v1, v0 + gamma),
                )
            if v1 < v0:
                cur += 1
                n_burst += 1
                longest = max(longest, cur)
            else:
                cur = 0
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(pdf)],
                "n_burst_hours": [n_burst],
                "longest_burst": [longest],
                "final_cost": [min(v0, v1)],
            }
        )

    return em.groupBy("event_type").applyInPandas(
        viterbi,
        "event_type string, n_hours long, n_burst_hours long, "
        "longest_burst long, final_cost long",
    )


# -------------------------------- point-in-time feature join (staleness)

_FS_TOL_S = 3600  # serving tolerance: features older than 1h are stale


@register(
    "asof_join_feature_staleness",
    oracle=f"""
    WITH stream AS (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'view' THEN ts END AS f_ts,
               CASE WHEN event_type = 'view' THEN value END AS f_val,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS ord
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    joined AS (
        SELECT event_id, user_id, ts, event_type,
               last_value(f_ts IGNORE NULLS) OVER w AS feat_ts,
               last_value(f_val IGNORE NULLS) OVER w AS feat_val
        FROM stream
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, ord, event_id
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, ts,
           CAST(CASE WHEN feat_ts IS NULL THEN NULL
                ELSE (epoch_us(ts) - epoch_us(feat_ts)) // 1000000 END
               AS BIGINT) AS staleness_s,
           CASE WHEN feat_ts IS NOT NULL
                     AND (epoch_us(ts) - epoch_us(feat_ts)) // 1000000
                         <= {_FS_TOL_S}
                THEN feat_val END AS feature_value,
           CASE WHEN feat_ts IS NOT NULL
                     AND (epoch_us(ts) - epoch_us(feat_ts)) // 1000000
                         <= {_FS_TOL_S}
                THEN 1 ELSE 0 END AS is_fresh
    FROM joined WHERE event_type = 'purchase'
    """,
    tags=("time", "join", "features"),
    doc="Point-in-time feature join with a staleness tolerance — the "
    "feature-store serving-correctness primitive: each serving "
    "request (purchase) gets the latest feature value (view) for its "
    "user AS OF request time, but values older than the 1h tolerance "
    "are withheld (NULL) and flagged stale — exactly what online "
    "stores (Feast-style ttl) enforce so models never consume "
    "expired features; training data built this way matches serving "
    "(no training/serving skew). Extends asof_join_last_click "
    "(backward, no tolerance) and asof_join_next_purchase (forward). "
    "Same single-shuffle union+window shape: one partition-by-user "
    "window covers the as-of semantics, tolerance is a map-side "
    "integer-seconds comparison — no range join, no per-request "
    "probe. Ref parity: beyond-reference feature-pipeline layer.",
)
def asof_join_feature_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    stream = ev.where(F.col("event_type").isin("view", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "view", F.col("ts")).alias("f_ts"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("f_val"),
    )
    from pyspark.sql import Window as W

    order = F.when(F.col("event_type") == "view", 0).otherwise(1)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", order, "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = stream.withColumn(
        "feat_ts", F.last("f_ts", ignorenulls=True).over(w)
    ).withColumn("feat_val", F.last("f_val", ignorenulls=True).over(w))
    stale_s = F.expr(
        "(unix_micros(ts) - unix_micros(feat_ts)) DIV 1000000"
    )
    fresh = F.col("feat_ts").isNotNull() & (stale_s <= _FS_TOL_S)
    return (
        joined.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(F.col("feat_ts").isNotNull(), stale_s)
            .cast("long")
            .alias("staleness_s"),
            F.when(fresh, F.col("feat_val")).alias("feature_value"),
            F.when(fresh, F.lit(1)).otherwise(F.lit(0)).alias("is_fresh"),
        )
    )


# --------------------------------------------- hourly trend regression


@register(
    "hourly_trend_regression",
    oracle="""
    WITH bounds AS (
        SELECT CAST(epoch_us(MIN(ts)) // 3600000000 AS BIGINT) AS h0
        FROM events
    ),
    grid AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT)
                   - (SELECT h0 FROM bounds) AS x,
               CAST(COUNT(*) AS BIGINT) AS w,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY event_type, 2
    ),
    pts AS (
        SELECT event_type, x, cents // w AS ym FROM grid
    ),
    centers AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx
        FROM pts GROUP BY event_type
    ),
    sums AS (
        SELECT p.event_type, c.n, c.sx,
               CAST(SUM(p.x - c.sx // c.n) AS BIGINT) AS sxc,
               CAST(SUM(p.ym) AS BIGINT) AS sy,
               CAST(SUM((p.x - c.sx // c.n) * p.ym) AS BIGINT) AS sxyc,
               CAST(SUM((p.x - c.sx // c.n) * (p.x - c.sx // c.n))
                   AS BIGINT) AS sxxc
        FROM pts p JOIN centers c USING (event_type)
        GROUP BY p.event_type, c.n, c.sx
    )
    SELECT event_type, n,
           CAST(ROUND(1000000.0
                * (CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)
                   - CAST(sxc AS DOUBLE) * CAST(sy AS DOUBLE))
                / NULLIF(CAST(n AS DOUBLE) * CAST(sxxc AS DOUBLE)
                         - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE),
                         0.0)) AS BIGINT)
               AS slope_microcents_per_hour,
           CAST(ROUND((CAST(sy AS DOUBLE)
                - ((CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)
                    - CAST(sxc AS DOUBLE) * CAST(sy AS DOUBLE))
                   / NULLIF(CAST(n AS DOUBLE) * CAST(sxxc AS DOUBLE)
                            - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE),
                            0.0)) * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_cents
    FROM sums
    """,
    tags=("time", "stats", "aggregate"),
    doc="Per-type trend line: OLS slope/intercept of the MEAN hourly "
    "value (integer cents) over the hour index — the trend-detection "
    "primitive behind capacity planning and drift alerts. The corpus "
    "collapses MAP-SIDE to the (type, hour) grid first and the "
    "regression runs on per-hour MEANS (cents // w): every OLS sum "
    "is an EXACT integer over the grid, and the final slope uses the "
    "MEAN-CENTERED form (x - Sx//n) in double — exact-integer "
    "operands, one fixed sequence of correctly-rounded IEEE ops, so "
    "both engines produce the identical double and the identical "
    "rounded micro-cents. The centered form is what survives scale: "
    "the r8 x30 probe caught the raw n*Sxx - Sx^2 integer form "
    "wrapping int64 once the time RANGE grows (30-year probe spine) "
    "— centering removes the n*range^2*mean^2 magnitude entirely. "
    "Complements seasonal_decompose_ma (cyclic structure) and "
    "burst_detection_viterbi (state structure) with the secular "
    "component. Ref parity: beyond-reference time-series analytics.",
)
def hourly_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    h0 = ev.agg(
        F.expr("CAST(unix_micros(MIN(ts)) DIV 3600000000 AS BIGINT)").alias(
            "h0"
        )
    )
    grid = (
        ev.crossJoin(F.broadcast(h0))
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_micros(ts) DIV 3600000000 AS BIGINT) - h0"
            ).alias("x"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.expr(
                "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)"
            ).alias("cents"),
        )
    )
    pts = grid.select(
        "event_type", "x", F.expr("cents DIV w").alias("ym")
    )
    centers = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    sums = (
        pts.join(F.broadcast(centers), "event_type")
        .groupBy("event_type", "n", "sx")
        .agg(
            F.expr("CAST(SUM(x - sx DIV n) AS BIGINT)").alias("sxc"),
            F.sum("ym").cast("long").alias("sy"),
            F.expr("CAST(SUM((x - sx DIV n) * ym) AS BIGINT)").alias(
                "sxyc"
            ),
            F.expr(
                "CAST(SUM((x - sx DIV n) * (x - sx DIV n)) AS BIGINT)"
            ).alias("sxxc"),
        )
    )
    slope_frac = (
        "(CAST(n AS DOUBLE) * CAST(sxyc AS DOUBLE)"
        " - CAST(sxc AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / NULLIF(CAST(n AS DOUBLE) * CAST(sxxc AS DOUBLE)"
        " - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE), 0.0)"
    )
    return sums.select(
        "event_type",
        "n",
        F.expr(
            f"CAST(ROUND(1000000.0 * ({slope_frac})) AS BIGINT)"
        ).alias("slope_microcents_per_hour"),
        F.expr(
            f"CAST(ROUND((CAST(sy AS DOUBLE) - ({slope_frac})"
            " * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) AS BIGINT)"
        ).alias("intercept_cents"),
    )
