"""Streaming + sessionization + multimodal operator surface.

`streaming_hourly_agg` actually drives a Structured Streaming query
(watermark + tumbling window + memory sink) and returns its result —
the oracle is the equivalent batch SQL, which must match exactly
because the stream is driven to completion (Trigger-equivalent
processAllAvailable) before the compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import MOD
from ..sources.multimodal import as_blob_table, extract_features, sample_frames
from ..sources.registry import load_table
from .catalog import register


@register(
    "streaming_hourly_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_ts,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
    tags=("streaming", "time", "aggregate"),
    doc="Structured Streaming tumbling-window aggregation (watermark + "
    "1-hour window, complete mode) driven to completion — result is "
    "batch-equivalent, so the batch SQL is its oracle. SURVEY §2.9: the "
    "reference has no streams; this is the engine's incremental upgrade "
    "of the daily batch.",
)
def streaming_hourly_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import hourly_event_agg_stream

    # `complete` is the synchronous oracle drive over a bounded source:
    # the final in-progress windows must be visible for the
    # batch-equivalence check. Production default is `append` (bounded
    # state; see streaming/jobs.py + test_streaming append test).
    return hourly_event_agg_stream(spark, sf_dir, output_mode="complete")


@register(
    "sessionization",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id,
           epoch_us(MIN(ts)) AS session_start_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    tags=("streaming", "window", "aggregate"),
    doc="Sessionization (30-min inactivity gap): lag + cumulative-sum "
    "windows — the batch formulation of session_window(ts, gap). One "
    "shuffle on user_id covers both windows and the final aggregate. "
    "Both windows order by (ts, event_id) so duplicate timestamps get "
    "a deterministic session assignment on every engine; session_start "
    "is emitted as integer epoch micros to rule out tz-aware-vs-naive "
    "hashing skew between Spark (NTZ relabel) and the oracle.",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap on both engines (unix_timestamp truncates)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap.isNull() | (gap > 1_800_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    wcum = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "session_window_agg",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
    tags=("streaming", "window", "aggregate"),
    doc="Spark's native session_window (dynamic-gap session windows, "
    "the streaming-ready formulation — usable unchanged under "
    "readStream + watermark): events within a 30-min gap merge; the "
    "window closes 30 min after the last event. Oracle is the "
    "independent lag/cumsum derivation — note session_window's "
    "half-open semantics (a gap of exactly 30 min starts a NEW "
    "session, hence >= in the oracle, vs the strict > of the "
    "batch `sessionization` query).",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@register(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(text) + 1),
                   i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, x) -> (acc + x) % {MOD}) AS checksum,
           'text' AS modality,
           FALSE AS decoded_ok
    FROM documents
    """,
    tags=("multimodal",),
    doc="Multimodal plumbing end-to-end: text wrapped as binary payload "
    "+ typed metadata, features extracted via Arrow-batched mapInPandas "
    "(byte length + additive checksum; decode kernel stubbed — no "
    "codecs in this container). Payload bytes never shuffle; only the "
    "extracted features move. Oracle works because the docs are ASCII "
    "(byte values == code points).",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    blobs = as_blob_table(docs, "doc_id", "text")
    return extract_features(blobs)


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id, j AS frame_idx,
           CAST(length(sub) AS BIGINT) AS n_bytes,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(sub, ''),
                   c -> CAST(ascii(c) AS BIGINT))),
               (acc, x) -> (acc + x) % {MOD}) AS checksum
    FROM (
        SELECT doc_id, j, substr(text, CAST(j * 2 * 256 AS INT) + 1, 256) AS sub
        FROM documents, (SELECT unnest(range(0, 3)) AS j)
    )
    WHERE length(sub) > 0
    """,
    tags=("multimodal",),
    doc="Frame sampling over binary payloads: every-2nd 256-byte "
    "window, max 3 frames per doc — the 1-to-N mapInPandas batch shape "
    "a video pipeline needs (payloads explode locally, never shuffle). "
    "Kernel is the deterministic window stand-in; a demuxer drops into "
    "the same iterator. Oracle slices the same windows in SQL (docs "
    "are ASCII, so byte values == code points).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    blobs = as_blob_table(docs, "doc_id", "text")
    return sample_frames(blobs, frame_size=256, every_n=2, max_frames=3)


@register(
    "stateful_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "aggregate"),
    doc="Custom stateful streaming operator (applyInPandasWithState): "
    "per-user running totals in explicit GroupState, integer-cent "
    "accumulation for exactness, driven to completion with "
    "availableNow. Over a static source the final state equals the "
    "batch aggregate — the oracle.",
)
def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import stateful_user_totals_stream

    return stateful_user_totals_stream(spark, sf_dir)


@register(
    "stream_scd1_upsert",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, value,
               row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    counts AS (SELECT user_id, COUNT(*) AS n_events FROM events
               GROUP BY user_id)
    SELECT r.user_id,
           r.event_id AS last_event_id,
           CAST(ROUND(r.value * 100) AS BIGINT) / 100.0 AS last_value,
           c.n_events
    FROM ranked r JOIN counts c ON c.user_id = r.user_id
    WHERE r.rn = 1
    """,
    tags=("streaming", "stateful"),
    doc="Streaming SCD-type-1 upsert (applyInPandasWithState): the "
    "continuously-maintained current-values dimension — per key, the "
    "latest (ts, event_id)-ordered value survives, state is one tuple "
    "per key regardless of stream length, and tie-break on event_id "
    "makes the snapshot replay-deterministic under any micro-batch "
    "partitioning. Over a static source the final state equals the "
    "batch keep-last window — the oracle (value round-tripped "
    "through the same integer-cents representation the state keeps).",
)
def stream_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import scd1_upsert_stream

    return scd1_upsert_stream(spark, sf_dir)


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 60 MINUTE
     AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    tags=("streaming", "join", "time"),
    doc="Watermarked stream-stream inner join (purchases x same-user "
    "clicks within the preceding hour): event-time watermarks on "
    "BOTH sides plus the time-range join condition let Spark evict "
    "buffered state once rows can no longer match — the contract that "
    "keeps an unbounded two-stream join bounded. Batch-equivalent over "
    "the bounded source, so the plain range join is the oracle.",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import clicks_purchases, drive, events_stream

    events = events_stream(spark, sf_dir)
    return drive(clicks_purchases(events, "inner", "1 hour", "1 hour"), "append")


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    """,
    tags=("streaming", "dedup"),
    doc="Streaming deduplication with bounded state: the events stream "
    "unioned with itself (every event arrives twice) deduplicated on "
    "event_id via dropDuplicatesWithinWatermark — key state is "
    "evicted once the watermark passes, unlike dropDuplicates whose "
    "state grows forever. The production shape for at-least-once "
    "re-downloaded market files. Driven to completion over the "
    "bounded source, the result equals batch DISTINCT (the oracle).",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import dedup_events_stream

    return dedup_events_stream(spark, sf_dir)


@register(
    "stream_funnel_stage",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS ts_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS ts_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.ts_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS ts_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.ts_click
        GROUP BY e.user_id
    )
    SELECT v.user_id,
           epoch_us(v.ts_view) AS ts_view_us,
           COALESCE(epoch_us(c.ts_click), -1) AS ts_click_us,
           COALESCE(epoch_us(p.ts_purchase), -1) AS ts_purchase_us,
           CASE WHEN p.user_id IS NOT NULL THEN 'purchase'
                WHEN c.user_id IS NOT NULL THEN 'click'
                ELSE 'view' END AS stage
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
    """,
    tags=("streaming", "stateful"),
    doc="Stateful streaming funnel: per-user view->click->purchase "
    "state machine in applyInPandasWithState GroupState (three int64 "
    "micros per user — bounded state, not an event buffer), each stage "
    "gated strictly after the previous one. Driven to completion with "
    "availableNow; over the bounded source the final state equals the "
    "batch funnel_conversion, whose SQL is the oracle. The streaming "
    "twin of queries/behaviorops.funnel_conversion.",
)
def stream_funnel_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import funnel_stage_stream

    return funnel_stage_stream(spark, sf_dir)


@register(
    "stream_topk_trending",
    oracle="""
    WITH counts AS (
        SELECT date_trunc('hour', ts) AS hour_ts, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    ranked AS (
        SELECT hour_ts, event_type, n,
               ROW_NUMBER() OVER (
                   PARTITION BY hour_ts ORDER BY n DESC, event_type
               ) AS rk
        FROM counts
    )
    SELECT hour_ts, event_type, n, rk FROM ranked WHERE rk <= 3
    """,
    tags=("streaming", "time", "window"),
    doc="Trending top-k over the stream: the hourly per-event-type "
    "counts are maintained INCREMENTALLY by the watermarked streaming "
    "aggregation (the same bounded-state shape as "
    "streaming_hourly_agg), and the top-3 rank per hour runs as a "
    "batch window over the sink table at read time — rank is not an "
    "incremental aggregate, so production trending dashboards "
    "materialize counts in the stream and rank at query time, which "
    "is exactly this split. Driven to completion with availableNow "
    "semantics over the bounded source, so the batch SQL is the "
    "oracle.",
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import hourly_event_agg_stream

    counts = hourly_event_agg_stream(spark, sf_dir, output_mode="complete")
    w = W.partitionBy("hour_ts").orderBy(F.desc("n"), "event_type")
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("hour_ts", "event_type", "n", "rk")
    )


def _ewma_oracle() -> str:
    from .timeops import _EWMA_CNT, _EWMA_DEN, _EWMA_MIN_PRIOR, _EWMA_NUM, _EWMA_THRESH

    return f"""
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
    """


@register(
    "stream_ewma_anomaly",
    oracle=_ewma_oracle(),
    tags=("streaming", "stateful", "anomaly"),
    doc="Streaming EWMA anomaly detection (applyInPandasWithState): "
    "per-user GroupState holds only the last-24-value tail; each "
    "arriving event is scored against the tail's bias-corrected EWMA "
    "and emitted in append mode when the deviation crosses the "
    "threshold. Bit-compatible arithmetic with the batch ewma_anomaly "
    "kernel (same weight constants, summation order, and HALF_UP "
    "rounding), so over the bounded source the batch operator's SQL "
    "is the oracle — the batch/stream parity contract, verified by "
    "the driver hash like any other query. State is strictly bounded "
    "(24 doubles per live user) and keyed by user_id, the same "
    "partitioning as every other per-user stream stage.",
)
def stream_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import ewma_anomaly_stream

    return ewma_anomaly_stream(spark, sf_dir)


# --------------------------------------------- streaming CUSUM twin

# SPC parameters (given, not data-derived — that is what makes the
# scan streamable with one bigint of state per series)
_CUSUM_STREAM_MU = 1500   # in-control target, centi-units
_CUSUM_STREAM_H = 10000   # alarm threshold, centi-units


@register(
    "stream_cusum_alarm",
    oracle=f"""
    WITH e AS (
        SELECT event_type, event_id, ts,
               CAST(CAST(value AS DECIMAL(38,2)) * 100 AS BIGINT)
               - {_CUSUM_STREAM_MU} AS d
        FROM events
    ),
    pfx AS (
        SELECT event_type, event_id, ts,
               SUM(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS p
        FROM e
    ),
    s AS (
        SELECT event_type, event_id,
               p - LEAST(CAST(0 AS BIGINT),
                         MIN(p) OVER (PARTITION BY event_type
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)) AS cusum
        FROM pfx
    )
    SELECT event_type, event_id, CAST(cusum AS BIGINT) AS cusum
    FROM s WHERE cusum > {_CUSUM_STREAM_H}
    """,
    tags=("streaming", "stateful", "anomaly"),
    doc="Streaming one-sided CUSUM drift alarms "
    "(applyInPandasWithState): per-event-type GroupState holds a "
    "single bigint S; each event updates S = max(0, S + (value_centi "
    "- mu0)) against the GIVEN in-control target and is emitted when "
    "S crosses the threshold — classic SPC, and the streamable "
    "counterpart of the batch cusum_changepoint scan (whose window "
    "closed form S = P - min(0, running_min(P)) is this query's "
    "oracle; exact integers make the parity bit-for-bit over the "
    "bounded source). State is O(1) per series — the smallest "
    "possible stateful operator — keyed by the series id like every "
    "other per-key stream stage.",
)
def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import cusum_alarm_stream

    return cusum_alarm_stream(spark, sf_dir)


# ----------------------------------- streaming conformal-band twin


@register(
    "stream_conformal_alarm",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id, ts,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    hist AS (
        SELECT event_type, cents, COUNT(*) AS c
        FROM base GROUP BY event_type, cents
    ),
    cum AS (
        SELECT event_type, cents, c,
               SUM(c) OVER (
                   PARTITION BY event_type ORDER BY cents
               ) AS cw,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM hist
    ),
    med AS (
        SELECT event_type, MIN(cents) AS median_cents, MIN(n) AS n
        FROM cum WHERE 2 * cw >= n GROUP BY event_type
    ),
    shist AS (
        SELECT b.event_type, ABS(b.cents - m.median_cents) AS s,
               COUNT(*) AS c
        FROM base b JOIN med m ON m.event_type = b.event_type
        GROUP BY b.event_type, s
    ),
    scum AS (
        SELECT event_type, s, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY s) AS cw,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM shist
    ),
    qhat AS (
        SELECT event_type, MIN(s) AS qhat_cents
        FROM scum WHERE cw >= (9 * (n + 1) + 9) // 10
        GROUP BY event_type
    ),
    flagged AS (
        SELECT b.event_type, b.event_id, b.ts,
               ABS(b.cents - m.median_cents) AS deviation_cents
        FROM base b
        JOIN med m ON m.event_type = b.event_type
        JOIN qhat q ON q.event_type = b.event_type
        WHERE ABS(b.cents - m.median_cents) > q.qhat_cents
    )
    SELECT event_type, event_id,
           CAST(deviation_cents AS BIGINT) AS deviation_cents,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY ts, event_id
           ) AS BIGINT) AS alarm_seq
    FROM flagged
    """,
    tags=("streaming", "stateful", "anomaly", "ml"),
    doc="Streaming out-of-band alarms against a BATCH-computed "
    "split-conformal band (applyInPandasWithState): the nightly "
    "batch pass produces (median, qhat) per event type — a bounded "
    "broadcast artifact, same precedent as the trained IVF "
    "codebook — and the stream flags every event whose deviation "
    "exceeds qhat, numbering alarms per type with one bigint of "
    "GroupState. The batch-artifact -> stream-enforcement pattern "
    "the other stateful ops don't show (their parameters are fixed "
    "literals). Over the bounded test source both passes read the "
    "same rows, so the batch SQL (band + filter + per-type "
    "row_number) is the exact oracle; in production the band comes "
    "from yesterday's partition and the guarantee is the conformal "
    "one: ~10% of in-distribution traffic alarms.",
)
def stream_conformal_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import conformal_band_alarm_stream

    return conformal_band_alarm_stream(spark, sf_dir)


@register(
    "stream_session_window",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM gaps
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS session_start_us,
           epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               AS sum_value
    FROM sessions GROUP BY user_id, sid
    """,
    tags=("streaming", "window", "aggregate"),
    doc="Native Structured Streaming SESSION windows: per-user "
    "session aggregation with session_window(ts, '30 minutes') — the "
    "state store merges events whose event-time gap is < 30 min into "
    "one growing window (end = last event + gap), the engine-native "
    "form of what the batch `sessionization` op builds with "
    "lag+cumsum windows. Driven to completion in complete mode (the "
    "streaming_hourly_agg convention — production uses append where "
    "the watermark closes and evicts finished sessions), so the "
    "batch gap-split SQL is its exact oracle; the boundary rule is "
    "Spark's (a gap of EXACTLY the threshold starts a new session, "
    "hence >= in the oracle, not > as in the batch op's own "
    "convention). The value sum crosses DECIMAL(38,6) so the double "
    "is partition-order-independent. Scale: state is one in-flight "
    "session per active user (bounded by the watermark in append "
    "mode); the shuffle is keyed by user. SURVEY §2.9: "
    "beyond-reference streaming upgrade.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import session_window_agg_stream

    return session_window_agg_stream(spark, sf_dir)


@register(
    "stream_session_window_append",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM gaps
    ),
    wm AS (
        SELECT MAX(epoch_us(ts)) - 7200000000 AS wm_us FROM events
    )
    SELECT user_id, session_start_us, session_end_us, n_events,
           sum_value
    FROM (
        SELECT user_id,
               epoch_us(MIN(ts)) AS session_start_us,
               epoch_us(MAX(ts)) + 1800000000 AS session_end_us,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_value
        FROM sessions GROUP BY user_id, sid
    ) s CROSS JOIN wm
    WHERE s.session_end_us <= wm.wm_us
    """,
    tags=("streaming", "window", "aggregate", "stateful"),
    doc="Append-mode session windows — the PRODUCTION shape of "
    "stream_session_window: the 2-hour event-time watermark closes "
    "each session once no event can extend it, emits it exactly "
    "once, and EVICTS its state — bounded state on an unbounded "
    "stream, which complete mode (the oracle drive) never proves. "
    "Over the bounded source the emitted set is exactly the batch "
    "gap-split sessions whose end precedes the final watermark "
    "(max event time - 2h); the boundary rule is pinned empirically: "
    "a session whose end EQUALS the watermark is emitted (<=, not <, "
    "in the oracle). Late-data filtering is on the WINDOW, not the "
    "event time: a late event is admitted (as its OWN session, never "
    "merged into evicted state) while ts+gap still ends past the "
    "watermark, and dropped only once ts+gap <= watermark "
    "(test_streaming_misc pins eviction, the non-merge, and the "
    "window-based drop). In-flight tail sessions stay in state and "
    "never emit — the watermark-truncation this op exists to prove. "
    "Scale: state is one in-flight session per active user, bounded "
    "by the watermark horizon; shuffle keyed by user. SURVEY §2.9: "
    "beyond-reference streaming upgrade (VERDICT r9 task 5).",
)
def stream_session_window_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.jobs import session_window_agg_stream

    return session_window_agg_stream(spark, sf_dir, output_mode="append")


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) FROM events
              WHERE event_type = 'click'),
            (SELECT MAX(epoch_us(ts)) FROM events
              WHERE event_type = 'purchase')
        ) - 3600000000 AS wm_us
    ),
    m AS (
        SELECT p.user_id, p.purchase_id, c.click_id,
               epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS lag_us,
               epoch_us(p.purchase_ts) AS p_us
        FROM p LEFT JOIN c
          ON c.c_user = p.user_id
         AND c.click_ts >= p.purchase_ts - INTERVAL 60 MINUTE
         AND c.click_ts <= p.purchase_ts
    )
    SELECT user_id, purchase_id,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(lag_us AS BIGINT) AS lag_us
    FROM m CROSS JOIN wm
    WHERE click_id IS NOT NULL OR p_us < wm.wm_us
    """,
    tags=("streaming", "join", "stateful"),
    doc="Watermarked stream-stream LEFT OUTER join — the state-"
    "eviction proof stream_stream_join (inner) cannot give: an "
    "unmatched purchase is buffered until the GLOBAL watermark (the "
    "MIN of both sides' event-time watermarks) strictly passes its "
    "join window, then emitted exactly once with NULL click columns "
    "and evicted; matched pairs emit as found, identical to the "
    "inner join. Both the min-of-watermarks gate and its STRICT "
    "boundary (a purchase at exactly the watermark stays in state) "
    "are pinned empirically against synthetic two-batch sources and "
    "encoded in the oracle: batch left join restricted to matched "
    "rows plus nulls with purchase_ts < min(side maxima) - 1h. "
    "Scale: state is bounded by the watermark horizon on both sides "
    "(the contract unbounded outer joins require); shuffle keyed by "
    "user. SURVEY §2.9: beyond-reference streaming upgrade "
    "(VERDICT r9 task 8's named candidate).",
)
def stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.jobs import clicks_purchases, drive, events_stream

    events = events_stream(spark, sf_dir)
    return drive(clicks_purchases(events, "left_outer", "1 hour", "1 hour"), "append")


@register(
    "stream_hourly_agg_append",
    oracle="""
    WITH wm AS (
        SELECT MAX(epoch_us(ts)) - 7200000000 AS wm_us FROM events
    )
    SELECT hour_ts, event_type, n, sum_value
    FROM (
        SELECT date_trunc('hour', ts) AS hour_ts,
               event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY date_trunc('hour', ts), event_type
    ) h CROSS JOIN wm
    WHERE epoch_us(hour_ts) + 3600000000 <= wm.wm_us
    """,
    tags=("streaming", "time", "aggregate", "stateful"),
    doc="Append-mode tumbling-window aggregation — the PRODUCTION "
    "shape of streaming_hourly_agg: each 1-hour window is emitted "
    "exactly once when the 2-hour event-time watermark passes its "
    "end, then its state is evicted — bounded state on an unbounded "
    "stream, which the complete-mode oracle drive never proves. Over "
    "the bounded source the emitted set is exactly the batch hourly "
    "rollup restricted to windows whose END is at or before the "
    "final watermark (max event time - 2h); the boundary is "
    "INCLUSIVE (window end == watermark emits — pinned empirically "
    "on a synthetic source, same rule as "
    "stream_session_window_append's evictions). The in-flight tail "
    "windows stay in state and never emit. Scale: state is one "
    "aggregate row per open (window, type) inside the watermark "
    "horizon; shuffle keyed by (window, type). SURVEY §2.9: "
    "beyond-reference streaming upgrade.",
)
def stream_hourly_agg_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.jobs import hourly_event_agg_stream

    return hourly_event_agg_stream(spark, sf_dir, output_mode="append")


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_id,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_id
    """,
    tags=("streaming", "dedup", "stateful"),
    doc="Streaming dedup with BOUNDED state: "
    "dropDuplicatesWithinWatermark(event_id) keeps each key's state "
    "only while the 2-hour event-time watermark can still see a "
    "duplicate, then evicts it — the production upgrade of "
    "stream_dedup's unbounded dropDuplicates (whose state grows "
    "forever on an unbounded stream). The shipped events table has "
    "unique event_ids, so the oracle is the trivial per-key count "
    "(= 1 per id, every row survives); the semantic DIFFERENCE — a "
    "duplicate arriving within the horizon is dropped, one arriving "
    "after eviction is re-admitted (at-least-once, not exactly-once, "
    "past the horizon) — cannot show on unique data and is pinned in "
    "a synthetic two-batch pytest instead "
    "(test_streaming_misc.py::test_dedup_within_watermark_eviction). "
    "Drive shape (r11, VERDICT r10 task 3): the STREAM emits the "
    "surviving rows in append mode — total streaming state is the "
    "watermark horizon's keys, matching the operator — and the "
    "per-key count for the oracle compare is a BATCH groupBy over "
    "the emitted memory table after the stream stops. "
    "Scale: state is one key per event inside the watermark horizon "
    "(vs ALL keys ever for plain dropDuplicates); shuffle keyed by "
    "event_id. SURVEY §2.9: beyond-reference streaming upgrade.",
)
def stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.jobs import dedup_within_watermark_stream

    survivors = dedup_within_watermark_stream(spark, sf_dir)
    # batch-side summary of the emitted rows (NOT streaming state)
    return survivors.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register(
    "stream_full_outer_join",
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) FROM events
              WHERE event_type = 'click'),
            (SELECT MAX(epoch_us(ts)) FROM events
              WHERE event_type = 'purchase')
        ) - 3600000000 AS wm_us
    ),
    m AS (
        SELECT COALESCE(p.user_id, c.c_user) AS user_id,
               p.purchase_id, c.click_id,
               epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS lag_us,
               epoch_us(p.purchase_ts) AS p_us,
               epoch_us(c.click_ts) AS c_us
        FROM p FULL JOIN c
          ON c.c_user = p.user_id
         AND c.click_ts >= p.purchase_ts - INTERVAL 60 MINUTE
         AND c.click_ts <= p.purchase_ts
    )
    SELECT user_id,
           CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(lag_us AS BIGINT) AS lag_us
    FROM m CROSS JOIN wm
    WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
       OR (click_id IS NULL AND p_us < wm.wm_us)
       OR (purchase_id IS NULL AND c_us + 3600000000 < wm.wm_us)
    """,
    tags=("streaming", "join", "stateful"),
    doc="Watermarked stream-stream FULL OUTER join — both unmatched "
    "sides surface, under ONE uniform eviction rule pinned "
    "empirically on synthetic boundary sources: a buffered row emits "
    "null-extended when its OWN side's join-window END falls "
    "STRICTLY below the global (min-of-sides) watermark. The "
    "purchase window ends at purchase_ts; the click window ends at "
    "click_ts + 60 min, so unmatched clicks linger exactly one join "
    "horizon longer than unmatched purchases — visible in the "
    "oracle's two predicates (p_us < wm vs c_us + 1h < wm; a click "
    "whose window end EQUALS the watermark stays in state, same "
    "strictness as the left-outer op). Matched rows emit as found, "
    "batch-identical. Scale: state bounded by the watermark horizon "
    "on both sides; shuffle keyed by user. SURVEY §2.9: beyond-"
    "reference streaming upgrade (completes the inner / left-outer "
    "/ full-outer join family).",
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import clicks_purchases, drive, events_stream

    events = events_stream(spark, sf_dir)
    return drive(clicks_purchases(events, "full_outer", "1 hour", "1 hour"), "append")


@register(
    "stream_full_outer_asym_wm",
    oracle="""
    WITH c AS (
        SELECT event_id AS click_id, user_id AS c_user, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) FROM events
              WHERE event_type = 'click') - 7200000000,
            (SELECT MAX(epoch_us(ts)) FROM events
              WHERE event_type = 'purchase') - 1800000000
        ) AS wm_us
    ),
    m AS (
        SELECT COALESCE(p.user_id, c.c_user) AS user_id,
               p.purchase_id, c.click_id,
               epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS lag_us,
               epoch_us(p.purchase_ts) AS p_us,
               epoch_us(c.click_ts) AS c_us
        FROM p FULL JOIN c
          ON c.c_user = p.user_id
         AND c.click_ts >= p.purchase_ts - INTERVAL 60 MINUTE
         AND c.click_ts <= p.purchase_ts
    )
    SELECT user_id,
           CAST(purchase_id AS BIGINT) AS purchase_id,
           CAST(click_id AS BIGINT) AS click_id,
           CAST(lag_us AS BIGINT) AS lag_us
    FROM m CROSS JOIN wm
    WHERE (purchase_id IS NOT NULL AND click_id IS NOT NULL)
       OR (click_id IS NULL AND p_us < wm.wm_us)
       OR (purchase_id IS NULL AND c_us + 3600000000 < wm.wm_us)
    """,
    tags=("streaming", "join", "stateful"),
    doc="Full-outer stream-stream join with ASYMMETRIC per-side "
    "watermark delays — clicks tolerate 2 h of lateness, purchases "
    "30 min (the slow-backfill-meets-realtime configuration, and the "
    "one join shape the r10 family left unpinned). Under Spark's "
    "default multipleWatermarkPolicy=min the GLOBAL watermark is "
    "min(max(click_ts) - 2h, max(purchase_ts) - 30min) — the "
    "oracle's LEAST of two side-specific horizons — and the r10 "
    "eviction rule carries over verbatim: a buffered row emits "
    "null-extended when its OWN side's join-window end (purchase_ts "
    "for purchases, click_ts + 60 min for clicks) falls STRICTLY "
    "below that global watermark; the synthetic boundary pytest "
    "proves the SLOWER side's delay is what gates BOTH sides' "
    "evictions. Same join predicate and output shape as "
    "stream_full_outer_join, isolating exactly one variable. Scale: "
    "state bounded by the (asymmetric) watermark horizons per side; "
    "shuffle keyed by user. SURVEY §2.9: beyond-reference streaming "
    "upgrade.",
)
def stream_full_outer_asym_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import clicks_purchases, drive, events_stream

    events = events_stream(spark, sf_dir)
    return drive(
        clicks_purchases(events, "full_outer", "2 hours", "30 minutes"), "append"
    )


@register(
    "stream_rate_limit_window",
    oracle="""
    WITH d AS (
        SELECT user_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id,
                                epoch_us(ts) - epoch_us(ts) % 600000000
                   ORDER BY epoch_us(ts), event_id
               ) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_admitted,
           CAST(SUM(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rejected
    FROM d GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
    doc="Per-user fixed-window rate limiter as a REAL custom stateful "
    "streaming operator (applyInPandasWithState): admit an event iff "
    "fewer than 3 were admitted in its epoch-aligned 10-minute "
    "window; GroupState is 5 int64s per user (current window start, "
    "its count, running totals) — the API-gateway/ingest-throttle "
    "state shape, NEVER the event history, and a new window resets "
    "the counter so state is O(users) regardless of stream length. "
    "Driven availableNow over the bounded source, the decision "
    "sequence equals the batch rank rule row_number per (user, "
    "window) <= 3 — the exact SQL oracle (the admission decision is "
    "deterministic, unlike a token bucket whose refill arithmetic "
    "SQL cannot replay). Scale: shuffle keyed by user; state "
    "evictable by idle-timeout in a production deployment "
    "(GroupStateTimeout slot, documented). SURVEY §2.9 / §2.10: "
    "beyond-reference stateful-streaming upgrade.",
)
def stream_rate_limit_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import rate_limit_fixed_window_stream

    return rate_limit_fixed_window_stream(spark, sf_dir)


@register(
    "stream_visit_ttl_timeout",
    oracle="""
    WITH ev AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CAST(ROUND(value * 1000000) AS BIGINT) AS vm, event_id
        FROM events
    ),
    mx AS (SELECT MAX(ts_us) AS max_us FROM ev),
    gaps AS (
        SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                            OR ts_us - lag(ts_us) OVER w > 1800000000
                       THEN 1 ELSE 0 END AS ns
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
        SELECT *, CAST(SUM(ns) OVER (
            PARTITION BY user_id ORDER BY ts_us, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM gaps
    ),
    agg AS (
        SELECT user_id, sid,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(vm) AS BIGINT) AS sum_micro,
               MIN(ts_us) AS visit_start_us,
               MAX(ts_us) AS visit_end_us
        FROM sess GROUP BY user_id, sid
    ),
    final AS (
        SELECT *, MAX(sid) OVER (PARTITION BY user_id) AS last_sid
        FROM agg
    )
    SELECT user_id, n_events, sum_micro, visit_start_us, visit_end_us
    FROM final, mx
    WHERE sid < last_sid
       OR (visit_end_us // 1000 + 1800000)
          < (max_us // 1000 - 7200000)
    """,
    tags=("streaming", "stateful", "window"),
    doc="Event-time STATE TIMEOUT visits (VERDICT r12 streaming-depth "
    "addition): applyInPandasWithState with GroupStateTimeout."
    "EventTimeTimeout — each user's open visit closes in-data when a "
    "later event arrives > 30 min after the last, or by TIMER when "
    "the watermark passes last_event + TTL (state.hasTimedOut emits "
    "and state.remove() evicts — abandoned keys cannot accumulate). "
    "The manual-timer form of session windows, used when "
    "continuation logic is custom. Oracle: gap-sessionization where "
    "a non-final visit always emits and the final visit emits iff "
    "its timer cleared the final watermark (last_ms + TTL < max_ms "
    "- 2h) — Spark fires timers strictly beyond the registered "
    "timestamp. Values are exact integer micro-units; state is four "
    "longs per active user, eviction proven by the round-12 "
    "numRowsTotal pytest. Ref parity: beyond-reference streaming "
    "upgrade.",
)
def stream_visit_ttl_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.jobs import visit_ttl_timeout_stream

    return visit_ttl_timeout_stream(spark, sf_dir)


@register(
    "stream_chained_window_rollup",
    oracle="""
    WITH wm AS (
        SELECT MAX(epoch_us(ts)) - 7200000000 AS wm_us FROM events
    ),
    h6 AS (
        SELECT (epoch_us(ts) // 21600000000) * 21600000000
                   AS win_start_us,
               event_type,
               CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
                   AS n_hours,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                   AS sum_value
        FROM events
        GROUP BY 1, 2
    )
    SELECT win_start_us, event_type, n_hours, n_events, sum_value
    FROM h6 CROSS JOIN wm
    WHERE win_start_us + 21600000000 <= wm.wm_us
    """,
    tags=("streaming", "time", "aggregate", "stateful"),
    doc="Chained stateful aggregation in append mode (VERDICT r12 "
    "streaming-depth addition): a 1-hour tumbling aggregate feeds a "
    "6-hour rollup inside ONE streaming query via the window-column "
    "overload window(col('window'), '6 hours') — the multiple-"
    "stateful-operator capability (Spark 3.4+) that replaces the "
    "classic two-job + intermediate-topic architecture for "
    "hierarchical rollups. Inner windows emit into the outer "
    "operator when the watermark passes their end; outer rows emit "
    "once and evict when it passes theirs, so the bounded-source "
    "result equals the batch 6-hour rollup restricted to windows "
    "with end <= max(ts) - 2h (stream_hourly_agg_append's inclusive "
    "boundary, one level up). Both levels sum through "
    "DECIMAL(38,6). State: one row per open (window, type) at each "
    "level inside the watermark horizon. Ref parity: "
    "beyond-reference streaming upgrade.",
)
def stream_chained_window_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.jobs import chained_window_rollup_stream

    return chained_window_rollup_stream(spark, sf_dir)
