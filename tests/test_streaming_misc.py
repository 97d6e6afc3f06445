"""Streaming incremental upsert, schema-drift renames, latest-period
discovery."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from conftest import SF_DIR
from etl_energy_tracker_spark.lake import Lake, latest_raw_period
from etl_energy_tracker_spark.pipelines.common import normalize_schema_drift
from etl_energy_tracker_spark.schemas import validate
from etl_energy_tracker_spark.streaming.jobs import (
    clicks_purchases,
    drive,
    incremental_upsert_stream,
)


@pytest.mark.slow
def test_batch_and_stream_share_timestamp_contract(spark, tmp_path):
    """Batch ``load_table`` and streaming ``events_stream`` must decode
    the SAME parquet bytes to the SAME instants under BOTH timestamp
    encodings the testdata has shipped (r1 TIMESTAMP(NANOS), r2+
    TIMESTAMP(MICROS)) — the one-contract guarantee from commit
    'Share one timestamp-encoding contract' (ADVICE r3 follow-up)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_energy_tracker_spark.sources.registry import (
        events_ts_is_nanos,
        load_table,
    )
    from etl_energy_tracker_spark.streaming.jobs import events_stream

    instants = [
        dt.datetime(2024, 1, 15, 10, 0, 0, 123456),
        dt.datetime(2024, 6, 30, 23, 59, 59, 999999),
        dt.datetime(1969, 12, 31, 23, 30, 0, 0),  # pre-epoch: DIV must floor
    ]

    def write_events(unit: str) -> str:
        d = tmp_path / f"sf_{unit}"
        d.mkdir()
        t = pa.table(
            {
                "event_id": pa.array(range(len(instants)), pa.int64()),
                "ts": pa.array(instants, pa.timestamp(unit)),
                "user_id": pa.array([1] * len(instants), pa.int64()),
                "event_type": pa.array(["click"] * len(instants)),
                "value": pa.array([1.0] * len(instants)),
                "props": pa.array(["{}"] * len(instants)),
            }
        )
        pq.write_table(t, str(d / "events.parquet"))
        return str(d)

    results = {}
    for unit in ("ns", "us"):
        sf = write_events(unit)
        assert events_ts_is_nanos(sf) == (unit == "ns")
        batch = {
            r["event_id"]: r["ts"]
            for r in load_table(spark, "events", sf).select("event_id", "ts").collect()
        }
        stream = {
            r["event_id"]: r["ts"]
            for r in drive(events_stream(spark, sf), "append").select("event_id", "ts").collect()
        }
        assert batch == stream, f"batch vs stream disagree for {unit}"
        results[unit] = batch
    # and the two encodings of the same instants decode identically
    assert results["ns"] == results["us"]
    assert results["us"][0] == instants[0]
    assert results["us"][2] == instants[2]


@pytest.mark.parametrize("available_now", [False, True])
def test_drive_contract(spark, tmp_path, available_now):
    """``drive`` raises when its query fails during execution, and it
    still restores the session's shuffle width and stops the query. A
    successful drive runs at the drive's own shuffle width, captures
    the stream's plan and returns the sink's rows."""
    from etl_energy_tracker_spark.streaming.jobs import (
        DRIVE_SHUFFLE_PARTITIONS,
        clear_stream_plan,
        last_stream_plan,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame([(1,), (2,)], "x long").write.parquet(src)
    stream = spark.readStream.schema("x long").parquet(src)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        failing = stream.select(
            "x", F.raise_error(F.lit("drive contract")).cast("string").alias("e")
        )
        with pytest.raises(Exception, match="drive contract"):
            drive(failing, "append", available_now)
        assert spark.conf.get(key) == "3"
        assert spark.streams.active == []

        clear_stream_plan()
        out = drive(stream.groupBy("x").count(), "complete", available_now)
        assert sorted((r.x, r["count"]) for r in out.collect()) == [(1, 1), (2, 1)]
        plan = last_stream_plan()
        assert "StateStoreSave" in plan
        assert "hashpartitioning(x#" in plan
        assert f", {DRIVE_SHUFFLE_PARTITIONS})" in plan
        assert spark.conf.get(key) == "3"
        assert spark.streams.active == []
    finally:
        spark.conf.set(key, prev)


@pytest.mark.slow
def test_incremental_upsert_stream(spark, tmp_path):
    src = str(tmp_path / "raw_in")
    lake = Lake(spark, str(tmp_path / "lake"))

    df1 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 15, 10), 1, 50.0)],
        "datetime_utc timestamp, id_mercado int, precio double",
    )
    df1.write.mode("append").parquet(src)

    def transform(batch):
        return validate(batch, "precios")

    ck = str(tmp_path / "ck")
    incremental_upsert_stream(
        spark, src, "datetime_utc timestamp, id_mercado int, precio double",
        lake, "precios", transform, ck,
    )
    assert lake.read_processed("precios").count() == 1

    # new file lands; AvailableNow picks up ONLY the new one (checkpoint)
    spark.createDataFrame(
        [(dt.datetime(2024, 1, 15, 11), 1, 60.0)],
        "datetime_utc timestamp, id_mercado int, precio double",
    ).write.mode("append").parquet(src)
    incremental_upsert_stream(
        spark, src, "datetime_utc timestamp, id_mercado int, precio double",
        lake, "precios", transform, ck,
    )
    out = lake.read_processed("precios")
    assert out.count() == 2
    assert {r["precio"] for r in out.collect()} == {50.0, 60.0}


def test_schema_drift_renames(spark):
    df = spark.createDataFrame(
        [("1", "x", "1,5")], "`Periodo` string, `Participante del Mercado` string, `Potencia Compra/Venta` string"
    )
    out = normalize_schema_drift(df)
    assert set(out.columns) == {
        "Hora",
        "Unidad de Programación",
        "Energía Compra/Venta",
    }
    # already-normalized frames pass through untouched
    assert normalize_schema_drift(out).columns == out.columns


def test_latest_raw_period(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    assert latest_raw_period(lake, "diario", "volumenes_i90") is None
    df = spark.createDataFrame(
        [("2024-01-15", 1.0, 2024, 1), ("2024-03-02", 2.0, 2024, 3), ("2023-12-31", 3.0, 2023, 12)],
        "fecha string, volumenes double, year int, month int",
    )
    lake.write_raw(df, "diario", "volumenes_i90")
    assert latest_raw_period(lake, "diario", "volumenes_i90") == (2024, 3)
    # later periods that hold no live data are ignored: an empty leaf
    # and a leaf under an `_`-prefixed staging directory
    import glob
    import os
    import shutil

    root = lake.raw_path("diario", "volumenes_i90")
    os.makedirs(os.path.join(root, "year=2024", "month=12"))
    staged = os.path.join(root, "_staging", "year=2025", "month=6")
    os.makedirs(staged)
    shutil.copy(glob.glob(os.path.join(root, "year=2024", "month=3", "*.parquet"))[0], staged)
    assert latest_raw_period(lake, "diario", "volumenes_i90") == (2024, 3)


@pytest.mark.slow
def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a watermark: a second micro-batch
    carrying an event far behind the advanced watermark is excluded
    from its (already finalized) window."""
    import uuid

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, v double"
    # batch 1: events at 10:00 and 13:00 → watermark advances to 12:50
    spark.createDataFrame([(base, 1.0), (base + dt.timedelta(hours=3), 1.0)], schema)\
        .coalesce(1).write.mode("append").parquet(src)

    name = f"wm_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("w"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: one on-time event (14:00) and one LATE event back at
        # 10:30 — behind the 12:50 watermark, must be dropped
        spark.createDataFrame(
            [(base + dt.timedelta(hours=4), 1.0), (base + dt.timedelta(minutes=30), 1.0)],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["w"]: r["n"] for r in spark.table(name).collect()}
    # the 10:00 window was finalized with n=1; the late 10:30 event never
    # re-opened it (no second emission for that window in append mode)
    assert rows.get(base) == 1
    assert sum(n for w, n in rows.items() if w == base) == 1


def test_hourly_agg_append_vs_complete(spark):
    """Production path is append mode: each window is emitted once when
    the watermark passes it and its state is evicted — so over a bounded
    source, append emits every window except the final in-progress ones
    still inside the watermark, while the complete-mode oracle drive
    shows all of them."""
    from etl_energy_tracker_spark.streaming.jobs import hourly_event_agg_stream

    sf = "/root/testdata/sf0.001"
    complete = hourly_event_agg_stream(spark, sf, output_mode="complete")
    appended = hourly_event_agg_stream(
        spark, sf, watermark="0 seconds", output_mode="append"
    )
    n_complete, n_append = complete.count(), appended.count()
    assert 0 < n_append < n_complete
    # the append rows are exactly the finalized (watermark-passed)
    # subset of the complete result
    missing = complete.join(
        appended.select("hour_ts", "event_type"), ["hour_ts", "event_type"], "left_anti"
    )
    max_hour = complete.agg(F.max("hour_ts")).first()[0]
    assert all(r["hour_ts"] == max_hour for r in missing.collect())


def test_validate_strict_nulls(spark):
    import pytest as _pytest

    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame(
        [(None, 1, 50.0)], "datetime_utc timestamp, id_mercado int, precio double"
    )
    ok = validate(df, "precios")  # lazy, no guard → nulls pass through
    assert ok.count() == 1
    guarded = validate(df, "precios", strict_nulls=("datetime_utc",))
    with _pytest.raises(Exception) as e:
        guarded.collect()
    assert "null in required column datetime_utc" in str(e.value)


@pytest.mark.slow
def test_stream_stream_join_is_watermarked(spark):
    """Both join sides carry event-time watermarks and the range
    condition is present — the state-eviction contract for unbounded
    stream-stream joins — and the drive matches the batch equivalent."""
    from etl_energy_tracker_spark.queries.streamops import stream_stream_join
    from etl_energy_tracker_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    out = stream_stream_join(spark, SF_DIR)
    got = {(r["purchase_id"], r["click_id"]) for r in out.collect()}

    ev = load_table(spark, "events", SF_DIR)
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts"))
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"))
    batch = p.join(c, (F.col("cu") == F.col("user_id"))
                   & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
                   & (F.col("cts") <= F.col("pts")))
    want = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_dedup_equals_batch_distinct(spark):
    from etl_energy_tracker_spark.queries.streamops import stream_dedup
    from etl_energy_tracker_spark.sources.registry import load_table
    from conftest import SF_DIR

    out = stream_dedup(spark, SF_DIR)
    n_events = load_table(spark, "events", SF_DIR).count()
    # every event exactly once despite arriving twice
    assert out.count() == n_events
    assert out.select("event_id").distinct().count() == n_events


def test_stream_topk_trending_ranks_and_bounds(spark):
    """Per hour: exactly <=3 rows, ranks 1..k contiguous, counts
    non-increasing with rank, and the stream-maintained counts equal a
    batch recompute."""
    from collections import Counter

    from etl_energy_tracker_spark.queries.streamops import stream_topk_trending

    out = stream_topk_trending(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    batch = Counter(
        (r["ts"].replace(minute=0, second=0, microsecond=0), r["event_type"])
        for r in ev
    )
    by_hour = {}
    for r in out:
        by_hour.setdefault(r["hour_ts"], []).append(r)
    for hour, rows in by_hour.items():
        rows.sort(key=lambda r: r["rk"])
        assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        ns = [r["n"] for r in rows]
        assert ns == sorted(ns, reverse=True)
        for r in rows:
            assert batch[(hour, r["event_type"])] == r["n"]
        # nothing outside the top-3 beats the rank-3 count
        others = [
            n for (h, et), n in batch.items()
            if h == hour and et not in {r["event_type"] for r in rows}
        ]
        if others and len(rows) == 3:
            assert max(others) <= ns[-1]


@pytest.mark.slow
def test_session_window_append_evicts_and_drops_late(spark, tmp_path):
    """Append-mode session windows (VERDICT r9 task 5): the watermark
    (1) closes and emits a finished session exactly once — including
    at the EXACT boundary, a session whose end equals the watermark
    is emitted (<=, the rule the stream_session_window_append oracle
    encodes); (2) evicts its state, so a late event near the closed
    session is NEVER merged back into it — it forms its own new
    session when its prospective window still ends past the
    watermark; (3) drops a late event entirely when even its
    prospective session window (ts + gap) ends at or before the
    watermark (Spark filters late data on the WINDOW, not the raw
    event time — pinned here because the first draft of this test
    assumed event-time filtering and was wrong)."""
    import uuid

    src = str(tmp_path / "sess_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, value double"
    # batch 1 — gap 30 min, watermark 10 min:
    #   user 1: event at 10:00  -> session end 10:30
    #   user 9: event at 10:40  -> batch max; watermark -> 10:30
    # user 1's session end EQUALS the watermark: boundary case.
    spark.createDataFrame(
        [(base, 1, 1.0), (base + dt.timedelta(minutes=40), 9, 1.0)],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("start"),
            F.col("session_window.end").alias("end"),
            "n",
        )
    )
    name = f"sessapp_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        emitted1 = {
            (r.user_id, r.start, r.end, r.n)
            for r in spark.table(name).collect()
        }
        # boundary emission: user 1's session (end == watermark) is out
        assert (1, base, base + dt.timedelta(minutes=30), 1) in emitted1
        # batch 2: user 1 returns at 11:30 (a NEW session — the old
        # state was evicted); a late event at 10:05 whose prospective
        # window [10:05, 10:35) still ends past the 10:30 watermark
        # (admitted, but as its OWN session — never merged into the
        # closed one); and a very late event at 09:00 whose window
        # [09:00, 09:30) ends before the watermark (dropped).
        spark.createDataFrame(
            [
                (base + dt.timedelta(minutes=90), 1, 1.0),
                (base + dt.timedelta(minutes=5), 1, 1.0),
                (base - dt.timedelta(minutes=60), 1, 1.0),
                (base + dt.timedelta(minutes=150), 9, 1.0),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        (r.user_id, r.start, r.end, r.n)
        for r in spark.table(name).collect()
    }
    # the 10:00 session was emitted once, with n=1 — never re-emitted,
    # never extended by the late 10:05 event (state eviction is real)
    u1 = sorted(t for t in emitted if t[0] == 1)
    assert (1, base, base + dt.timedelta(minutes=30), 1) in emitted
    # the admitted-late 10:05 event is its OWN [10:05, 10:35) session
    assert (
        1,
        base + dt.timedelta(minutes=5),
        base + dt.timedelta(minutes=35),
        1,
    ) in emitted
    # user 1's return at 11:30 forms a separate session (closed by the
    # advanced watermark 12:20 after batch 2's max ts 12:30)
    assert (
        1,
        base + dt.timedelta(minutes=90),
        base + dt.timedelta(minutes=120),
        1,
    ) in emitted
    # and the 09:00 event (window fully behind the watermark) produced
    # NO session — exactly three user-1 sessions, none at 09:00
    assert len(u1) == 3, u1
    assert not any(t[1] == base - dt.timedelta(minutes=60) for t in u1)


@pytest.mark.slow
def test_left_outer_join_global_watermark_strict(spark, tmp_path):
    """Stream-stream LEFT OUTER null emission (VERDICT r9 task 8):
    an unmatched left row emits its NULL-extended result only when
    the GLOBAL watermark — the MIN of both sides' watermarks —
    STRICTLY passes its join window: a purchase at exactly the
    watermark stays in state; one strictly below emits exactly once;
    one above emits nothing. (First draft of the catalog oracle
    assumed the left side's own watermark with <=; both wrong —
    pinned here so the rule cannot drift.)"""
    src = str(tmp_path / "lo_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, event_type string, event_id long"
    # clicks max 14:00 and purchases max 14:00 -> both watermarks and
    # the global watermark are 13:00 (1h delay).
    rows = [
        (base + dt.timedelta(hours=4), 99, "click", 1),
        (base + dt.timedelta(hours=4), 98, "purchase", 5),
        (base + dt.timedelta(hours=3), 1, "purchase", 2),      # == wm
        (base + dt.timedelta(minutes=30), 2, "purchase", 3),   # < wm
        (base + dt.timedelta(minutes=210), 3, "purchase", 4),  # > wm
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    joined = clicks_purchases(stream, "left_outer", "1 hour", "1 hour")
    got = sorted(
        (r.purchase_id, r.click_id)
        for r in drive(joined, "append").collect()
    )
    # only purchase 3 (strictly below the 13:00 global watermark)
    # emitted a null row; the boundary row 2 and the ahead row 4
    # stayed in state; 5 (at max ts, matched window empty) too.
    assert got == [(3, None)]


@pytest.mark.slow
def test_dedup_within_watermark_eviction(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics the unique-id catalog
    source cannot show: a duplicate key arriving while its state is
    inside the watermark horizon is DROPPED; after the horizon passes
    and the key's state evicts, the same key is RE-ADMITTED
    (at-least-once beyond the horizon — the documented trade for
    bounded state vs plain dropDuplicates)."""
    import uuid

    src = str(tmp_path / "ddw_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, event_id long"
    # batch 1: key 1 at 10:00; filler at 15:00 -> watermark (2h) 13:00
    # advances past key 1's expiry (10:00 + 2h = 12:00): state evicts.
    spark.createDataFrame(
        [(base, 1), (base + dt.timedelta(hours=5), 9)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = stream.withWatermark("ts", "2 hours")\
        .dropDuplicatesWithinWatermark(["event_id"])
    name = f"ddw_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: key 1 again at 15:30 (state evicted -> re-admitted);
        # key 2 at 14:30 and its duplicate at 14:40 (same batch, inside
        # horizon -> second copy dropped).
        spark.createDataFrame(
            [
                (base + dt.timedelta(minutes=330), 1),
                (base + dt.timedelta(minutes=270), 2),
                (base + dt.timedelta(minutes=280), 2),
            ],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    from collections import Counter

    counts = Counter(
        r.event_id for r in spark.table(name).collect()
    )
    assert counts[1] == 2  # re-admitted after state eviction
    assert counts[2] == 1  # in-horizon duplicate dropped
    assert counts[9] == 1


def test_dedup_within_watermark_drive_is_append(spark):
    """The production drive (VERDICT r10 task 3): the catalog's driven
    plan emits surviving ROWS in append mode — streaming state is the
    watermark horizon, not a forever-growing complete-mode aggregate.
    Over the unique-id shipped source every row survives, so the
    emitted table is exactly the events table (ids) and the batch-side
    per-key count is 1 everywhere."""
    from etl_energy_tracker_spark.streaming.jobs import (
        dedup_within_watermark_stream,
    )

    from conftest import SF_DIR

    survivors = dedup_within_watermark_stream(spark, SF_DIR)
    assert set(survivors.columns) == {"event_id", "user_id", "ts"}
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert survivors.count() == n_events
    assert (
        survivors.groupBy("event_id").count().filter("count > 1").count()
        == 0
    )


@pytest.mark.slow
def test_full_outer_join_own_window_end_rule(spark, tmp_path):
    """Full-outer stream-stream null emission: ONE uniform rule for
    both sides — a buffered row emits null-extended when its OWN
    side's join-window end is STRICTLY below the global watermark.
    Purchase windows end at purchase_ts; click windows end at
    click_ts + 60 min. A click whose window end equals the watermark
    stays in state."""
    src = str(tmp_path / "fo_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, event_type string, event_id long"
    # both sides max 16:00 -> global watermark 15:00 (1h delay):
    #   click 2 at 10:30 (window end 11:30 < wm)  -> null row
    #   click 3 at 14:00 (window end 15:00 == wm) -> stays (strict)
    #   click 4 at 14:30 (window end 15:30 > wm)  -> stays
    #   purchase 5 at 10:45 (< wm)                -> null row
    rows = [
        (base + dt.timedelta(hours=6), 99, "click", 1),
        (base + dt.timedelta(hours=6), 98, "purchase", 9),
        (base + dt.timedelta(minutes=30), 2, "click", 2),
        (base + dt.timedelta(minutes=240), 3, "click", 3),
        (base + dt.timedelta(minutes=270), 4, "click", 4),
        (base + dt.timedelta(minutes=45), 5, "purchase", 5),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    joined = clicks_purchases(stream, "full_outer", "1 hour", "1 hour")
    got = sorted(
        (r.purchase_id or -1, r.click_id or -1)
        for r in drive(joined, "append").collect()
    )
    assert got == [(-1, 2), (5, -1)]


@pytest.mark.slow
def test_full_outer_asym_watermarks_min_policy(spark, tmp_path):
    """Asymmetric per-side watermark delays (clicks 2 h, purchases 30
    min): the GLOBAL watermark is the MIN of the two side-specific
    horizons, and it gates BOTH sides' evictions. Construction: max
    click 20:00 -> click horizon 18:00; max purchase 16:00 ->
    purchase horizon 15:30; global = 15:30. Click 4 (window end
    14:00) emits null-extended ONLY because the purchase side's
    shorter delay pushed the global watermark past it — under
    symmetric 2 h delays the global watermark would sit at 14:00 and
    click 4 would stay (strict rule). Click 3 (end == 15:30) and
    purchase 6 (ts == 15:30) pin the strictness on both sides."""
    src = str(tmp_path / "fo_asym_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, event_type string, event_id long"
    rows = [
        (base + dt.timedelta(hours=10), 99, "click", 1),
        (base + dt.timedelta(hours=6), 98, "purchase", 9),
        (base + dt.timedelta(minutes=30), 2, "click", 2),
        (base + dt.timedelta(minutes=270), 3, "click", 3),
        (base + dt.timedelta(minutes=180), 4, "click", 4),
        (base + dt.timedelta(minutes=45), 5, "purchase", 5),
        (base + dt.timedelta(minutes=330), 6, "purchase", 6),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    joined = clicks_purchases(stream, "full_outer", "2 hours", "30 minutes")
    got = sorted(
        (r.purchase_id or -1, r.click_id or -1)
        for r in drive(joined, "append").collect()
    )
    assert got == [(-1, 2), (-1, 4), (5, -1)]


@pytest.mark.slow
def test_rate_limit_window_reset_and_cap(spark, tmp_path):
    """Three-batch drive of the PRODUCTION update fn
    (_make_rate_limit_update): 5 events inside one 10-min window admit
    only 3; the next window resets the counter; and — the ADVICE r11
    scenario — an event arriving for an ALREADY-PASSED window in a
    later micro-batch resumes that window's true count (rejected here)
    instead of resetting it (which would wrongly admit)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from etl_energy_tracker_spark.streaming.jobs import (
        _make_rate_limit_update,
    )

    src = str(tmp_path / "rl_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, event_id long"
    # batch 1: user 1 gets 4 events in window A = [10:00, 10:10)
    spark.createDataFrame(
        [(base + dt.timedelta(minutes=m), 1, m) for m in range(4)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 2: 1 more in window A (rejected: count persisted), then 2
    # in window B (both admitted: fresh window)
    spark.createDataFrame(
        [
            (base + dt.timedelta(minutes=9), 1, 9),
            (base + dt.timedelta(minutes=11), 1, 11),
            (base + dt.timedelta(minutes=12), 1, 12),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    # batch 3: a LATE event for window A after window B already opened
    # — the ring state still holds A's count of 3 admitted, so this is
    # rejected; the old current-window-only state would have reset A
    # to 0 and admitted it
    spark.createDataFrame(
        [(base + dt.timedelta(minutes=8), 1, 8)], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "event_id")
    )

    out = stream.groupBy("user_id").applyInPandasWithState(
        _make_rate_limit_update(3, 600_000_000),
        outputStructType=(
            "user_id long, n_events long, n_admitted long, n_rejected long"
        ),
        stateStructType=(
            "wins array<long>, cnts array<long>, "
            "adm long, rej long, tot long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    rows = sorted(drive(out, "update").collect(), key=lambda r: r.n_events)
    final = rows[-1]
    # window A saw 6 events (4 + 1 in batch 2 + 1 late in batch 3):
    # 3 admitted; window B saw 2: both admitted -> 5 admitted, 3 rejected
    assert (final.n_events, final.n_admitted, final.n_rejected) == (8, 5, 3)


def test_rate_limit_ring_eviction_bounds_state():
    """Direct replay of _make_rate_limit_update: the window ring never
    exceeds _RL_KEEP entries, evicts the OLDEST window, and a late
    event within the retained horizon resumes its true count."""
    import pandas as pd

    from etl_energy_tracker_spark.streaming.jobs import (
        _RL_KEEP,
        _make_rate_limit_update,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    upd = _make_rate_limit_update(2, 10)
    st = FakeState()

    def run(ts_list):
        pdf = pd.DataFrame(
            {"ts_us": ts_list, "event_id": list(range(len(ts_list)))}
        )
        return list(upd((1,), iter([pdf]), st))[0]

    # fill window 0 to its cap
    run([0, 1, 2])  # window 0: 2 admitted, 1 rejected
    wins, cnts, adm, rej, tot = st.get
    assert (adm, rej, tot) == (2, 1, 3)
    # open _RL_KEEP more windows -> window 0 evicted, ring stays bounded
    run([10 * (k + 1) for k in range(_RL_KEEP)])
    wins, cnts, adm, rej, tot = st.get
    assert len(wins) == _RL_KEEP and len(cnts) == _RL_KEEP
    assert 0 not in wins and min(wins) == 10
    # late event in window 10 (still retained): true count resumed,
    # second event in that window admitted, third rejected
    run([11, 12])
    wins, cnts, adm, rej, tot = st.get
    assert cnts[wins.index(10)] == 2
    assert rej == 2  # the window-0 overflow + the window-10 overflow
    assert len(wins) == _RL_KEEP
