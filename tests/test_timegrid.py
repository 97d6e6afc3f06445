"""DST time-kernel tests — the reference's own test strategy pins
2024-03-31 (spring forward, 23 h / 92 quarters) and 2024-10-27
(fall back, 25 h / 100 quarters) (i90_transform_tests.py:12-16).
Expected UTC values are hand-computed and cross-checked against
zoneinfo, not derived from the implementation.
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict
from zoneinfo import ZoneInfo

import pytest
from conftest import madrid_quarters_utc
from pyspark.sql import functions as F

from etl_energy_tracker_spark import timegrid as tg
from etl_energy_tracker_spark.pipelines import omie
from etl_energy_tracker_spark.pipelines.common import standardize_datetime

MAD = ZoneInfo("Europe/Madrid")
UTC = ZoneInfo("UTC")


@pytest.fixture(scope="module")
def dim(spark):
    return tg.dst_dim(spark, 2023, 2026)


def test_transition_dates():
    trans = dict(tg.madrid_transitions(2024, 2025))
    assert trans[dt.date(2024, 3, 31)] == tg.DAY_SPRING_FWD
    assert trans[dt.date(2024, 10, 27)] == tg.DAY_FALL_BACK
    assert trans[dt.date(2025, 3, 30)] == tg.DAY_SPRING_FWD
    assert trans[dt.date(2025, 10, 26)] == tg.DAY_FALL_BACK


def test_dim_day_lengths(spark, dim):
    rows = {
        r["fecha"]: r
        for r in dim.where(
            F.col("fecha").isin([dt.date(2024, 3, 31), dt.date(2024, 10, 27), dt.date(2024, 1, 15), dt.date(2024, 7, 15)])
        ).collect()
    }
    assert rows[dt.date(2024, 3, 31)]["n_hours"] == 23
    assert rows[dt.date(2024, 3, 31)]["n_quarters"] == 92
    assert rows[dt.date(2024, 10, 27)]["n_hours"] == 25
    assert rows[dt.date(2024, 10, 27)]["n_quarters"] == 100
    assert rows[dt.date(2024, 1, 15)]["day_start_offset"] == 1
    assert rows[dt.date(2024, 7, 15)]["day_start_offset"] == 2
    # transition days start on the pre-transition offset
    assert rows[dt.date(2024, 3, 31)]["day_start_offset"] == 1
    assert rows[dt.date(2024, 10, 27)]["day_start_offset"] == 2


HOURLY_CASES = [
    # (fecha, hora_label, expected UTC)
    ("2024-01-15", "00-01", "2024-01-14 23:00:00"),
    ("2024-01-15", "12-13", "2024-01-15 11:00:00"),
    ("2024-01-15", "23-00", "2024-01-15 22:00:00"),
    ("2024-07-15", "00-01", "2024-07-14 22:00:00"),
    ("2024-07-15", "23-00", "2024-07-15 21:00:00"),
    # spring forward: local 02 missing; 23-hour day
    ("2024-03-31", "00-01", "2024-03-30 23:00:00"),
    ("2024-03-31", "01-02", "2024-03-31 00:00:00"),
    ("2024-03-31", "03-04", "2024-03-31 01:00:00"),
    ("2024-03-31", "23-00", "2024-03-31 21:00:00"),
    # fall back: 02a (CEST) then 02b (CET); 25-hour day
    ("2024-10-27", "00-01", "2024-10-26 22:00:00"),
    ("2024-10-27", "01-02", "2024-10-26 23:00:00"),
    ("2024-10-27", "02-03a", "2024-10-27 00:00:00"),
    ("2024-10-27", "02-03b", "2024-10-27 01:00:00"),
    ("2024-10-27", "03-04", "2024-10-27 02:00:00"),
    ("2024-10-27", "23-00", "2024-10-27 22:00:00"),
]


def _hourly_quarters(spark, dim, labels):
    """(fecha, hourly label) pairs through the pipelines' own
    standardize_datetime → each label's sorted 15-min UTC instants."""
    df = spark.createDataFrame(
        [(f, h, "Hora") for f, h in labels],
        "fecha string, hora string, granularity string",
    )
    got = defaultdict(list)
    for r in standardize_datetime(df, dim).collect():
        got[(r["fecha"], r["hora"])].append(r["datetime_utc"])
    return {k: sorted(v) for k, v in got.items()}


def _quarters_from(start: dt.datetime) -> list[dt.datetime]:
    return [start + dt.timedelta(minutes=m) for m in (0, 15, 30, 45)]


def test_hourly_to_utc(spark, dim):
    got = _hourly_quarters(spark, dim, [(f, h) for f, h, _ in HOURLY_CASES])
    for f, h, exp in HOURLY_CASES:
        assert got[(f, h)] == _quarters_from(dt.datetime.fromisoformat(exp)), (f, h)


def test_hourly_matches_zoneinfo_on_normal_days(spark, dim):
    # every hour of two normal days must agree with the tz database
    cases = []
    for f in ["2024-02-10", "2024-08-10"]:
        d = dt.date.fromisoformat(f)
        for h in range(24):
            local = dt.datetime(d.year, d.month, d.day, h, tzinfo=MAD)
            cases.append((f, f"{h:02d}-{(h + 1) % 24:02d}", local.astimezone(UTC).replace(tzinfo=None)))
    got = _hourly_quarters(spark, dim, [(f, h) for f, h, _ in cases])
    for f, h, exp in cases:
        assert got[(f, h)] == _quarters_from(exp), (f, h)


QUARTER_CASES = [
    ("2024-01-15", 1, "2024-01-14 23:00:00"),
    ("2024-01-15", 96, "2024-01-15 22:45:00"),
    ("2024-03-31", 1, "2024-03-30 23:00:00"),
    ("2024-03-31", 92, "2024-03-31 21:45:00"),  # 23-hour day ends 21:45 UTC
    ("2024-10-27", 1, "2024-10-26 22:00:00"),
    ("2024-10-27", 100, "2024-10-27 22:45:00"),  # 25-hour day ends 22:45 UTC
    ("2024-10-27", 9, "2024-10-27 00:00:00"),  # 02:00a CEST
    ("2024-10-27", 13, "2024-10-27 01:00:00"),  # 02:00b CET
]


def test_quarter_to_utc(spark, dim):
    df = spark.createDataFrame(
        [(f, i) for f, i, _ in QUARTER_CASES], "fecha string, quarter_idx int"
    )
    out = tg.with_utc_from_quarter(df, dim)
    got = {(r["fecha"], r["quarter_idx"]): r["datetime_utc"] for r in out.collect()}
    for f, i, exp in QUARTER_CASES:
        assert got[(f, i)] == dt.datetime.fromisoformat(exp), (f, i)


def test_expand_hourly_divides_volumes(spark):
    t = dt.datetime(2024, 1, 15, 10)
    df = spark.createDataFrame(
        [("Hora", t, 100.0, 42.0), ("Quince minutos", t, 100.0, 42.0), (None, t, 100.0, 42.0)],
        "granularity string, datetime_utc timestamp, volumenes double, precio double",
    )
    out = tg.expand_hourly_to_15min(
        df, F.col("granularity") == "Hora", divide_cols=("volumenes",)
    )
    assert out.columns == df.columns
    got = sorted((r["granularity"] or "", r["datetime_utc"], r["volumenes"], r["precio"]) for r in out.collect())
    # only the hourly row expands (prices replicate); a NULL predicate
    # passes through like a false one
    assert got == sorted(
        [("Hora", q, 25.0, 42.0) for q in _quarters_from(t)]
        + [("Quince minutos", t, 100.0, 42.0), ("", t, 100.0, 42.0)]
    )


def test_standardize_null_hora_and_granularity(spark, dim):
    df = spark.createDataFrame(
        [
            ("2024-01-15", None, "Hora", 8.0),  # 4 quarters, unknown instant
            ("2024-01-15", None, "Quince minutos", 8.0),
            ("2024-01-15", "41", None, 8.0),  # NULL granularity: a quarter label
            ("2024-01-15", None, None, 8.0),
        ],
        "fecha string, hora string, granularity string, volumenes double",
    )
    got = sorted(
        ((r["hora"] or "", r["granularity"] or ""), r["datetime_utc"] or dt.datetime.min, r["volumenes"])
        for r in standardize_datetime(df, dim, value_col="volumenes").collect()
    )
    assert got == sorted(
        [(("", "Hora"), dt.datetime.min, 2.0)] * 4
        + [
            (("", "Quince minutos"), dt.datetime.min, 8.0),
            (("41", ""), dt.datetime(2024, 1, 15, 9), 8.0),
            (("", ""), dt.datetime.min, 8.0),
        ]
    )


@pytest.mark.parametrize("fecha,n_hours", [("2024-03-31", 23), ("2024-10-27", 25)])
def test_omie_labels_match_zoneinfo_on_dst_days(spark, dim, fecha, n_hours):
    """OMIE hour positions 1..23/1..25 and every HxQy label land on the
    tz database's quarters of the local day."""
    quarters = madrid_quarters_utc(dt.date.fromisoformat(fecha))
    assert len(quarters) == n_hours * 4
    rows = [(fecha, str(h), 4.0) for h in range(1, n_hours + 1)] + [
        (fecha, f"H{h}Q{q}", 1.0) for h in range(1, n_hours + 1) for q in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "Fecha string, Hora string, volumenes double")
    got = defaultdict(list)
    for r in omie.with_datetime(df, dim).collect():
        got[r["Hora"]].append((r["datetime_utc"], r["volumenes"]))
    for h in range(1, n_hours + 1):
        hour = quarters[(h - 1) * 4 : h * 4]
        assert sorted(got[str(h)]) == [(t, 1.0) for t in hour], h
        for q in range(1, 5):
            assert got[f"H{h}Q{q}"] == [(hour[q - 1], 1.0)], (h, q)


def test_omie_null_hora_is_an_hour_row(spark, dim):
    df = spark.createDataFrame(
        [("2024-01-15", None, 8.0)], "Fecha string, Hora string, volumenes double"
    )
    got = [(r["datetime_utc"], r["volumenes"]) for r in omie.with_datetime(df, dim).collect()]
    assert got == [(None, 2.0)] * 4


def test_rollup_15min_to_hourly(spark):
    base = dt.datetime(2024, 1, 15, 10)
    rows = [
        (base + dt.timedelta(minutes=m), 1, float(p))
        for m, p in [(0, 10), (15, 20), (30, 30), (45, 40)]
    ]
    df = spark.createDataFrame(rows, "datetime_utc timestamp, id_mercado int, precio double")
    out = tg.rollup_15min_to_hourly(
        df, group_cols=("id_mercado",), mean_cols=("precio",)
    ).collect()
    assert len(out) == 1
    assert out[0]["precio"] == 25.0
    assert out[0]["datetime_utc"] == base


def test_round_trip_expand_rollup(spark, dim):
    # hourly → 15min → hourly must be identity for prices (mean of 4
    # replicas) on a DST day too
    df = spark.createDataFrame(
        [("2024-10-27", f"{h:02d}-{(h + 1) % 24:02d}{s}", 50.0 + h)
         for h, s in [(0, ""), (1, ""), (2, "a"), (2, "b"), (3, ""), (12, "")]],
        "fecha string, hora string, precio double",
    )
    hourly = tg.with_utc_from_quarter(
        df, dim, quarter_idx=tg.hourly_quarter_idx(F.col("hora"))
    ).select("datetime_utc", "precio")
    q = tg.expand_hourly_to_15min(hourly, F.lit(True))
    back = tg.rollup_15min_to_hourly(q, mean_cols=("precio",))
    a = {r["datetime_utc"]: r["precio"] for r in hourly.collect()}
    b = {r["datetime_utc"]: r["precio"] for r in back.collect()}
    assert a == b and len(a) == 6


def test_inverse_labels_round_trip(spark, dim):
    """UTC → local labels → UTC must be the identity across normal and
    both DST days, for every hour and quarter of each day."""
    days = ["2024-01-15", "2024-07-15", "2024-03-31", "2024-10-27"]
    lengths = {"2024-01-15": 24, "2024-07-15": 24, "2024-03-31": 23, "2024-10-27": 25}
    rows = []
    for f in days:
        d = dt.date.fromisoformat(f)
        # local midnight UTC then every 15 min of the local day
        start = dt.datetime(d.year, d.month, d.day, 0, tzinfo=MAD).astimezone(UTC).replace(tzinfo=None)
        for q in range(lengths[f] * 4):
            rows.append((start + dt.timedelta(minutes=15 * q),))
    df = spark.createDataFrame(rows, "datetime_utc timestamp")
    labeled = tg.with_local_labels(df, dim)

    # quarter round trip
    back_q = tg.with_utc_from_quarter(
        labeled.select("datetime_utc", "fecha", "quarter_idx"),
        dim,
        fecha="fecha",
        quarter_idx=F.col("quarter_idx"),
        out="utc_back",
    )
    mismatch = back_q.where(F.col("utc_back") != F.col("datetime_utc")).count()
    assert mismatch == 0

    # hourly round trip on the on-the-hour rows
    hourly = labeled.where(F.minute("datetime_utc").isin(0) & (F.minute(F.from_utc_timestamp("datetime_utc", "Europe/Madrid")) == 0))
    back_h = tg.with_utc_from_quarter(
        hourly.select("datetime_utc", "fecha", "hora"),
        dim,
        quarter_idx=tg.hourly_quarter_idx(F.col("hora")),
        out="utc_back",
    )
    assert back_h.where(F.col("utc_back") != F.col("datetime_utc")).count() == 0

    # the fall-back day carries both suffix labels
    labels = {r["hora"] for r in labeled.where(F.col("fecha") == dt.date(2024, 10, 27)).collect()}
    assert "02-03a" in labels and "02-03b" in labels
