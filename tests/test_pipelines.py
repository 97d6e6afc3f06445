"""Per-source pipeline tests on reference-shaped fixtures
(FIXTURES.md §1/§4): mixed granularity, DST days, intra cumulative
chains, European decimals, technology semi-joins, RTx classification."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_energy_tracker_spark import timegrid as tg
from etl_energy_tracker_spark.pipelines import curtailments, esios, i3, i90, omie
from etl_energy_tracker_spark.pipelines.common import filter_date_mode


@pytest.fixture(scope="module")
def dim(spark):
    return tg.dst_dim(spark, 2023, 2026)


# ---------------------------------------------------------------------------
# ESIOS
# ---------------------------------------------------------------------------


def test_esios_pipeline(spark):
    raw = spark.createDataFrame(
        [
            # diario (600): hourly row → must expand ×4, price replicated
            ("2024-01-15T10:00:00Z", 42.157, "600", "España", "Hora"),
            # geo-filtered out (Portugal on a geo-scoped indicator)
            ("2024-01-15T10:00:00Z", 40.0, "600", "Portugal", "Hora"),
            # secundaria subir (2130): native 15-min, geo filter not applied
            ("2024-01-15T10:15:00Z", 12.5, "2130", "Portugal", "Quince minutos"),
            # unknown indicator: no market, so the row is dropped
            ("2024-01-15T10:00:00Z", 1.0, "99999", "España", "Hora"),
        ],
        "datetime_utc string, value double, indicador_id string, geo_name string, granularidad string",
    )
    out = esios.transform_price_data(spark, raw)
    rows = sorted(
        ((r["datetime_utc"], r["id_mercado"], round(r["precio"], 2)) for r in out.collect())
    )
    base = dt.datetime(2024, 1, 15, 10)
    assert rows == sorted(
        [(base + dt.timedelta(minutes=m), 1, 42.16) for m in (0, 15, 30, 45)]
        + [(dt.datetime(2024, 1, 15, 10, 15), 14, 12.5)]
    )


# ---------------------------------------------------------------------------
# I90
# ---------------------------------------------------------------------------


def _i90_raw(spark, rows):
    return spark.createDataFrame(
        rows,
        "fecha string, hora string, granularity string, volumenes double, "
        "`Unidad de Programación` string, Sentido string, Redespacho string, "
        "`Tipo Transacción` string",
    )


def test_i90_volumenes_filters_and_dst(spark, dim):
    raw = _i90_raw(
        spark,
        [
            # market 9 = Restricciones MD a subir: Sentido=Subir + redespacho ECO
            ("2024-10-27", "02-03a", "Hora", 8.0, "ABO3", "Subir", "ECO", "Mercado"),
            ("2024-10-27", "02-03b", "Hora", 4.0, "ABO3", "Subir", "ECO", "Mercado"),
            # filtered: wrong sentido
            ("2024-10-27", "03-04", "Hora", 5.0, "ABO3", "Bajar", "ECO", "Mercado"),
            # filtered: redespacho not in MD list
            ("2024-10-27", "03-04", "Hora", 5.0, "ABO3", "Subir", "Indisponibilidad", "Mercado"),
            # filtered: zero volume
            ("2024-10-27", "04-05", "Hora", 0.0, "ABO3", "Subir", "ECO", "Mercado"),
        ],
    )
    out = i90.transform_volumenes(raw, 9, dim)
    rows = sorted((r["datetime_utc"], round(r["volumenes"], 3)) for r in out.collect())
    # 02-03a = 2024-10-27 00:00 UTC; 02-03b = 01:00 UTC; volumes ÷4
    exp = sorted(
        [(dt.datetime(2024, 10, 27, 0, m), 2.0) for m in (0, 15, 30, 45)]
        + [(dt.datetime(2024, 10, 27, 1, m), 1.0) for m in (0, 15, 30, 45)]
    )
    assert rows == exp
    assert out.select("tipo_transaccion").distinct().collect()[0][0] == "Mercado"


def test_intra_incremental_chain(spark):
    t = dt.datetime(2024, 1, 15, 10)
    baseline = spark.createDataFrame(
        [(t, "UP1", 100.0), (t, "UP2", 50.0)],
        "datetime_utc timestamp, up string, volumenes double",
    )
    sessions = spark.createDataFrame(
        [
            # UP1 cumulative: 100 (diario) → 120 (s2) → 90 (s3)
            (t, "UP1", 120.0, 2),
            (t, "UP1", 90.0, 3),
            # UP2: present in diario, skips s2, reappears s3 → prev gap ⇒ 0
            (t, "UP2", 70.0, 3),
            # UP3: first appears in s3 (no diario) → prev = 0
            (t, "UP3", 30.0, 3),
        ],
        "datetime_utc timestamp, up string, volumenes double, session int",
    )
    out = i90.intra_incremental(baseline, sessions)
    got = {(r["up"], r["session"]): r["volumenes"] for r in out.collect()}
    assert got == {
        ("UP1", 2): 20.0,   # 120 − 100
        ("UP1", 3): -30.0,  # 90 − 120
        ("UP2", 3): 70.0,   # session 2 missing ⇒ baseline NOT used, prev=0
        ("UP3", 3): 30.0,   # never seen before ⇒ 0
    }


def test_filter_date_modes(spark):
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-03", 3)], "fecha string, v int"
    )
    assert filter_date_mode(df, "fecha", "latest").collect()[0]["v"] == 3
    assert filter_date_mode(df, "fecha", "single", "2024-01-02").collect()[0]["v"] == 2
    assert filter_date_mode(df, "fecha", "multiple", "2024-01-01", "2024-01-02").count() == 2


# ---------------------------------------------------------------------------
# OMIE
# ---------------------------------------------------------------------------


def test_omie_volumenes(spark, dim):
    raw = spark.createDataFrame(
        [
            # matched sell 1.234,56 MWh at local hour index 11 on a winter day
            ("2024-01-15", "11", "UOF1", "1.234,56", "C", "V", 1),
            # matched buy → negative, same slot, same unit → aggregates
            ("2024-01-15", "11", "UOF1", "234,56", "C", "C", 1),
            # unmatched offer dropped
            ("2024-01-15", "11", "UOF1", "999,99", "O", "V", 1),
            # 15-min label H11Q3
            ("2024-01-15", "H11Q3", "UOF2", "100,00", "C", "V", 2),
        ],
        "Fecha string, Hora string, Unidad string, `Energía Compra/Venta` string, "
        "`Ofertada (O)/Casada (C)` string, `Tipo Oferta` string, id_mercado int",
    )
    out = omie.transform_volumenes(raw, dim)
    rows = {
        (r["uof"], r["datetime_utc"]): round(r["volumenes"], 3) for r in out.collect()
    }
    # hour index 11 = elapsed hour 10 → 09:00 UTC winter; (1234.56-234.56)/4 = 250
    for m in (0, 15, 30, 45):
        assert rows[("UOF1", dt.datetime(2024, 1, 15, 9, m))] == 250.0
    # H11Q3 → quarter 43 → 09:30 UTC
    assert rows[("UOF2", dt.datetime(2024, 1, 15, 9, 30))] == 100.0
    assert len(rows) == 5


def test_omie_mic(spark, dim):
    raw = spark.createDataFrame(
        [
            ("2024-01-15", "20240115 11", "45,10", "12,5", None, "UOFV", 21),
            ("2024-01-15", "20240115 11", "45,10", "12,5", "UOFC", None, 21),
        ],
        "Fecha string, Contrato string, Precio string, Cantidad string, "
        "`Unidad compra` string, `Unidad venta` string, id_mercado int",
    )
    out = omie.transform_mic(raw, dim)
    rows = {(r["uof"]): (r["datetime_utc"], r["volumenes"], r["precio"]) for r in out.collect()}
    exp_ts = dt.datetime(2024, 1, 15, 9)  # hour 11 → elapsed 10 → local 10:00 → 09:00 UTC
    assert rows["UOFV"][0] == exp_ts and round(rows["UOFV"][1], 2) == 12.5
    assert round(rows["UOFC"][1], 2) == -12.5  # buy side negative
    assert round(rows["UOFV"][2], 2) == 45.10


# ---------------------------------------------------------------------------
# I3 + curtailments
# ---------------------------------------------------------------------------


def test_i3_pipeline(spark, dim):
    raw = spark.createDataFrame(
        [
            ("2024-01-15", "41", "Quince minutos", 12.0, "Eólica", "PHF-2"),
            # unknown technology dropped by semi-join
            ("2024-01-15", "41", "Quince minutos", 9.0, "Fusión fría", "PHF-2"),
        ],
        "fecha string, hora string, granularity string, volumenes double, "
        "Concepto string, Programa string",
    )
    out = i3.transform_volumenes(spark, raw, dim)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    # quarter 41 → elapsed 10h → 09:00 UTC winter; PHF-2 → Intra 2 → id 3
    assert r["datetime_utc"] == dt.datetime(2024, 1, 15, 9, 0)
    assert r["tecnologia"] == "Eólica" and r["id_mercado"] == 3


def test_curtailments(spark, dim):
    raw = spark.createDataFrame(
        [
            ("2024-01-15", "10-11", "Hora", 8.0, "ABO3", "Bajar", "UPLPVPV"),
            ("2024-01-15", "10-11", "Hora", 8.0, "ABO3", "Bajar", "Restricciones Técnicas"),
            # not curtailment redespacho → dropped
            ("2024-01-15", "10-11", "Hora", 8.0, "ABO3", "Bajar", "ECO"),
            # wrong sentido → dropped
            ("2024-01-15", "10-11", "Hora", 8.0, "ABO3", "Subir", "UPLPVPV"),
        ],
        "fecha string, hora string, granularity string, volumenes double, "
        "`Unidad de Programación` string, Sentido string, Redespacho string",
    )
    out = curtailments.transform(raw, dim)
    rows = {(r["RTx"], r["datetime_utc"]): r["volumenes"] for r in out.collect()}
    assert len(rows) == 8  # 2 kept rows × 4 quarter slots
    assert rows[("R1", dt.datetime(2024, 1, 15, 9, 0))] == 2.0
    assert rows[("R5", dt.datetime(2024, 1, 15, 9, 15))] == 2.0
    assert out.select("id_mercado").distinct().collect()[0][0] == 13


def test_i90_error_exclusion(spark):
    """F10: a known-bad (fecha, sheet) config entry removes that day's
    rows for markets reading that sheet; other sheets unaffected."""
    from etl_energy_tracker_spark import timegrid as tg
    from etl_energy_tracker_spark.config.market_config import I90Error, i90_errores_df
    from etl_energy_tracker_spark.pipelines import i90

    raw = spark.createDataFrame(
        [
            ("2024-01-05", "1", "Quince minutos", 5.0, "UP1", "Subir", "ECO"),
            ("2024-01-06", "1", "Quince minutos", 6.0, "UP1", "Subir", "ECO"),
        ],
        "fecha string, hora string, granularity string, volumenes double, "
        "`Unidad de Programación` string, Sentido string, Redespacho string",
    )
    dim = tg.dst_dim(spark)
    errors = i90_errores_df(spark, (I90Error("2024-01-05", "03"),))
    # market 9 reads sheet 03 → the bad day is dropped
    out = i90.transform_volumenes(raw, 9, dim, errors=errors)
    assert [r["volumenes"] for r in out.collect()] == [6.0]
    # market 11 reads sheet 08 → untouched by a sheet-03 error
    out11 = i90.transform_volumenes(
        raw.drop("Redespacho").withColumn("Redespacho", F.lit("Restricciones Técnicas")),
        11, dim, errors=errors,
    )
    assert sorted(r["volumenes"] for r in out11.collect()) == [5.0, 6.0]
    # no error config → nothing excluded
    assert i90.transform_volumenes(raw, 9, dim).count() == 2
