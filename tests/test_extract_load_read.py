"""Extract connectors (offline payload parsing), load facade status
dicts, job entry points, readers, and the NL→SQL surface."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from etl_energy_tracker_spark.extract import esios_source, i90_source, omie_source
from etl_energy_tracker_spark.jobs import run_esios_precios_etl
from etl_energy_tracker_spark.lake import Lake
from etl_energy_tracker_spark.load.loader import DataLakeLoader
from etl_energy_tracker_spark.read.nl2sql import NLQueryGenerator, build_system_prompt
from etl_energy_tracker_spark.read.readers import PreciosReader, register_lake_tables


def test_esios_parse_and_indicator_selection(spark):
    payload = {
        "indicator": {
            "values": [
                {"datetime_utc": "2024-01-15T10:00:00Z", "value": 42.5, "geo_name": "España"},
                {"datetime_utc": "2024-01-15T10:15:00Z", "value": 43.0, "geo_name": "España"},
            ]
        }
    }
    df = esios_source.parse_indicator_payload(spark, payload, 600)
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["indicador_id"] == "600"
    assert rows[0]["granularidad"] == "Quince minutos"
    # regulatory switch: terciaria → 2197 after 2024-12-10
    assert esios_source.select_indicator("Terciaria a subir", "2024-12-09") == 677
    assert esios_source.select_indicator("Terciaria a subir", "2024-12-11") == 2197
    assert esios_source.select_indicator("Diario", "2025-01-01") == 600
    fetched = []

    def fake_fetch(url, headers):
        fetched.append(url)
        return payload

    out = esios_source.download_range(spark, fake_fetch, "Diario", "2024-01-15", "2024-01-16")
    assert out.count() == 4 and len(fetched) == 2
    assert "indicators/600" in fetched[0]


def test_i90_melt(spark):
    grid = [
        ["I90DIA v1", None, None, None, None],
        ["Unidad de Programación", "Sentido", "Total", "1", "2"],
        ["ABO3", "Subir", "30", "10", "20"],
        ["TERE", "Bajar", "5", "5", "0"],  # hour-2 zero drops at ingest
    ]
    out = i90_source.sheet_to_raw(spark, grid, "2024-01-15", "03")
    rows = {(r["Unidad de Programación"], r["hora"]): r["volumenes"] for r in out.collect()}
    assert rows == {("ABO3", "1"): 10.0, ("ABO3", "2"): 20.0, ("TERE", "1"): 5.0}
    assert out.select("granularity").first()[0] == "Hora"
    assert out.select("fecha").first()[0] == "2024-01-15"
    # 96-column variant tags 15-min granularity
    wide_header = ["Unidad de Programación", "Total"] + [str(i) for i in range(1, 97)]
    wide_row = ["UPX", "96"] + ["1"] * 96
    out96 = i90_source.sheet_to_raw(spark, [wide_header, wide_row], "2024-01-15", "03")
    assert out96.select("granularity").first()[0] == "Quince minutos"
    assert out96.count() == 96


def test_omie_lines(spark):
    lines = [
        "Fecha;Hora;Unidad;Energía Compra/Venta;Ofertada (O)/Casada (C);Tipo Oferta",
        "15/01/2024;11;UOF1;1.234,56;C;V",
        "15/01/2024;11;UOF2;10,00;O;C",
        "*EOF",
    ]
    df = omie_source.csv_lines_to_df(spark, lines, "PDBC_STOTA_20240115.2")
    rows = df.collect()
    assert len(rows) == 2
    assert rows[0]["Fecha"] == "2024-01-15"
    assert rows[0]["id_mercado"] == 3  # session 2 → Intra 2 → id 3
    assert omie_source.session_from_filename("x_20240115") is None
    assert omie_source.member_in_range("PDBC_20240115.1", "2024-01-01", "2024-01-31")
    assert not omie_source.member_in_range("PDBC_20240215.1", "2024-01-01", "2024-01-31")


def test_loader_status_and_job(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    raw = spark.createDataFrame(
        [("2024-01-15T10:00:00Z", 42.0, "600", "España", "Hora"),
         ("2024-01-16T10:00:00Z", 44.0, "600", "España", "Hora")],
        "datetime_utc string, value double, indicador_id string, geo_name string, granularidad string",
    )
    status = run_esios_precios_etl(spark, lake, raw, mode="latest")
    assert status["success"] is True
    assert status["details"]["markets_processed"] == [0]
    # latest mode kept only the 2024-01-16 rows (×4 expansion)
    assert lake.read_processed("precios").count() == 4

    # failure path: malformed frame yields success=False, not an exception
    bad = spark.createDataFrame([(1,)], "x int")
    st = DataLakeLoader(lake).load_transformed_data({7: bad}, "precios")
    assert st["success"] is False and 7 in st["details"]["markets_failed"]

    # readers + validation
    pr = PreciosReader(lake)
    assert pr.read(mercado_ids=[1]).count() == 4
    with pytest.raises(ValueError):
        pr.read(mercado_ids=[99])
    assert "precios" in register_lake_tables(spark, lake)
    assert spark.sql("SELECT count(*) FROM precios").first()[0] == 4


def _upserts(lake, monkeypatch) -> list[str]:
    calls = []
    real = lake.upsert_processed

    def counted(df, dataset):
        calls.append(dataset)
        return real(df, dataset)

    monkeypatch.setattr(lake, "upsert_processed", counted)
    return calls


def _i90(spark, mid, up):
    return spark.createDataFrame(
        [(dt.datetime(2024, 1, 15, 10), up, 1.0, mid)],
        "datetime_utc timestamp, up string, volumenes double, id_mercado int",
    )


def test_loader_one_upsert_per_call(spark, tmp_path, monkeypatch):
    lake = Lake(spark, str(tmp_path / "lake"))
    calls = _upserts(lake, monkeypatch)
    st = DataLakeLoader(lake).load_transformed_data(
        {2: _i90(spark, 2, "A"), 3: _i90(spark, 3, "B")}, "volumenes_i90"
    )
    assert st["success"] and st["details"]["markets_processed"] == [2, 3]
    assert calls == ["volumenes_i90"]
    got = lake.read_processed("volumenes_i90").select("id_mercado", "up").collect()
    assert sorted(tuple(r) for r in got) == [(2, "A"), (3, "B")]


def test_loader_validation_failure_is_per_market(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    st = DataLakeLoader(lake).load_transformed_data(
        {9: _i90(spark, 9, "A"), 15: _i90(spark, 15, "B").drop("up")}, "volumenes_i90"
    )
    assert st["success"] is False
    assert st["details"]["markets_processed"] == [9]
    assert list(st["details"]["markets_failed"]) == [15]
    got = lake.read_processed("volumenes_i90").select("id_mercado").collect()
    assert [r[0] for r in got] == [9]


def test_loader_upsert_failure_fails_every_market(spark, tmp_path):
    lake = Lake(spark, str(tmp_path / "lake"))
    boom = _i90(spark, 3, "B").withColumn(
        "volumenes", F.raise_error(F.lit("bad volume")).cast("double")
    )
    st = DataLakeLoader(lake).load_transformed_data(
        {2: _i90(spark, 2, "A"), 3: boom}, "volumenes_i90"
    )
    assert st["success"] is False
    assert st["details"]["markets_processed"] == []
    assert sorted(st["details"]["markets_failed"]) == [2, 3]


def test_nl2sql_surface(spark):
    prompt = build_system_prompt()
    assert "precios" in prompt and "id 21: Intra Continuo" in prompt

    gen = NLQueryGenerator(spark, llm=lambda p: "```sql\nSELECT 1 AS one;\n```")
    assert gen.generate_sql("anything") == "SELECT 1 AS one"
    assert gen.execute_query("anything").first()["one"] == 1

    with pytest.raises(ValueError):
        NLQueryGenerator.postprocess("DROP TABLE precios")
    with pytest.raises(ValueError):
        NLQueryGenerator.postprocess("SELECT 1; SELECT 2")
    with pytest.raises(NotImplementedError):
        NLQueryGenerator(spark).generate_sql("no llm configured")


def test_precios_reader_hourly_granularity(spark, tmp_path):
    import datetime as dt

    from etl_energy_tracker_spark.lake import Lake
    from etl_energy_tracker_spark.read.readers import PreciosReader

    lake = Lake(spark, str(tmp_path / "lake_hourly"))
    t = dt.datetime(2024, 1, 15, 10, 0)
    rows = [
        (t + dt.timedelta(minutes=15 * i), 1, float(10 * (i + 1))) for i in range(4)
    ] + [(t + dt.timedelta(hours=1), 1, 99.0)]
    df = spark.createDataFrame(
        rows, "datetime_utc timestamp, id_mercado int, precio double"
    )
    lake.upsert_processed(df, "precios")
    reader = PreciosReader(lake)
    assert reader.read(granularity="15min").count() == 5
    hourly = {
        (r["datetime_utc"], r["id_mercado"]): r["precio"]
        for r in reader.read(granularity="hour").collect()
    }
    assert hourly[(t, 1)] == 25.0  # mean of 10/20/30/40
    assert hourly[(t + dt.timedelta(hours=1), 1)] == 99.0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="granularity"):
        reader.read(granularity="daily")


def test_partition_tree_validation(spark, tmp_path):
    import datetime as dt

    import pytest as _pytest

    from etl_energy_tracker_spark.lake import Lake
    from etl_energy_tracker_spark.read.readers import (
        VolumenesReader,
        validate_partition_ids,
    )

    lake = Lake(spark, str(tmp_path / "lake_tree"))
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 15, 10), "ABO3", 10.0, 1),
            (dt.datetime(2024, 1, 15, 10), "ABO4", 11.0, 9),
        ],
        "datetime_utc timestamp, up string, volumenes double, id_mercado int",
    )
    lake.upsert_processed(df, "volumenes_i90")

    # the real partition tree drives validation
    tree = validate_partition_ids(lake, "volumenes_i90", ["diario", "restricciones"])
    assert tree == {"diario": [1], "restricciones": [9]}

    # a configured-but-absent market errors NAMING what exists
    with _pytest.raises(ValueError, match="existing markets.*diario"):
        validate_partition_ids(lake, "volumenes_i90", ["terciaria"])
    # an id that exists in config but not on disk for this market errors
    # naming the valid ids
    with _pytest.raises(ValueError, match=r"valid ids: \[1\]"):
        validate_partition_ids(lake, "volumenes_i90", ["diario"], [9])

    reader = VolumenesReader(lake)
    assert reader.read("volumenes_i90", mercados=["diario"]).count() == 1
    with _pytest.raises(ValueError, match="existing markets"):
        reader.read("volumenes_i90", mercados=["omie_typo"])


# ----------------------------------------------- tracking-dim sources


@pytest.mark.slow
def test_up_list_source_feeds_change_detection(spark):
    """UP-list CSV source (descarga_UP_list.py + UP_tracking.py parse)
    wired into detect_changes / up_change_log: injectable fetcher, no
    browser."""
    from etl_energy_tracker_spark.extract import tracking_sources as ts
    from etl_energy_tracker_spark.operators.tracking import (
        detect_changes,
        up_change_log,
    )

    csv = "\n".join(
        [
            "Código de UP;Potencia máxima MW;Tipo de producción;"
            "Zona de Regulación;Tipo de UP;Extra",
            "UPGEN1;1.234,50;Hidráulica;ZONA_A;Generación;x",
            "UPGEN2;99,10;Eólica;ZONA_B;Generación;y",
            "UPCON1;5,00;Consumo puro;ZONA_A;Consumo;z",
        ]
    )
    ups = ts.download_up_list(spark, lambda url: csv, "2026-08-13")
    rows = {r["UP"]: r for r in ups.collect()}
    # Consumo filtered out, European decimals parsed, stamped
    assert set(rows) == {"UPGEN1", "UPGEN2"}
    assert rows["UPGEN1"]["potencia"] == 1234.5
    assert rows["UPGEN1"]["obsoleta"] == 0
    assert rows["UPGEN1"]["date_updated"] == "2026-08-13"

    dim = spark.createDataFrame(
        [("UPGEN1", 1234.5, "ZONA_A"), ("UPOLD", 10.0, "ZONA_C")],
        "UP string, potencia double, zona_regulacion string",
    )
    ch = {r["UP"]: r["change"] for r in detect_changes(ups, dim, "UP").collect()}
    assert ch == {"UPGEN2": "new", "UPOLD": "obsolete"}
    log = up_change_log(ups, dim, "2026-08-13")
    kinds = {
        (r["entity"], r["field_changed"]) for r in log.collect()
    }
    assert ("UPGEN2", "habilitada") in kinds and ("UPOLD", "obsoleta") in kinds

    # missing required column errors naming it, like the reference
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Zona de Regulación"):
        ts.parse_up_list_csv(spark, "Código de UP;Tipo de UP\nA;Generación", "2026-08-13")


def test_uof_list_source_shapes_grid(spark):
    """OMIE UOF grid (descarga_uofs_omie.py): header on row 4, empty
    and unwanted columns dropped, canonical renames; feeds
    detect_changes on UOF."""
    from etl_energy_tracker_spark.extract import tracking_sources as ts
    from etl_energy_tracker_spark.operators.tracking import detect_changes

    grid = [
        ["OMIE", None, None, None, None, None],
        [None, None, None, None, None, None],
        [None, None, None, None, None, None],
        ["CODIGO", "DESCRIPCIÓN", "ZONA/FRONTERA", "AGENTE PROPIETARIO",
         "TECNOLOGÍA", "EMPTY"],
        ["UOF1", "desc ignored", "ES", "AGENTE SA", "Hidráulica", None],
        ["UOF2", "also ignored", "PT", "OTRO SL", "Eólica", None],
    ]
    uofs = ts.download_uof_list(spark, lambda url: grid)
    assert set(uofs.columns) == {"UOF", "zona", "agente_propietario", "tecnologia"}
    assert {r["UOF"] for r in uofs.collect()} == {"UOF1", "UOF2"}

    dim = spark.createDataFrame([("UOF1",), ("UOFGONE",)], "UOF string")
    ch = {r["UOF"]: r["change"] for r in detect_changes(uofs, dim, "UOF").collect()}
    assert ch == {"UOF2": "new", "UOFGONE": "obsolete"}


def test_uof_grid_ragged_rows(spark):
    """Excel-extracted grids routinely drop trailing empty cells: data
    rows shorter (or longer) than the header row must parse with None
    padding, not raise IndexError."""
    from etl_energy_tracker_spark.extract import tracking_sources as ts

    grid = [
        ["OMIE"],
        [],
        [None, None],
        ["CODIGO", "DESCRIPCIÓN", "ZONA/FRONTERA", "AGENTE PROPIETARIO",
         "TECNOLOGÍA"],
        ["UOF1", "desc", "ES"],                          # short row
        ["UOF2"],                                        # very short row
        ["UOF3", "d", "PT", "AG SL", "Eólica", "extra"], # overlong row
    ]
    uofs = ts.parse_uof_grid(spark, grid)
    rows = {r["UOF"]: (r["zona"], r["agente_propietario"]) for r in uofs.collect()}
    assert rows == {
        "UOF1": ("ES", None),
        "UOF2": (None, None),
        "UOF3": ("PT", "AG SL"),
    }

    # same for the BSP list: short data rows pad with None
    bsp_grid = [
        ["Descripción corta BSP-aFRR", "Código BSP-aFRR", "Otro"],
        ["ZONA_A", "Z001"],
        ["ZONA_B"],
    ]
    mapping = ts.parse_bsp_list(spark, bsp_grid)
    assert sorted(tuple(r) for r in mapping.collect()) == [
        ("ZONA_A", "Z001"),
        ("ZONA_B", None),
    ]


def test_bsp_list_source_feeds_zr_mapping(spark):
    """BSP list (descarga_bsp_esios.py, cert transport injected away)
    -> (esios_id, i90_id) mapping consumed by zr_change_log's i90_id
    backfill."""
    from etl_energy_tracker_spark.extract import tracking_sources as ts
    from etl_energy_tracker_spark.operators.zr import zr_change_log

    grid = [
        ["Descripción corta BSP-aFRR", "Código BSP-aFRR", "Otro"],
        ["ZONA_A", "Z001", "x"],
        ["ZONA_B", "Z002", "y"],
        ["ZONA_B", "Z002", "dup collapses"],
    ]
    mapping = ts.download_bsp_list(spark, lambda url: grid)
    assert sorted(tuple(r) for r in mapping.collect()) == [
        ("ZONA_A", "Z001"),
        ("ZONA_B", "Z002"),
    ]

    dim = spark.createDataFrame(
        [("ZONA_A", None, 0, 5.0), ("ZONA_B", "Z002", 0, 7.0)],
        "esios_id string, i90_id string, obsoleta int, potencia double",
    )
    esios = spark.createDataFrame(
        [("ZONA_A", 5.0), ("ZONA_B", 7.0)], "esios_id string, potencia double"
    )
    log = zr_change_log(dim, esios, mapping, "2026-08-13")
    backfills = {
        r["esios_id"]: r["new_str"]
        for r in log.where(F.col("field_changed") == "i90_id").collect()
    }
    assert backfills == {"ZONA_A": "Z001"}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="Código BSP-aFRR"):
        ts.parse_bsp_list(spark, [["Descripción corta BSP-aFRR"], ["Z"]])


def test_xlsx_grid_stdlib_reader(spark):
    """A hand-assembled standards-conformant .xlsx (zip of XML parts,
    shared + inline strings, sparse cells) decodes through the stdlib
    reader and flows through the full header-detect -> wide-df -> melt
    ingest path."""
    import io
    import zipfile

    from etl_energy_tracker_spark.extract.i90_source import (
        detect_header_row,
        grid_to_wide_df,
        melt_hour_columns,
        read_excel_grid,
        read_xlsx_grid,
    )

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rns = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
    workbook = (
        f'<?xml version="1.0"?><workbook {ns} {rns}><sheets>'
        '<sheet name="I90DIA01" sheetId="1" r:id="rId1"/>'
        '<sheet name="Empty" sheetId="2" r:id="rId2"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships '
        'xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Target="worksheets/sheet2.xml"/></Relationships>'
    )
    shared = (
        f'<?xml version="1.0"?><sst {ns} count="4" uniqueCount="4">'
        "<si><t>Unidad de Programación</t></si><si><t>Total</t></si>"
        "<si><t>ABO3</t></si><si><r><t>TE</t></r><r><t>RE</t></r></si></sst>"
    )
    # row 1: a title cell; row 2: header (shared strings + numeric hour
    # cols); rows 3-4: data, with a sparse gap (no B4 cell) and an
    # inline string
    sheet1 = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>I90DIA v1</t></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>0</v></c><c r="B2" t="s"><v>1</v></c>'
        '<c r="C2"><v>1</v></c><c r="D2"><v>2</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>2</v></c><c r="B3"><v>30</v></c>'
        '<c r="C3"><v>10</v></c><c r="D3"><v>20</v></c></row>'
        '<row r="4"><c r="A4" t="s"><v>3</v></c>'
        '<c r="C4"><v>5</v></c><c r="D4"><v>0</v></c></row>'
        "</sheetData></worksheet>"
    )
    sheet2 = f'<?xml version="1.0"?><worksheet {ns}><sheetData/></worksheet>'
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet1)
        zf.writestr("xl/worksheets/sheet2.xml", sheet2)
    content = buf.getvalue()

    grid = read_xlsx_grid(content, "I90DIA01")
    assert grid[0][0] == "I90DIA v1"
    assert grid[1] == ["Unidad de Programación", "Total", "1", "2"]
    assert grid[2] == ["ABO3", "30", "10", "20"]
    assert grid[3] == ["TERE", None, "5", "0"]  # sparse B4, rich-text A4
    assert read_xlsx_grid(content, "Empty") == []

    # the dispatcher routes zip bytes here when openpyxl is absent; with
    # pandas+openpyxl installed it may use them instead — either path
    # must yield an equivalent grid
    grid2 = read_excel_grid(content, "I90DIA01")
    assert [str(c) if c is not None else None for c in grid2[2]][:1] == ["ABO3"]

    # e2e: header detect + wide + melt (hour-2 zero drops at ingest)
    assert detect_header_row(grid) == 1
    wide = grid_to_wide_df(spark, grid)
    long = melt_hour_columns(wide)
    rows = {
        (r["Unidad de Programación"], r["hora"]): r["volumenes"]
        for r in long.collect()
    }
    assert rows == {("ABO3", "1"): 10.0, ("ABO3", "2"): 20.0, ("TERE", "1"): 5.0}
    assert long.select("granularity").distinct().collect()[0][0] == "Hora"

    # OPC also allows package-absolute Targets ("/xl/worksheets/...");
    # some producers emit them — must resolve to the same part, not
    # "xl/xl/..."
    abs_rels = rels.replace(
        'Target="worksheets/', 'Target="/xl/worksheets/'
    )
    buf2 = io.BytesIO()
    with zipfile.ZipFile(buf2, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", abs_rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet1)
        zf.writestr("xl/worksheets/sheet2.xml", sheet2)
    assert read_xlsx_grid(buf2.getvalue(), "I90DIA01") == grid


def _python_free(df) -> bool:
    return "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("a", 1, None), (None, -2, 1.5)], "s string, n smallint, x double"),
        ([], "s string, n int"),
        ([("15/01/2024", "1,5")], "`Fecha` string, `Energía Compra/Venta` string"),
        ([(True, None), (None, 7)], "flag boolean, id long"),
    ],
)
def test_local_frame_matches_create_dataframe(spark, rows, schema):
    from etl_energy_tracker_spark.session import local_frame

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")  # a plain session, as the driver harness builds
    try:
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert _python_free(got) and not _python_free(want)
    finally:
        spark.conf.set(key, before)


def test_local_frame_rejects_ragged_rows(spark):
    from etl_energy_tracker_spark.session import local_frame

    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1), ("b",)], "s string, n int")
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1, 2)], "s string, n int")


def test_etl_frame_builders_start_no_python_worker(spark):
    from etl_energy_tracker_spark.config import market_config as mc
    from etl_energy_tracker_spark.extract import tracking_sources as ts

    payload = {"indicator": {"values": [
        {"datetime_utc": "2024-01-15T10:00:00Z", "value": 42.5},
        {"datetime_utc": "2024-01-15T10:15:00Z", "value": None},
    ]}}
    grid = [["Unidad de Programación", "Total", "1"], ["ABO3", "10", "10"]]
    up_csv = (
        "Código de UP;Potencia máxima MW;Tipo de producción;"
        "Zona de Regulación;Tipo de UP\nUPGEN1;1,5;Solar;;Generación"
    )
    uof_grid = [[None], [None], [None], ["CODIGO", "ZONA/FRONTERA"], ["UOF1", "ES"]]
    bsp_grid = [["Descripción corta BSP-aFRR", "Código BSP-aFRR"], ["ZONA_A", "Z001"]]
    frames = {
        "esios payload": esios_source.parse_indicator_payload(spark, payload, 600),
        "esios range": esios_source.download_range(
            spark, lambda url, headers: payload, "Diario", "2024-01-15", "2024-01-16"
        ),
        "omie lines": omie_source.csv_lines_to_df(
            spark, ["Fecha;Unidad", "15/01/2024;UOF1"], "PDBC_STOTA_20240115.1"
        ),
        "i90 grid": i90_source.grid_to_wide_df(spark, grid),
        "up list": ts.parse_up_list_csv(spark, up_csv, "2026-08-13"),
        "uof list": ts.parse_uof_grid(spark, uof_grid),
        "bsp list": ts.parse_bsp_list(spark, bsp_grid),
        "i90 errores": mc.i90_errores_df(spark, (mc.I90Error("2024-01-15", "03"),)),
        "markets": mc.markets_df(spark),
        "tecnologias": mc.tecnologias_df(spark),
    }
    assert [name for name, df in frames.items() if not _python_free(df)] == []
    # one frame for the whole range, each day's rows tagged
    assert frames["esios range"].count() == 4
    # an empty CSV field reads as null, as Spark's CSV reader has it
    up = frames["up list"].first()
    assert up["zona_regulacion"] is None and up["potencia"] == 1.5
