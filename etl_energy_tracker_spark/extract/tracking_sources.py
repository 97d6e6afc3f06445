"""Tracking-dimension sources — the front door of the J8 set-diff
trackers. Spark rendering of the reference's three dim downloaders:

- UP list CSV export          (tracking/descarga_UP_list.py:1,
                               UP_tracking.py:95-160 parse)
- OMIE UOF list Excel         (tracking/descarga_uofs_omie.py:1)
- BSP / regulation-zone list  (tracking/descarga_bsp_esios.py:1)

The reference drives a headless browser (Playwright; the BSP portal
additionally needs a client certificate) to download the files. All of
that is transport, not data work — here it is an injectable
``fetcher`` (url -> payload) exactly like extract/esios_source.py, so
URL choice, payload parsing, and frame shaping are pure and
offline-testable, and the caller owns auth (certificates, cookies).

Parsed frames feed ``operators/tracking.detect_changes`` /
``up_change_log`` and ``operators/zr.zr_change_log`` directly. Dim
files are a few thousand rows, so they parse on the driver and become
JVM-local frames (``session.local_frame``); shaping after that stays
in DataFrames, but there is deliberately no scale machinery here —
these are broadcast-sized dimension refreshes, daily cadence.
"""

from __future__ import annotations

import csv
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipelines.common import parse_european_number
from ..session import local_frame

UP_LIST_URL = "https://www.esios.ree.es/es/unidades-de-programacion"
UOF_LIST_URL = "https://www.omie.es/es/listado-de-agentes"
BSP_LIST_URL = "https://participa.esios.ree.es/esiosqhws/login"

TextFetcher = Callable[[str], str]
GridFetcher = Callable[[str], list[list]]

# UP_tracking.py:124-135 — required export columns -> canonical names
UP_CSV_COLUMNS = {
    "Código de UP": "UP",
    "Potencia máxima MW": "potencia",
    "Tipo de producción": "tipo_produccion",
    "Zona de Regulación": "zona_regulacion",
    "Tipo de UP": "tipo_up",
}


def parse_up_list_csv(spark: SparkSession, text: str, date_updated: str) -> DataFrame:
    """';'-separated UP export CSV -> up_listado incoming frame
    (UP_tracking.py:95-160): validate required columns, keep
    'Generación' UPs, European-decimal potencia, obsoleta=0, stamped.
    Raises ValueError naming missing columns, like the reference."""
    lines = [ln for ln in text.splitlines() if ln.strip()]
    header, *records = list(csv.reader(lines, delimiter=";")) or [[]]
    missing = [c for c in UP_CSV_COLUMNS if c not in header]
    if missing:
        raise ValueError(f"Missing required columns in CSV: {', '.join(missing)}")
    idx = [header.index(c) for c in UP_CSV_COLUMNS]
    # empty (or absent trailing) fields read as null, like Spark's CSV reader
    rows = [[r[i] if i < len(r) and r[i] else None for i in idx] for r in records]
    df = local_frame(
        spark, rows, ", ".join(f"{dst} string" for dst in UP_CSV_COLUMNS.values())
    )
    return (
        df.where(F.col("tipo_up") == "Generación")
        .drop("tipo_up")
        .withColumn("potencia", parse_european_number(F.col("potencia")))
        .withColumn("obsoleta", F.lit(0))
        .withColumn("date_updated", F.lit(date_updated))
    )


def download_up_list(
    spark: SparkSession, fetcher: TextFetcher, date_updated: str
) -> DataFrame:
    """Fetch + parse the ESIOS UP export (descarga_UP_list.py:26-80:
    the reference clicks 'EXPORTAR CSV'; the fetcher stands in for the
    browser round-trip)."""
    return parse_up_list_csv(spark, fetcher(UP_LIST_URL), date_updated)


# descarga_uofs_omie.py:57-71 — column renames after the header row
_UOF_RENAMES = {
    "CODIGO": "UOF",
    "ZONA/FRONTERA": "zona",
    "AGENTE PROPIETARIO": "agente_propietario",
    "TIPO UNIDAD": "tipo_unidad",
    "TECNOLOGÍA": "tecnologia",
    "TECNOLOGIA": "tecnologia",
}
_UOF_DROPS = ("DESCRIPCIÓN", "DESCRIPCION", "PORCENTAJE PROPIEDAD")


def parse_uof_grid(spark: SparkSession, grid: list[list]) -> DataFrame:
    """OMIE 'Listado de unidades' grid -> UOF dim frame
    (descarga_uofs_omie.py:44-76): header on the 4th row, all-empty
    columns dropped, DESCRIPCIÓN / PORCENTAJE PROPIEDAD dropped,
    canonical renames, remaining headers lowercased."""
    header = [
        " ".join(str(c).split()) if c is not None else "" for c in grid[3]
    ]
    # normalize ragged rows to the header width (Excel-extracted grids
    # routinely drop trailing empty cells): pad short rows with None,
    # truncate overlong ones — indexing r[i] below must never raise
    rows = [
        [None if c is None else str(c) for c in r[: len(header)]]
        + [None] * max(0, len(header) - len(r))
        for r in grid[4:]
    ]
    keep = [
        i
        for i, name in enumerate(header)
        if name
        and name.upper() not in _UOF_DROPS
        and any(r[i] is not None for r in rows)
    ]
    cols = ", ".join(
        f"`{_UOF_RENAMES.get(header[i].upper(), header[i].lower())}` string"
        for i in keep
    )
    return local_frame(spark, [[r[i] for i in keep] for r in rows], cols)


def download_uof_list(spark: SparkSession, fetcher: GridFetcher) -> DataFrame:
    """Fetch + parse the OMIE UOF list (the fetcher stands in for the
    Playwright download of listado_unidades.xlsx and yields the sheet
    as a row grid, the i90_source convention)."""
    return parse_uof_grid(spark, fetcher(UOF_LIST_URL))


def parse_bsp_list(spark: SparkSession, grid: list[list]) -> DataFrame:
    """BSP LSI list -> (esios_id, i90_id) regulation-zone mapping, the
    ``mapping`` input of operators/zr.zr_change_log
    (descarga_bsp_esios.py:129-190 downloads the file behind a
    client-certificate login; the fetcher owns that transport).
    First row is the header; parsing delegates to
    operators/zr.bsp_mapping (ZR_tracking.py:138-171), which names the
    two REE columns it reads."""
    from ..operators.zr import BSP_CODE_COL, BSP_ZONE_COL, bsp_mapping

    header = [str(c).strip() if c is not None else "" for c in grid[0]]
    for want in (BSP_ZONE_COL, BSP_CODE_COL):
        if want not in header:
            raise ValueError(f"Missing required column in BSP list: {want!r}")
    rows = [
        [None if c is None else str(c) for c in r[: len(header)]]
        + [None] * max(0, len(header) - len(r))
        for r in grid[1:]
        if any(r)
    ]
    cols = ", ".join(f"`{c}` string" for c in header)
    return bsp_mapping(local_frame(spark, rows, cols))


def download_bsp_list(spark: SparkSession, fetcher: GridFetcher) -> DataFrame:
    """Fetch + parse the BSP zone list (certificate-auth transport
    lives in the injected fetcher)."""
    return parse_bsp_list(spark, fetcher(BSP_LIST_URL))
