"""I90/I3 Excel-in-zip source (S2/S3) — Spark rendering of
_descargador_i90.py:88-304.

The reference downloads ``archives/34`` zips, finds the header row by
scanning for the "Total" cell, reads each sheet, and melts the wide
hour columns (``1..24``/``1..96`` + Total) to long rows.

Split into offline-testable pieces:
- ``detect_header_row``: the "Total"-cell scan over a raw grid
- ``melt_hour_columns``: wide → long as a native Spark ``unpivot``
  (no pandas melt), granularity tagged from the hour-column count
- ``sheet_to_raw``: glue both, add fecha + sheet id

Excel byte decoding: .xlsx decodes NATIVELY (``read_xlsx_grid`` —
zipfile + ElementTree over the OOXML parts, no third-party deps);
openpyxl/pandas is used instead when installed (and remains required
for legacy binary .xls). The grid-level logic takes a list-of-lists,
which tests also feed directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def _xlsx_col_index(ref: str) -> int:
    """Cell reference column letters → 0-based index ('A'→0, 'AA'→26)."""
    idx = 0
    for ch in ref:
        if ch.isalpha():
            idx = idx * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return idx - 1


def read_xlsx_grid(content: bytes, sheet: str) -> list[list]:
    """XLSX bytes → row grid on the standard library alone (an .xlsx
    file is a zip of XML parts: workbook.xml names the sheets, the
    rels part maps them to worksheet XML, sharedStrings.xml interns
    string cells — zipfile + ElementTree cover all of it). Numbers
    come back as their raw stored text (lossless); shared/inline
    strings are resolved; sparse cells fill with None so downstream
    header detection sees rectangular rows."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    zf = zipfile.ZipFile(io.BytesIO(content))
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rid_attr = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
    rid = None
    for sh in wb.findall(".//{*}sheet"):
        if sh.get("name") == sheet:
            rid = sh.get(rid_attr)
            break
    if rid is None:
        names = [sh.get("name") for sh in wb.findall(".//{*}sheet")]
        raise ValueError(f"sheet {sheet!r} not in workbook (has {names})")
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    target = next(
        rel.get("Target")
        for rel in rels.findall(".//{*}Relationship")
        if rel.get("Id") == rid
    )
    # OPC Targets come relative to xl/ ("worksheets/sheet1.xml") or
    # absolute from the package root ("/xl/worksheets/sheet1.xml").
    path = target.lstrip("/")
    if not path.startswith("xl/"):
        path = "xl/" + path
    shared: list[str] = []
    if "xl/sharedStrings.xml" in zf.namelist():
        sst = ET.fromstring(zf.read("xl/sharedStrings.xml"))
        shared = [
            "".join(t.text or "" for t in si.findall(".//{*}t"))
            for si in sst.findall(".//{*}si")
        ]
    ws = ET.fromstring(zf.read(path))
    sparse: dict[int, dict[int, object]] = {}
    next_row = 0
    for row in ws.findall(".//{*}row"):
        r = int(row.get("r")) - 1 if row.get("r") else next_row
        next_row = r + 1
        cells: dict[int, object] = {}
        next_col = 0
        for c in row.findall(".//{*}c"):
            col = _xlsx_col_index(c.get("r")) if c.get("r") else next_col
            next_col = col + 1
            t = c.get("t")
            if t == "inlineStr":
                v: object = "".join(tt.text or "" for tt in c.findall(".//{*}t"))
            else:
                ve = c.find("{*}v")
                v = ve.text if ve is not None else None
                if v is not None and t == "s":
                    v = shared[int(v)]
                elif v is not None and t == "b":
                    v = bool(int(v))
            cells[col] = v
        sparse[r] = cells
    if not sparse:
        return []
    n_rows = max(sparse) + 1
    n_cols = max((max(cs) + 1 for cs in sparse.values() if cs), default=0)
    return [
        [sparse.get(r, {}).get(c) for c in range(n_cols)] for r in range(n_rows)
    ]


def read_excel_grid(content: bytes, sheet: str) -> list[list]:
    """Excel bytes → row grid, dispatched on the container magic: both
    formats decode NATIVELY on the standard library — zip-based .xlsx
    via ``read_xlsx_grid`` (zipfile + ElementTree) and legacy binary
    .xls via ``xls_biff.read_xls_grid`` (OLE2 compound file + BIFF8
    and BIFF5 records). openpyxl/pandas, when installed, covers
    anything more exotic (e.g. .xlsb, pre-Excel-5 BIFF4)."""
    if bytes(content[:2]) == b"PK":  # zip magic: .xlsx
        return read_xlsx_grid(content, sheet)
    biff_err: Exception | None = None
    if bytes(content[:8]) == b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1":  # OLE2: .xls
        from .xls_biff import UnsupportedBiffError, read_xls_grid

        try:
            return read_xls_grid(content, sheet)
        except UnsupportedBiffError as e:
            # pre-Excel-5 BIFF4 and older: not a BIFF5/BIFF8 layout the
            # native parser speaks — fall through to pandas if present.
            biff_err = e
    try:
        import io

        import openpyxl  # noqa: F401
        import pandas as pd
    except ImportError as e:
        raise NotImplementedError(
            "unrecognized Excel container (not .xlsx zip / BIFF8 .xls); "
            "install openpyxl/pandas for exotic formats"
        ) from (biff_err or e)
    pdf = pd.read_excel(io.BytesIO(content), sheet_name=sheet, header=None)
    return pdf.values.tolist()


def detect_header_row(grid: list[list]) -> int:
    """Header row = first row containing a 'Total' cell
    (_descargador_i90.py:229-246)."""
    for i, row in enumerate(grid):
        if any(str(c).strip() == "Total" for c in row):
            return i
    raise ValueError("no 'Total' header cell found in sheet")


def grid_to_wide_df(spark: SparkSession, grid: list[list]) -> DataFrame:
    """Grid → wide DataFrame using the detected header row; all cells
    stay strings (raw zone is loosely typed)."""
    h = detect_header_row(grid)
    header = [str(c).strip() for c in grid[h]]
    data = [[None if c is None else str(c) for c in row] for row in grid[h + 1 :]]
    cols = ", ".join(f"`{c}` string" for c in header)
    return local_frame(spark, data, cols)


def melt_hour_columns(
    df: DataFrame, value_name: str = "volumenes"
) -> DataFrame:
    """Wide hour columns → long (hora, value) rows via native unpivot
    (§2.8; _descargador_i90.py:260-266). Hour columns are the numeric
    ones; granularity is tagged from their count (≤25 → hourly,
    else 15-min indices). NA/0 values drop at ingest
    (_descargador_i90.py:286-292)."""
    hour_cols = [c for c in df.columns if c.strip().lstrip("-").isdigit()]
    id_cols = [c for c in df.columns if c not in hour_cols and c.strip() != "Total"]
    granularity = "Hora" if len(hour_cols) <= 25 else "Quince minutos"
    long = df.unpivot(
        ids=id_cols,
        values=hour_cols,
        variableColumnName="hora",
        valueColumnName=value_name,
    )
    return (
        long.withColumn(value_name, F.col(value_name).cast("double"))
        .where(F.col(value_name).isNotNull() & (F.col(value_name) != 0))
        .withColumn("granularity", F.lit(granularity))
    )


def sheet_to_raw(
    spark: SparkSession,
    grid: list[list],
    fecha: str,
    sheet_id: str,
    value_name: str = "volumenes",
) -> DataFrame:
    """Full sheet → raw rows: header detection, melt, date + sheet tag
    (the reference's extract_sheets_of_interest per-sheet body)."""
    wide = grid_to_wide_df(spark, grid)
    long = melt_hour_columns(wide, value_name)
    return long.withColumn("fecha", F.lit(fecha)).withColumn(
        "sheet_i90_volumenes", F.lit(sheet_id)
    )
