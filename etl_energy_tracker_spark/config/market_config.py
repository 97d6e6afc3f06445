"""Config-as-data: the Spanish electricity-market metadata the
reference keeps in MySQL (`mercados_mapping`, `tecnologias_generacion`)
and in per-market config classes (configs/esios_config.py:106-158,
configs/i90_config.py:341-599, configs/i3_config.py:180-188,
configs/curtailment_config.py:19-26).

Here it is a static table: 28 markets (read/market_map.json), the
ESIOS price-indicator mapping, per-market sentido/redespacho filter
lists, the technology dimension, the PHF→Intra program map, and the
regulatory change dates that drive indicator/granularity branching.

These are *dimension tables* for the engine — tiny, broadcast in every
join — exposed both as Python constants (for building filter
expressions) and as DataFrames (for joins).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


@dataclass(frozen=True)
class Market:
    id: int
    name: str
    folder: str  # processed-lake partition value `mercado=<folder>`
    indicador_esios: int  # ESIOS price indicator, 0 = no ESIOS prices
    sheet_i90_volumenes: str | None  # zero-padded I90 sheet or None
    sheet_i90_precios: str | None
    is_quinceminutal: bool  # native 15-min granularity
    sentido: str | None  # 'Subir' | 'Bajar' | None
    has_i90: bool = False
    has_i3: bool = False
    has_omie: bool = False
    has_precios: bool = False


# 28 markets (ids and names from read/market_map.json; indicators from
# the public ESIOS catalogue as used in _descargador_esios.py;
# sheet numbers from configs/i90_config.py comments).
MARKETS: tuple[Market, ...] = (
    Market(1, "Diario", "diario", 600, "03", None, False, None, True, True, False, True),
    Market(2, "Intra 1", "intra", 612, None, None, False, None, False, False, True, True),
    Market(3, "Intra 2", "intra", 613, None, None, False, None, False, False, True, True),
    Market(4, "Intra 3", "intra", 614, None, None, False, None, False, False, True, True),
    Market(5, "Intra 4", "intra", 615, None, None, False, None, False, False, True, True),
    Market(6, "Intra 5", "intra", 616, None, None, False, None, False, False, True, True),
    Market(7, "Intra 6", "intra", 617, None, None, False, None, False, False, True, True),
    Market(8, "Intra 7", "intra", 618, None, None, False, None, False, False, True, True),
    Market(9, "Restricciones MD a subir", "restricciones", 0, "03", "09", False, "Subir", True, True, False, True),
    Market(10, "Restricciones MD a bajar", "restricciones", 0, "03", "09", False, "Bajar", True, True, False, True),
    Market(11, "Restricciones TR a subir", "restricciones", 0, "08", "10", False, "Subir", True, True, False, True),
    Market(12, "Restricciones TR a bajar", "restricciones", 0, "08", "10", False, "Bajar", True, True, False, True),
    Market(13, "Curtailment", "curtailment", 0, "03", None, False, "Bajar", True, True, False, False),
    Market(14, "Secundaria a subir", "secundaria", 2130, "05", None, True, "Subir", True, True, False, True),
    Market(15, "Secundaria a bajar", "secundaria", 634, "05", None, True, "Bajar", True, True, False, True),
    Market(16, "RR a subir", "rr", 1782, "07", None, True, "Subir", True, True, False, True),
    Market(17, "RR a bajar", "rr", 1782, "07", None, True, "Bajar", True, True, False, True),
    Market(18, "Terciaria a subir", "terciaria", 677, "06", None, True, "Subir", True, True, False, True),
    Market(19, "Terciaria a bajar", "terciaria", 676, "06", None, True, "Bajar", True, True, False, True),
    Market(20, "P48", "p48", 0, "12", None, True, None, True, True, False, False),
    Market(21, "Intra Continuo", "intra", 0, None, None, False, None, False, False, True, True),
    Market(22, "Indisponibilidades", "indisponibilidades", 0, "08", None, False, None, True, True, False, True),
    Market(23, "Curtailment demanda", "curtailment", 0, "23", None, False, "Bajar", True, True, False, False),
    Market(24, "RT2 a subir", "restricciones", 0, "03", None, False, "Subir", True, True, False, False),
    Market(25, "RT2 a bajar", "restricciones", 0, "03", None, False, "Bajar", True, True, False, False),
    Market(26, "Terciaria directa a subir", "terciaria", 10400, "06", None, True, "Subir", True, True, False, True),
    Market(27, "Terciaria directa a bajar", "terciaria", 10401, "06", None, True, "Bajar", True, True, False, True),
    Market(28, "Terciaria programada unico", "terciaria", 2197, "06", None, True, None, True, True, False, True),
)

MARKET_BY_ID: dict[int, Market] = {m.id: m for m in MARKETS}
MARKET_BY_NAME: dict[str, Market] = {m.name: m for m in MARKETS}

# indicador → id_mercado literal map (J1, _procesador_esios.py:159-188)
INDICATOR_TO_MARKET: dict[int, int] = {
    m.indicador_esios: m.id for m in MARKETS if m.indicador_esios
}

# indicators whose rows need the geo filter (F2; _procesador_esios.py:32)
ESIOS_GEO_FILTER_INDICATORS: tuple[int, ...] = (600, 612, 613, 614, 615, 616, 617, 618)
ESIOS_GEO_ALLOWED: tuple[str, ...] = ("España",)

# sentido filter per market id (F3; configs/i90_config.py:120-122)
SENTIDO_FILTERS: dict[int, str] = {
    m.id: m.sentido for m in MARKETS if m.sentido is not None
}

# redespacho filter lists per market id (F4;
# configs/i90_config.py:569-577 and class defs)
REDESPACHO_FILTERS: dict[int, tuple[str, ...]] = {
    9: ("ECO", "ECOCB", "UPOPVPV", "UPOPVPVCB"),  # Restricciones MD
    10: ("ECO", "ECOCB", "UPOPVPV", "UPOPVPVCB"),
    11: ("Restricciones Técnicas",),  # Restricciones TR
    12: ("Restricciones Técnicas",),
    22: ("Indisponibilidad",),  # Indisponibilidades
    24: ("ECOBSO", "ECOBCBSO"),  # RT2
    25: ("ECOBSO", "ECOBCBSO"),
}

# curtailment RTx classification lists (F9; configs/curtailment_config.py:19-26)
RT1_REDESPACHO: tuple[str, ...] = ("UPLPVPV", "UPLPVPCBN")
RT5_REDESPACHO: tuple[str, ...] = ("Restricciones Técnicas",)
CURTAILMENT_DEMANDA_REDESPACHO: tuple[str, ...] = ("UPOPVPB",)
CURTAILMENT_MARKET_ID = 13

# I3 PHF program → Intra market (J3; configs/i3_config.py:180-188)
PHF_INTRA_MAP: dict[str, str] = {f"PHF-{i}": f"Intra {i}" for i in range(1, 8)}

# technology dimension (tecnologias_generacion; configs/i3_config.py:70-77)
TECNOLOGIAS: tuple[str, ...] = (
    "Eólica",
    "Solar fotovoltaica",
    "Solar térmica",
    "Hidráulica",
    "Ciclo combinado",
    "Carbón",
    "Nuclear",
    "Cogeneración",
    "Biomasa",
    "Bombeo",
    "Turbinación",
    "Otras",
)

# regulatory change dates that branch indicator/granularity selection
# (configs/esios_config.py:126-158; SURVEY §7 hard part (e))
REGULATORY_DATES: dict[str, str] = {
    "intra_reduction": "2024-06-13",  # 7 intra sessions → 3
    "secundaria_dual_price": "2024-11-20",  # single → dual price
    "terciaria_single_price": "2024-12-10",  # dual → single (ind. 2197)
    "granularity_15min_srad": "2022-05-24",  # sec/ter/rr hourly → 15-min
    "granularity_15min_spot": "2025-03-19",  # diario/intra hourly → 15-min
    "i90_srs_format": "2024-11-21",  # I90 sheet/column format change
}


# F10: known-bad (fecha, sheet) pairs from the reference's
# `Errores_i90_OMIE` table (configs/i90_config.py:196-215 reads it with
# fuente_error='i90'; _descargador_i90.py:77-86 skips those sheets for
# those days). Config-as-data seed — a deployment loads this from the
# tracking DB via sources/jdbc and passes it to the i90 transforms.
@dataclass(frozen=True)
class I90Error:
    fecha: str  # 'YYYY-MM-DD' the file/sheet is known bad for
    tipo_error: str  # zero-padded sheet number ('03', '08', ...)
    fuente_error: str = "i90"


I90_ERRORS: tuple[I90Error, ...] = ()


def i90_errores_df(
    spark: SparkSession, errors: tuple[I90Error, ...] | None = None
) -> DataFrame:
    """The error table as a broadcastable dimension (fecha, tipo_error)."""
    rows = [
        (e.fecha, e.tipo_error)
        for e in (I90_ERRORS if errors is None else errors)
        if e.fuente_error == "i90"
    ]
    return local_frame(spark, rows, "fecha string, tipo_error string")


def markets_df(spark: SparkSession) -> DataFrame:
    """The `mercados_mapping` dimension as a broadcastable DataFrame."""
    rows = [
        (
            m.id,
            m.name,
            m.folder,
            m.indicador_esios,
            m.sheet_i90_volumenes,
            m.sheet_i90_precios,
            m.is_quinceminutal,
            m.sentido,
        )
        for m in MARKETS
    ]
    return local_frame(
        spark,
        rows,
        "id_mercado smallint, mercado string, folder string, "
        "indicador_esios int, sheet_i90_volumenes string, "
        "sheet_i90_precios string, is_quinceminutal boolean, sentido string",
    )


def tecnologias_df(spark: SparkSession) -> DataFrame:
    rows = [(i + 1, t) for i, t in enumerate(TECNOLOGIAS)]
    return local_frame(spark, rows, "id int, tecnologia string")
