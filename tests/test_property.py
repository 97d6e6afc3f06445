"""Property-based tests (hypothesis): the DST kernel against zoneinfo
over arbitrary dates, European-decimal round trips, and three-way
portable-hash parity (Python fold / Spark expr / DuckDB fold).

Each example generates a *batch* of cases and runs one Spark job, so
max_examples stays small while case coverage stays wide."""

from __future__ import annotations

import pytest

import datetime as dt
import re
from zoneinfo import ZoneInfo

import duckdb
from conftest import madrid_quarters_utc
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from etl_energy_tracker_spark import timegrid as tg
from etl_energy_tracker_spark.functions.hashing import (
    MOD,
    duckdb_charhash,
    spark_charhash,
)
from etl_energy_tracker_spark.pipelines.common import (
    parse_european_number,
    standardize_datetime,
)

MAD = ZoneInfo("Europe/Madrid")
UTC = ZoneInfo("UTC")

# random dates, with the DST transition days drawn as often as the rest
dates = st.dates(
    min_value=dt.date(2001, 1, 1), max_value=dt.date(2034, 12, 31)
) | st.sampled_from([d for d, _ in tg.madrid_transitions(2001, 2034)])


def _expected_utc(d: dt.date, hour: int, suffix: str) -> dt.datetime:
    """zoneinfo ground truth: fold=1 selects the second (post-fallback)
    occurrence for the 'b' label."""
    local = dt.datetime(d.year, d.month, d.day, hour, fold=1 if suffix == "b" else 0, tzinfo=MAD)
    return local.astimezone(UTC).replace(tzinfo=None)


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(dates, st.integers(0, 23)), min_size=1, max_size=40))
def test_hourly_kernel_matches_zoneinfo(spark, cases):
    trans = dict(tg.madrid_transitions(2000, 2035))
    rows, expected = [], {}
    for d, h in cases:
        day_type = trans.get(d, tg.DAY_NORMAL)
        if day_type == tg.DAY_SPRING_FWD and h == 2:
            continue  # nonexistent local hour
        suffixes = ("a", "b") if (day_type == tg.DAY_FALL_BACK and h == 2) else ("",)
        for s in suffixes:
            label = f"{h:02d}-{(h + 1) % 24:02d}{s}"
            rows.append((d.isoformat(), label))
            expected[(d.isoformat(), label)] = _expected_utc(d, h, s)
    if not rows:
        return
    got = _standardized(spark, rows, "Hora")
    assert got == {
        k: [t + dt.timedelta(minutes=m) for m in (0, 15, 30, 45)]
        for k, t in expected.items()
    }


def _standardized(spark, rows, granularity):
    """(fecha, hora) labels through the pipelines' standardize_datetime
    → sorted UTC instants per label."""
    df = spark.createDataFrame(
        [(f, h, granularity) for f, h in rows],
        "fecha string, hora string, granularity string",
    )
    got: dict = {}
    for r in standardize_datetime(df, tg.dst_dim(spark, 2000, 2035)).collect():
        got.setdefault((r["fecha"], r["hora"]), []).append(r["datetime_utc"])
    return {k: sorted(v) for k, v in got.items()}


@settings(max_examples=6, deadline=None)
@given(st.lists(st.tuples(dates, st.integers(1, 100)), min_size=1, max_size=40))
def test_quarter_kernel_matches_zoneinfo(spark, cases):
    """15-min labels '1'..'92/96/100': the k-th label is the k-th
    quarter-hour of the local day per the tz database."""
    rows, expected = [], {}
    for d, k in cases:
        quarters = madrid_quarters_utc(d)
        k = (k - 1) % len(quarters) + 1
        rows.append((d.isoformat(), str(k)))
        expected[(d.isoformat(), str(k))] = [quarters[k - 1]]
    assert _standardized(spark, rows, "Quince minutos") == expected


amounts = st.decimals(
    min_value="0.01", max_value="99999999.99", places=2, allow_nan=False
)


@settings(max_examples=6, deadline=None)
@given(st.lists(amounts, min_size=1, max_size=50))
def test_european_decimal_round_trip(spark, vals):
    def euro(x) -> str:
        intpart, frac = f"{x:.2f}".split(".")
        grouped = ""
        while len(intpart) > 3:
            grouped = "." + intpart[-3:] + grouped
            intpart = intpart[:-3]
        return intpart + grouped + "," + frac

    rows = [(i, euro(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i int, s string")
    out = {
        r["i"]: r["parsed"]
        for r in df.select(
            "i", parse_european_number(F.col("s")).alias("parsed")
        ).collect()
    }
    for i, v in enumerate(vals):
        assert out[i] == float(v), (vals[i], euro(v))


texts = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x24F), max_size=60
)


@settings(max_examples=6, deadline=None)
@given(st.lists(texts, min_size=1, max_size=30))
def test_charhash_three_way_parity(spark, strings):
    def pyhash(s: str) -> int:
        acc = 7
        for ch in s:
            acc = (acc * 31 + ord(ch)) % MOD
        return acc

    rows = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "i int, s string")
    got_spark = {
        r["i"]: r["h"]
        for r in df.select("i", F.expr(spark_charhash("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for i, s in rows:
        expected = pyhash(s)
        assert got_spark[i] == expected, (s,)
        duck = con.sql(
            f"SELECT {duckdb_charhash('?')}", params=[s]
        ).fetchone()[0]
        assert duck == expected, (s,)


# --------------------------------------------- vectorized simhash kernel

# full unicode INCLUDING NUL (the UCS4 pad value — the kernel masks by
# true token length, so embedded/trailing NULs must fold like any other
# codepoint); spans ASCII, Latin-1 supplement, and beyond the BMP
_sim_texts = st.text(
    alphabet=st.characters(min_codepoint=0, max_codepoint=0x10FFFF,
                           exclude_categories=("Cs",)),
    max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(st.lists(_sim_texts, min_size=1, max_size=20))
@pytest.mark.slow
def test_simhash_vectorized_matches_scalar_fold(spark, texts_in):
    """The numpy UCS4-matrix Horner kernel must agree with the naive
    per-token scalar fold on arbitrary unicode — the oracle matrix only
    exercises ASCII corpora."""
    import re

    from etl_energy_tracker_spark.operators.dedup import with_simhash

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def pyhash(tok: str, seed: int = 7) -> int:
        acc = seed
        for ch in tok:
            acc = (acc * 31 + ord(ch)) % MOD
        return acc

    def py_simhash(text: str, bits: int = 60) -> int:
        # bits 0-29 vote from the seed-7 hash, 30-59 from seed-13
        # (one 1e9+7 fold carries only 30 informative bits)
        toks = ws.split((text or "").strip(" "))
        votes = [0] * bits
        for t in toks:
            h1, h2 = pyhash(t, 7), pyhash(t, 13)
            for b in range(bits):
                src, off = (h1, 0) if b < 30 else (h2, 30)
                votes[b] += 1 if (src >> (b - off)) & 1 else -1
        return sum(1 << b for b in range(bits) if votes[b] > 0)

    # always exercise the NUL edge cases alongside the generated batch:
    # embedded NUL (folds h*31+0 then continues), trailing NUL (pad-
    # indistinguishable position), NUL-only token, and a plain control
    texts_in = texts_in + ["a\x00b c", "ab\x00 c", "\x00", "ab c"]
    rows = [(i, s) for i, s in enumerate(texts_in)]
    df = spark.createDataFrame(rows, "i long, s string")
    got = {
        r["i"]: r["simhash"]
        for r in with_simhash(df, "s").select("i", "simhash").collect()
    }
    for i, s in rows:
        assert got[i] == py_simhash(s), repr(s)


def test_simhash_nul_tokens_in_one_batch(spark):
    """The slow test's fixed NUL cases in ONE Arrow batch, where 'ab'
    and 'ab\\x00' must stay two tokens, against the scalar fold."""
    from etl_energy_tracker_spark.operators.dedup import with_simhash

    def fold(tok: str, acc: int) -> int:
        for ch in tok:
            acc = (acc * 31 + ord(ch)) % MOD
        return acc

    def scalar_simhash(text: str) -> int:
        # seed-7 hash votes bits 0-29, seed-13 bits 30-59
        votes = [0] * 60
        for t in re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ")):
            h = (fold(t, 7), fold(t, 13))
            for b in range(60):
                votes[b] += 1 if (h[b // 30] >> (b % 30)) & 1 else -1
        return sum(1 << b for b in range(60) if votes[b] > 0)

    texts = ["a\x00b c", "ab\x00 c", "\x00", "ab c"]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, s string").coalesce(1)
    got = {r["i"]: r["simhash"] for r in with_simhash(df, "s").collect()}
    assert got == {i: scalar_simhash(s) for i, s in enumerate(texts)}


# ------------------------------------- connected components vs union-find

_cc_edges = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=0,
    max_size=24,
)


@settings(max_examples=6, deadline=None)
@given(_cc_edges)
@pytest.mark.slow
def test_cc_matches_union_find(spark, edge_list):
    """connected_components must produce the (node, component-min)
    labeling of a python union-find on arbitrary graphs, including
    self-loops, duplicates, chains and disconnected unions."""
    from etl_energy_tracker_spark.operators.dedup import connected_components

    # always include a 40-edge chain, longer than the 20-round bound,
    # and a self-loop-only node outside it
    edge_list = edge_list + [(20 + i, 21 + i) for i in range(40)] + [(100, 100)]
    edges = spark.createDataFrame(edge_list, "a long, b long")

    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }

    # union-find ground truth
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}
    # find() path-halving leaves non-root parents; normalize to roots
    expected = {n: find(n) for n in expected}
    assert got == expected


# --------------------------------------------------- stdlib PNG codec round-trip

_png_dims = st.tuples(
    st.integers(1, 12),   # width
    st.integers(1, 10),   # height
    st.sampled_from([1, 2, 3, 4]),  # channels
)


@settings(max_examples=25, deadline=None)
@given(_png_dims, st.integers(0, 2**32 - 1))
def test_png_codec_round_trip(dims, seed):
    """encode_png -> decode_png_raster must be the identity on raster
    bytes for every channel count and dimension (filter-0 encode, all
    reconstruction paths on decode), and decode_png's mean must match
    the raster mean."""
    import random

    from etl_energy_tracker_spark.sources.multimodal import (
        decode_png,
        decode_png_raster,
        encode_png,
    )

    w, h, ch = dims
    rnd = random.Random(seed)
    raster = bytes(rnd.randrange(256) for _ in range(w * h * ch))
    png = encode_png(w, h, ch, raster)
    gw, gh, gch, got = decode_png_raster(png)
    assert (gw, gh, gch) == (w, h, ch)
    assert bytes(got) == raster
    meta = decode_png(png)
    assert meta["width"] == w and meta["height"] == h and meta["channels"] == ch
    assert abs(meta["mean_px"] - sum(raster) / len(raster)) < 1e-9
