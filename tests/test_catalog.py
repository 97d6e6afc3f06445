"""Catalog contract tests: every declared query runs at sf0.001,
returns a schema-stable DataFrame, and a sampled subset hash-matches
its DuckDB oracle (the full matrix runs in tools/check_correctness.py
and the driver's t2 gate).
"""

from __future__ import annotations

import json

import duckdb
import pytest

from etl_energy_tracker_spark.queries import catalog
from etl_energy_tracker_spark.sources.registry import TABLES

from conftest import SF_DIR

QUERIES = catalog.queries()
ORACLES = catalog.oracle_sql()

# fast-but-representative subset for the per-test oracle comparison
ORACLE_SAMPLE = [
    "q1_pricing_summary",
    "filter_latest_day",
    "keep_last_dedup",
    "session_differencing",
    "linking_profile_hash",
    "text_fingerprint",
    "ann_cosine_topk",
    "expand_hourly_to_15min",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def test_catalog_is_populated():
    assert len(QUERIES) >= 40
    # every oracle key matches a query key
    assert set(ORACLES) <= set(QUERIES)


def test_ordered_is_a_permutation_with_changed_first():
    ordered = catalog._ordered()
    assert sorted(ordered) == sorted(catalog.CATALOG)
    changed = catalog.changed()
    assert ordered[: len(changed)] == changed
    registration = list(catalog.CATALOG)
    for group in (changed, ordered[len(changed):]):
        assert group == sorted(group, key=registration.index)


def test_missing_name_is_emitted_first(tmp_path, monkeypatch):
    fingerprints = catalog.fingerprints()
    last = list(fingerprints)[-1]
    record = {n: fp for n, fp in fingerprints.items() if n != last}
    (tmp_path / "verified.json").write_text(json.dumps(record))
    monkeypatch.setattr(catalog, "VERIFIED_PATH", tmp_path / "verified.json")
    assert catalog.changed() == [last]
    assert catalog._ordered()[0] == last
    assert list(catalog.queries())[0] == last


def test_verified_names_are_live_queries():
    record = json.loads(catalog.VERIFIED_PATH.read_text())
    dead = sorted(set(record) - set(QUERIES))
    assert not dead, f"verified.json names no live query: {dead}"


# Fast-tier smoke set for the per-query build-and-run check: the
# headline bench queries (they span every operator family: TPC-H,
# dedup, windows, text, ANN, streaming drives, parity pipelines,
# multimodal). The other ~355 query runs are `slow` — they re-run in
# the full tier and the full catalog is oracle-checked by
# tools/check_correctness.py anyway, so the fast tier loses no
# verification the driver's gate doesn't already provide.
import bench as _bench  # noqa: E402  (repo root is on sys.path)

_FAST_QUERY_RUNS = frozenset(_bench.HEADLINE)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n, marks=() if n in _FAST_QUERY_RUNS else (pytest.mark.slow,)
        )
        for n in sorted(QUERIES)
    ],
)
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.columns, name
    assert df.count() >= 0


@pytest.mark.parametrize("name", ORACLE_SAMPLE)
def test_query_matches_oracle(spark, name):
    from check_correctness import frame_digest

    sdf = QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    con = _duck()  # keep the connection alive while the relation is read
    rel = con.sql(ORACLES[name])
    orows = rel.fetchall()
    assert len(srows) == len(orows), name
    assert frame_digest(sdf.columns, srows) == frame_digest(rel.columns, orows), name
