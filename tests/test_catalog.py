"""Catalog contract tests: every declared query runs at sf0.001,
returns a schema-stable DataFrame, and a sampled subset hash-matches
its DuckDB oracle (the full matrix runs in tools/check_correctness.py
and the driver's t2 gate).
"""

from __future__ import annotations

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


def _verified_frozensets() -> dict[str, frozenset]:
    return {
        attr: getattr(catalog, attr)
        for attr in dir(catalog)
        if attr.endswith("_VERIFIED") and isinstance(getattr(catalog, attr), frozenset)
    }


def test_priority_queue_names_resolve():
    # a typo in the re-verification bookkeeping would silently reorder
    # the driver's capped run — every queue name must be a real query
    names = set(QUERIES)
    assert set(catalog._PRIORITY) <= names
    for attr, fs in _verified_frozensets().items():
        assert fs <= names, attr
    # and the ordering is a permutation of the catalog (no dupes/drops)
    ordered = catalog._ordered()
    assert sorted(ordered) == sorted(names)


def test_verified_freeze_is_current():
    """The round-close freeze ritual, mechanically enforced.

    Rounds 4, 6 and 7 all ended with the newest CORRECTNESS greens
    absent from the _RN_VERIFIED bookkeeping, so the next round's
    capped (~50) driver run re-proved old rows instead of checking
    never-verified queries (VERDICT r7 "What's wrong" §2). This test
    fails until every green name in the NEWEST CORRECTNESS_r*.json is
    frozen into some _RN_VERIFIED set — making the skip impossible.
    """
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    runs = sorted(
        repo.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if not runs:
        pytest.skip("no driver CORRECTNESS file yet")
    newest = runs[-1]
    rows = json.loads(newest.read_text())
    greens = {
        name
        for name, row in rows.items()
        if row.get("rows_match") and row.get("err") is None
    }
    frozen = frozenset().union(*_verified_frozensets().values())
    missing = sorted(greens - frozen)
    assert not missing, (
        f"{newest.name} greens not frozen into any _RN_VERIFIED set "
        f"(run the round-close freeze ritual): {missing}"
    )


def test_frozen_names_pruned_from_priority():
    """Freeze-without-prune loophole, closed (VERDICT r8 top_next §2).

    _ordered() computes `verified - set(_PRIORITY)`, so a frozen name
    left in _PRIORITY silently re-emits first and burns a slot of the
    driver's ~50-row cap. A frozen name may sit in the queue ONLY via
    _REVERIFY (impl changed after its green row — the documented,
    dated rationale lives in the comment above that tuple).
    """
    frozen = frozenset().union(*_verified_frozensets().values())
    stale = sorted((set(catalog._PRIORITY) - set(catalog._REVERIFY)) & frozen)
    assert not stale, (
        "frozen names in _PRIORITY without a _REVERIFY rationale "
        f"(prune them or move to _REVERIFY with a dated comment): {stale}"
    )


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
