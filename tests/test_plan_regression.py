"""Plan-regression tripwire: every catalog query's physical-plan
fingerprint (shuffle count, broadcast count, parquet pushdown,
python-eval shape) is pinned in tools/plan_snapshot.json. A diff that
grows a query's shuffle count, loses its pushdown, or introduces
row-at-a-time Python eval fails here — the gate that would have caught
an accidental broadcast→shuffle flip before a bench run did.

The full check over every query is ``slow``; the fast tier runs it on
the queries ``catalog.changed()`` names.

Regenerate deliberately after an intentional plan change:
    python tools/plan_audit.py --snapshot
"""

from __future__ import annotations

import json

import pytest

from plan_audit import (
    BOUNDED_SINGLE_PARTITION,
    SNAPSHOT_PATH,
    SNAPSHOT_SF_DIR,
    snapshot,
)


def _regressions(current: dict) -> list[str]:
    """Snapshot checks of the audited plans in ``current``."""
    with open(SNAPSHOT_PATH) as f:
        pinned = json.load(f)
    problems = []
    for name, cur in current.items():
        pin = pinned.get(name)
        if pin is None:
            # new query since the snapshot: not a regression, but the
            # snapshot must be regenerated so it gets pinned too
            problems.append(f"{name}: not in snapshot — regenerate it")
            continue
        if cur["shuffles"] > pin["shuffles"]:
            problems.append(
                f"{name}: shuffles grew {pin['shuffles']} -> {cur['shuffles']}"
            )
        if pin["pushed_filters"] and not cur["pushed_filters"]:
            problems.append(f"{name}: parquet filter pushdown lost")
        if cur["row_python"]:
            problems.append(
                f"{name}: row-at-a-time Python eval appeared "
                f"({cur['row_python']} BatchEvalPython nodes)"
            )
        # VERDICT r9 task 7: a single-partition exchange that is NOT a
        # keyless scalar aggregate moves the full child relation
        # through one task — it may only exist with a documented
        # bounded-input allowlist entry, and may not silently multiply.
        sp_glob = cur.get("sp_global", 0)
        if sp_glob and name not in BOUNDED_SINGLE_PARTITION:
            problems.append(
                f"{name}: {sp_glob} undocumented non-scalar-agg "
                "single-partition exchange(s) — re-plan or add a "
                "BOUNDED_SINGLE_PARTITION entry naming the bounded "
                "input (tools/plan_audit.py)"
            )
        if sp_glob > pin.get("sp_global", sp_glob):
            problems.append(
                f"{name}: sp_global grew "
                f"{pin.get('sp_global')} -> {sp_glob}"
            )
    return problems


@pytest.mark.slow
def test_plans_match_snapshot(spark):
    problems = _regressions(snapshot(SNAPSHOT_SF_DIR))
    assert not problems, "plan regressions:\n" + "\n".join(problems)


def test_changed_plans_match_snapshot(spark):
    """The same checks in the fast tier, on the queries whose code
    changed since their last driver green (``catalog.changed()``)."""
    from etl_energy_tracker_spark.queries import catalog

    names = catalog.changed()
    if not names:
        pytest.skip("every query's fingerprint is recorded as verified")
    current = snapshot(SNAPSHOT_SF_DIR, names)
    unbuilt = sorted(set(names) - set(current))
    assert not unbuilt, f"plan audit failed for: {unbuilt}"
    problems = _regressions(current)
    assert not problems, "plan regressions:\n" + "\n".join(problems)


def test_single_partition_allowlist_names_resolve():
    """Every allowlist entry names a live catalog query (no rot)."""
    from etl_energy_tracker_spark.queries import catalog

    catalog._load_all()
    dead = sorted(set(BOUNDED_SINGLE_PARTITION) - set(catalog.CATALOG))
    assert not dead, f"allowlist entries for dead queries: {dead}"
