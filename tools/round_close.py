"""Round-close ritual, as one command (VERDICT r8 task 6).

Run it on the commit the driver checked, with that run's
CORRECTNESS_rNN.json in the checkout: step 0 records the fingerprints
of that commit's code. It regenerates the derived artifacts, re-runs
the catalog and plan assertions, and refuses to exit green when any
bench-known query lacks a BASELINE.md row (the r8
`hourly_trend_regression` failure class).

Steps (any failure → non-zero exit):

0. Record driver greens: for each green row (``rows_match`` and no
   ``err``) of the newest CORRECTNESS_r*.json, set
   ``verified[name] = catalog.fingerprints()[name]`` in
   etl_energy_tracker_spark/queries/verified.json, and drop names no
   longer in the catalog. ``catalog.changed()`` then names exactly the
   queries with no driver green on their current code.
1. Regenerate QUERIES.md (tools/gen_queries_md.py) and fail if the
   result differs from the committed file *before* regeneration in a
   way git would show — i.e. the regeneration is committed too.
2. Re-snapshot physical plans (tools/plan_audit.py --snapshot at
   sf0.001) so tests/test_plan_regression.py gates on current plans.
3. Run the catalog order and fingerprint tests and the plan
   regression tests, slow ones included.
4. Assert every query named in bench_extra.json (headline `queries` +
   `extra_queries`) appears in BASELINE.md — a first-bench figure the
   2x-gate reader can find.

3b. Both-SF sweep (VERDICT r9 task 6): every name in
   ``catalog.changed()`` (new, or code changed since its last driver
   green) re-proves green against the DuckDB oracle at sf0.1 — the
   axis that caught the r9 logistic_regression_gd divergence the
   sf0.01 gate missed.
4b. Every query absent from verified.json (a new query) is named in
   bench.py's HEADLINE or EXTRA list.

Usage: python tools/round_close.py [--skip-snapshot] [--skip-sf01-sweep]
(--skip-snapshot: plans unchanged this round — still verifies the
committed snapshot passes the regression test. --skip-sf01-sweep:
the changed queries' sf0.1 rows were just recorded by hand.)
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_energy_tracker_spark.queries import catalog  # noqa: E402


def run(cmd: list[str]) -> None:
    print(f"== {' '.join(cmd)}", flush=True)
    r = subprocess.run(cmd, cwd=REPO)
    if r.returncode != 0:
        print(f"ROUND-CLOSE RED: {' '.join(cmd)} -> {r.returncode}")
        sys.exit(r.returncode)


def record_greens() -> None:
    runs = sorted(
        Path(REPO).glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if not runs:
        print("ROUND-CLOSE: no CORRECTNESS_r*.json, nothing to record")
        return
    rows = json.loads(runs[-1].read_text())
    fps = catalog.fingerprints()
    greens = {
        n for n, row in rows.items()
        if n in fps and row.get("rows_match") and row.get("err") is None
    }
    record = json.loads(catalog.VERIFIED_PATH.read_text())
    record.update({n: fps[n] for n in greens})
    record = {n: fp for n, fp in sorted(record.items()) if n in fps}
    catalog.VERIFIED_PATH.write_text(json.dumps(record, indent=1) + "\n")
    print(
        f"ROUND-CLOSE: recorded {len(greens)} greens of {runs[-1].name}; "
        f"{len(catalog.changed())} queries unverified on current code"
    )


def main() -> None:
    py = sys.executable
    # 0. driver greens -> verified.json
    record_greens()
    # 1. derived docs current
    run([py, "tools/gen_queries_md.py"])
    # 2. plan snapshot current
    if "--skip-snapshot" not in sys.argv:
        run([py, "tools/plan_audit.py", "/root/testdata/sf0.001", "--snapshot"])
    # print the pinned entry count so commit messages can't drift from
    # the artifact (VERDICT r10 "What's wrong" §2: a message claimed
    # 353 entries over a 351-entry snapshot).
    with open(os.path.join(REPO, "tools", "plan_snapshot.json")) as f:
        n_snap = len(json.load(f))
    print(f"ROUND-CLOSE: plan snapshot pins {n_snap} entries")
    # 3. catalog order, fingerprint and plan-regression assertions
    # (the full-catalog plan check is `slow`, hence the marker override)
    run([
        py, "-m", "pytest", "-q", "-m", "slow or not slow",
        "tests/test_catalog.py::test_catalog_is_populated",
        "tests/test_catalog.py::test_ordered_is_a_permutation_with_changed_first",
        "tests/test_catalog.py::test_missing_name_is_emitted_first",
        "tests/test_catalog.py::test_verified_names_are_live_queries",
        "tests/test_fingerprint.py",
        "tests/test_plan_regression.py",
    ])
    # 3b. both-SF rule (VERDICT r9 task 6): every query with no driver
    # green on its current code must prove green at sf0.1 too — the
    # second-SF sweep is what caught the r9 logistic_regression_gd
    # floor-vs-truncate divergence that the driver's sf0.01 gate could
    # not. Incremental: only changed queries run.
    queue = catalog.changed()
    if queue and "--skip-sf01-sweep" not in sys.argv:
        run([py, "tools/check_correctness.py", "/root/testdata/sf0.1",
             *queue])
    # 4. every benched query has a BASELINE.md row the 2x gate can read
    with open(os.path.join(REPO, "bench_extra.json")) as f:
        bench = json.load(f)
    benched = set(bench.get("queries", {})) | set(bench.get("extra_queries", {}))
    with open(os.path.join(REPO, "BASELINE.md")) as f:
        baseline = f.read()
    def has_row(q: str) -> bool:
        if q in baseline:
            return True
        # headline TPC-H figures are recorded under their short names
        # ("q1 1.32, q3 1.00, ..."), so q1_pricing_summary matches q1
        short = q.split("_")[0]
        import re

        return bool(
            short.startswith("q")
            and short[1:].isdigit()
            and re.search(rf"\b{short} \d", baseline)
        )

    missing = sorted(q for q in benched if not has_row(q))
    if missing:
        print(
            "ROUND-CLOSE RED: bench_extra.json queries with no BASELINE.md "
            f"row (add first-bench figures): {missing}"
        )
        sys.exit(1)
    # 4b. every new op is actually benched: a query with no driver green
    # at all (absent from verified.json) that never entered bench.py's
    # HEADLINE or EXTRA list would ship with no perf row (the gap the
    # bench_extra check above cannot see, since it only reads names
    # that DID get benched).
    bench_src = open(os.path.join(REPO, "bench.py")).read()
    verified = json.loads(catalog.VERIFIED_PATH.read_text())
    unbenched = sorted(
        q for q in catalog.fingerprints()
        if q not in verified and f'"{q}"' not in bench_src
    )
    if unbenched:
        print(
            "ROUND-CLOSE RED: new queries missing from bench.py "
            f"HEADLINE/EXTRA (add them): {unbenched}"
        )
        sys.exit(1)
    # uncommitted derived artifacts are a half-done close
    r = subprocess.run(
        ["git", "status", "--porcelain", "QUERIES.md", "tools/plan_snapshot.json",
         os.path.relpath(catalog.VERIFIED_PATH, REPO)],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.stdout.strip():
        print(
            "ROUND-CLOSE YELLOW: regenerated artifacts differ from the "
            f"committed tree — commit them:\n{r.stdout}"
        )
        sys.exit(1)
    print("ROUND-CLOSE GREEN: greens recorded, docs current, plans pinned, "
          "every benched query has a BASELINE.md row.")


if __name__ == "__main__":
    main()
