"""Audit the physical plan of every catalog query.

For each query: count shuffle exchanges and broadcasts, detect parquet
filter pushdown, and flag any row-at-a-time Python evaluation
(BatchEvalPython) — which this engine bans on the data path (only
Arrow-batched ArrowEvalPython / mapInPandas / FlatMapGroupsInPandas
are allowed). A query that drives a stream is audited on the stream's
executed plan, as captured by ``streaming.jobs.drive``.

Usage: python tools/plan_audit.py [sf_dir] [--md | --snapshot]

``--snapshot`` writes tools/plan_snapshot.json — the committed
per-query plan fingerprint (shuffles, single-partition exchanges,
broadcasts, pushdown, python-eval counts) that
tests/test_plan_regression.py gates against: a diff that grows a
query's shuffle count or loses its parquet pushdown fails pytest
until the snapshot is regenerated deliberately.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_energy_tracker_spark.queries import catalog  # noqa: E402
from etl_energy_tracker_spark.session import get_spark  # noqa: E402

# Queries allowed a NON-scalar-agg single-partition exchange
# (sp_global > 0), each mapped to the bounded input the docstring
# documents (VERDICT r9 task 7). Keyless-aggregate single-partition
# exchanges are auto-benign (one partial row per partition in, one
# row out) and need no entry. A new query whose plan gains a global
# window/sort through one partition fails tests/test_plan_regression
# until it either re-plans or lands here with its bound stated.
BOUNDED_SINGLE_PARTITION: dict[str, str] = {
    "classifier_auc_eval": "distinct-score histogram window + decile "
        "ntile over the EVAL SET (documented bounded sample)",
    "compaction_bin_packing": "running-sum window over the FILE LIST "
        "(metadata rows, not data)",
    "dow_hour_heatmap": "margin windows over the <=168-cell day*hour "
        "grid",
    "histogram_quantile_estimate": "cumulative window over the 256-bin "
        "fixed-width histogram (exact-answer side is the documented "
        "full-sort comparison baseline)",
    "key_skew_report": "top-n window over the per-key count table "
        "(post-aggregate, << fact table)",
    "markov_attribution_removal": "iteration windows on the "
        "(channels+1) x states^2 bounded matrix",
    "nelson_aalen_hazard": "risk-set suffix windows on the "
        "observation-span hour grid (bounded by span, not rows)",
    "neyman_allocation_sample": "O(strata) allocation table window "
        "(per-stratum rank documented with the hash-threshold swap "
        "at 100 TB)",
    "p48_tecnologias_update": "parity tracking-dim tables (UP / "
        "technology dimensions — bounded by construction)",
    "pareto_frontier": "prefix-min window over the distinct-quantity "
        "relation (bounded objective domain)",
    "permutation_test_fdr": "BH predicate window over the bounded "
        "event-type dimension",
    "perplexity_tertile_split": "exact NTILE needs a total order — "
        "documented single-partition with the broadcast-boundary "
        "100 TB variant stated in the docstring",
    "post_stratified_effect": "cumsum window over the pre_cnt "
        "histogram (NDV bounded by max per-user activity)",
    "rfm_segmentation": "quintile ntile over the USER-level relation "
        "(documented bounded-input assumption + percentile_approx "
        "swap)",
    "sorted_neighborhood_pairs": "bucket-offset cumsum over the "
        "<=B-row bucket table (row ranks are per-bucket parallel)",
    "token_budget_waterfill": "water-level sorted window over the "
        "bounded domain table",
    "vopt_histogram_boundaries": "DP windows over the ~50-value "
        "histogram / C(V-1,3) split lattice",
    "zipf_octave_profile": "LAG window over <64 frequency octaves",
    "zorder_layout_stats": "NTILE-over-zkey = repartitionByRange + "
        "per-file stats at cluster scale (documented); stats windows "
        "on the file table",
    "hilbert_layout_stats": "NTILE-over-hilbert-key = "
        "repartitionByRange + per-file stats at cluster scale (same "
        "documented exemption as zorder_layout_stats)",
    "hill_tail_index": "rank window over the k+1-row TakeOrdered top "
        "(<= 101 rows by construction — the limit precedes the "
        "window)",
    "quantile_norm_map": "cumsum window over the distinct-cents value "
        "histogram (bounded value domain — the ks_drift documented "
        "grid class)",
    "successive_halving_suppliers": "per-rung rank windows over the "
        "SUPPLIER dimension (bounded by construction — the "
        "tracking-dim argument)",
}


def _sp_classify(plan: str) -> tuple[int, int]:
    """Classify every ``Exchange SinglePartition`` node by consumer.

    Returns ``(sp_scalar_agg, sp_global)``: a single-partition exchange
    whose first non-pass-through ancestor is a KEYLESS aggregate
    (``keys=[]`` / ``key=[]``) is structurally benign — the exchange
    moves one partial-agg row per input partition, never the data.
    Every OTHER consumer (global Window, global Sort feeding a
    non-aggregate, coalesce(1)-style shuffles) moves the full child
    relation through one task and counts as ``sp_global`` — those
    queries must carry a BOUNDED_SINGLE_PARTITION allowlist entry
    naming the bounded input, or the plan-regression test fails
    (VERDICT r9 task 7: the post_stratified_effect per-user ntile hid
    for a round inside the WindowExec warning noise).

    The tree is parsed from toString() indentation: a node's parent is
    the nearest preceding line whose node text starts further left.
    """
    import re

    lines = plan.splitlines()
    depths: list[tuple[int, str]] = []
    for ln in lines:
        m = re.search(r"[A-Za-z*]", ln)
        if not m:
            continue
        txt = ln[m.start():]
        txt = re.sub(r"^\*\(\d+\)\s*", "", txt)  # codegen annotation
        depths.append((m.start(), txt))
    # pass-through ancestors between an exchange and its real consumer
    passthrough = (
        "Sort ", "Sort[", "InputAdapter", "AQEShuffleRead",
        "ShuffleQueryStage", "CollectMetrics", "Project",
    )
    scalar = glob = 0
    for i, (d, txt) in enumerate(depths):
        if not txt.startswith("Exchange SinglePartition"):
            continue
        consumer = None
        for j in range(i - 1, -1, -1):
            pd, ptxt = depths[j]
            if pd < d:
                if ptxt.startswith(passthrough):
                    d = pd  # keep walking up through pass-throughs
                    continue
                consumer = ptxt
                break
        if consumer is not None and (
            ("Aggregate" in consumer.split("(")[0])
            and ("keys=[]" in consumer or "key=[]" in consumer)
        ):
            scalar += 1
        else:
            glob += 1
    return scalar, glob


def audit(sf_dir: str, names: list[str] | None = None) -> list[dict]:
    """Plan figures of the named queries (all of them by default)."""
    from etl_energy_tracker_spark.streaming import jobs as stream_jobs

    spark = get_spark("plan-audit")
    qs = catalog.queries()
    rows = []
    for name in qs if names is None else names:
        try:
            # a query that drives a stream has its plan in the streaming
            # runtime, not in the memory-sink table it returns: audit the
            # plan the drive captured, if this query drove one
            stream_jobs.clear_stream_plan()
            df = qs[name](spark, sf_dir)
            plan = (
                stream_jobs.last_stream_plan()
                or df._jdf.queryExecution().executedPlan().toString()
            )
        except Exception as ex:  # pragma: no cover - diagnostic tool
            rows.append({"query": name, "error": str(ex)[:120]})
            continue
        # double-compute tripwire: a Filter node whose predicate embeds
        # a higher-order/regex array build (size(transform(...)),
        # regexp_extract_all, aggregate-folds) means the optimizer
        # inlined an expensive projection into the filter — the
        # expression then evaluates twice per row (once in the filter,
        # once in the consumer). The r5 fix is explode_outer + notnull
        # or a cheap equivalent predicate; this metric pins the count
        # so the antipattern cannot silently return.
        expr_in_filter = sum(
            1
            for line in plan.splitlines()
            if ("Filter " in line or "+- Filter" in line)
            and (
                "transform(" in line
                or "regexp_extract_all(" in line
                or "aggregate(" in line
            )
        )
        sp_scalar, sp_global = _sp_classify(plan)
        rows.append(
            {
                "query": name,
                "shuffles": plan.count("Exchange hashpartitioning")
                + plan.count("Exchange rangepartitioning"),
                "single_partition": plan.count("Exchange SinglePartition"),
                "sp_global": sp_global,
                "broadcasts": plan.count("BroadcastExchange"),
                "pushed_filters": "PushedFilters: [" in plan
                and "PushedFilters: []" not in plan,
                "row_python": plan.count("BatchEvalPython"),
                "arrow_python": plan.count("ArrowEvalPython")
                + plan.count("MapInPandas")
                + plan.count("FlatMapGroupsInPandas"),
                "expr_in_filter": expr_in_filter,
            }
        )
    return rows


SNAPSHOT_PATH = os.path.join(ROOT, "tools", "plan_snapshot.json")
# the plan fingerprint is taken at this SF so the committed snapshot
# and the pytest gate always compare like with like
SNAPSHOT_SF_DIR = "/root/testdata/sf0.001"


def snapshot(sf_dir: str = SNAPSHOT_SF_DIR, names: list[str] | None = None) -> dict:
    """Plan fingerprints keyed by query, for the committed snapshot."""
    return {
        r["query"]: {k: v for k, v in r.items() if k != "query"}
        for r in audit(sf_dir, names)
        if "error" not in r
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--snapshot" in sys.argv:
        import json

        snap = snapshot(args[0] if args else SNAPSHOT_SF_DIR)
        with open(SNAPSHOT_PATH, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
        print(f"wrote {len(snap)} plan fingerprints to {SNAPSHOT_PATH}")
        return 0
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    rows = audit(sf_dir)
    bad = [r for r in rows if r.get("row_python")]
    errs = [r for r in rows if "error" in r]
    if "--md" in sys.argv:
        print("| query | shuffles | 1-part | bcast | pushdown | arrow |")
        print("|---|---|---|---|---|---|")
        for r in rows:
            if "error" in r:
                print(f"| `{r['query']}` | ERROR: {r['error']} | | | | |")
            else:
                print(
                    f"| `{r['query']}` | {r['shuffles']} | "
                    f"{r['single_partition']} | {r['broadcasts']} | "
                    f"{'y' if r['pushed_filters'] else '-'} | "
                    f"{r['arrow_python'] or '-'} |"
                )
    else:
        for r in rows:
            print(r)
    print(
        f"\n{len(rows)} plans audited; {len(errs)} errors; "
        f"{len(bad)} with row-wise Python eval (must be 0)"
    )
    return 1 if bad or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
