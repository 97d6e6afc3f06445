"""Scale probe: time the asymptotically-risky operators at 10x data.

VERDICT r4 task 5: the 100 TB story for five operators rests on
asymptotic claims (triangle_count's degree-ordered wedge bound,
ngram_jaccard_pairs' df-cap, incremental_minhash_dedup's
batch-x-index join, near_dup_clusters' O(log^2 n) rounds,
semdedup_prune's cluster-bounded pairs). This probe builds a
10x-scaled copy of the tables they read (sf0.1 -> sf1-equivalent) and
times each operator at both scales; ~linear growth in input confirms
the claim, superlinear refutes it.

Scaling construction (the important part — naive replication would
create pathological cross-replica duplicates and measure output
blowup, not algorithmic growth):

- documents: 10 replicas with shifted doc_ids; every whitespace token
  in replica r>0 gets a ``_x{r}`` suffix. Within one replica the
  corpus' similarity structure is preserved EXACTLY (same shingle
  multisets up to renaming, same dup clusters); across replicas every
  shingle differs, so no cross-replica near-dup pairs form. Pair
  output and join work therefore grow linearly in replicas — the
  regime the asymptotic claims are about.
- embeddings: 10 replicas with shifted vec_ids; replica r applies a
  deterministic per-dimension sign pattern s_r[i] in {+1,-1}
  (r=0 identity). A sign flip pattern is an orthogonal transform, so
  within-replica inner products, norms, and the cluster geometry are
  preserved exactly, while cross-replica cosines become
  pseudo-random noise — again, linear-regime scaling.
- lineitem: 10 replicas with shifted order/part/supp keys — 10
  disjoint co-purchase graphs, so the wedge set grows exactly 10x.

NDV-growth mode (``--ndv``, VERDICT r7 task 4): the default replica
construction shifts KEYS but copies name-like content verbatim, so
kernels whose cost is bounded by a distinct-VALUE count (part-name
blocking, prefix indexes) collapse all replicas in their first
groupBy and the probe cannot see their walls. With ``--ndv``, part
names in replica r>0 get a per-replica suffix appended to the LAST
token without a space (``x`` + the replica digit repeated 5 times):
distinct names and blocking keys grow exactly ``replicas``x, the
within-replica block structure and Levenshtein<=4 match set are
preserved verbatim, and any cross-replica name pair is >=5 edits
apart — so no cross-replica matches form and growth on the NDV axis
is the pure linear regime the claims are about.

NDV(users) mode (``--ndv-users``, VERDICT r9 task 4): remaps
user_id -> user_id * N + pmod(hash(event_id), N) on an events-only
probe dir — distinct users grow ~Nx at CONSTANT rows, isolating the
per-user-collapse axis for the experimentation kernels (the default
replica build already grows users Nx, but rows grow with them).

Usage: python tools/scale_probe.py [--replicas N] [--keep]
                                   [--ndv | --ndv-users]
Writes probe parquet under .scale_probe/ (gitignored), prints one
JSON line per operator and a summary verdict.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_energy_tracker_spark.queries import catalog  # noqa: E402
from etl_energy_tracker_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
PROBE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_probe")

OPS = [
    "triangle_count",
    "ngram_jaccard_pairs",
    "incremental_minhash_dedup",
    "near_dup_clusters",
    "semdedup_prune",
    # round-5 additions with pair-forming or ranking stages
    "jaccard_knn_topk",
    "ngram_novelty_score",
    "dedup_cluster_report",
    # late-r5: prefix-filter set-similarity join (candidate fan-out is
    # the asymptotic claim) and k-core peel (per-round join volume)
    "prefix_filter_jaccard_join",
    "kcore_decomposition",
    # late-r5 batch 2: selection/sampling/digest ops (all claimed
    # corpus-linear with bounded state)
    "greedy_max_coverage",
    "priority_sample_weighted",
    "bpe_encode_corpus",
    "ohlc_bars_hourly",
    "table_checksum_diff",
    # round-6: pair-forming / cluster / weight-table ops whose 100 TB
    # story rests on bounded candidate generation or O(buckets) state
    "lsh_edit_distance_verify",
    "leakage_safe_split",
    "boilerplate_line_removal",
    "dsir_importance_weights",
    "pq_quantize_stats",
    # window-keyed pair/coverage ops: growth must track duplicated-
    # window count (corpus-linear), not pairs^2
    "exact_substring_trim",
    "source_overlap_matrix",
    "domain_blocklist_filter",
    # round-6 statops: per-type/per-source windows over collapsed
    # histograms — growth must track the histogram, not raw rows
    "ks_drift_stat",
    "spearman_rank_corr",
    "gini_token_concentration",
    "lexical_diversity_report",
    "zonemap_prune_audit",
    "l_diversity_report",
    # round-6 mlops: mat-vec iteration, window-bounded pair assembly,
    # histogram equi-depth bounds, token self-join at fixed offsets
    "pca_power_iteration",
    "skipgram_negative_samples",
    "analyze_column_stats",
    "preference_pairs_assemble",
    # round-6 martops: basket-bounded pair join, per-user sorts,
    # FK anti-join sweep
    "copurchase_item_similarity",
    "asof_join_next_purchase",
    "fk_integrity_audit",
    "dow_hour_heatmap",
    "order_total_reconciliation",
    "graph_modularity_score",
    "brand_month_movers",
    # round-6 insightops: Expand fan-out, bounded-matrix iteration,
    # single-pass experiment stats, cohort windows, value histograms
    "grouping_sets_report",
    "markov_steady_state",
    "ab_test_zscore",
    "cohort_ltv_curve",
    "dict_encoding_audit",
    "weighted_percentile_exact",
    "conformal_prediction_interval",
    "activity_streaks",
    "bitmap_intersection_audit",
    "hll_daily_series",
    # round-7: bounded-grid privacy EMD, per-doc calibration collapse,
    # per-source round-robin sharding (range-partitioned sort)
    "t_closeness_report",
    "calibration_ece_report",
    "interleave_mixture_shards",
    "markov_attribution_removal",
    "ivf_incremental_assign",
    "source_lexical_distance",
    "kcenter_coreset_sample",
    "blocking_strategy_eval",
    "token_budget_waterfill",
    "join_cardinality_audit",
    # round-8: bounded-summary heavy hitters, rank-join neighborhood
    # blocking, broadcast-table mixture iterations, constant planning
    # grid, k-smallest sketches, map-side shard argmax, map-side FIM
    # projection, per-task fold metric, NL-template plans
    "misra_gries_heavy_hitters",
    "sorted_neighborhood_pairs",
    "doremi_domain_weights",
    "lsh_parameter_plan",
    "kmv_theta_setops",
    "rendezvous_shard_rebalance",
    "fim_transform_spans",
    "pass_at_k_eval",
    "nl_avg_daily_price",
    "nl_price_volume_join",
    "nl_avg_volume_latest_day",
    "ndcg_at_k_eval",
    "burst_detection_viterbi",
    "asof_join_feature_staleness",
    "vopt_histogram_boundaries",
    "salt_plan_report",
    "shuffle_partition_advisor",
    "sequential_sprt_monitor",
    "hourly_trend_regression",
    # round-9: greedy submodular coverage — k map-side scans of the
    # n x 16 broadcast-codebook similarity table; MMR re-rank over a
    # TakeOrdered top-C pool; rank-window U test
    "facility_location_select",
    "mmr_diverse_rank",
    "mann_whitney_u_test",
    "logistic_regression_gd",
    "contrastive_hard_negatives",
    "kmeans_lloyd_refine",
    "poisson_bootstrap_ci",
    "isotonic_calibration_pav",
    "permutation_test_fdr",
    "cuped_variance_reduction",
    "bradley_terry_mm",
    "best_of_n_curve",
    "matryoshka_dim_recall",
    "shapley_channel_attribution",
    "classifier_fairness_audit",
    "nelson_aalen_hazard",
    "delta_method_ratio_ci",
    "difference_in_differences",
    "loo_source_influence",
    "post_stratified_effect",
    "nb_learning_curve",
    "brier_decomposition",
    "power_analysis_sample_size",
    "srm_check",
    # round-10: group-stat broadcast map (GRPO), rank-pair join +
    # stratified rollup (LC win rate), single global rollups
    # (McNemar, Krippendorff), bounded contingency (purity/NMI),
    # edge-iterator + bounded credit shuffle (truss support),
    # boundary-key stitch join (chunk stitch), per-source vocab
    # windows (nucleus), bigram argmax + re-join (acceptance)
    "grpo_advantage",
    "length_controlled_win_rate",
    "mcnemar_paired_test",
    "cluster_purity_nmi",
    "edge_triangle_support",
    "chunk_overlap_stitch",
    "nucleus_topp_cutoff",
    "greedy_unigram_acceptance",
    "krippendorff_alpha",
    "dup_substring_maxlen",
    "hilbert_layout_stats",
    "preference_cycle_audit",
    "psi_drift_report",
    "readability_index_report",
    "weighted_jaccard_pairs",
    # round-11: iterated truss peel — per-round enumeration on the
    # monotonically-shrinking survivor set; expansion-CWS sketch —
    # corpus-linear explode + banded bucket join + candidate-only
    # exact verify
    "ktruss_decomposition",
    "icws_weighted_lsh_pairs",
    # r12: production CWS pairs — hashed band keys + hot-bucket cap,
    # candidate-only verify, no exact stage
    "icws_weighted_lsh_pairs_prod",
    # r12: ExactSubstr corpus rewrite — hash-keyed window count,
    # doc_id-keyed anti-join + per-doc ordered collect
    "exact_substring_remove",
    # bucketed suffix-adjacency scan — linear on the char axis like
    # the dup ladder it validates
    "lrs_cross_doc_exact",
    # pair table is 2 rows per (lang, source) group; losses map-side
    "dpo_pair_loss_stats",
    # two ngram-keyed count tables + two left joins on those keys
    "lm_bigram_perplexity",
    # m-bounded set-bit table, broadcast probe join
    "bloom_prune_audit",
    # map-side explode + per-source rollup
    "mlm_masking_plan",
    # token-count shuffle + k+1-row bounded top
    "hill_tail_index",
    # per-round neighbor-min aggregate + vertex-keyed join
    "label_propagation_cc",
    # two keyed shuffles, <= 11 strata per type
    "cem_matching_att",
    # rank window per bounded (type, arm) group
    "qte_median",
    # users x K policy table via bounded-K rank window + user join
    "offpolicy_ips_snips",
    # part-keyed counts + 1-row moments broadcast
    "eb_rate_shrinkage",
    # two ngram-keyed count shuffles + (source, w1) join
    "bigram_entropy_rate",
    # per-type rank windows + value-histogram cumsum
    "quantile_norm_map",
    # edge-degree join + 4-BIGINT scalar rollup
    "degree_assortativity",
    # per-rung rank over the bounded supplier dim
    "successive_halving_suppliers",
]


# Kernels whose cost bound is a distinct-VALUE count rather than a row
# count — probed with --ndv so the bounding axis actually grows.
NDV_OPS = [
    "blocking_strategy_eval",
    "sorted_neighborhood_pairs",
    "fuzzy_name_match_pairs",
    "entity_resolution_golden",
    "prefix_filter_jaccard_join",
    "near_dup_clusters",
]

# Per-user experimentation kernels probed on the NDV(users) axis
# (``--ndv-users``, VERDICT r9 task 4). Note the default replica
# events build ALREADY grows distinct users `replicas`x (user_id
# shifts by r*10M), so the r9 x10/x30/x100 rows did grow the user
# dimension — but rows grew with it, per-user activity constant.
# This mode isolates the axis the "per-user collapse" claims lean
# on: user_id remaps to user_id * M + pmod(hash(event_id), M), so
# distinct users grow ~Mx at CONSTANT event rows — the collapsed
# per-user relation (the window/aggregate input) grows toward the
# row count while the scan stays fixed. A kernel that is flat here
# collapses map-side; one that grows faster than the per-user
# relation has user-pair or user-global work hiding behind the
# collapse claim.
NDV_USER_OPS = [
    "post_stratified_effect",
    "srm_check",
    "cuped_variance_reduction",
    "delta_method_ratio_ci",
    "rfm_segmentation",
    # classifier_auc_eval's decile runs over DOCUMENTS (its eval
    # set); its NDV axis is the doc replica axis, already probed —
    # see the r9 x10/x30 row ("ntile over the eval set").
]


def build_capped_graph(spark, replicas: int, cap: int) -> tuple[str, str]:
    """Degree-bounded lineitem-only probe dirs (VERDICT r10 task 4).

    The default replica construction grows disjoint copies of the
    FULL co-purchase graph, and edge_triangle_support's x100 working
    set (119.6M edges, m^1.5 intersect spill) exceeded this host's
    ~30 GB scratch. Capping each order's basket at ``cap`` parts
    (row_number <= cap, deterministic by l_partkey) bounds edges per
    order at C(cap,2) — sf0.1 measures 364k edges at cap=3 vs 1.196M
    uncapped — so the x100 replica graph lands at ~36M edges, the
    scale the uncapped x30 decade already handled. Both scales use
    the SAME capped construction (t_x1 on the capped base, t_xN on
    its replicas), so the ratio isolates the replica axis; and the
    capped regime is the realistic one — basket size does not grow
    with corpus size at 100 TB, vertex degree does, which disjoint
    replicas preserve per-copy by construction."""
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    from pyspark.sql import Window

    capped = (
        li.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("l_orderkey").orderBy("l_partkey")
            ),
        )
        .filter(F.col("rn") <= cap)
        .drop("rn")
    )
    base_dir = os.path.join(PROBE, f"cb{cap}_x1")
    capped.repartition(32).write.mode("overwrite").parquet(
        f"{base_dir}/lineitem.parquet"
    )
    reps = spark.range(replicas).select(F.col("id").cast("int").alias("r"))
    big = spark.read.parquet(f"{base_dir}/lineitem.parquet").crossJoin(reps)
    big = big.select(
        (F.col("l_orderkey") + F.col("r").cast("long") * 100_000_000).alias("l_orderkey"),
        (F.col("l_partkey") + F.col("r").cast("long") * 10_000_000).alias("l_partkey"),
        (F.col("l_suppkey") + F.col("r").cast("long") * 1_000_000).alias("l_suppkey"),
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    big_dir = os.path.join(PROBE, f"cb{cap}_x{replicas}")
    big.repartition(64).write.mode("overwrite").parquet(
        f"{big_dir}/lineitem.parquet"
    )
    return base_dir, big_dir


def build_users(spark, mult: int) -> str:
    """Events-only probe dir: ~mult x distinct users, SAME rows."""
    out = os.path.join(PROBE, f"u{mult}")
    ev = spark.read.parquet(f"{BASE}/events.parquet")
    ev = ev.withColumn(
        "user_id",
        (F.col("user_id") * mult + F.expr(f"pmod(hash(event_id), {mult})"))
        .cast("long"),
    )
    ev.repartition(32).write.mode("overwrite").parquet(f"{out}/events.parquet")
    return out


def build(spark, replicas: int, ndv: bool = False) -> str:
    out = os.path.join(PROBE, f"x{replicas}{'_ndv' if ndv else ''}")
    # --reuse: a prior --keep (or killed) run already built this scale
    # — the build is deterministic, so reuse beats a 45-min rebuild
    if "--reuse" in sys.argv and os.path.exists(
        os.path.join(out, "events.parquet")
    ):
        print(f"reusing existing probe dir {out}", flush=True)
        return out
    reps = spark.range(replicas).select(F.col("id").cast("int").alias("r"))

    docs = spark.read.parquet(f"{BASE}/documents.parquet").crossJoin(reps)
    docs = docs.select(
        (F.col("doc_id") + F.col("r").cast("long") * 10_000_000).alias("doc_id"),
        F.when(F.col("r") == 0, F.col("text"))
        .otherwise(
            F.array_join(
                F.expr("transform(split(text, ' '), t -> concat(t, '_x', CAST(r AS STRING)))"),
                " ",
            )
        )
        .alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet").crossJoin(reps)
    emb = emb.select(
        (F.col("vec_id") + F.col("r").cast("long") * 10_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> CAST(x * (CASE WHEN r = 0 THEN 1 "
            "ELSE 1 - 2 * pmod(hash(r, i), 2) END) AS FLOAT))"
        ).alias("embedding"),
        "label",
    )
    emb.repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    li = spark.read.parquet(f"{BASE}/lineitem.parquet").crossJoin(reps)
    li = li.select(
        (F.col("l_orderkey") + F.col("r").cast("long") * 100_000_000).alias("l_orderkey"),
        (F.col("l_partkey") + F.col("r").cast("long") * 10_000_000).alias("l_partkey"),
        (F.col("l_suppkey") + F.col("r").cast("long") * 1_000_000).alias("l_suppkey"),
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    )
    li.repartition(32).write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    # orders with key shifts matching lineitem's, so the replicated
    # orders x lineitem join yields `replicas` disjoint bipartite
    # customer<->supplier graphs (kcore_decomposition's input)
    orders = spark.read.parquet(f"{BASE}/orders.parquet").crossJoin(reps)
    orders = orders.select(
        (F.col("o_orderkey") + F.col("r").cast("long") * 100_000_000).alias("o_orderkey"),
        (F.col("o_custkey") + F.col("r").cast("long") * 10_000_000).alias("o_custkey"),
        *[c for c in orders.columns if c not in ("o_orderkey", "o_custkey", "r")],
    )
    orders.repartition(32).write.mode("overwrite").parquet(f"{out}/orders.parquet")

    # dimension tables for FK-sweep ops: part/supplier/customer get
    # the SAME key shifts as lineitem/orders (so referential
    # integrity is preserved per replica); nation/region are
    # constant-size dims, copied verbatim
    part = spark.read.parquet(f"{BASE}/part.parquet").crossJoin(reps)
    name_col = (
        F.when(F.col("r") == 0, F.col("p_name"))
        .otherwise(
            F.concat(
                F.col("p_name"),
                F.lit("x"),
                F.expr("repeat(CAST(r AS STRING), 5)"),
            )
        )
        .alias("p_name")
        if ndv
        else F.col("p_name")
    )
    part = part.select(
        (F.col("p_partkey") + F.col("r").cast("long") * 10_000_000).alias("p_partkey"),
        name_col,
        *[c for c in part.columns if c not in ("p_partkey", "p_name", "r")],
    )
    part.repartition(8).write.mode("overwrite").parquet(f"{out}/part.parquet")
    supp = spark.read.parquet(f"{BASE}/supplier.parquet").crossJoin(reps)
    supp = supp.select(
        (F.col("s_suppkey") + F.col("r").cast("long") * 1_000_000).alias("s_suppkey"),
        *[c for c in supp.columns if c not in ("s_suppkey", "r")],
    )
    supp.repartition(8).write.mode("overwrite").parquet(f"{out}/supplier.parquet")
    cust = spark.read.parquet(f"{BASE}/customer.parquet").crossJoin(reps)
    cust = cust.select(
        (F.col("c_custkey") + F.col("r").cast("long") * 10_000_000).alias("c_custkey"),
        *[c for c in cust.columns if c not in ("c_custkey", "r")],
    )
    cust.repartition(8).write.mode("overwrite").parquet(f"{out}/customer.parquet")
    for dim in ("nation", "region"):
        spark.read.parquet(f"{BASE}/{dim}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{dim}.parquet")

    # events with shifted ids/users and a per-replica hour offset so
    # replica streams land in disjoint (user, hour) groups — window
    # and bar cardinality grow exactly `replicas`x
    ev = spark.read.parquet(f"{BASE}/events.parquet").crossJoin(reps)
    ev = ev.select(
        (F.col("event_id") + F.col("r").cast("long") * 100_000_000).alias("event_id"),
        (F.col("ts") + F.expr("make_interval(0, 0, 0, 0, r * 8760, 0, 0)")).alias("ts"),
        (F.col("user_id") + F.col("r").cast("long") * 10_000_000).alias("user_id"),
        "event_type", "value", "props",
    )
    ev.repartition(32).write.mode("overwrite").parquet(f"{out}/events.parquet")
    return out


# Ops whose work axis is CHARS, not rows: the replica build's token
# suffixing (`_x{r}`) inflates characters ~1.7x per doc, and the
# 511-cap suffix-volume regime amplifies it further (x100 measured
# 264.5x suffix-volume at 100 replicas, r12). For these ops the raw
# t-ratio vs the replicas*1.5 bound is the WRONG test; the probe
# measures the suffix-volume inflation on the documents table and
# reports ratio_per_char = t_ratio / char_inflation with the verdict
# on <= 1.5.
CHAR_AXIS_OPS = {"lrs_cross_doc_exact", "dup_substring_maxlen"}

_SFX_FLOOR, _SFX_TRUNC = 16, 511


def suffix_volume(spark, sf_dir: str) -> float:
    """Closed-form sum_i min(TRUNC, len-i+1) over docs >= FLOOR chars
    — the materialized-suffix-char work axis of the char-level dup
    ops, from doc lengths alone (one cheap scan, no explode)."""
    cap_sum = _SFX_TRUNC * (_SFX_TRUNC + 1) // 2 - (
        _SFX_FLOOR * (_SFX_FLOOR - 1) // 2
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    row = (
        docs.where(F.length("text") >= _SFX_FLOOR)
        .agg(
            F.sum(
                F.when(
                    F.length("text") <= _SFX_TRUNC,
                    (F.length("text") * (F.length("text") + 1) / 2)
                    - F.lit(_SFX_FLOOR * (_SFX_FLOOR - 1) // 2),
                ).otherwise(
                    F.lit(cap_sum)
                    + (F.length("text") - _SFX_TRUNC) * F.lit(_SFX_TRUNC)
                )
            ).alias("chars")
        )
        .collect()[0]
    )
    return float(row["chars"] or 0.0)


def time_op(spark, qs, name: str, sf_dir: str, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def main() -> None:
    replicas = 10
    if "--replicas" in sys.argv:
        replicas = int(sys.argv[sys.argv.index("--replicas") + 1])
    ndv = "--ndv" in sys.argv
    ndv_users = "--ndv-users" in sys.argv
    ops = NDV_USER_OPS if ndv_users else NDV_OPS if ndv else OPS
    if "--ops" in sys.argv:  # comma-separated subset re-run
        ops = sys.argv[sys.argv.index("--ops") + 1].split(",")
    spark = get_spark("scale-probe")
    qs = catalog.queries()
    if "--cap-basket" in sys.argv:
        cap = int(sys.argv[sys.argv.index("--cap-basket") + 1])
        base_dir, big_dir = build_capped_graph(spark, replicas, cap)
        for name in ops:
            t_small = time_op(spark, qs, name, base_dir)
            t_big = time_op(spark, qs, name, big_dir)
            ratio = round(t_big / t_small, 2) if t_small else None
            verdict = (
                "linear-ok"
                if ratio is not None and ratio <= replicas * 1.5
                else "SUPERLINEAR"
            )
            print(json.dumps({
                "op": name, "cap_basket": cap, "t_x1": t_small,
                f"t_x{replicas}": t_big, "ratio": ratio,
                "verdict": verdict,
            }), flush=True)
        if "--keep" not in sys.argv:
            shutil.rmtree(PROBE, ignore_errors=True)
        return
    if ndv_users:
        probe_dir = build_users(spark, replicas)
    else:
        probe_dir = build(spark, replicas, ndv=ndv)
    results = {}
    for name in ops:
        t_small = time_op(spark, qs, name, BASE)
        t_big = time_op(spark, qs, name, probe_dir)
        ratio = round(t_big / t_small, 2) if t_small else None
        # <= replicas * 1.5 leaves headroom for n log n sort terms and
        # fixed per-stage overhead amortizing differently at each scale
        verdict = "linear-ok" if ratio is not None and ratio <= replicas * 1.5 else "SUPERLINEAR"
        results[name] = {"t_x1": t_small, f"t_x{replicas}": t_big, "ratio": ratio, "verdict": verdict}
        if name in CHAR_AXIS_OPS and ratio is not None:
            char_infl = suffix_volume(spark, probe_dir) / max(
                suffix_volume(spark, BASE), 1.0
            )
            per_char = round(ratio / char_infl, 3)
            results[name]["char_inflation"] = round(char_infl, 2)
            results[name]["ratio_per_char"] = per_char
            results[name]["verdict"] = (
                "linear-ok(char-axis)" if per_char <= 1.5
                else "SUPERLINEAR(char-axis)"
            )
        print(json.dumps({"op": name, **results[name]}), flush=True)
    print(json.dumps({"replicas": replicas, "results": results}))
    if "--keep" not in sys.argv:
        shutil.rmtree(PROBE, ignore_errors=True)


if __name__ == "__main__":
    main()
