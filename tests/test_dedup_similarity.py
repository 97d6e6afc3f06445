"""Dedup suite + similarity search operator tests on synthetic docs
and vectors with planted near-duplicates."""

from __future__ import annotations

import pytest

import math
import random

from pyspark.sql import functions as F

from etl_energy_tracker_spark.operators import dedup, similarity

from conftest import SF_DIR


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    near = base.replace("runs", "walks")  # 1-word change → high jaccard
    other = "completely different content about spark engines and data lakes here"
    rows = [(1, base), (2, base), (3, near), (4, other)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    out = dedup.exact_dedup(_docs(spark), "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_keep_last(spark):
    df = spark.createDataFrame(
        [(1, "k", 10), (2, "k", 20), (3, "j", 5)], "id long, key string, seq int"
    )
    out = dedup.keep_last(df, ["key"], "seq")
    assert sorted(r["id"] for r in out.collect()) == [2, 3]


def test_minhash_lsh_finds_planted_near_dups(spark):
    out = dedup.minhash_dedup_pairs(_docs(spark), "doc_id", "text", threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_lsh_hot_bucket_cap(spark):
    """max_bucket drops crowded band buckets before the self-join (the
    100 TB skew guard): a clique of identical docs larger than the cap
    produces no candidates from its mega-buckets, while pairs in
    small buckets are untouched."""
    base = "the quick brown fox jumps over the lazy dog and runs far away tonight"
    other = "completely different content about spark engines and data lakes here"
    rows = [(i, base) for i in range(10)] + [(100, other), (101, other)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.with_shingles(docs, "text")
    sig = dedup.with_minhash_signature(sh, k=16)

    uncapped = dedup.lsh_candidate_pairs(sig, "doc_id")
    got_all = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert (100, 101) in got_all
    assert sum(1 for a, b in got_all if a < 100 and b < 100) == 45  # 10-clique

    capped = dedup.lsh_candidate_pairs(sig, "doc_id", max_bucket=5)
    got_capped = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # identical docs share EVERY band bucket, all holding 10 > cap ->
    # the whole clique is suppressed; the small bucket pair survives
    assert (100, 101) in got_capped
    assert not any(a < 100 and b < 100 for a, b in got_capped)

    # a cap larger than every bucket changes nothing
    assert {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sig, "doc_id", max_bucket=50).collect()
    } == got_all


@pytest.mark.slow
def test_simhash(spark):
    sh = dedup.with_simhash(_docs(spark), "text").collect()
    vals = {r["doc_id"]: r["simhash"] for r in sh}
    assert vals[1] == vals[2]  # identical docs → identical fingerprint
    assert vals[1] != vals[4]
    ham13 = bin(vals[1] ^ vals[3]).count("1")
    ham14 = bin(vals[1] ^ vals[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated

    pairs = dedup.simhash_near_pairs(_docs(spark), "doc_id", "text", max_hamming=ham13)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def _vectors(spark, n=50, dim=8, seed=7):
    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_matches_python(spark):
    df = _vectors(spark)
    q = df.where(F.col("vec_id") < 2)
    c = df.where(F.col("vec_id") >= 2)
    out = similarity.brute_force_topk(q, c, "vec_id", "vec_id", k=5)
    got = {(r["query_id"], r["corpus_id"]) for r in out.collect()}

    data = {r["vec_id"]: r["embedding"] for r in df.collect()}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    for qid in (0, 1):
        scored = sorted(
            ((round(cos(data[qid], data[cid]), 6), cid) for cid in data if cid >= 2),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        assert {(qid, cid) for _, cid in scored} == {p for p in got if p[0] == qid}


@pytest.mark.slow
def test_lsh_topk_recall(spark):
    df = _vectors(spark, n=100)
    q = df.where(F.col("vec_id") < 3)
    c = df.where(F.col("vec_id") >= 3)
    exact = similarity.brute_force_topk(q, c, "vec_id", "vec_id", k=3)
    approx = similarity.lsh_topk(q, c, "vec_id", "vec_id", k=3, n_planes=4)
    e = {(r["query_id"], r["corpus_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["corpus_id"]) for r in approx.collect()}
    # approximate search must return *some* of the true neighbors
    assert len(e & a) >= len(e) // 3
    # every returned neighbor shares the query's bucket by construction
    assert all(p[0] in (0, 1, 2) for p in a)


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, clique 10-11-12, isolated edge 20-21: labels
    converge to the min node id of each component."""
    from etl_energy_tracker_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a long, b long",
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges, "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


@pytest.mark.slow
def test_connected_components_long_chain(spark):
    """A 12-node path needs multiple propagation rounds — exercises the
    fixpoint loop, not just one iteration."""
    from etl_energy_tracker_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 111)], "a long, b long"
    )
    got = {r["node"]: r["component"]
           for r in connected_components(edges, "a", "b").collect()}
    assert set(got.values()) == {100} and len(got) == 12


def test_connected_components_round_bound_raises(spark):
    """A 30-node path needs more label-propagation rounds than the
    20-round bound: label-prop raises instead of returning partial
    labels, and star converges on the same edges."""
    from etl_energy_tracker_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(29)], "a long, b long")
    with pytest.raises(RuntimeError, match=r"label-prop.*20 rounds"):
        connected_components(edges, "a", "b").collect()
    got = {r["node"]: r["component"]
           for r in connected_components(edges, "a", "b", algorithm="star").collect()}
    assert set(got.values()) == {0} and len(got) == 30


@pytest.mark.slow
def test_keep_corpus_retains_exactly_keepers(spark):
    """Dropped docs are precisely the non-keeper cluster members; every
    dropped doc's cluster representative survives."""
    from etl_energy_tracker_spark.queries.dedupops import (
        near_dup_clusters,
        near_dup_keep_corpus,
    )
    from etl_energy_tracker_spark.sources.registry import load_table

    comp = {r["doc_id"]: r["component"]
            for r in near_dup_clusters(spark, SF_DIR).collect()}
    kept = {r["doc_id"] for r in near_dup_keep_corpus(spark, SF_DIR).collect()}
    all_docs = {r["doc_id"]
                for r in load_table(spark, "documents", SF_DIR)
                .select("doc_id").collect()}
    dropped = all_docs - kept
    assert dropped == {d for d, c in comp.items() if c != d}
    for d in dropped:
        assert comp[d] in kept  # the representative survives


def test_keep_corpus_plan_anti_join_no_forced_broadcast(spark):
    """The drop set joins left_anti WITHOUT a broadcast hint (it is
    corpus-scale at web dup rates — AQE broadcasts it only when it
    fits); the corpus side must still be an anti join, not a filter
    materialized driver-side."""
    from etl_energy_tracker_spark.queries.dedupops import near_dup_keep_corpus

    df = near_dup_keep_corpus(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    logical = df._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical  # no forced broadcast


def test_embedding_quantize_int8_codes_and_error(spark):
    from etl_energy_tracker_spark.queries.vectorops import (
        embedding_quantize_int8,
    )

    rows = embedding_quantize_int8(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["code_min"] <= r["code_max"] <= 255
        # 64 dims, each quantized to 1/255 of its range: per-vector
        # total abs reconstruction error stays well under 64 * (range/255)
        assert r["abs_err_micro"] >= 0
    # quantization must be lossy-but-tight: mean per-dim error < half a
    # quantization step for a reasonably spread corpus
    worst = max(r["abs_err_micro"] for r in rows)
    assert worst < 64 * 1_000_000  # sanity ceiling: avg err per dim << 1.0


def test_incremental_minhash_no_history_history_pairs(spark):
    """The incremental variant must (a) emit only batch-vs-history
    pairs, (b) agree with the full self-join pipeline on exactly those
    pairs, and (c) flag a planted near-dup of a history doc."""
    from pyspark.sql import functions as F

    from etl_energy_tracker_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_dedup_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    split = 400
    inc = minhash_dedup_against_index(
        docs.where(F.col("doc_id") >= split),
        docs.where(F.col("doc_id") < split),
        "doc_id",
        "text",
    ).collect()
    for r in inc:
        assert r["batch_id"] >= split and r["hist_id"] < split
    full = minhash_dedup_pairs(docs, "doc_id", "text").collect()
    cross = {
        (max(r["id_a"], r["id_b"]), min(r["id_a"], r["id_b"])): round(r["jaccard"], 6)
        for r in full
        if (r["id_a"] >= split) != (r["id_b"] >= split)
    }
    got = {(r["batch_id"], r["hist_id"]): r["jaccard"] for r in inc}
    assert got == cross

    # planted: batch doc 9999 = verbatim copy of history doc 3
    hist_text = docs.where(F.col("doc_id") == 3).first()["text"]
    planted = docs.unionByName(
        spark.createDataFrame([(9999, hist_text)], "doc_id long, text string")
    )
    inc2 = minhash_dedup_against_index(
        planted.where(F.col("doc_id") >= split),
        planted.where(F.col("doc_id") < split),
        "doc_id",
        "text",
    ).collect()
    assert any(r["batch_id"] == 9999 and r["hist_id"] == 3 and r["jaccard"] == 1.0
               for r in inc2)


def test_ivf_cell_rejects_unorderable_payload(spark):
    """n_probe=1 carries payload columns inside its min-struct key, so a
    map-typed payload must fail up front with the column's name; the
    multi-probe window path does not order payloads and accepts it."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], {"a": 1}), (2, [0.0, 1.0], {"b": 2})],
        "vid long, v array<double>, tags map<string,int>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "centroid_id int, cv array<double>"
    )
    with pytest.raises(TypeError, match="'tags'.*map<string,int>"):
        similarity.with_ivf_cell(df, cents, "v", "vid", n_probe=1, dim=2)
    cells = similarity.with_ivf_cell(df.drop("tags"), cents, "v", "vid", n_probe=1, dim=2)
    assert {(r.vid, r.cell) for r in cells.collect()} == {(1, 0), (2, 1)}
    probed = similarity.with_ivf_cell(df, cents, "v", "vid", n_probe=2, dim=2)
    assert probed.count() == 4
