"""Deduplication operator suite for training-data pipelines
(BASELINE.json north star): exact, keyed keep-last, n-gram Jaccard,
MinHash+LSH, and SimHash — all as pure DataFrame programs.

Scale design:
- exact: shuffle on a 128-bit content hash, never on the payload.
- keep-last: window over explicit arrival order (no stable row order
  in a distributed engine).
- MinHash+LSH: signature build is embarrassingly parallel (array
  expressions per row); candidate generation joins on (band, band
  hash) buckets, so the shuffle is bounded by bucket collisions, not
  O(n²). The exact Jaccard verify runs only on candidates.
- hashes are the engine-portable polynomial fold (functions/hashing.py)
  so results are reproducible across engines and runs.
"""

from __future__ import annotations



import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import MOD, perm_a, perm_b, spark_charhash

# ---------------------------------------------------------------------------
# exact + keep-last
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per exact content (hash-groupBy)."""
    w = W.partitionBy(F.md5(F.col(content_col))).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def keep_last(df: DataFrame, keys: list[str], order_col: str) -> DataFrame:
    """Keyed keep-last (reference K3 dedup: processed_file_utils.py:51-67)."""
    w = W.partitionBy(*keys).orderBy(F.desc(order_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def with_shingles(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct word 3-gram shingles as the ``shingles`` array column."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    df = df.withColumn("_toks", toks)
    # size gate, not greatest(...-k, 0): sequence(1, 0) DESCENDS in
    # Spark, so a sub-3-token doc would hit slice(_toks, 0, 3) — a
    # runtime error — where DuckDB's range is simply empty
    expr = (
        "IF(size(_toks) >= 3, "
        "array_distinct(transform(sequence(1, size(_toks) - 2), "
        "i -> concat_ws(' ', slice(_toks, i, 3)))), array())"
    )
    return df.withColumn("shingles", F.expr(expr)).drop("_toks")


def with_minhash_signature(df: DataFrame, k: int = 16) -> DataFrame:
    """k-permutation MinHash signature of ``shingles`` as the
    ``signature`` column (array<bigint>). hash_i(x) =
    (a_i·h(x)+b_i) mod M with fixed odd constants — deterministic and
    engine-portable."""
    hashed = f"transform(shingles, s -> {spark_charhash('s')})"
    perms = ", ".join(
        f"array_min(transform(_sh, h -> ({perm_a(i)}L * h + {perm_b(i)}L) % {MOD}L))"
        for i in range(k)
    )
    return (
        df.withColumn("_sh", F.expr(hashed))
        .withColumn("signature", F.expr(f"array({perms})"))
        .drop("_sh")
    )


def with_band_hashes(
    df: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """THE banding projection for every MinHash-LSH consumer (the dedup
    self-join and benchmark decontamination): each equal band slice of
    the signature folds to an int64 bucket key -> (id, sig, band,
    bhash). One copy, one hash space — a layout change here reaches all
    candidate generators at once instead of silently diverging them.

    The band hash is xxhash64 of the comma-joined slice: the bucket
    join shuffles 8-byte keys instead of a ~40+-char digit string at
    k=16. A 64-bit collision can only ADD a candidate pair, and
    candidates are exact-verified downstream, so results are
    identical."""
    return (
        df.select(F.col(id_col).alias("id"), F.col("signature").alias("sig"))
        .select(
            "id",
            "sig",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), b -> "
                    f"struct(b AS band, "
                    f"xxhash64(concat_ws(',', slice(sig, b * {rows_per_band} + 1, {rows_per_band}))) AS bhash))"
                )
            ).alias("bb"),
        )
        .select("id", "sig", F.col("bb.band").alias("band"), F.col("bb.bhash").alias("bhash"))
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: equal band-slices become join buckets; output is
    candidate (id_a < id_b) pairs with their estimated Jaccard
    (fraction of equal signature positions).

    ``max_bucket`` (None = off, the exact-recall default): drop band
    buckets holding more than this many docs BEFORE the self-join. A
    bucket of k docs emits k(k-1)/2 candidate rows, so one
    boilerplate-dominated bucket over a 100 TB corpus can alone
    produce a quadratic blowup on one shuffle key; a near-dup pair
    inside a dropped mega-bucket is still found through any of its
    other ``bands - 1`` buckets, so recall degrades gracefully (and
    only for pairs whose EVERY band collides with a crowd). Standard
    practice for web-scale MinHash dedup; size the cap so
    cap² × n_hot_buckets stays within one executor's shuffle budget."""
    banded = with_band_hashes(df, id_col, bands, rows_per_band)
    # The self-join below consumes `banded` on BOTH sides (plus the
    # hot-bucket groupBy when the cap is on), and the two sides cannot
    # share an exchange: AQE broadcasts one side, so the whole
    # docs -> shingle -> k-permutation-signature lineage executed
    # TWICE (plans/r13/lsh_edit_distance_verify_before.txt shows the
    # signature subtree streamed AND under BroadcastExchange). One lazy
    # localCheckpoint materializes the banded table (bands rows/doc of
    # (id, sig, band, bhash) — far smaller than re-running the
    # signature transform over the corpus) for every consumer.
    banded = banded.localCheckpoint(eager=False)
    if max_bucket is not None:
        # one groupBy on the same (band, bhash) key the self-join
        # shuffles on; the anti-join against the (tiny) hot-bucket set
        # reuses that partitioning
        hot = (
            banded.groupBy("band", "bhash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_bucket)
            .select("band", "bhash")
        )
        banded = banded.join(hot, ["band", "bhash"], "left_anti")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.expr(
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v)) / size(sig_a)"
    )
    return pairs.withColumn("est_jaccard", est).drop("sig_a", "sig_b")


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle → signature → banded
    candidates → exact Jaccard verify on candidates only.

    The shingle table feeds three consumers (the signature build and
    both sides of the exact-verify join); a lazy localCheckpoint
    materializes it once instead of re-tokenizing the corpus per
    consumer — same tradeoff as ngram_jaccard_pairs."""
    sh = with_shingles(df.select(id_col, text_col), text_col).localCheckpoint(
        eager=False
    )
    sig = with_minhash_signature(sh, k=k)
    cands = lsh_candidate_pairs(
        sig, id_col, bands=bands, rows_per_band=k // bands, max_bucket=max_bucket
    )

    shing = sh.select(F.col(id_col).alias("id"), F.col("shingles"))
    j = (
        cands.join(shing.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(shing.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
            ),
        )
        .drop("sh_a", "sh_b")
    )
    return j.where(F.col("jaccard") >= threshold)


def fuzzy_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Fuzzy benchmark decontamination: corpus docs whose MinHash-LSH
    candidate match in the benchmark set verifies at exact Jaccard >=
    threshold. Returns (doc_id, bench_id, jaccard).

    Scale shape: eval sets are small and bounded, so the benchmark's
    banded signature table and shingle table both BROADCAST; the
    corpus is scanned once map-side (shingle + signature + band
    explode) and only LSH candidates shuffle for the exact verify.
    There is no corpus self-join — cost is O(corpus) + O(candidates),
    unlike the near-dup dedup path."""
    rows_per_band = k // bands

    def _banded(df: DataFrame) -> DataFrame:
        # same banding projection (and hash space) as the dedup
        # self-join — via the one shared with_band_hashes
        sig = with_minhash_signature(df, k=k).select(id_col, "signature")
        return with_band_hashes(sig, id_col, bands, rows_per_band).select(
            F.col("id").alias(id_col), "band", "bhash"
        )

    # token-count pre-filter, not where(size(shingles) > 0): the
    # latter re-evaluates the shingle transform inside the pushed-down
    # filter; >= 3 tokens is exactly the non-empty-shingles condition
    has_sh = F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= 3
    corp_sh = (
        with_shingles(corpus.where(has_sh).select(id_col, text_col), text_col)
        .localCheckpoint(eager=False)
    )
    bench_sh = (
        with_shingles(
            benchmark.where(has_sh).select(id_col, text_col), text_col
        )
        .localCheckpoint(eager=False)
    )
    cands = (
        _banded(corp_sh)
        .join(
            F.broadcast(_banded(bench_sh).withColumnRenamed(id_col, "bench_id")),
            ["band", "bhash"],
        )
        .select(id_col, "bench_id")
        .dropDuplicates([id_col, "bench_id"])
    )
    jac = F.expr("size(array_intersect(sh_c, sh_b)) / size(array_union(sh_c, sh_b))")
    return (
        cands.join(corp_sh.select(id_col, F.col("shingles").alias("sh_c")), id_col)
        .join(
            F.broadcast(
                bench_sh.select(
                    F.col(id_col).alias("bench_id"), F.col("shingles").alias("sh_b")
                )
            ),
            "bench_id",
        )
        # Filter on the UNROUNDED similarity (the oracle does the same);
        # rounding is for display only — filtering on the rounded value
        # would admit pairs in [threshold - 5e-7, threshold).
        .where(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 6))
        .select(id_col, "bench_id", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def with_simhash(df: DataFrame, text_col: str) -> DataFrame:
    """Token-level SimHash fingerprint as the ``simhash`` column: bit b
    is set when the sum of
    ±1 votes (per token, from bit b of the token's portable hash) is
    positive. Near-dup docs differ in few bits (Hamming distance).

    The fingerprint is 60 bits from TWO independent 30-bit portable
    hashes (seeds 7 and 13 — the charhash modulus is 1e9+7 < 2^30, so
    a single fold can only vote 30 informative bits; the original
    32-bit variant's top 2 bits were provably always 0). Width
    matters at scale: the pigeonhole pair join buckets on
    60/(max_hamming+1)-bit segments, and the x30 scale probe showed
    8-bit segments (256 buckets) going quadratic once distinct
    fingerprints outgrow the bucket space — 15-bit segments push that
    wall out by 128x, matching the 64-bit production SimHash shape.

    One Arrow-batched pass, fully vectorized: tokens are factorized to
    a per-batch vocabulary (Arrow hash table), the vocabulary is viewed as
    a zero-padded UCS4 codepoint matrix, and the portable polynomial
    fold runs as max_token_len numpy multiply-add-mod sweeps over the
    whole vocabulary at once — no per-token Python loop anywhere. Bit
    votes are a single numpy reduceat over the flattened token-hash
    array. Map-only, no shuffle; bit-identical to the SQL rendering
    (same trim/split/hash semantics: ASCII-space trim, Java-``\\s``
    split, codepoint fold mod 1e9+7). NUL codepoints are handled
    correctly even though NUL is also the UCS4 pad value: the fold
    masks by TRUE token length (from the Python strings), not by
    codepoint value, and a real NUL folds as h*31 + 0 exactly like
    the scalar/SQL path."""
    from pyspark.sql.functions import pandas_udf

    # Java/RE2 \s+ — keep the Python split byte-identical (Python's \s
    # would also match unicode whitespace).
    ws_pat = r"[ \t\n\x0b\f\r]+"
    shifts = np.arange(30, dtype="int64")
    powers = (np.int64(1) << np.arange(60, dtype="int64")).astype("int64")

    def _hash_vocab(uniq: np.ndarray, seed: int = 7) -> np.ndarray:
        """Horner fold h = (h*31 + cp) % MOD over every vocab token at
        once: fixed-width UCS4 view -> (vocab, maxlen) codepoint
        matrix, one vectorized sweep per character position."""
        if len(uniq) == 0:
            return np.empty(0, dtype="int64")
        # TRUE lengths from the Python strings: the UCS4 matrix pads
        # with 0 == NUL, so masking by codepoint value would both skip
        # an embedded NUL (scalar fold does h*31 + 0) and keep folding
        # past it with wrong positional weights. Position < length is
        # the only mask that matches the scalar semantics; a real NUL
        # at a "pad-looking" position folds correctly because its
        # codepoint IS 0. len() over the vocab only (already deduped).
        lens = np.fromiter((len(s) for s in uniq), dtype="int64", count=len(uniq))
        u = np.asarray(uniq, dtype="U")  # fixed-width UCS4, NUL-padded
        maxlen = u.dtype.itemsize // 4
        h = np.full(len(u), seed, dtype="int64")
        if maxlen == 0:
            return h
        cp = u.view(np.uint32).reshape(len(u), maxlen).astype("int64")
        for j in range(maxlen):
            live = lens > j
            if not live.any():
                break
            # (1e9+7)*31 + cp < 2^63: no overflow before the mod
            h = np.where(live, (h * 31 + cp[:, j]) % MOD, h)
        return h

    @pandas_udf("long")
    def simhash_of(texts: pd.Series) -> pd.Series:
        if len(texts) == 0:
            return pd.Series([], dtype="int64")
        # F.trim strips ASCII spaces only; split('') of '' is ['']
        tok_lists = (
            texts.fillna("").str.strip(" ").str.split(ws_pat, regex=True)
        )
        n_toks = tok_lists.str.len().to_numpy(dtype="int64")
        offsets = np.concatenate(([0], np.cumsum(n_toks)[:-1]))
        # Arrow-backed factorize compares whole strings; the default
        # object path hashes NUL-terminated C strings and gives 'ab'
        # and 'ab\x00' one code
        flat = tok_lists.explode().astype("string[pyarrow]")
        codes, uniq = pd.factorize(flat, sort=False)
        vocab_arr = np.asarray(uniq, dtype=object)
        hs1 = _hash_vocab(vocab_arr, seed=7)[codes]
        hs2 = _hash_vocab(vocab_arr, seed=13)[codes]
        parts = [(hs1[:, None] >> shifts) & 1, (hs2[:, None] >> shifts) & 1]
        votes = np.concatenate(parts, axis=1) * 2 - 1  # (tokens, 60)
        per_doc = np.add.reduceat(votes, offsets, axis=0)  # (docs, 60)
        return pd.Series(((per_doc > 0) * powers).sum(axis=1))

    return df.withColumn("simhash", simhash_of(F.col(text_col)))


# distinct-fingerprint count above which the pigeonhole join switches
# from 4x15-bit segment keys (32768 buckets/segment) to the Manku-style
# block-combination keys (C(6,3)=20 keys of 30 bits, ~1e9 buckets/key):
# the x100 third-decade probe caught the 15-bit wall (227x at 6M docs —
# one decade past the 32768-bucket space, within-bucket pairs grow
# quadratically again). Both schemes generate candidate SUPERSETS of
# all Hamming<=3 pairs and the exact bit_count verify follows, so the
# final pair set is IDENTICAL under either key — the switch is a
# result-neutral physical re-plan, priced to where each key wins.
_SH_COMBO_MIN_FP = 1 << 20


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with pigeonhole
    segment bucketing: the fingerprint splits into ``max_hamming + 1``
    segments, and any pair within ``max_hamming`` differing bits must
    agree exactly on at least one segment — so joining per-segment
    buckets and unioning candidates gives FULL recall while keeping the
    join bounded by bucket collisions, never O(n²). (Replaces the
    round-1 upper-half bucket, which silently dropped pairs whose
    differing bits straddled the prefix.)

    Above ``_SH_COMBO_MIN_FP`` distinct fingerprints the key widens to
    block-combination form (Manku et al. 2007): 6 blocks of 10 bits,
    one key per 3-block combination — <=3 differing bits leave >=3
    clean blocks, so some combination matches exactly; 20 keys of 30
    bits keep bucket occupancy O(1) to ~1e9 distinct fingerprints.
    The exact Hamming verify after candidate generation makes both
    key schemes produce the identical final pair set."""
    n_seg = max_hamming + 1
    seg_bits = 60 // n_seg

    # the signature table (id, int64) is referenced by the bucket join,
    # the same-fingerprint join, and both expansion joins — materialize
    # it ONCE so the text-scanning fingerprint UDF never re-runs (at
    # scale this table is 16 bytes/doc and the write is the right
    # call). localCheckpoint, not persist(): checkpoint blocks are
    # released by the ContextCleaner when the DataFrame goes out of
    # scope, whereas persist() pins the table in the session cache
    # manager forever — repeated calls were accumulating cached tables.
    sh = (
        with_simhash(df.select(id_col, text_col), text_col)
        .select(F.col(id_col).alias("id"), "simhash")
        .localCheckpoint(eager=True)
    )
    # Bucket DISTINCT fingerprints, not documents: duplicated content
    # collapses to one signature, so the segment join scales with the
    # distinct-signature count and skewed buckets shrink by the
    # multiplicity factor. Doc pairs are re-expanded afterwards from the
    # (small) near-fingerprint pair set — signature-level
    # pre-aggregation, the same move exact_dedup makes before comparing.
    fp = sh.select("simhash").distinct().localCheckpoint(eager=False)
    if max_hamming == 3:
        # bounded-scalar count picks the key scheme (same precedent as
        # the semdedup codebook size and embedding-LSH plane count);
        # it doubles as the fp checkpoint materialization, so the job
        # is not extra work. Skipped entirely when max_hamming already
        # forces the segment scheme.
        n_fp = fp.count()
    else:
        n_fp = 0
    if n_fp <= _SH_COMBO_MIN_FP or max_hamming != 3:
        segs = fp.select(
            "simhash",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_seg - 1}), s -> struct(s AS seg, "
                    f"(simhash div shiftleft(1L, s * {seg_bits})) % shiftleft(1L, {seg_bits}) AS bucket))"
                )
            ).alias("sb"),
        ).select("simhash", F.col("sb.seg").alias("seg"), F.col("sb.bucket").alias("bucket"))
    else:
        # block-combination keys: 6 blocks of 10 bits, one key per
        # 3-block combination (20 keys x 30 bits)
        from itertools import combinations

        def blk(j: int) -> str:
            return (
                f"(simhash div shiftleft(1L, {10 * j})) % shiftleft(1L, 10)"
            )

        structs = ", ".join(
            f"struct({ci} AS seg, ({blk(b0)}) + ({blk(b1)}) * shiftleft(1L, 10)"
            f" + ({blk(b2)}) * shiftleft(1L, 20) AS bucket)"
            for ci, (b0, b1, b2) in enumerate(combinations(range(6), 3))
        )
        segs = fp.select(
            "simhash",
            F.explode(F.expr(f"array({structs})")).alias("sb"),
        ).select(
            "simhash",
            F.col("sb.seg").alias("seg"),
            F.col("sb.bucket").alias("bucket"),
        )
    a, b = segs.alias("a"), segs.alias("b")
    ham_fp = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    near_fp = (
        a.join(
            b,
            (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("fp_a"), F.col("b.simhash").alias("fp_b")
        )
        .dropDuplicates(["fp_a", "fp_b"])
        .withColumn("hamming", ham_fp)
        .where(F.col("hamming") <= max_hamming)
    )
    # hamming == 0 ⟺ identical fingerprint: pair up docs within a group
    same = (
        sh.alias("x")
        .join(sh.alias("y"), (F.col("x.simhash") == F.col("y.simhash"))
              & (F.col("x.id") < F.col("y.id")))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    # cross-fingerprint pairs: expand each near fingerprint pair by its
    # member docs; normalize so id_a < id_b like the direct formulation
    cross = (
        near_fp.join(sh.alias("da"), F.col("fp_a") == F.col("da.simhash"))
        .join(sh.alias("db"), F.col("fp_b") == F.col("db.simhash"))
        .select(
            F.least(F.col("da.id"), F.col("db.id")).alias("id_a"),
            F.greatest(F.col("da.id"), F.col("db.id")).alias("id_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


# Round bound of both connected-components loops. A loop that reaches
# it without a fixpoint raises instead of returning partial labels.
_CC_MAX_ROUNDS = 20


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    algorithm: str = "label-prop",
) -> DataFrame:
    """Connected components over an undirected edge list. Returns
    (node, component) with component = the minimum node id in the
    component — the deterministic cluster representative. Raises
    ``RuntimeError`` when ``_CC_MAX_ROUNDS`` rounds end without a
    fixpoint.

    ``algorithm='label-prop'`` (default): distributed min-label
    propagation — every node starts labeled with itself; each round a
    node adopts the minimum label among itself and its neighbors; stop
    at fixpoint. Each round is one shuffle-join (labels x edges) + one
    groupBy-min; rounds needed = graph diameter. Near-dup graphs are
    short chains/cliques, so single digits in practice.

    ``algorithm='star'``: the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): each round rewires every node's larger
    neighbors to its local minimum (large-star) then contracts the
    remaining edges toward per-node minima (small-star). Converges in
    O(log² n) rounds REGARDLESS of diameter — the scale path for
    pathological chain graphs where label propagation would need
    diameter rounds.

    Neither wins everywhere (sf0.1, 4 vCPUs, identical labels): on the
    256-edge ``ngram_jaccard_pairs`` graph label-prop takes 0.71 s and
    star 1.26 s; on the 20,000-node ``louvain_one_pass`` choice graph
    label-prop takes 3.42 s and star 2.97 s. Callers pick per graph.
    """
    if algorithm == "star":
        return _cc_star(edges, src, dst)
    if algorithm != "label-prop":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # symmetrize once; labels seeded from the node set
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the edge list once — it is joined every round, and
    # recomputing its lineage (often an expensive pair-generation job)
    # per round would dominate; the edge list is the small output of
    # that job, not the corpus.
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(_CC_MAX_ROUNDS):
        neigh_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("comp").alias("nmin"))
        )
        updated = (
            labels.join(neigh_min, labels["node"] == neigh_min["node2"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nmin"), F.col("comp"))
                ).alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("_chg"),
            )
        )
        # LAZY checkpoint: the convergence aggregate below is the
        # action that materializes it, so each round costs ONE job
        # (the eager form paid a separate materialization job per
        # round before the convergence check — 2x the round floor).
        updated = updated.localCheckpoint(eager=False)
        changed = updated.agg(
            F.sum(F.col("_chg").cast("int")).alias("n")
        ).collect()[0]["n"]
        labels = updated.drop("_chg")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"connected_components(label-prop): no fixpoint in {_CC_MAX_ROUNDS} rounds"
        )
    return labels.withColumnRenamed("comp", "component")


def _cc_star(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is
    stable; at the fixpoint every edge points (node → component min),
    so labels fall out of one groupBy-min. Singleton/self-loop-only
    nodes keep their own id. Convergence is detected by an edge-set
    fingerprint (count + sum of row hashes — one tiny aggregate per
    round, no driver-side edge collection)."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    wu = W.partitionBy("u")
    wuv = W.partitionBy("u").orderBy("v")
    for _ in range(_CC_MAX_ROUNDS):
        # large-star: over the symmetrized graph, for each node u with
        # local min m = min({u} ∪ N(u)), rewire every LARGER neighbor
        # v > u to m. Keeps every component connected, strictly shrinks
        # long chains. The per-u min is a WINDOW over one exchange of
        # the symmetrized edges — the groupBy+self-join form this
        # replaced shuffled the edge list twice and paid a join.
        und = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            und.withColumn(
                "m", F.least(F.col("u"), F.min("v").over(wu))
            )
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # small-star: orient edges large→small, then hang each node and
        # all its smaller neighbors off the local minimum. Same window
        # trick: min + row_number over one exchange of the canonical
        # edge set; row 1 contributes the (u, m) anchor edge the
        # groupBy side used to emit. (large's duplicates are absorbed
        # by this distinct — its own pre-distinct was a pure extra
        # shuffle of the same rows.)
        d = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        dd = d.select(
            "u", "v", F.min("v").over(wu).alias("m"),
            F.row_number().over(wuv).alias("rn"),
        )
        e = (
            dd.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(
                dd.where(F.col("rn") == 1).select("u", F.col("m").alias("v"))
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            # LAZY checkpoint: the fingerprint aggregate below is the
            # materializing action, so a round is ONE job (eager paid
            # a second, separate materialization job per round).
            .localCheckpoint(eager=False)
        )
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # pmod keeps each term < 2^30 so the int64 sum cannot
            # overflow (ANSI mode) even at billions of edges
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1 << 30))), F.lit(0)
            ).alias("s"),
        ).collect()[0]
        fp = (row["n"], row["s"])
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(
            f"connected_components(star): no fixpoint in {_CC_MAX_ROUNDS} rounds"
        )
    labels = e.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def minhash_dedup_against_index(
    batch: DataFrame,
    history: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Incremental MinHash-LSH dedup: NEW documents checked against an
    EXISTING corpus index — the production ingest shape, where the
    history side's signatures/bands are a standing table and only the
    batch is signed per run. No history-history pairs are generated
    (they were deduped when ingested), so the candidate join is
    batch-bands x history-bands on the shared ``with_band_hashes``
    hash space, never a self-join of the full corpus. Exact Jaccard
    verifies candidates only. Returns (batch id, matched history id,
    jaccard >= threshold)."""
    rows_per_band = k // bands

    def _prep(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        # token-count pre-filter == non-empty shingles, without
        # re-evaluating the shingle transform in a pushed-down filter
        has_sh = F.size(F.split(F.trim(F.col(text_col)), r"\s+")) >= 3
        sh = (
            with_shingles(df.where(has_sh).select(id_col, text_col), text_col)
            .localCheckpoint(eager=False)
        )
        sig = with_minhash_signature(sh, k=k).select(id_col, "signature")
        banded = with_band_hashes(sig, id_col, bands, rows_per_band)
        return sh, banded.select("id", "band", "bhash")

    b_sh, b_banded = _prep(batch)
    h_sh, h_banded = _prep(history)
    cands = (
        b_banded.withColumnRenamed("id", "batch_id")
        .join(h_banded.withColumnRenamed("id", "hist_id"), ["band", "bhash"])
        .select("batch_id", "hist_id")
        .dropDuplicates(["batch_id", "hist_id"])
    )
    jac = F.expr("size(array_intersect(sh_b, sh_h)) / size(array_union(sh_b, sh_h))")
    return (
        cands.join(
            b_sh.select(F.col(id_col).alias("batch_id"), F.col("shingles").alias("sh_b")),
            "batch_id",
        )
        .join(
            h_sh.select(F.col(id_col).alias("hist_id"), F.col("shingles").alias("sh_h")),
            "hist_id",
        )
        .where(jac >= threshold)
        .select("batch_id", "hist_id", F.round(jac, 6).alias("jaccard"))
    )
