"""Independent Python replays for the round-8 operators.

Same protocol as test_round7_ops.py: the driver's DuckDB-oracle hash
compare is the primary gate; each test here is a THIRD implementation
(plain Python over the same parquet, no SQL) so a shared Spark/DuckDB
misconception can't pass silently. Plus the structural guarantees the
oracles can't see: the Misra-Gries candidate superset, the
sorted-neighborhood candidate bound, the DoReMi weight invariants.
"""

from __future__ import annotations

import pytest

import re
from collections import Counter

import pyarrow.parquet as pq

from etl_energy_tracker_spark.queries.dedupops import (
    _LPP_K,
    _lpp_splits,
    lsh_parameter_plan,
)
from etl_energy_tracker_spark.queries.prepops import (
    _DRM_ITERS,
    _doremi_fixed_point,
    doremi_domain_weights,
)
from etl_energy_tracker_spark.queries.relational import (
    _SN_W,
    sorted_neighborhood_pairs,
)
from etl_energy_tracker_spark.queries.sketchops import (
    _MG_K,
    misra_gries_heavy_hitters,
)

from conftest import SF_DIR


def _rows(table: str) -> list[dict]:
    return pq.read_table(f"{SF_DIR}/{table}.parquet").to_pylist()


def _toks(text: str) -> list[str]:
    return re.split(r"\s+", text.strip(), flags=re.ASCII)


# --------------------------------------------------- MG heavy hitters


def test_misra_gries_python_replay(spark):
    counts = Counter()
    for d in _rows("documents"):
        counts.update(_toks(d["text"]))
    n = sum(counts.values())
    want = {
        tok: (c, c * 1000000 // n)
        for tok, c in counts.items()
        if c * _MG_K > n
    }
    got = {
        r.tok: (r.exact_c, r.share_ppm)
        for r in misra_gries_heavy_hitters(spark, SF_DIR).collect()
    }
    assert got == want


def test_misra_gries_summary_is_superset():
    """The mergeable-summary guarantee itself: run the batch-merge MG
    over an adversarial stream in several partition layouts and check
    every true heavy hitter survives in the candidate union."""
    import pandas as pd

    stream = (
        ["hot"] * 500
        + ["warm"] * 200
        + [f"cold{i}" for i in range(400)] * 2
        + ["hot"] * 100
    )
    k = 16
    n = len(stream)
    truth = {t for t, c in Counter(stream).items() if c * k > n}

    def mg(tokens):
        counters: dict[str, int] = {}
        for tok, c in pd.Series(tokens).value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > k:
            kth = sorted(counters.values(), reverse=True)[k]
            counters = {t: c - kth for t, c in counters.items() if c > kth}
        return set(counters)

    for parts in (1, 3, 7):
        step = (n + parts - 1) // parts
        cand = set()
        for p in range(parts):
            cand |= mg(stream[p * step : (p + 1) * step])
        assert truth <= cand, parts


# --------------------------------------------- sorted neighborhood


def test_sorted_neighborhood_replay(spark):
    names = sorted({p["p_name"] for p in _rows("part")})

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    want = set()
    for i, a in enumerate(names):
        for j in range(i + 1, min(i + _SN_W, len(names))):
            if lev(a, names[j]) <= 4:
                want.add((a, names[j], j - i))
    got = {
        (r.name_a, r.name_b, r.rank_dist)
        for r in sorted_neighborhood_pairs(spark, SF_DIR).collect()
    }
    assert got == want
    # candidate bound: emitted pairs all within the window
    assert all(1 <= d < _SN_W for _, _, d in got)


# ----------------------------------------------------------- DoReMi


def test_doremi_python_replay(spark):
    docs = _rows("documents")
    toks: dict[str, int] = {}
    ndocs: dict[str, int] = {}
    for d in docs:
        toks[d["source"]] = toks.get(d["source"], 0) + len(_toks(d["text"]))
        ndocs[d["source"]] = ndocs.get(d["source"], 0) + 1
    sources = sorted(toks)
    tot = sum(toks.values())
    loss = {s: toks[s] * 1000000 // ndocs[s] for s in sources}
    a = {s: toks[s] * 1000000 // tot for s in sources}
    ref = dict(a)
    for _ in range(_DRM_ITERS):
        avg = sum(a[s] * loss[s] for s in sources) // 1000000
        raw = {
            s: max((a[s] * ((loss[s] * 1000000) // max(avg, 1))) // 1000000, 1)
            for s in sources
        }
        t = sum(raw.values())
        a = {s: raw[s] * 1000000 // t for s in sources}
    got = {r.source: r for r in doremi_domain_weights(spark, SF_DIR).collect()}
    assert set(got) == set(sources)
    for s in sources:
        assert got[s].ref_ppm == ref[s], s
        assert got[s].doremi_ppm == a[s], s
        assert got[s].loss_micro == loss[s], s
    # invariants: weights stay a (truncated) distribution and mass
    # moves toward higher-loss domains
    assert 1000000 - len(sources) <= sum(a.values()) <= 1000000
    hi = max(sources, key=lambda s: loss[s])
    lo = min(sources, key=lambda s: loss[s])
    assert a[hi] >= ref[hi]
    assert a[lo] <= ref[lo]


def test_doremi_zero_token_corpus():
    """No tokens means a zero total: the reference share is NULL (the
    oracle's integer division by zero) and the weights come out uniform,
    instead of a ZeroDivisionError."""
    out = _doremi_fixed_point([("a", 2, 0), ("b", 1, 0), ("c", 5, 0)])
    assert [(s, loss, ref, a) for s, _, _, loss, ref, a in out] == [
        ("a", 0, None, 333333),
        ("b", 0, None, 333333),
        ("c", 0, None, 333333),
    ]
    assert _doremi_fixed_point([]) == []


# ------------------------------------------------- LSH parameter plan


@pytest.mark.slow
def test_lsh_parameter_plan_replay(spark):
    rows = {
        (r.bands, r.rows_per_band): r
        for r in lsh_parameter_plan(spark, SF_DIR).collect()
    }
    assert set(rows) == {(_LPP_K // r, r) for _, r in _lpp_splits()}
    def powc(x: float, n: int) -> float:
        # the same exponentiation-by-squaring multiply chain the SQL
        # uses — plain x**n may differ in the last ulp and flip a ppm
        if n == 1:
            return x
        half = powc(x, n // 2)
        sq = half * half
        return sq * x if n % 2 else sq

    for (b, r), row in rows.items():
        # python replay of the S-curve in ppm
        p = {
            s: round((1.0 - powc(1.0 - powc(s / 100.0, r), b)) * 1000000)
            for s in range(1, 100)
        }
        s50 = min(s for s in p if p[s] >= 500000)
        assert row.s50_centi == s50, (b, r)
        assert row.fp_ppm == sum(v for s, v in p.items() if s < 50) // 99
        assert row.fn_ppm == (
            sum(1000000 - v for s, v in p.items() if s >= 50) // 99
        )
        assert row.total_err_ppm == (
            sum(v for s, v in p.items() if s < 50)
            + sum(1000000 - v for s, v in p.items() if s >= 50)
        ) // 99
    # more rows per band -> tighter curve -> higher s50 threshold
    s50s = [rows[(b, r)].s50_centi for b, r in sorted(rows, key=lambda x: x[1])]
    assert s50s == sorted(s50s)


# ------------------------------------------------- KMV theta sketch


def test_kmv_theta_python_replay(spark):
    from etl_energy_tracker_spark.queries.sketchops import (
        _KMV_K,
        _KMV_MOD,
        kmv_theta_setops,
    )

    ev = _rows("events")
    a = {e["user_id"] for e in ev if e["event_type"] == "click"}
    b = {e["user_id"] for e in ev if e["event_type"] == "purchase"}

    def h(uid: int) -> int:
        return ((uid % _KMV_MOD) * 2654435761 + 40503) % _KMV_MOD

    ha, hb = {h(x) for x in a}, {h(x) for x in b}
    ka = set(sorted(ha)[:_KMV_K])
    kb = set(sorted(hb)[:_KMV_K])
    u = ha | hb if len(ka | kb) <= _KMV_K else None
    ku = set(sorted(ka | kb)[:_KMV_K])
    row = kmv_theta_setops(spark, SF_DIR).collect()[0]
    assert row.exact_a == len(a)
    assert row.exact_b == len(b)
    assert row.exact_union == len(a | b)
    assert row.exact_inter == len(a & b)

    def est(hs, ks):
        if len(hs) <= _KMV_K:
            return len(hs)
        return (_KMV_K - 1) * _KMV_MOD // max(ks)

    assert row.est_a == est(ha, ka)
    assert row.est_b == est(hb, kb)
    nu = len(ha | hb)
    matches = len(ku & ka & kb)
    if nu <= _KMV_K:
        assert row.est_union == nu
        assert row.est_inter == matches
    else:
        eu = (_KMV_K - 1) * _KMV_MOD // max(ku)
        assert row.est_union == eu
        assert row.est_inter == matches * eu // _KMV_K
    # sketch-regime sanity when it applies: estimate within 25% of exact
    if len(ha) > _KMV_K:
        assert abs(row.est_a - row.exact_a) * 4 <= row.exact_a


# ------------------------------------------- rendezvous rebalance


def test_rendezvous_python_replay(spark):
    from etl_energy_tracker_spark.queries.relational import (
        _HRW_MOD,
        _HRW_N,
        rendezvous_shard_rebalance,
    )

    keys = sorted({e["user_id"] for e in _rows("events")})

    def shard(uid: int, n: int) -> int:
        best, bs = -1, -1
        for s in range(n):
            sc = ((uid % _HRW_MOD) * ((s * 2654435761 + 97) % _HRW_MOD) + s) % _HRW_MOD
            if sc > best:
                best, bs = sc, s
        return bs

    before = {k: shard(k, _HRW_N) for k in keys}
    after = {k: shard(k, _HRW_N + 1) for k in keys}
    want = {}
    for k in keys:
        s = after[k]
        st, mv, na = want.get(s, (0, 0, 0))
        want[s] = (
            st + (before[k] == s),
            mv + (before[k] != s),
            na + 1,
        )
    got = {
        r.shard: (r.n_stayed, r.n_moved_in, r.n_after)
        for r in rendezvous_shard_rebalance(spark, SF_DIR).collect()
    }
    assert got == want
    # HRW guarantee: every moved key lands on the NEW shard (the old
    # argmax is unchanged unless the new shard's score beats it), and
    # the moved fraction is about 1/(N+1)
    moved = sum(mv for _, mv, _ in got.values())
    for s, (_, mv, _) in got.items():
        if s != _HRW_N:
            assert mv == 0, s
    assert moved <= 2 * len(keys) // (_HRW_N + 1) + 5


# --------------------------------------------------- FIM transform


def test_fim_transform_python_replay(spark):
    from etl_energy_tracker_spark.functions.hashing import MOD
    from etl_energy_tracker_spark.queries.llmprep import (
        _FIM_MIN_TOKS,
        _FIM_RATE_PCT,
        fim_transform_spans,
    )

    def ch(s: str) -> int:
        h = 7
        for c in s:
            h = (h * 31 + ord(c)) % MOD
        return h

    want = {}
    n_fim = 0
    for d in _rows("documents"):
        did = d["doc_id"]
        toks = _toks(d["text"])
        n = len(toks)
        h1 = ((did % MOD) * 2654435761 + 13) % MOD
        h2 = ((did % MOD) * 2654435761 + 31337) % MOD
        h3 = ((did % MOD) * 2654435761 + 271828) % MOD
        h4 = ((did % MOD) * 2654435761 + 997) % MOD
        if n >= _FIM_MIN_TOKS and h4 % 100 < _FIM_RATE_PCT:
            mode = "psm" if h3 % 2 == 0 else "spm"
        else:
            mode = "plain"
        c1 = min(1 + h1 % (n - 1), 1 + h2 % (n - 1))
        c2 = max(1 + h1 % (n - 1), 1 + h2 % (n - 1))
        if mode == "plain":
            out = " ".join(toks)
            lens = (n, 0, 0)
        else:
            pj = " ".join(toks[:c1])
            mj = " ".join(toks[c1:c2])
            sj = " ".join(toks[c2:])
            out = (
                f"P|{pj}|S|{sj}|M|{mj}"
                if mode == "psm"
                else f"S|{sj}|P|{pj}|M|{mj}"
            )
            lens = (c1, c2 - c1, n - c2)
            n_fim += 1
        want[did] = (mode, n, *lens, ch(out))
    got = {
        r.doc_id: (
            r.fim_mode,
            r.n_tokens,
            r.len_prefix,
            r.len_middle,
            r.len_suffix,
            r.out_hash,
        )
        for r in fim_transform_spans(spark, SF_DIR).collect()
    }
    assert got == want
    # the FIM rate actually lands near 50% of eligible docs
    assert n_fim > 0.3 * len(want)


@pytest.mark.slow
def test_fim_transform_degenerate_docs(spark, tmp_path):
    # ADVICE r8: '% (n - 1)' was unguarded — an empty or single-token
    # doc made it modulo-by-zero (REMAINDER_BY_ZERO under Spark 4 ANSI
    # while DuckDB returned NULL). Now '% GREATEST(n - 1, 1)' in both
    # engines; tiny docs must pass through as 'plain' without crashing.
    import duckdb

    from etl_energy_tracker_spark.queries.llmprep import fim_transform_spans
    from etl_energy_tracker_spark.queries.catalog import oracle_sql

    rows = [
        (1, "", "en", "web", 0),
        (2, "word", "en", "web", 4),
        (3, "   ", "en", "web", 3),
        (4, "two words here now make ten tokens for fim eligibility", "en", "web", 55),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = fim_transform_spans(spark, str(tmp_path)).collect()
    got = {r.doc_id: (r.fim_mode, r.n_tokens) for r in out}
    assert got[1][0] == "plain" and got[2][0] == "plain" and got[3][0] == "plain"
    # oracle side runs on the same degenerate table without NULL rows
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    orows = con.sql(oracle_sql()["fim_transform_spans"]).fetchall()
    assert len(orows) == len(out)
    assert all(v is not None for row in orows for v in row)


# ------------------------------------------------------- pass@k


def test_pass_at_k_python_replay(spark):
    from math import comb

    from etl_energy_tracker_spark.queries.evalops import (
        _PAK_KS,
        _PAK_SCALE,
        pass_at_k_eval,
    )

    tasks: dict[int, list[float]] = {}
    for e in _rows("events"):
        tasks.setdefault(e["user_id"], []).append(e["value"])

    def pass_ppm(n: int, c: int, k: int) -> int:
        if c == 0:
            return 0
        if n - c < k:
            return 1000000
        acc = _PAK_SCALE
        for i in range(k):
            acc = acc * max(n - c - i, 0) // (n - i)
        return 1000000 - acc // 1000000

    per_k = {k: [] for k in _PAK_KS}
    for vals in tasks.values():
        n, c = len(vals), sum(v >= 100 for v in vals)
        for k in _PAK_KS:
            per_k[k].append(pass_ppm(n, c, k))
            # the scaled-integer fold tracks the exact binomial ratio
            # to within 1 ppm
            if c > 0 and n - c >= k:
                exact = 1000000 - comb(n - c, k) * 1000000 // comb(n, k)
                assert abs(per_k[k][-1] - exact) <= 1
    row = pass_at_k_eval(spark, SF_DIR).collect()[0]
    assert row.n_tasks == len(tasks)
    for k in _PAK_KS:
        want = sum(per_k[k]) // len(tasks)
        assert getattr(row, f"mean_pass_at_{k}_ppm") == want, k
    # monotone in k: sampling more attempts can only help
    assert (
        row.mean_pass_at_1_ppm
        <= row.mean_pass_at_5_ppm
        <= row.mean_pass_at_10_ppm
    )


def test_pass_at_k_fold_large_n_no_overflow(spark):
    # ADVICE r8: the old fold's acc * (n-c-i) intermediate hit int64 at
    # n ~ 9.2e6 (Spark ANSI overflow error; DuckDB silently promoted to
    # HUGEINT — an engine divergence). The divide-before-multiply form
    # is exact and int64-safe to n ~ 3e9; prove it at n = 2e7, which
    # the old form could not evaluate, against unlimited-precision
    # Python on all three engines' truncation sequence.
    import duckdb

    from etl_energy_tracker_spark.queries.evalops import (
        _PAK_SCALE,
        _pak_fold_duck,
        _pak_fold_spark,
    )

    n, c, k = 20_000_000, 3, 10
    sdf = spark.sql(
        f"SELECT CAST({n} AS BIGINT) AS n, CAST({c} AS BIGINT) AS c"
    ).selectExpr(f"{_pak_fold_spark(k)} AS acc")
    got_spark = sdf.collect()[0].acc
    got_duck = duckdb.sql(
        f"SELECT {_pak_fold_duck(k)} AS acc FROM "
        f"(SELECT CAST({n} AS BIGINT) AS n, CAST({c} AS BIGINT) AS c)"
    ).fetchone()[0]
    acc = _PAK_SCALE
    for i in range(k):  # exact reference: python ints never overflow
        acc = acc * max(n - c - i, 0) // (n - i)
    assert got_spark == got_duck == acc
    assert 0 < acc < _PAK_SCALE


# ------------------------------------------------------- nDCG@10


def test_ndcg_python_replay(spark):
    from etl_energy_tracker_spark.queries.evalops import (
        _NDCG_D,
        _NDCG_K,
        ndcg_at_k_eval,
    )

    per_user: dict[int, list[tuple[int, int, int]]] = {}
    M = 1_000_000_007
    for e in _rows("events"):
        v = e["value"]
        gain = 7 if v >= 200 else 3 if v >= 100 else 1 if v >= 50 else 0
        score = ((e["event_id"] % M) * 2654435761 + 101) % M
        per_user.setdefault(e["user_id"], []).append(
            (gain, score, e["event_id"])
        )
    total = 0
    zero = 0
    for items in per_user.values():
        by_model = sorted(items, key=lambda x: (-x[1], x[2]))
        by_ideal = sorted(items, key=lambda x: (-x[0], x[2]))
        dcg = sum(
            g * _NDCG_D[r]
            for r, (g, _, _) in enumerate(by_model[:_NDCG_K])
        )
        idcg = sum(
            g * _NDCG_D[r]
            for r, (g, _, _) in enumerate(by_ideal[:_NDCG_K])
        )
        if idcg > 0:
            total += dcg * 1000000 // idcg
        else:
            total += 1000000
            zero += 1
    row = ndcg_at_k_eval(spark, SF_DIR).collect()[0]
    assert row.n_queries == len(per_user)
    assert row.mean_ndcg_ppm == total // len(per_user)
    assert row.n_zero_relevance == zero
    # random model scores should land strictly between 0 and perfect
    assert 0 < row.mean_ndcg_ppm < 1000000


# --------------------------------------------------- burst Viterbi


def test_burst_viterbi_python_replay(spark):
    from etl_energy_tracker_spark.queries.timeops import (
        burst_detection_viterbi,
    )

    counts: dict[str, dict[int, int]] = {}
    ts_all = []
    for e in _rows("events"):
        t = int(e["ts"].timestamp() // 3600)
        ts_all.append(t)
        counts.setdefault(e["event_type"], {}).setdefault(t, 0)
        counts[e["event_type"]][t] += 1
    h0, h1 = min(ts_all), max(ts_all)
    want = {}
    for ty, per_h in counts.items():
        ns = [per_h.get(t, 0) for t in range(h0, h1 + 1)]
        hh = len(ns)
        total = sum(ns)
        gamma = total
        v0 = v1 = None
        n_burst = longest = cur = 0
        for n in ns:
            e0 = abs(n * hh - total)
            e1 = abs(n * hh - 2 * total)
            if v0 is None:
                v0, v1 = e0, e1 + gamma
            else:
                v0, v1 = (
                    e0 + min(v0, v1 + gamma),
                    e1 + min(v1, v0 + gamma),
                )
            if v1 < v0:
                cur += 1
                n_burst += 1
                longest = max(longest, cur)
            else:
                cur = 0
        want[ty] = (hh, n_burst, longest, min(v0, v1))
    got = {
        r.event_type: (
            r.n_hours,
            r.n_burst_hours,
            r.longest_burst,
            r.final_cost,
        )
        for r in burst_detection_viterbi(spark, SF_DIR).collect()
    }
    assert got == want
    # the label run structure is consistent: longest streak can't
    # exceed the burst-hour total, and some type shows a real burst
    assert all(l <= b for _, b, l, _ in got.values())
    assert any(b > 0 for _, b, _, _ in got.values())


# ------------------------------------- feature-staleness as-of join


def test_feature_staleness_python_replay(spark):
    from etl_energy_tracker_spark.queries.timeops import (
        _FS_TOL_S,
        asof_join_feature_staleness,
    )

    per_user: dict[int, list] = {}
    for e in _rows("events"):
        if e["event_type"] in ("view", "purchase"):
            per_user.setdefault(e["user_id"], []).append(e)
    want = {}
    for u, evs in per_user.items():
        evs.sort(
            key=lambda e: (
                e["ts"],
                0 if e["event_type"] == "view" else 1,
                e["event_id"],
            )
        )
        f_ts = f_val = None
        for e in evs:
            if e["event_type"] == "view":
                f_ts, f_val = e["ts"], e["value"]
            else:
                if f_ts is None:
                    want[e["event_id"]] = (None, None, 0)
                else:
                    st = (
                        int(e["ts"].timestamp() * 1e6)
                        - int(f_ts.timestamp() * 1e6)
                    ) // 1000000
                    fresh = st <= _FS_TOL_S
                    want[e["event_id"]] = (
                        st,
                        f_val if fresh else None,
                        1 if fresh else 0,
                    )
    got = {
        r.event_id: (r.staleness_s, r.feature_value, r.is_fresh)
        for r in asof_join_feature_staleness(spark, SF_DIR).collect()
    }
    assert got == want
    # the tolerance actually bites: some requests are stale
    assert any(f == 0 for _, _, f in got.values())
    assert any(f == 1 for _, _, f in got.values())


# --------------------------------------------- V-optimal histogram


def test_vopt_histogram_python_replay(spark):
    from etl_energy_tracker_spark.queries.relational import (
        vopt_histogram_boundaries,
    )

    counts: dict[int, int] = {}
    for li in _rows("lineitem"):
        v = int(li["l_quantity"])
        counts[v] = counts.get(v, 0) + 1
    vals = sorted(counts)
    pre = []
    pn = ps = pq = 0
    for v in vals:
        c = counts[v]
        pn += c
        ps += c * v
        pq += c * v * v
        pre.append((v, pn, ps, pq))
    tot = pre[-1]

    def cost(n, s, q):
        if n == 0:
            return 0
        m = s * 1000 // n
        return q * 1000000 - 2 * m * s * 1000 + n * m * m

    best = None
    for i in range(len(pre)):
        for j in range(i + 1, len(pre)):
            for k in range(j + 1, len(pre) - 1):
                a, b, c = pre[i], pre[j], pre[k]
                sse = (
                    cost(a[1], a[2], a[3])
                    + cost(b[1] - a[1], b[2] - a[2], b[3] - a[3])
                    + cost(c[1] - b[1], c[2] - b[2], c[3] - b[3])
                    + cost(tot[1] - c[1], tot[2] - c[2], tot[3] - c[3])
                )
                key = (sse, a[0], b[0], c[0])
                if best is None or key < best:
                    best = key
    row = vopt_histogram_boundaries(spark, SF_DIR).collect()[0]
    assert (row.sse_micro, row.cut1, row.cut2, row.cut3) == best
    # V-optimal beats (or ties) the naive equi-width split
    ew = [vals[len(vals) // 4], vals[len(vals) // 2], vals[3 * len(vals) // 4]]
    idx = {v: p for p, (v, *_ ) in enumerate(pre)}
    a, b, c = (pre[idx[x]] for x in ew)
    ew_sse = (
        cost(a[1], a[2], a[3])
        + cost(b[1] - a[1], b[2] - a[2], b[3] - a[3])
        + cost(c[1] - b[1], c[2] - b[2], c[3] - b[3])
        + cost(tot[1] - c[1], tot[2] - c[2], tot[3] - c[3])
    )
    assert row.sse_micro <= ew_sse


# --------------------------- hypothesis properties for r8 kernels


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.sampled_from([f"t{i}" for i in range(30)]),
        min_size=1,
        max_size=400,
    ),
    st.integers(2, 5),
)
def test_mg_superset_property(stream, parts):
    """Misra-Gries batch-merge superset guarantee under random streams
    and partition layouts (the property the production fan-out rests
    on)."""
    import pandas as pd

    k = 8
    n = len(stream)
    truth = {t for t, c in Counter(stream).items() if c * k > n}

    def mg(tokens):
        counters: dict[str, int] = {}
        for tok, c in pd.Series(tokens).value_counts().items():
            counters[tok] = counters.get(tok, 0) + int(c)
        if len(counters) > k:
            kth = sorted(counters.values(), reverse=True)[k]
            counters = {t: c - kth for t, c in counters.items() if c > kth}
        return set(counters)

    step = (n + parts - 1) // parts
    cand = set()
    for p in range(parts):
        chunk = stream[p * step : (p + 1) * step]
        if chunk:
            cand |= mg(chunk)
    assert truth <= cand


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(1, 10**12), min_size=1, max_size=60, unique=True),
    st.integers(2, 20),
)
def test_hrw_minimal_movement_property(keys, n):
    """HRW guarantee under arbitrary keys and shard counts: adding a
    shard only ever moves keys TO the new shard."""
    M = 1_000_000_007

    def shard(uid, nn):
        best, bs = -1, -1
        for s in range(nn):
            sc = ((uid % M) * ((s * 2654435761 + 97) % M) + s) % M
            if sc > best:
                best, bs = sc, s
        return bs

    for k in keys:
        b, a = shard(k, n), shard(k, n + 1)
        assert a == b or a == n


@settings(max_examples=40, deadline=None)
@given(
    st.sets(st.integers(0, 10**6), min_size=1, max_size=800),
    st.sets(st.integers(0, 10**6), min_size=1, max_size=800),
)
def test_kmv_estimator_property(a, b):
    """KMV estimate is exact below k and within the ~1/sqrt(k) error
    band above it, for random id sets; the union sketch never
    over-counts the exact union by more than the same band."""
    M = 1_000_000_007
    K = 64

    def h(uid):
        return ((uid % M) * 2654435761 + 40503) % M

    def est(ids):
        hs = sorted({h(x) for x in ids})
        if len(hs) <= K:
            return len(hs)
        return (K - 1) * M // hs[K - 1]

    for s in (a, b, a | b):
        e = est(s)
        hs = {h(x) for x in s}
        if len(hs) <= K:
            assert e == len(hs)
        else:
            # 5 standard deviations of the KMV estimator
            assert abs(e - len(hs)) <= 5 * len(hs) // 8 + 2


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 50), min_size=3, max_size=120),
    st.integers(1, 40),
)
def test_burst_viterbi_cost_property(ns, gamma):
    """The two-state Viterbi running cost is always <= the stay-in-base
    path cost, and labels respond to the transition penalty
    monotonically (higher gamma never creates MORE bursts)."""

    def run(g):
        hh, total = len(ns), sum(ns)
        v0 = v1 = None
        n_burst = 0
        base_path = 0
        for n in ns:
            e0 = abs(n * hh - total)
            e1 = abs(n * hh - 2 * total)
            base_path += e0
            if v0 is None:
                v0, v1 = e0, e1 + g
            else:
                v0, v1 = e0 + min(v0, v1 + g), e1 + min(v1, v0 + g)
            if v1 < v0:
                n_burst += 1
            assert min(v0, v1) <= base_path
        return n_burst

    assert run(gamma * 10**6) <= 1 or run(gamma) >= run(gamma * 10**6)


# ------------------------------------------------ planner advisors


def test_salt_plan_python_replay(spark):
    from etl_energy_tracker_spark.queries.relational import (
        _SALT_TARGET_ROWS,
        salt_plan_report,
    )

    cnt = Counter(e["event_type"] for e in _rows("events"))
    t = _SALT_TARGET_ROWS
    want = {}
    for k, c in cnt.items():
        salt = (c + t - 1) // t
        want[k] = (c, salt, (c + salt - 1) // salt)
    got = {
        r.key: (r.cnt, r.salt_n, r.max_task_rows)
        for r in salt_plan_report(spark, SF_DIR).collect()
    }
    assert got == want
    # the plan actually caps per-task rows at the target
    assert all(m <= t for _, _, m in got.values())


def test_shuffle_advisor_python_replay(spark):
    from etl_energy_tracker_spark.queries.relational import (
        _SPA_TABLES,
        _SPA_TARGET_BYTES,
        shuffle_partition_advisor,
    )

    want = {}
    for t, cols in _SPA_TABLES.items():
        rows = _rows(t)
        total = 0
        for r in rows:
            w = 0
            for c, kind in cols:
                if kind == "fixed8":
                    w += 8
                elif kind == "fixed4":
                    w += 4
                elif kind == "str":
                    w += len(r[c]) + 4
                else:
                    w += len(r[c]) * 4 + 4
            total += w
        n = len(rows)
        want[t] = (
            n,
            total,
            max((total + _SPA_TARGET_BYTES - 1) // _SPA_TARGET_BYTES, 1),
            total // max(n, 1),
        )
    got = {
        r.table_name: (
            r.n_rows,
            r.est_bytes,
            r.suggested_partitions,
            r.avg_row_bytes,
        )
        for r in shuffle_partition_advisor(spark, SF_DIR).collect()
    }
    assert got == want


# ---------------------------------------------------- SPRT monitor


def test_sprt_python_replay(spark):
    from etl_energy_tracker_spark.queries.insightops import (
        _SPRT_A,
        _SPRT_BUCKETS,
        _SPRT_F,
        _SPRT_S,
        sequential_sprt_monitor,
    )

    per_bucket: dict[int, list] = {}
    for e in _rows("events"):
        per_bucket.setdefault(e["user_id"] % _SPRT_BUCKETS, []).append(e)
    want = {}
    for b, evs in per_bucket.items():
        evs.sort(key=lambda e: (e["ts"], e["event_id"]))
        cum = 0
        first = None
        decision = "undecided"
        for i, e in enumerate(evs, 1):
            cum += _SPRT_S if e["event_type"] == "purchase" else _SPRT_F
            if first is None and (cum >= _SPRT_A or cum <= -_SPRT_A):
                first = i
                decision = "h1" if cum >= _SPRT_A else "h0"
        want[b] = (len(evs), first, decision, cum)
    got = {
        r.bucket: (r.n_obs, r.first_cross_n, r.decision, r.final_llr_micro)
        for r in sequential_sprt_monitor(spark, SF_DIR).collect()
    }
    assert got == want


# ------------------------------------------- hourly trend regression


def test_hourly_trend_python_replay(spark):
    from etl_energy_tracker_spark.queries.timeops import (
        hourly_trend_regression,
    )

    h0 = min(
        int(e["ts"].timestamp() * 1e6) // 3600000000 for e in _rows("events")
    )
    grid: dict[tuple, list[int]] = {}
    for e in _rows("events"):
        x = int(e["ts"].timestamp() * 1e6) // 3600000000 - h0
        v = e["value"]
        cents = int(v * 100 + (0.5 if v >= 0 else -0.5))
        key = (e["event_type"], x)
        g = grid.setdefault(key, [0, 0])
        g[0] += 1
        g[1] += cents
    per_type: dict[str, list[tuple[int, int]]] = {}
    for (ty, x), (w, cents) in grid.items():
        # both engines truncate integer division toward zero
        q = abs(cents) // w
        ym = q if cents >= 0 else -q
        per_type.setdefault(ty, []).append((x, ym))
    want = {}
    for ty, pts in per_type.items():
        n = len(pts)
        sx = sum(x for x, _ in pts)
        # centered form, exactly as both engines compute it: integer
        # center m = sx trunc-div n (x >= 0 so // == trunc here), then
        # exact integer sums, then one fixed IEEE double sequence
        m = sx // n
        sxc = sum(x - m for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxyc = sum((x - m) * y for x, y in pts)
        sxxc = sum((x - m) * (x - m) for x, _ in pts)
        frac = (float(n) * float(sxyc) - float(sxc) * float(sy)) / (
            float(n) * float(sxxc) - float(sxc) * float(sxc)
        )
        slope = int(round(1000000.0 * frac))
        intercept = int(round((float(sy) - frac * float(sx)) / float(n)))
        want[ty] = (n, slope, intercept)
    got = {
        r.event_type: (
            r.n,
            r.slope_microcents_per_hour,
            r.intercept_cents,
        )
        for r in hourly_trend_regression(spark, SF_DIR).collect()
    }
    assert got == want
