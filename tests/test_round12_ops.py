"""Round-12 operator tests.

Covers the VERDICT r11 task list: the ICWS production/eval split and
its plan shape, plus (elsewhere) the staged LRS pass and the rate
limiter ring (test_round11_ops.py / test_streaming_misc.py).
"""

from __future__ import annotations

import pytest

from conftest import SF_DIR


# --------------------- ICWS production op vs its eval harness


@pytest.mark.slow
def test_icws_prod_matches_eval_verified_set(spark):
    """The production op's pair list is exactly the eval harness's
    verified set: same candidates (hashed keys collide iff the digit
    strings are equal, up to 2^-64), same cap, same exact verify —
    so len(prod) == n_verified when the eval op runs with the same
    cap. The eval op is UNcapped, so prod's pairs must be a SUBSET of
    eval's verified pairs, and every prod wjaccard must clear the
    threshold."""
    from etl_energy_tracker_spark.queries.textops import (
        _WJ_THRESH,
        icws_weighted_lsh_pairs,
        icws_weighted_lsh_pairs_prod,
    )

    prod = icws_weighted_lsh_pairs_prod(spark, SF_DIR).collect()
    ev = icws_weighted_lsh_pairs(spark, SF_DIR).collect()[0]
    assert 0 < len(prod) <= ev.n_verified
    assert all(r.wjaccard >= float(_WJ_THRESH) for r in prod)
    assert all(r.doc_a < r.doc_b for r in prod)


def test_icws_prod_plan_has_no_all_pairs_stage(spark):
    """VERDICT r11 task 3's plan pin: the eval op's ground-truth side
    joins the df-capped tf relation to itself on the gram key alone
    (an all-pairs stage); the production plan must not contain any
    such join — every capped-tf join is driven by the candidate
    relation through a doc_id key, and the band self-join is keyed on
    the 8-byte xxhash64 bucket."""
    from etl_energy_tracker_spark.queries.textops import (
        icws_weighted_lsh_pairs_prod,
    )

    plan = icws_weighted_lsh_pairs_prod(
        spark, SF_DIR
    )._jdf.queryExecution().optimizedPlan().toString()
    # the hashed band key drives the candidate join
    assert "xxhash64" in plan
    # no cartesian anywhere
    assert "Cartesian" not in plan
    # the eval op's exact branch is a join whose condition pairs a
    # gram equality with a doc_id INEQUALITY and nothing else — the
    # all-pairs signature. (A g-only equality join against the
    # one-row-per-gram df-cap list is fine and present in both.)
    import re

    for cond in re.findall(r"Join Inner, \((.*)\)\n", plan):
        has_g_eq = re.search(r"g#\d+ = g#\d+", cond)
        has_doc_lt = re.search(r"doc_id#\d+L? < doc_id#\d+L?", cond)
        assert not (has_g_eq and has_doc_lt), cond
    # and the exact ground-truth op DOES carry that shape (the test's
    # own control). The eval harness consumes it behind a
    # localCheckpoint, which truncates lineage in ITS optimized plan,
    # so the control inspects the exact op directly.
    from etl_energy_tracker_spark.queries.textops import (
        weighted_jaccard_pairs,
    )

    eval_plan = weighted_jaccard_pairs(
        spark, SF_DIR
    )._jdf.queryExecution().optimizedPlan().toString()
    found = any(
        re.search(r"g#\d+ = g#\d+", c)
        and re.search(r"doc_id#\d+L? < doc_id#\d+L?", c)
        for c in re.findall(r"Join Inner, \((.*)\)\n", eval_plan)
    )
    assert found, "control: eval op should contain the all-pairs join"


# --------------------- streaming state-store evidence (VERDICT r11
# task 5): lastProgress.stateOperators numRowsTotal stays bounded as
# the watermark advances — the eviction-shape proof the batch-probe
# convention exempts these two ops from.

import datetime as dt
import uuid

from pyspark.sql import functions as F


@pytest.mark.slow
def test_full_outer_asym_state_evicts_on_watermark_advance(
    spark, tmp_path
):
    """The asymmetric-delay full-outer join of stream_full_outer_asym_wm
    (clicks_purchases with clicks 2 h, purchases 30 min), driven over a
    two-batch file source. Batch 1 buffers six
    unmatched rows on both sides; batch 2's far-future rows advance
    the global (min-policy) watermark past every batch-1 join window,
    so the state store must EVICT them — numRowsTotal drops from 6 to
    the 2 still-live batch-2 rows instead of growing monotonically
    with input."""
    from etl_energy_tracker_spark.streaming.jobs import clicks_purchases

    src = str(tmp_path / "asym_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, event_type string, event_id long"
    b1 = [
        (base, 1, "click", 11),
        (base + dt.timedelta(minutes=10), 2, "click", 12),
        (base + dt.timedelta(minutes=20), 3, "click", 13),
        (base + dt.timedelta(minutes=5), 4, "purchase", 21),
        (base + dt.timedelta(minutes=15), 5, "purchase", 22),
        (base + dt.timedelta(minutes=25), 6, "purchase", 23),
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = clicks_purchases(stream, "full_outer", "2 hours", "30 minutes")
    name = f"asymst_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        state1 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        # batch 2: one row per side at +30 h -> click horizon 38:00,
        # purchase horizon 39:30, global wm = min = 38:00 — far past
        # every batch-1 window end (latest is 11:25).
        b2 = [
            (base + dt.timedelta(hours=30), 98, "click", 31),
            (base + dt.timedelta(hours=30), 99, "purchase", 32),
        ]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        state2 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    assert state1 == 6  # all batch-1 rows buffered pre-watermark
    assert state2 == 2, (state1, state2)  # batch-1 evicted, batch-2 live
    # the evictions surfaced as null-extended rows for every batch-1 id
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.table(name).collect()
    }
    assert {(None, 11), (None, 12), (None, 13)} <= got
    assert {(21, None), (22, None), (23, None)} <= got


@pytest.mark.slow
def test_rate_limiter_state_rows_bounded_by_users(spark, tmp_path):
    """The rate limiter's GroupState is one row per DISTINCT USER —
    never per event and never per window: a second batch with 40 more
    events and > _RL_KEEP distinct windows for the same two users
    leaves numRowsTotal at exactly 2 (the _RL_KEEP ring evicts old
    windows inside the row; the row count cannot grow with history)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from etl_energy_tracker_spark.streaming.jobs import (
        _RL_KEEP,
        _make_rate_limit_update,
    )

    src = str(tmp_path / "rl_src")
    window_us = 600_000_000  # 10 min
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, event_id long"
    b1 = [
        (base + dt.timedelta(seconds=10 * i), 1 + (i % 2), 100 + i)
        for i in range(8)
    ]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev = stream.select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _make_rate_limit_update(3, window_us),
        outputStructType=(
            "user_id long, n_events long, n_admitted long, "
            "n_rejected long"
        ),
        stateStructType=(
            "wins array<long>, cnts array<long>, "
            "adm long, rej long, tot long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"rlst_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        state1 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        # batch 2: same two users, one event in each of 2*_RL_KEEP + 4
        # NEW 10-minute windows — more windows than the ring retains
        b2 = [
            (
                base + dt.timedelta(hours=1, minutes=10 * w),
                1 + (w % 2),
                200 + w,
            )
            for w in range(2 * _RL_KEEP + 4)
        ]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        state2 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    assert state1 == 2  # one state row per user, not per event
    assert state2 == 2, (state1, state2)  # flat across 40 more events
    # and the running totals kept counting — state rows were UPDATED,
    # not duplicated or dropped
    agg = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    )
    totals = {r.user_id: r.n for r in agg}
    assert totals == {1: 4 + _RL_KEEP + 2, 2: 4 + _RL_KEEP + 2}


# --------------------- exact-substring removal (VERDICT r11 task 7)


def test_exact_substring_remove_python_replay(spark, tmp_path):
    """Independent re-derivation on a synthetic corpus: a pure-Python
    replay of the ExactSubstr rule (cut every token covered by an
    8-token window appearing verbatim in >=2 docs) must equal the op's
    output, covering the semantics the shipped corpus may not show:
    boundary coverage at span edges, a doc removed entirely, repeats
    WITHIN one doc alone do not trigger removal."""
    from etl_energy_tracker_spark.queries.hygieneops import (
        _WIN,
        exact_substring_remove,
    )

    span = " ".join(f"s{i}" for i in range(_WIN + 3))  # 11-token span
    corpus = {
        1: f"a b c {span} d e",           # shares span with doc 2
        2: f"{span}",                      # removed entirely
        3: "unique tokens only here doc three nothing shared",
        4: ("r1 r2 r3 r4 r5 r6 r7 r8 " * 2).strip(),  # self-repeat only
        5: "x1 x2 x3",                     # shorter than the window
    }
    sf = str(tmp_path / "esr_sf")
    spark.createDataFrame(
        [(k, v, "t") for k, v in corpus.items()],
        "doc_id long, text string, source string",
    ).write.parquet(f"{sf}/documents.parquet")

    def replay(docs):
        toks = {d: t.split() for d, t in docs.items()}
        wins = {}  # window -> set of docs
        for d, ts in toks.items():
            for i in range(len(ts) - _WIN + 1):
                wins.setdefault(tuple(ts[i:i + _WIN]), set()).add(d)
        out = {}
        for d, ts in toks.items():
            cov = set()
            for i in range(len(ts) - _WIN + 1):
                if len(wins[tuple(ts[i:i + _WIN])]) >= 2:
                    cov.update(range(i, i + _WIN))
            kept = [t for j, t in enumerate(ts) if j not in cov]
            out[d] = (len(ts), len(ts) - len(kept), " ".join(kept))
        return out

    expect = replay(corpus)
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.kept_text)
        for r in exact_substring_remove(spark, sf).collect()
    }
    assert got == expect
    # the scenario assertions the replay itself is built to cover
    assert got[2][2] == ""            # fully removed doc still present
    assert got[3][1] == 0             # unique doc untouched
    assert got[4][1] == 0             # within-doc repeat alone: kept
    assert got[5][1] == 0             # sub-window doc: kept
    assert got[1][1] == _WIN + 3      # exactly the shared span cut


@pytest.mark.slow
def test_visit_ttl_timer_fires_and_evicts_state(spark, tmp_path):
    """EventTimeTimeout semantics the static-corpus catalog drive
    cannot isolate: a user with ONE event gets a timer at ts + TTL;
    when a later batch advances the watermark past it, the timeout
    branch EMITS the visit and REMOVES the state — numRowsTotal
    drops to just the still-live keys instead of holding every user
    ever seen."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from etl_energy_tracker_spark.streaming.jobs import (
        _TTL_VISIT_MS,
        _TTL_VISIT_US,
    )

    src = str(tmp_path / "ttl_src")
    base = dt.datetime(2024, 1, 1, 10, 0)
    schema = "ts timestamp, user_id long, value double, event_id long"
    b1 = [(base, 1, 1.0, 11), (base + dt.timedelta(minutes=5), 2, 2.0, 12)]
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ev = stream.withWatermark("ts", "2 hours").select(
        "ts",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("vm"),
        "event_id",
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            n, total, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "closed": [1]}
            )
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        n, total, first_us, last_us = (
            state.get if state.exists else (0, 0, -1, -1)
        )
        for r in batch.sort_values(["ts_us", "event_id"]).itertuples():
            n += 1
            total += int(r.vm)
            if first_us < 0:
                first_us = int(r.ts_us)
            last_us = int(r.ts_us)
        state.update((n, total, first_us, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + _TTL_VISIT_MS)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "closed": [0]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, closed long",
        stateStructType="n long, total long, first_us long, last_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    name = f"ttlst_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        state1 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
        # batch 2: user 99 at 20:00 -> watermark 18:00, far past both
        # users' 10:30-ish timers -> both time out and evict
        b2 = [(base + dt.timedelta(hours=10), 99, 3.0, 13)]
        spark.createDataFrame(b2, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
        state2 = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    finally:
        q.stop()
    assert state1 == 2
    assert state2 == 1, (state1, state2)  # users 1,2 evicted; 99 live
    rows = spark.table(name).collect()
    closed = {r.user_id for r in rows if r.closed == 1}
    assert closed == {1, 2}  # timer emissions, not data-driven ones
    assert _TTL_VISIT_US == 1_800_000_000


# --------------------- winnowing fingerprints (MOSS)


def test_winnowing_python_replay(spark, tmp_path):
    """Pure-Python replay of rightmost-min winnowing over synthetic
    docs must equal the op's (n_grams, n_fingerprints, fp_checksum),
    and every fully-in-range window must contain >= 1 selected
    position (the MOSS coverage guarantee)."""
    from etl_energy_tracker_spark.functions.hashing import MOD
    from etl_energy_tracker_spark.queries.textops import (
        _WF_K,
        _WF_W,
        winnowing_fingerprints,
    )

    corpus = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "aaaaaaaaaaaaaaaaaaaa",        # all-equal hashes: tie chains
        3: "abcdefghijklmnopqrstuvwxyz0123456789",
        4: "short",                        # under k chars: no grams
        5: "exactly8",                     # exactly one gram
    }
    sf = str(tmp_path / "wf_sf")
    spark.createDataFrame(
        [(k, v, "t") for k, v in corpus.items()],
        "doc_id long, text string, source string",
    ).write.parquet(f"{sf}/documents.parquet")

    def phash(s):
        h = 7
        for ch in s:
            h = (h * 31 + ord(ch)) % MOD
        return h

    expect = {}
    for d, t in corpus.items():
        if len(t) < _WF_K:
            continue
        hs = [phash(t[i:i + _WF_K]) for i in range(len(t) - _WF_K + 1)]
        n = len(hs)
        selected = set()
        for s0 in range(0, max(n - _WF_W + 1, 0) if n >= _WF_W else 0):
            win = hs[s0:s0 + _WF_W]
            m = min(win)
            p = max(i for i, v in enumerate(win) if v == m) + s0
            selected.add(p)
        expect[d] = (
            n,
            len(selected),
            sum(hs[p] for p in selected),
        )
        # coverage guarantee: every window holds a fingerprint
        for s0 in range(0, max(n - _WF_W + 1, 0)):
            assert any(s0 <= p <= s0 + _WF_W - 1 for p in selected)
    got = {
        r.doc_id: (r.n_grams, r.n_fingerprints, r.fp_checksum)
        for r in winnowing_fingerprints(spark, sf).collect()
    }
    # docs under k chars produce no row (no grams); single-gram docs
    # (n < w) produce a row with zero fingerprints under the
    # fully-in-range window rule
    assert 4 not in got
    assert got[5] == (1, 0, 0)
    for d, exp in expect.items():
        if d == 5:
            continue
        assert got[d] == exp, (d, got[d], exp)


def test_ivm_delta_identity(spark):
    """The IVM algebraic identity the op's output carries: the three
    delta joins sum to exactly the recompute delta (full view minus
    base view) — counts and cent checksums both."""
    from conftest import SF_DIR
    from etl_energy_tracker_spark.queries.relational import (
        incremental_join_maintenance,
    )

    rows = {
        r.component: (r.n, r.cents)
        for r in incremental_join_maintenance(spark, SF_DIR).collect()
    }
    assert rows["incremental_delta"] == rows["recompute_delta"]
    assert rows["incremental_delta"][0] == (
        rows["dR_join_S"][0] + rows["R_join_dS"][0] + rows["dR_join_dS"][0]
    )
    assert rows["dR_join_S"][0] > 0 and rows["R_join_dS"][0] > 0
