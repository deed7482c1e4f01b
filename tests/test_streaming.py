"""Structured Streaming tests: harness + native windows + NFA state ops.

Event-at-a-time parity (reference AppRunner tests): events arrive across
multiple micro-batches; stateful operators must carry state between them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine_spark.streaming.harness import StreamRunner
from engine_spark.streaming import nfa, windows as SW


def _ts(minute: int, second: int = 0) -> str:
    return f"2026-01-01T12:{minute:02d}:{second:02d}.000Z"


def test_streaming_tumbling_window(spark):
    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "v": 2.0},
        {"ts": _ts(6), "user": "u1", "v": 5.0},
    ])
    # second batch advances the watermark past the first window
    r.send([{"ts": _ts(20), "user": "u1", "v": 0.0}])
    r.run(lambda df: SW.tumbling(df, "ts", "5 minutes", ["user"],
                                 [F.sum("v").alias("s")]))
    got = {(str(x["window_start"]), x["s"]) for x in r.shutdown()}
    assert ("2026-01-01 12:00:00", 3.0) in got
    assert ("2026-01-01 12:05:00", 5.0) in got


def test_streaming_session_window(spark):
    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "v": 2.0},
        {"ts": _ts(10), "user": "u1", "v": 7.0},
    ])
    r.send([{"ts": _ts(30), "user": "u1", "v": 0.0}])  # advance watermark
    r.run(lambda df: SW.session(df, "ts", "3 minutes", ["user"],
                                [F.count(F.lit(1)).alias("n")]))
    ns = sorted(x["n"] for x in r.shutdown())
    assert ns[:2] == [1, 2]  # {12:00,12:01} session and {12:10} session


def _login_then_purchase(df):
    """`e1=login -> e2=purchase WITHIN 10 min` per user, payload ``v``."""
    return nfa.chain_stream(
        df, "ts", "user",
        steps=[
            ("e1", F.col("etype") == "login"),
            ("e2", F.col("etype") == "purchase"),
        ],
        within_seconds=600, payload_cols=["v"],
    )


def _login_not_purchase(df, late="0 seconds"):
    """`e1=login -> NOT purchase FOR 10 min` per user, payload ``v``."""
    return nfa.chain_stream(
        df, "ts", "user",
        steps=[("e1", F.col("etype") == "login")],
        within_seconds=600, payload_cols=["v"], late=late,
        absent_final=(F.col("etype") == "purchase", 600.0),
    )


def test_nfa_followed_by_across_microbatches(spark):
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0}])
    # B arrives in a LATER micro-batch — state must persist
    r.send([{"ts": _ts(2), "user": "u1", "etype": "purchase", "v": 9.0}])
    r.run(_login_then_purchase)
    out = r.shutdown()
    assert len(out) == 1
    m = out[0]
    delay_seconds = (m["e2_ts"] - m["e1_ts"]).total_seconds()
    assert (m["user"], m["e1_v"], m["e2_v"], delay_seconds) == (
        "u1", 1.0, 9.0, 120.0
    )


def test_nfa_followed_by_respects_within(spark):
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0}])
    r.send([{"ts": _ts(30), "user": "u1", "etype": "purchase", "v": 9.0}])
    r.run(_login_then_purchase)
    assert r.shutdown() == []  # 30 min > WITHIN 10 min


def test_nfa_every_semantics_multiple_starts(spark):
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "etype": "login", "v": 2.0},
        {"ts": _ts(2), "user": "u1", "etype": "purchase", "v": 9.0},
    ])
    r.run(_login_then_purchase)
    out = r.shutdown()
    # EVERY: both logins match the one purchase
    assert sorted(m["e1_v"] for m in out) == [1.0, 2.0]


def test_nfa_absent_emits_after_timeout(spark):
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0},
        {"ts": _ts(0), "user": "u2", "etype": "login", "v": 2.0},
        {"ts": _ts(3), "user": "u2", "etype": "purchase", "v": 9.0},
    ])
    # advance the watermark far past every deadline
    r.send([{"ts": _ts(40), "user": "u3", "etype": "view", "v": 0.0}])
    # one more batch so the timeout fires after the watermark advanced
    r.send([{"ts": _ts(41), "user": "u3", "etype": "view", "v": 0.0}])
    r.run(_login_not_purchase)
    out = r.shutdown()
    # u1's login saw no purchase within 10 min → emitted; u2's was cancelled
    assert [(m["user"], m["e1_v"]) for m in out] == [("u1", 1.0)]


def test_chain_stream_absent_final_busy_key_waits_for_late_cancel(spark):
    """A busy key must not flush a pending absence at its newest event
    while ``late`` still admits a cancel inside the window: with late =
    5 min the watermark after batch 1 is 12:06, so B@12:07 in batch 2 is
    admitted and cancels A@12:00's 10-minute absence although X@12:11 in
    batch 1 already passed the 12:10 deadline. u2's uncancelled login
    still emits once the sentinels move the watermark past its deadline."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0},
        {"ts": _ts(0), "user": "u2", "etype": "login", "v": 2.0},
        {"ts": _ts(11), "user": "u1", "etype": "view", "v": 0.0},
    ])
    r.send([{"ts": _ts(7), "user": "u1", "etype": "purchase", "v": 9.0}])
    r.send([{"ts": _ts(50), "user": "u3", "etype": "view", "v": 0.0}])
    r.send([{"ts": _ts(51), "user": "u3", "etype": "view", "v": 0.0}])
    r.run(lambda df: _login_not_purchase(df, late="5 minutes"))
    out = r.shutdown()
    assert [(m["user"], m["e1_v"]) for m in out] == [("u2", 2.0)]


def test_length_batch_stream_partial_batch_carries(spark):
    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "v": 2.0},
        {"ts": _ts(2), "user": "u1", "v": 3.0},
    ])
    # 2 more events: completes the second batch of 2 across micro-batches
    r.send([{"ts": _ts(3), "user": "u1", "v": 4.0}])
    r.run(
        lambda df: SW.sliding_stream(
            df, "ts", "user", [("sum", "v", "sum_value")], "lengthbatch", 2
        )
    )
    out = r.shutdown()
    got = [(m["batch_id"], m["sum_value"]) for m in out]
    assert got == [(0, 3.0), (1, 7.0)]


def test_sql_tumbling_window_on_live_stream(spark):
    """SQL WINDOW TUMBLING over a live stream compiles to the streaming
    (watermarked) window builder and emits when the watermark passes."""
    import uuid

    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, v double")
    r.send([
        {"ts": _ts(0), "v": 1.0},
        {"ts": _ts(1), "v": 2.0},
    ])
    r.send([{"ts": _ts(20), "v": 0.0}])  # advance watermark
    app = SqlApp(spark)
    app.streams["S"] = _Stream(df=r.stream(), ts_col="ts")
    outs = app.sql(
        "INSERT INTO Out SELECT window_start, sum(v) AS s "
        "FROM S WINDOW TUMBLING(5 MINUTES);"
    )
    out = outs["Out"]
    assert out.isStreaming
    collected = []
    q = (
        out.writeStream.foreachBatch(lambda df, _b: collected.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", r.checkpoint)
        .trigger(availableNow=True)
        .queryName(f"sqlwin_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    r.shutdown()
    got = {(str(x["window_start"]), x["s"]) for x in collected}
    assert ("2026-01-01 12:00:00", 3.0) in got


def test_checkpoint_recovery_state_survives_restart(spark):
    """Each run() starts a NEW streaming query restored from the same
    checkpoint — NFA state must survive the restart (the reference's
    persist/restore surface, eventflux_app_runtime.rs:893-921, is Spark's
    checkpoint recovery)."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0}])

    r.run(_login_then_purchase)  # query #1: processes the login, checkpoints state
    assert r.collected == []
    r.send([{"ts": _ts(2), "user": "u1", "etype": "purchase", "v": 9.0}])
    r.run(_login_then_purchase)  # query #2: restored state must hold the open login
    out = r.shutdown()
    assert [(m["user"], m["e1_v"], m["e2_v"]) for m in out] == [("u1", 1.0, 9.0)]


def test_stream_stream_join_with_watermarks(spark):
    """Stream-stream windowed join (reference join_processor.rs buffers →
    watermark state): both sides watermarked, equi-key + time-range bound;
    a match forms across two different source streams and micro-batches."""
    import uuid

    left = StreamRunner(spark, "lts timestamp, k string, lv double")
    right = StreamRunner(spark, "rts timestamp, k string, rv double")
    left.send([{"lts": _ts(0), "k": "a", "lv": 1.0}])
    right.send([{"rts": _ts(1), "k": "a", "rv": 2.0}])   # within 5 min of left
    right.send([{"rts": _ts(30), "k": "a", "rv": 9.0}])  # outside the bound

    l = left.stream().withWatermark("lts", "0 seconds")
    r = right.stream().withWatermark("rts", "0 seconds")
    j = l.join(
        r,
        (l["k"] == r["k"])
        & (r["rts"] >= l["lts"] - F.expr("INTERVAL 5 MINUTES"))
        & (r["rts"] <= l["lts"] + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select(l["k"], "lv", "rv")

    collected = []
    q = (
        j.writeStream.foreachBatch(lambda df, _b: collected.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", left.checkpoint)
        .trigger(availableNow=True)
        .queryName(f"ssj_{uuid.uuid4().hex[:8]}")
        .start()
    )
    q.awaitTermination()
    left.shutdown()
    right.shutdown()
    assert [(m["k"], m["lv"], m["rv"]) for m in collected] == [("a", 1.0, 2.0)]


def test_time_sliding_stream_per_event_emission(spark):
    """Streaming time(d): every arrival emits the trailing-d aggregate,
    expired events evicted — across micro-batches. The frame is closed at
    its far end like the batch ``rangeBetween(-d, 0)``: an event exactly
    d old still counts."""
    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "v": 2.0},
    ])
    r.send([{"ts": _ts(10), "user": "u1", "v": 5.0}])  # 12:00/12:01 expired
    r.send([{"ts": _ts(12), "user": "u1", "v": 7.0}])  # 12:10 exactly d old
    r.run(
        lambda df: SW.sliding_stream(
            df, "ts", "user",
            [("count", None, "n"), ("sum", "v", "sum_value")], "time", 120,
        )
    )
    out = {str(m["ts"]): (m["n"], m["sum_value"]) for m in r.shutdown()}
    assert out["2026-01-01 12:00:00"] == (1, 1.0)
    assert out["2026-01-01 12:01:00"] == (2, 3.0)
    assert out["2026-01-01 12:10:00"] == (1, 5.0)  # trailing 2 min: alone
    assert out["2026-01-01 12:12:00"] == (2, 12.0)  # frame boundary included


def test_chain_stream_three_steps_across_microbatches(spark):
    """A -> B -> C with each step in its own micro-batch; partial-match
    state (JSON partials) must survive between batches."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0}])
    r.send([{"ts": _ts(2), "user": "u1", "etype": "view", "v": 2.0}])
    r.send([
        {"ts": _ts(4), "user": "u1", "etype": "purchase", "v": 3.0},
        # second chain start that never completes
        {"ts": _ts(5), "user": "u1", "etype": "login", "v": 4.0},
    ])
    r.run(
        lambda df: nfa.chain_stream(
            df, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "login"),
                ("e2", F.col("etype") == "view"),
                ("e3", F.col("etype") == "purchase"),
            ],
            within_seconds=600, payload_cols=["v"],
        )
    )
    out = r.shutdown()
    assert len(out) == 1
    m = out[0]
    assert (m["user"], m["e1_v"], m["e2_v"], m["e3_v"]) == ("u1", 1.0, 2.0, 3.0)
    assert str(m["e3_ts"]) == "2026-01-01 12:04:00"


def test_chain_stream_within_bounds_whole_chain(spark):
    """WITHIN binds completion to the FIRST element: A@0, B@5, C@11 with
    WITHIN 10min must not fire even though each hop is < 10min."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "v": 1.0},
        {"ts": _ts(5), "user": "u1", "etype": "b", "v": 2.0},
        {"ts": _ts(11), "user": "u1", "etype": "c", "v": 3.0},
    ])
    r.run(
        lambda df: nfa.chain_stream(
            df, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "a"),
                ("e2", F.col("etype") == "b"),
                ("e3", F.col("etype") == "c"),
            ],
            within_seconds=600, payload_cols=["v"],
        )
    )
    assert r.shutdown() == []


def test_chain_stream_first_match_skips_to_next(spark):
    """Skip-till-next-match: each partial takes the FIRST qualifying next
    event; later candidates only serve later partials."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "etype": "b", "v": 10.0},
        {"ts": _ts(2), "user": "u1", "etype": "b", "v": 20.0},
    ])
    r.run(
        lambda df: nfa.chain_stream(
            df, "ts", "user",
            steps=[("e1", F.col("etype") == "a"), ("e2", F.col("etype") == "b")],
            within_seconds=600, payload_cols=["v"],
        )
    )
    out = r.shutdown()
    assert len(out) == 1 and out[0]["e2_v"] == 10.0


def test_chain_stream_fire_once(spark):
    """every=False: the key fires on its first completed match and stops."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "etype": "b", "v": 2.0},
        {"ts": _ts(2), "user": "u1", "etype": "a", "v": 3.0},
        {"ts": _ts(3), "user": "u1", "etype": "b", "v": 4.0},
    ])
    r.run(
        lambda df: nfa.chain_stream(
            df, "ts", "user",
            steps=[("e1", F.col("etype") == "a"), ("e2", F.col("etype") == "b")],
            within_seconds=600, payload_cols=["v"], every=False,
        )
    )
    out = r.shutdown()
    assert len(out) == 1 and out[0]["e1_v"] == 1.0 and out[0]["e2_v"] == 2.0


def test_count_quantifier_stream_bounded(spark):
    """Streaming {2,4}: fires while the trailing-window count is in [2,4],
    goes silent above 4 — across micro-batches."""
    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0, 0), "user": "u1", "v": 1.0},
        {"ts": _ts(0, 10), "user": "u1", "v": 2.0},
        {"ts": _ts(0, 20), "user": "u1", "v": 3.0},
    ])
    r.send([
        {"ts": _ts(0, 30), "user": "u1", "v": 4.0},
        {"ts": _ts(0, 40), "user": "u1", "v": 5.0},  # count=5 → silent
    ])
    r.run(
        lambda df: nfa.count_quantifier_stream(
            df, "ts", "user",
            event_filter=F.lit(True),
            min_count=2, max_count=4,
            within_seconds=600, value_col="v",
        )
    )
    out = r.shutdown()
    assert [(m["match_count"], m["v"]) for m in out] == [
        (2, 2.0), (3, 3.0), (4, 4.0),
    ]


def test_logical_and_stream_pairs_both_orders(spark):
    """A AND B fires on every in-horizon pair regardless of arrival order."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "b", "v": 10.0}])
    r.send([{"ts": _ts(2), "user": "u1", "etype": "a", "v": 1.0}])
    r.send([{"ts": _ts(3), "user": "u1", "etype": "b", "v": 20.0}])
    r.run(
        lambda df: nfa.logical_and_stream_payload(
            df, "ts", "user",
            first=F.col("etype") == "a",
            second=F.col("etype") == "b",
            within_seconds=600, payload_cols=["v"],
        )
    )
    got = sorted((m["e1_v"], m["e2_v"]) for m in r.shutdown())
    assert got == [(1.0, 10.0), (1.0, 20.0)]


def test_logical_or_stream_is_stateless_filter(spark):
    """A OR B on a live stream: either branch completes the state on the
    event that arrives — the batch ``pattern.logical_or`` operator is
    stateless (disjunctive filter + branch tag), so it runs unchanged on a
    streaming DataFrame across micro-batches."""
    from engine_spark.operators import pattern

    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "a", "v": 1.0}])
    r.send([{"ts": _ts(1), "user": "u1", "etype": "c", "v": 9.0}])  # neither
    r.send([{"ts": _ts(2), "user": "u2", "etype": "b", "v": 2.0}])
    r.run(
        lambda df: pattern.logical_or(
            df, ["user"],
            first=F.col("etype") == "a",
            second=F.col("etype") == "b",
        )
    )
    got = sorted((m["user"], m["branch"], m["v"]) for m in r.shutdown())
    assert got == [("u1", "first", 1.0), ("u2", "second", 2.0)]


def test_sql_pattern_three_steps_on_live_stream(spark):
    """SQL PATTERN over a live stream routes through the streaming NFA and
    produces the same alias_column naming the relational path would."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "login", "eid": 1},
        {"ts": _ts(1), "user": "u2", "etype": "login", "eid": 2},
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "etype": "view", "eid": 3},
        {"ts": _ts(3), "user": "u1", "etype": "purchase", "eid": 4},
        # u2 never completes the chain
        {"ts": _ts(4), "user": "u2", "etype": "view", "eid": 5},
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
            "FROM EVERY PATTERN (e1=E[etype = 'login'] -> e2=E[etype = 'view'] "
            "-> e3=E[etype = 'purchase']) WITHIN 600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = [(m["a"], m["b"], m["c"]) for m in r.shutdown()]
    assert got == [(1, 3, 4)]


def test_sql_pattern_auto_salt_app_config(spark, tmp_path):
    """SqlApp(nfa_salt='auto', nfa_hot_key_dir=...) routes the hot-key
    config into the streaming NFA: a key crossing the threshold gets
    marked and the SQL query's output stays exactly the unsalted result."""
    import os

    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    hot_dir = str(tmp_path / "hot")
    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    # batch 1: 25 logins on u1 (> threshold 20) — marks u1 hot
    r.send(
        [{"ts": _ts(i), "user": "u1", "etype": "login", "eid": i}
         for i in range(25)]
    )
    # batch 2: the continuation events arrive after the re-key
    r.send([
        {"ts": _ts(30), "user": "u1", "etype": "view", "eid": 100},
        {"ts": _ts(31), "user": "u1", "etype": "purchase", "eid": 101},
    ])

    def build(sdf):
        app = SqlApp(
            spark, nfa_salt="auto", nfa_hot_key_dir=hot_dir,
            nfa_auto_salt_r=4, nfa_hot_threshold=20,
        )
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        return app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
            "FROM EVERY PATTERN (e1=E[etype = 'login'] -> e2=E[etype = 'view'] "
            "-> e3=E[etype = 'purchase']) WITHIN 3600 SECONDS; "
            "END;"
        )["Out"]

    r.run(build)
    got = sorted((m["a"], m["b"], m["c"]) for m in r.shutdown())
    # every one of the 25 opened logins (all from the cold batch, state in
    # sub-key 0) completes through the post-re-key continuations
    assert got == [(i, 100, 101) for i in range(25)]
    assert len(os.listdir(hot_dir)) == 1


def test_space_saving_state_bounded_and_heavy_hitters_kept(spark):
    """Streaming frequent items: 40 distinct items flow through a
    capacity-8 summary; state (and each per-batch emission) never exceeds 8
    counters, heavy hitters survive with count_est >= true count."""
    r = StreamRunner(spark, "ts timestamp, user string, item string")
    # batch 1: heavy hitters hh1 (x6) and hh2 (x5) + 10 rare items
    b1 = [{"ts": _ts(0, i), "user": "u1", "item": "hh1"} for i in range(6)]
    b1 += [{"ts": _ts(1, i), "user": "u1", "item": "hh2"} for i in range(5)]
    b1 += [{"ts": _ts(2, i), "user": "u1", "item": f"rare{i}"} for i in range(10)]
    # batch 2: more heavy traffic + 30 more distinct rares
    b2 = [{"ts": _ts(3, i), "user": "u1", "item": "hh1"} for i in range(6)]
    b2 += [{"ts": _ts(4, i), "user": "u1", "item": f"xrare{i}"} for i in range(30)]
    r.send(b1)
    r.send(b2)

    from engine_spark.streaming.frequent import space_saving_stream

    r.run(lambda df: space_saving_stream(df, "ts", "user", "item", capacity=8))
    out = r.shutdown()
    by_epoch: dict[str, list] = {}
    for m in out:
        by_epoch.setdefault(str(m["as_of_ts"]), []).append(m)
    # bounded state: every snapshot has at most `capacity` counters
    assert by_epoch and all(len(v) <= 8 for v in by_epoch.values())
    # final snapshot (latest as_of_ts): heavy hitters tracked, counts are
    # overestimates with bounded error: count_est - error <= true <= count_est
    last = by_epoch[max(by_epoch)]
    got = {m["item"]: (m["count_est"], m["error"]) for m in last}
    assert "hh1" in got and got["hh1"][0] >= 12
    assert got["hh1"][0] - got["hh1"][1] <= 12


def test_persist_restore_named_revision_replays_state(spark):
    """persist() then restore(): rolling back to a named revision restores
    both the NFA state AND the source offsets, so later events replay
    through the restored state (reference persist/restore_revision +
    WAL replay)."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([{"ts": _ts(0), "user": "u1", "etype": "login", "v": 1.0}])
    r.run(_login_then_purchase)  # state now holds the open login
    r.persist("after-login")

    r.send([{"ts": _ts(2), "user": "u1", "etype": "purchase", "v": 9.0}])
    r.run(_login_then_purchase)
    assert [(m["e1_v"], m["e2_v"]) for m in r.collected] == [(1.0, 9.0)]

    # roll back: the purchase batch is no longer "consumed" and the open
    # login is live again — rerunning replays it and matches again
    r.restore("after-login")
    r.collected.clear()
    r.run(_login_then_purchase)
    assert [(m["e1_v"], m["e2_v"]) for m in r.collected] == [(1.0, 9.0)]

    from engine_spark.persistence import list_revisions

    assert list_revisions(r._revisions_root()) == ["after-login"]
    r.shutdown()


def test_sql_pattern_cross_reference_filter_on_live_stream(spark):
    """Cross-reference filters (e2.price > e1.price) evaluate DURING
    matching in the streaming NFA: a lower price does not complete the
    chain, and the partial stays open for the next candidate."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, sym string, etype string, price double")
    r.send([{"ts": _ts(0), "sym": "A", "etype": "buy", "price": 100.0}])
    r.send([
        # lower than the buy: must NOT complete the pattern
        {"ts": _ts(1), "sym": "A", "etype": "sell", "price": 90.0},
        # higher: completes
        {"ts": _ts(2), "sym": "A", "etype": "sell", "price": 110.0},
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["T"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (sym OF T) BEGIN "
            "INSERT INTO Out SELECT e1.price AS buy_p, e2.price AS sell_p "
            "FROM EVERY PATTERN (e1=T[etype = 'buy'] -> "
            "e2=T[etype = 'sell' AND e2.price > e1.price]) "
            "WITHIN 600 SECONDS; END;"
        )
        return outs["Out"]

    r.run(build)
    got = [(m["buy_p"], m["sell_p"]) for m in r.shutdown()]
    assert got == [(100.0, 110.0)]


def test_sql_pattern_absent_final_on_live_stream(spark):
    """`A -> NOT B FOR d` over a live stream: the chain becomes pending on
    completion and emits only when event time passes the absence window
    uncancelled."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "login", "eid": 1},
        {"ts": _ts(0), "user": "u2", "etype": "login", "eid": 2},
        {"ts": _ts(3), "user": "u2", "etype": "purchase", "eid": 3},  # cancels u2
    ])
    # watermark/new events pass every deadline (10 min windows)
    r.send([{"ts": _ts(40), "user": "u3", "etype": "view", "eid": 9}])
    r.send([{"ts": _ts(41), "user": "u3", "etype": "view", "eid": 10}])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.eid AS eid "
            "FROM EVERY PATTERN (e1=E[etype = 'login'] -> "
            "NOT E[etype = 'purchase'] FOR 600 SECONDS) "
            "WITHIN 3600 SECONDS; END;"
        )
        return outs["Out"]

    r.run(build)
    assert [m["eid"] for m in r.shutdown()] == [1]


def test_chain_stream_absent_final_after_two_steps(spark):
    """order -> pay -> NOT ship FOR d with full payloads, across batches."""
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "order", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "etype": "pay", "v": 2.0},
        {"ts": _ts(0), "user": "u2", "etype": "order", "v": 3.0},
        {"ts": _ts(1), "user": "u2", "etype": "pay", "v": 4.0},
        {"ts": _ts(3), "user": "u2", "etype": "ship", "v": 5.0},  # in time
    ])
    r.send([{"ts": _ts(40), "user": "u9", "etype": "noise", "v": 0.0}])
    r.send([{"ts": _ts(41), "user": "u9", "etype": "noise", "v": 0.0}])
    r.run(
        lambda df: nfa.chain_stream(
            df, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "order"),
                ("e2", F.col("etype") == "pay"),
            ],
            within_seconds=3600, payload_cols=["v"],
            absent_final=(F.col("etype") == "ship", 600),
        )
    )
    out = r.shutdown()
    assert [(m["user"], m["e1_v"], m["e2_v"]) for m in out] == [("u1", 1.0, 2.0)]


def test_sql_count_quantifier_on_live_stream(spark):
    """SQL `{m,n}` count quantifier over a LIVE stream routes through
    nfa.count_quantifier_stream with the relational path's alias_column
    naming — the trailing count crosses micro-batch boundaries."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "err", "eid": 1},
        {"ts": _ts(1), "user": "u1", "etype": "err", "eid": 2},
        {"ts": _ts(1, 30), "user": "u1", "etype": "ok", "eid": 90},  # no count
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "etype": "err", "eid": 3},   # count 3 fires
        {"ts": _ts(3), "user": "u1", "etype": "err", "eid": 4},   # count 4 > max
        {"ts": _ts(4), "user": "u2", "etype": "err", "eid": 5},   # other key: 1
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.user AS u, e1.eid AS eid, "
            "match_count AS mc "
            "FROM PATTERN (e1=E[etype = 'err']{3,3}) WITHIN 3600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["u"], m["eid"], m["mc"]) for m in r.shutdown())
    assert got == [("u1", 3, 3)]


def test_sql_count_quantifier_live_requires_partition(spark):
    import pytest

    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, eid int")
    r.send([{"ts": _ts(0), "user": "u1", "eid": 1}])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        with pytest.raises(ValueError, match="PARTITION WITH"):
            app.sql(
                "INSERT INTO Out SELECT e1.eid AS eid, match_count AS mc "
                "FROM PATTERN (e1=E{2,4}) WITHIN 600 SECONDS;"
            )
        return sdf.limit(0)

    r.run(build)
    r.shutdown()


def test_sql_length_window_on_live_stream(spark):
    """SQL WINDOW('length', n) over a LIVE stream: every event sees the
    aggregate of the last n events on its key, across micro-batches."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "v": 2.0},
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "v": 4.0},   # frame {2,4}: sum 6
        {"ts": _ts(3), "user": "u2", "v": 10.0},  # frame {10}: sum 10
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT user AS u, v AS v, sum(v) AS s, "
            "count(*) AS n FROM E WINDOW('length', 2); "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["u"], m["v"], m["s"], m["n"]) for m in r.shutdown())
    assert got == [
        ("u1", 1.0, 1.0, 1),
        ("u1", 2.0, 3.0, 2),
        ("u1", 4.0, 6.0, 2),
        ("u2", 10.0, 10.0, 1),
    ]


def test_sql_lengthbatch_window_on_live_stream(spark):
    """SQL WINDOW('lengthBatch', n) over a LIVE stream: one row per
    completed batch of n events per key — partial batches stay buffered
    across micro-batches."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(1), "user": "u1", "v": 2.0},
        {"ts": _ts(2), "user": "u1", "v": 3.0},
    ])
    r.send([
        {"ts": _ts(3), "user": "u1", "v": 4.0},  # completes batch 1 (3+4? no)
        {"ts": _ts(4), "user": "u1", "v": 5.0},
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT user AS u, sum(v) AS s, count(*) AS n "
            "FROM E WINDOW('lengthBatch', 2); "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["u"], m["s"], m["n"]) for m in r.shutdown())
    # batches per arrival order: {1,2} then {3,4}; 5 stays buffered
    assert got == [("u1", 3.0, 2), ("u1", 7.0, 2)]


def test_sql_time_window_on_live_stream_per_event(spark):
    """SQL WINDOW('time', d) over a LIVE stream: per-event trailing-d
    frame with state eviction at the horizon."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([
        {"ts": _ts(0), "user": "u1", "v": 1.0},
        {"ts": _ts(5), "user": "u1", "v": 2.0},   # 0 within 10m: frame {1,2}
    ])
    r.send([
        {"ts": _ts(20), "user": "u1", "v": 4.0},  # both expired: frame {4}
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT user AS u, v AS v, avg(v) AS a "
            "FROM E WINDOW('time', 10 MINUTES); "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["u"], m["v"], m["a"]) for m in r.shutdown())
    assert got == [("u1", 1.0, 1.0), ("u1", 2.0, 1.5), ("u1", 4.0, 4.0)]


def test_sql_and_group_on_live_stream(spark):
    """SQL `(e1=A AND e2=B)` over a LIVE stream: both branches must arrive
    within d on the key (either order), pairs crossing micro-batches."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "eid": 1},
        {"ts": _ts(1), "user": "u2", "etype": "b", "eid": 2},  # no partner
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "etype": "b", "eid": 3},  # pairs with 1
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.user AS u, e1.eid AS a, e2.eid AS b "
            "FROM EVERY PATTERN ((e1=E[etype = 'a'] AND e2=E[etype = 'b'])) "
            "WITHIN 600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["u"], m["a"], m["b"]) for m in r.shutdown())
    assert got == [("u1", 1, 3)]


def test_sql_or_group_on_live_stream(spark):
    """SQL `(e1=A OR e2=B)` over a LIVE stream: stateless disjunctive
    union — either branch fires with the other side's columns null."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "eid": 1},
        {"ts": _ts(1), "user": "u2", "etype": "b", "eid": 2},
        {"ts": _ts(2), "user": "u3", "etype": "c", "eid": 3},  # neither
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b "
            "FROM EVERY PATTERN ((e1=E[etype = 'a'] OR e2=E[etype = 'b'])) "
            "WITHIN 600 SECONDS;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted(
        ((m["a"], m["b"]) for m in r.shutdown()),
        key=lambda t: (t[0] is None, t),
    )
    assert got == [(1, None), (None, 2)]


def test_sql_count_quantifier_collection_aggs_on_live_stream(spark):
    """Collection aggregates over a live-stream count quantifier aggregate
    the MATCHED SET (trailing buffer) per firing event, across batches."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, price double")
    r.send([
        {"ts": _ts(0), "user": "u1", "price": 1.0},
        {"ts": _ts(1), "user": "u1", "price": 2.0},   # count 2: sum 3
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "price": 3.0},   # count 3: sum 6
        {"ts": _ts(3), "user": "u1", "price": 4.0},   # count 4 > max: silent
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["T"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF T) BEGIN "
            "INSERT INTO Out SELECT e1.price AS p, match_count AS mc, "
            "sum(e1.price) AS s, max(e1.price) AS mx "
            "FROM PATTERN (e1=T{2,3}) WITHIN 3600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["p"], m["mc"], m["s"], m["mx"]) for m in r.shutdown())
    assert got == [(2.0, 2, 3.0, 2.0), (3.0, 3, 6.0, 3.0)]


def test_sql_count_quantifier_having_on_live_stream(spark):
    """HAVING over a collection aggregate on a LIVE-stream count
    quantifier: the hidden _collagg column the keyed-state op emits must
    survive until the HAVING filter runs (it is applied before the final
    projection) and must not leak into the output schema."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, price double")
    r.send([
        {"ts": _ts(0), "user": "u1", "price": 1.0},
        {"ts": _ts(1), "user": "u1", "price": 2.0},   # count 2: sum 3 → filtered
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "price": 3.0},   # count 3: sum 6 → kept
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["T"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF T) BEGIN "
            "INSERT INTO Out SELECT e1.price AS p, match_count AS mc "
            "FROM PATTERN (e1=T{2,3}) WITHIN 3600 SECONDS "
            "HAVING sum(e1.price) > 4; "
            "END;"
        )
        assert set(outs["Out"].columns) == {"p", "mc"}
        return outs["Out"]

    r.run(build)
    got = sorted((m["p"], m["mc"]) for m in r.shutdown())
    assert got == [(3.0, 3)]


def test_sql_midchain_count_quantifier_on_live_stream(spark):
    """`A -> B{2,} -> C` over a LIVE stream: the NFA counts B's per
    partial and advances on the 2nd, across micro-batch boundaries."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "eid": 1},
        {"ts": _ts(1), "user": "u1", "etype": "b", "eid": 2},
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "etype": "b", "eid": 3},  # 2nd B → e2
        {"ts": _ts(3), "user": "u1", "etype": "c", "eid": 4},  # completes
        # u2 never gets a second b
        {"ts": _ts(0), "user": "u2", "etype": "a", "eid": 5},
        {"ts": _ts(1), "user": "u2", "etype": "b", "eid": 6},
        {"ts": _ts(2), "user": "u2", "etype": "c", "eid": 7},
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
            "FROM EVERY PATTERN (e1=E[etype = 'a'] -> e2=E[etype = 'b']{2,} "
            "-> e3=E[etype = 'c']) WITHIN 3600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = [(m["a"], m["b"], m["c"]) for m in r.shutdown()]
    assert got == [(1, 3, 4)]


def test_sql_sort_window_on_live_stream(spark):
    """SQL WINDOW('sort', n, attr, 'desc') over a LIVE stream: arriving
    events emit action='current'; when the per-key top-n buffer overflows
    the worst event emits action='expired'."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, p double")
    r.send([
        {"ts": _ts(0), "user": "u1", "p": 5.0},
        {"ts": _ts(1), "user": "u1", "p": 9.0},
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "p": 7.0},  # buffer {9,7}: 5 expires
        {"ts": _ts(3), "user": "u1", "p": 1.0},  # 1 enters then expires itself
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["S"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF S) BEGIN "
            "INSERT INTO Out SELECT action AS a, p AS p "
            "FROM S WINDOW('sort', 2, p, 'desc'); "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted((m["a"], m["p"]) for m in r.shutdown())
    assert got == [
        ("current", 1.0),
        ("current", 5.0),
        ("current", 7.0),
        ("current", 9.0),
        ("expired", 1.0),
        ("expired", 5.0),
    ]


def test_sql_midchain_and_group_on_live_stream(spark):
    """`A -> (B AND C) -> D` over a LIVE stream: the group holds its first
    match per member (either order) and advances at the later arrival."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "eid": 1},
        {"ts": _ts(1), "user": "u1", "etype": "c", "eid": 2},  # group member 2 first
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "etype": "b", "eid": 3},  # completes group
        {"ts": _ts(3), "user": "u1", "etype": "d", "eid": 4},  # completes chain
        # u2: group never completes (no c)
        {"ts": _ts(0), "user": "u2", "etype": "a", "eid": 5},
        {"ts": _ts(1), "user": "u2", "etype": "b", "eid": 6},
        {"ts": _ts(2), "user": "u2", "etype": "d", "eid": 7},
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c, "
            "e4.eid AS d "
            "FROM EVERY PATTERN (e1=E[etype = 'a'] -> "
            "(e2=E[etype = 'b'] AND e3=E[etype = 'c']) -> "
            "e4=E[etype = 'd']) WITHIN 3600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = [(m["a"], m["b"], m["c"], m["d"]) for m in r.shutdown()]
    assert got == [(1, 3, 2, 4)]


def test_sql_midchain_or_group_on_live_stream(spark):
    """`A -> (B OR C)` over a LIVE stream: either member advances; the
    unmatched member's columns are null."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    r.send([
        {"ts": _ts(0), "user": "u1", "etype": "a", "eid": 1},
        {"ts": _ts(1), "user": "u2", "etype": "a", "eid": 2},
    ])
    r.send([
        {"ts": _ts(2), "user": "u1", "etype": "c", "eid": 3},  # second branch
        {"ts": _ts(3), "user": "u2", "etype": "b", "eid": 4},  # first branch
    ])

    def build(sdf):
        app = SqlApp(spark)
        app.streams["E"] = _Stream(df=sdf, ts_col="ts")
        outs = app.sql(
            "PARTITION WITH (user OF E) BEGIN "
            "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
            "FROM EVERY PATTERN (e1=E[etype = 'a'] -> "
            "(e2=E[etype = 'b'] OR e3=E[etype = 'c'])) "
            "WITHIN 3600 SECONDS; "
            "END;"
        )
        return outs["Out"]

    r.run(build)
    got = sorted(
        ((m["a"], m["b"], m["c"]) for m in r.shutdown()),
        key=lambda x: x[0],
    )
    assert got == [(1, None, 3), (2, 4, None)]


def _hts(hour: int, minute: int = 0) -> str:
    return f"2026-01-01T{hour:02d}:{minute:02d}:00.000Z"


def test_streaming_gapfill_forward_fills_closed_hours(spark):
    """gapfill_stream: dense per-key hours emit exactly once as the
    watermark closes them; empty hours forward-fill the last sum and
    flag is_gap; emission never outruns the key's newest event hour."""
    from engine_spark.streaming.gapfill import gapfill_stream

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    # hour 10: two events (sum 3); hour 11: silent; hour 12: one event
    r.send([
        {"ts": _hts(10, 5), "user": "u1", "v": 1.0},
        {"ts": _hts(10, 40), "user": "u1", "v": 2.0},
        {"ts": _hts(12, 10), "user": "u1", "v": 7.0},
    ])
    # watermark pushes past hour 12's end; also a second key
    r.send([
        {"ts": _hts(13, 30), "user": "u1", "v": 4.0},
        {"ts": _hts(13, 35), "user": "u2", "v": 9.0},
    ])
    # flush batches: watermark trails one batch behind in availableNow
    # runs, and the second flush also fires u2's event-time timeout
    # (idle keys emit via timeout, not batch membership)
    r.send([{"ts": _hts(15, 0), "user": "u1", "v": 0.0}])
    r.send([{"ts": _hts(16, 0), "user": "u1", "v": 0.0}])
    r.run(lambda df: gapfill_stream(df, "ts", "user", "v"))
    got = sorted(
        (m["user"], m["hour"].hour, m["n_events"], m["filled_value"],
         m["is_gap"])
        for m in r.shutdown()
    )
    assert got == [
        ("u1", 10, 2, 3.0, False),
        ("u1", 11, 0, 3.0, True),
        ("u1", 12, 1, 7.0, False),
        ("u1", 13, 1, 4.0, False),
        ("u1", 14, 0, 4.0, True),
        ("u2", 13, 1, 9.0, False),
    ]


def test_streaming_gapfill_no_unbounded_gap_emission(spark):
    """An idle key must not emit gap rows as wall-clock/watermark advance
    past its last event — emission is bounded by max seen event hour."""
    from engine_spark.streaming.gapfill import gapfill_stream

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([{"ts": _hts(1, 0), "user": "quiet", "v": 5.0}])
    # another key's events race the watermark hours ahead
    r.send([{"ts": _hts(9, 0), "user": "busy", "v": 1.0}])
    r.send([{"ts": _hts(11, 0), "user": "busy", "v": 2.0}])
    r.send([{"ts": _hts(13, 0), "user": "busy", "v": 3.0}])
    r.run(lambda df: gapfill_stream(df, "ts", "user", "v"))
    got = sorted(
        (m["user"], m["hour"].hour, m["is_gap"]) for m in r.shutdown()
    )
    # quiet: exactly its one hour (timeout-fired), then SILENCE — no gap
    # rows trail behind the racing watermark (emission is bounded by the
    # key's own newest event hour). busy: events at 9/11 with the gap
    # between, up to its newest closed hour; 13 stays open.
    assert got == [
        ("busy", 9, False), ("busy", 10, True), ("busy", 11, False),
        ("busy", 12, True), ("quiet", 1, False),
    ]


def test_streaming_gapfill_allowed_late_event_before_first_hour(spark):
    """An in-watermark out-of-order event OLDER than the key's first-seen
    hour must still get its row while nothing has been emitted (the emit
    cursor moves down pre-emission); once emission starts, events below
    the cursor are watermark-late and dropped rather than leaked into
    state (review fix)."""
    from engine_spark.streaming.gapfill import gapfill_stream

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send([{"ts": _hts(10, 30), "user": "u1", "v": 2.0}])
    # out-of-order but allowed by late='2 hours': watermark after batch
    # 1 is 8:30, so hour 9 has not been closed or emitted
    r.send([{"ts": _hts(9, 15), "user": "u1", "v": 5.0}])
    # flush batches to close hours 9 and 10
    r.send([{"ts": _hts(14, 0), "user": "u1", "v": 0.0}])
    r.send([{"ts": _hts(16, 0), "user": "u1", "v": 0.0}])
    r.run(lambda df: gapfill_stream(df, "ts", "user", "v", late="2 hours"))
    got = sorted(
        (m["hour"].hour, m["n_events"], m["filled_value"], m["is_gap"])
        for m in r.shutdown()
    )
    assert got[0] == (9, 1, 5.0, False), "late pre-emission hour must emit"
    assert got[1] == (10, 1, 2.0, False)
    # and nothing lingers in pending below the cursor: the gap rows after
    # hour 10 forward-fill hour 10's value
    assert all(g[3] for g in got[2:] if g[0] in (11, 12))


def test_auto_live_salt_same_plan_rekeys_after_marker(spark, tmp_path, monkeypatch):
    """salt='auto-live': the hot-key membership is evaluated per batch by
    an executor-side TTL-cached reader, NOT frozen into the plan — so the
    SAME DataFrame (built once, never re-planned) starts salting a key
    after its marker lands mid-life. This is the per-micro-batch reload
    the plan-build snapshot mode cannot do (VERDICT r8 task #4)."""
    from engine_spark.streaming import nfa

    monkeypatch.setattr(nfa, "HOT_RELOAD_TTL_S", 0.0)
    hot = str(tmp_path / "hot")
    from datetime import datetime as _dt

    tagged = (
        spark.createDataFrame(
            [(_dt(2026, 1, 1, 12, 0), "u1", "a", 1.0),
             (_dt(2026, 1, 1, 12, 1), "u1", "b", 2.0),
             (_dt(2026, 1, 1, 12, 2), "u2", "b", 3.0)],
            "ts timestamp, user string, etype string, v double",
        )
        .withColumn("_is_a", F.col("etype") == "a")
        .withColumn("_is_b", F.col("etype") == "b")
    )
    plan = nfa._auto_salt(
        tagged, "user", ["ts", "v"], hot, 4, F.col("_is_b"), "_is_a", live=True
    )  # built ONCE — reused below without rebuilding
    cold = plan.collect()
    assert len(cold) == 3 and {r._salt for r in cold} == {0}

    nfa._mark_hot_key(hot, "u1")  # marker lands AFTER the plan exists
    hotrun = plan.collect()
    u1_b = [r for r in hotrun if r.user == "u1" and r.etype == "b"]
    assert sorted(r._salt for r in u1_b) == [0, 1, 2, 3]  # B fans to all R
    u1_a = [r for r in hotrun if r.user == "u1" and r.etype == "a"]
    assert len(u1_a) == 1 and u1_a[0]._is_a  # A owns exactly one sub-key
    assert [r._salt for r in hotrun if r.user == "u2"] == [0]  # cold key


def test_auto_live_salt_single_long_lived_query_exact(spark, tmp_path, monkeypatch):
    """One writeStream.start() (no restart, no StreamRunner re-plan): a
    marker written between micro-batches re-keys the next batch while the
    match output stays exactly the unsalted result — every open A meets
    the earliest B once, through the cold→hot transition."""
    import json
    import time

    from engine_spark.streaming import nfa

    monkeypatch.setattr(nfa, "HOT_RELOAD_TTL_S", 0.0)
    hot = str(tmp_path / "hot")
    indir = tmp_path / "in"
    indir.mkdir()
    n_sent = [0]

    def feed(rows):
        p = indir / f"b{n_sent[0]:05d}.json"
        n_sent[0] += 1
        with open(str(p) + ".tmp", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        (indir / (p.name + ".tmp")).rename(p)
        t = 1_700_000_000 + n_sent[0]
        import os as _os

        _os.utime(p, (t, t))

    feed([
        {"ts": "2024-01-01 00:00:00", "user": "u1", "etype": "a", "v": float(i)}
        for i in range(3)
    ])
    src = (
        spark.readStream.schema("ts timestamp, user string, etype string, v double")
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    plan = nfa.chain_stream(
        src, "ts", "user",
        steps=[("e1", F.col("etype") == "a"), ("e2", F.col("etype") == "b")],
        within_seconds=600, payload_cols=["v"],
        salt="auto-live", hot_key_dir=hot, auto_salt_r=4,
    )
    got: list = []
    q = (
        plan.writeStream.foreachBatch(lambda b, _i: got.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if sum(p["numInputRows"] for p in q.recentProgress) >= 3:
                break
            time.sleep(0.2)
        else:
            raise AssertionError("batch 1 never processed")
        nfa._mark_hot_key(hot, "u1")  # mid-query, between micro-batches
        feed([{"ts": "2024-01-01 00:00:10", "user": "u1", "etype": "b", "v": 50.0},
              {"ts": "2024-01-01 00:00:11", "user": "u1", "etype": "b", "v": 60.0}])
        deadline = time.time() + 60
        while time.time() < deadline and len(got) < 3:
            time.sleep(0.2)
    finally:
        q.stop()
    matches = sorted((r.e1_v, r.e2_v) for r in got)
    # exactly once per opened A, each taking the EARLIEST B — no fan-out
    # duplicates, no missed opens across the cold→hot re-key
    assert matches == [(0.0, 50.0), (1.0, 50.0), (2.0, 50.0)]


def test_streaming_cohort_drops_late_and_keeps_cohort_final(spark):
    """cohort_stream: once the watermark passes a user's cohort-day start
    the cohort is final — a later-arriving event for an EARLIER day is
    watermark-late and dropped (no retroactive cohort shift, no pair row);
    new days keep emitting with offsets against the final cohort; each
    (user, day) pair emits exactly once despite repeat events."""
    from engine_spark.streaming.cohort import cohort_stream

    def _dts(day: int, hour: int = 12) -> str:
        return f"2026-01-{day:02d}T{hour:02d}:00:00.000Z"

    r = StreamRunner(spark, "ts timestamp, user string")
    # batch 1: first sighting on Jan 3 (watermark advances to Jan 3 12:00,
    # past the Jan 3 day start -> cohort final immediately)
    r.send([{"ts": _dts(3), "user": "u1"}])
    # batch 2: a Jan 1 straggler (late: ts < watermark -> dropped), a
    # repeat Jan 3 event (pair already emitted -> no duplicate), and a
    # new Jan 5 activity day
    r.send([
        {"ts": _dts(1), "user": "u1"},
        {"ts": _dts(3, 13), "user": "u1"},
        {"ts": _dts(5), "user": "u1"},
    ])
    # flush: advance the watermark well past every day
    r.send([{"ts": _dts(9), "user": "zz"}])
    r.run(lambda df: cohort_stream(df, "ts", "user"))
    rows = sorted(
        (m["user"], m["cohort_day"].day, m["day"].day, m["day_offset"])
        for m in r.shutdown()
        if m["user"] == "u1"
    )
    assert rows == [("u1", 3, 3, 0), ("u1", 3, 5, 2)]


def test_funnel_stream_microsecond_precision(spark):
    """Sub-millisecond event times must survive the funnel exactly: the
    emitted ts keeps its microsecond component and delay_us is the exact
    unix_micros difference (the batch twin's unit) — ADVICE r9 regression
    for the former datetime64[ms] truncation, which the hour-granularity
    parity property could never catch."""
    from engine_spark.streaming.funnel import funnel_stream

    r = StreamRunner(spark, "ts timestamp, user string, event_type string")
    base = "2026-01-01T12:00:00"
    r.send([
        {"ts": f"{base}.000123Z", "user": "u1", "event_type": "signup"},
        # click 1 ms + 877 us after the signup: ms truncation would have
        # quantized the delay to 1000 us and floored the emitted ts
        {"ts": f"{base}.002000Z", "user": "u1", "event_type": "click"},
        {"ts": f"{base}.004500Z", "user": "u1", "event_type": "purchase"},
    ])
    r.send([{"ts": "2026-01-02T12:00:00Z", "user": "zz", "event_type": "view"}])
    r.run(lambda df: funnel_stream(df, "ts", "user"))
    out = {
        m["stage"]: (m["ts"].microsecond, m["delay_us"])
        for m in r.shutdown()
        if m["user"] == "u1"
    }
    assert out == {
        "signup": (123, 0),
        "click": (2000, 1877),
        "purchase": (4500, 2500),
    }


def test_funnel_stream_state_survives_restart(spark):
    """Funnel state (stage minima + pending buffers) must survive a query
    restart from the same checkpoint, and each stage must emit exactly
    once across restarts — the exactly-once contract a live conversion
    dashboard depends on."""
    from engine_spark.streaming.funnel import funnel_stream

    r = StreamRunner(spark, "ts timestamp, user string, event_type string")

    # 15-minute lateness keeps the watermark BEHIND each run's own events,
    # so candidates genuinely buffer in checkpointed state across restarts
    # (with 0s lateness the post-batch timeout trigger would resolve them
    # inside the same run)
    def build(df):
        return funnel_stream(df, "ts", "user", late="15 minutes")

    # run #1: signup arrives; watermark stays behind it — nothing emits
    r.send([{"ts": _ts(0), "user": "u1", "event_type": "signup"}])
    r.run(build)
    assert r.collected == []

    # run #2 (restart): click arrives; watermark (t10 - 15m) still below
    # the restored signup — everything stays buffered
    r.send([{"ts": _ts(10), "user": "u1", "event_type": "click"}])
    r.run(build)
    assert r.collected == []

    # run #3 (second restart): purchase pushes the watermark to t5 —
    # only the restored signup (t0) is final; click/purchase buffered
    r.send([{"ts": _ts(20), "user": "u1", "event_type": "purchase"}])
    r.run(build)
    assert [m["stage"] for m in r.collected] == ["signup"]

    # run #4 (third restart): a flush event pushes the watermark past both
    # buffered candidates — click and purchase emit exactly once, with
    # delays measured from the restored predecessor timestamps
    r.send([{"ts": _ts(50), "user": "zz", "event_type": "view"}])
    r.run(build)
    out = [
        (m["stage"], m["delay_us"])
        for m in r.shutdown()
        if m["user"] == "u1"
    ]
    assert out == [
        ("signup", 0),
        ("click", 10 * 60 * 1_000_000),
        ("purchase", 10 * 60 * 1_000_000),
    ]
