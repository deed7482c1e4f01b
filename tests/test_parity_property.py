"""Property-based batch ↔ streaming parity for the CEP core.

The batch `pattern.followed_by` (relational join+rank) and the streaming
`nfa.chain_stream` (per-key state machine, the kernel live SQL PATTERN
queries run) implement the SAME semantics by two completely different
mechanisms. On any event sequence they must produce identical match sets
— a far stronger statement than example-based tests, and the property
the reference enforces implicitly by having only one engine.

Hypothesis generates random event schedules (type, user, minute offsets);
each example replays the stream in 1-3 micro-batch splits. Two schedule
regimes:

- TOTALLY ORDERED (per-event second offsets break minute ties): pins the
  base semantics where "first match" is unambiguous.
- TIE-HEAVY (the *_ties_* suites below): every event lands on an exact
  minute, so co-timestamped events are the norm. WHICH of two tied
  candidates matches is engine-specific (arrival order in the stream, a
  deterministic rank in the relational plan) — the reference never sees
  two events at once on a single input thread — so tie payloads derive
  from the timestamp alone, making tied events interchangeable and the
  match SET well-defined. Both engines advance pattern steps
  strictly-after and count quantified events at >= the last-counted ts
  (the round-4 tie fix, nfa.py); these properties pin that contract for
  followed-by, absent, 3-chains, quantifiers, and AND/OR groups.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from engine_spark.operators import pattern
from engine_spark.streaming import nfa
from engine_spark.streaming.harness import StreamRunner

T0 = datetime(2026, 1, 1, 12, 0)

events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["login", "purchase", "view"]),
        st.sampled_from(["u1", "u2"]),
        st.integers(min_value=0, max_value=30),  # minute offset
    ),
    min_size=1,
    max_size=12,
)


@given(events=events_strategy, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_followed_by_batch_equals_streaming(spark, events, split):
    within = 600  # 10 minutes
    # deterministic schedule sorted by time (the NFA sorts in-batch anyway;
    # sorting here makes the micro-batch split respect arrival order)
    rows = sorted(
        [
            (T0 + timedelta(minutes=m, seconds=i), u, t, float(i))
            for i, (t, u, m) in enumerate(events)
        ],
        key=lambda r: r[0],
    )

    # --- batch: relational formulation ---------------------------------
    df = spark.createDataFrame(rows, "ts timestamp, user string, etype string, v double")
    batch = pattern.followed_by(
        df, "ts", ["user"],
        first=F.col("etype") == "login",
        second=F.col("etype") == "purchase",
        within_seconds=within,
    )
    batch_set = {
        (r["user"], r["e1_v"], r["e2_v"])
        for r in batch.select("user", "e1_v", "e2_v").collect()
    }

    # --- streaming: per-key NFA across micro-batches -------------------
    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    n = max(1, len(rows) // split)
    for i in range(0, len(rows), n):
        r.send(
            [
                {"ts": ts.isoformat(), "user": u, "etype": t, "v": v}
                for ts, u, t, v in rows[i : i + n]
            ]
        )
    r.run(
        lambda sdf: nfa.chain_stream(
            sdf, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "login"),
                ("e2", F.col("etype") == "purchase"),
            ],
            within_seconds=within, payload_cols=["v"],
        )
    )
    stream_set = {(m["user"], m["e1_v"], m["e2_v"]) for m in r.shutdown()}

    assert batch_set == stream_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=25),  # minute offset
            st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_tumbling_window_batch_equals_streaming(spark, events):
    """Batch groupBy(window) and streaming watermark windows must agree on
    every closed window (the stream appends a far-future sentinel so the
    watermark closes everything)."""
    from engine_spark.operators import windows as BW
    from engine_spark.streaming import windows as SW

    rows_ = [
        (T0 + timedelta(minutes=m), u, round(v, 2)) for u, m, v in events
    ]
    df = spark.createDataFrame(rows_, "ts timestamp, user string, v double")
    batch = BW.time_batch(
        df, "ts", "5 minutes", ["user"],
        [F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(18,4)")).alias("s")],
    )
    batch_set = {
        (r["user"], str(r["window_start"]), r["n"], float(r["s"]))
        for r in batch.collect()
    }

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    r.send(
        [
            {"ts": ts.isoformat(), "user": u, "v": v}
            for ts, u, v in sorted(rows_, key=lambda x: x[0])
        ]
    )
    # sentinel far in the future closes every real window
    r.send([{"ts": (T0 + timedelta(hours=10)).isoformat(), "user": "zz", "v": 0.0}])
    r.run(
        lambda sdf: SW.tumbling(
            sdf, "ts", "5 minutes", ["user"],
            [F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(18,4)")).alias("s")],
        )
    )
    stream_set = {
        (m["user"], str(m["window_start"]), m["n"], float(m["s"]))
        for m in r.shutdown()
        if m["user"] != "zz"
    }
    assert stream_set == batch_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["login", "purchase", "view"]),
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_absent_batch_equals_streaming(spark, events):
    """Relational absent (anti-join) == streaming absent (state timeout):
    a far-future sentinel pushes the watermark past every deadline so the
    streaming side fully resolves."""
    from engine_spark.operators import pattern as PT

    within = 600
    rows_ = sorted(
        [
            (T0 + timedelta(minutes=m, seconds=i), u, t, float(i))
            for i, (t, u, m) in enumerate(events)
        ],
        key=lambda r: r[0],
    )
    df = spark.createDataFrame(rows_, "ts timestamp, user string, etype string, v double")
    batch = PT.absent(
        df, "ts", ["user"],
        first=F.col("etype") == "login",
        absent_filter=F.col("etype") == "purchase",
        within_seconds=within,
    )
    batch_set = {(r["user"], r["v"]) for r in batch.select("user", "v").collect()}

    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send(
        [
            {"ts": ts.isoformat(), "user": u, "etype": t, "v": v}
            for ts, u, t, v in rows_
        ]
    )
    # two sentinel batches: one advances the watermark, the next lets the
    # timeout fire after the advance
    r.send([{"ts": (T0 + timedelta(hours=5)).isoformat(), "user": "zz", "etype": "view", "v": 0.0}])
    r.send([{"ts": (T0 + timedelta(hours=6)).isoformat(), "user": "zz", "etype": "view", "v": 0.0}])
    r.run(
        lambda sdf: nfa.chain_stream(
            sdf, "ts", "user",
            steps=[("e1", F.col("etype") == "login")],
            within_seconds=within, payload_cols=["v"],
            absent_final=(F.col("etype") == "purchase", float(within)),
        )
    )
    stream_set = {(m["user"], m["e1_v"]) for m in r.shutdown()}
    assert stream_set == batch_set


@given(events=events_strategy, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chain3_batch_equals_streaming(spark, events, split):
    """3-step chain: the relational SQL PATTERN compiler and the streaming
    chain_stream NFA must produce identical match sets."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    within = 600
    rows = sorted(
        [
            (T0 + timedelta(minutes=m, seconds=i), u, t, float(i))
            for i, (t, u, m) in enumerate(events)
        ],
        key=lambda r: r[0],
    )
    # NB: `e1.user`, not bare `user` — the pattern output has only aliased
    # `e1_user`-style columns, and Spark resolves a bare `user` to the
    # niladic current_user() function instead of erroring
    sql = (
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT e1.user AS u, e1.v AS v1, e2.v AS v2, e3.v AS v3 "
        "FROM EVERY PATTERN (e1=E[etype = 'login'] -> e2=E[etype = 'view'] "
        "-> e3=E[etype = 'purchase']) WITHIN 600 SECONDS; END;"
    )

    df = spark.createDataFrame(rows, "ts timestamp, user string, etype string, v double")
    app = SqlApp(spark)
    app.streams["E"] = _Stream(df=df, ts_col="ts")
    batch_set = {
        tuple(r) for r in app.sql(sql)["Out"].collect()
    }

    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    n = max(1, len(rows) // split)
    for i in range(0, len(rows), n):
        r.send(
            [
                {"ts": ts.isoformat(), "user": u, "etype": t, "v": v}
                for ts, u, t, v in rows[i : i + n]
            ]
        )
    r.run(
        lambda sdf: nfa.chain_stream(
            sdf, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "login"),
                ("e2", F.col("etype") == "view"),
                ("e3", F.col("etype") == "purchase"),
            ],
            within_seconds=within, payload_cols=["v"],
        )
    )
    stream_set = {
        (m["user"], m["e1_v"], m["e2_v"], m["e3_v"]) for m in r.shutdown()
    }
    assert batch_set == stream_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=12,
    ),
    split=st.integers(min_value=1, max_value=3),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_count_quantifier_batch_equals_streaming(spark, events, split):
    """{2,4} trailing-window quantifier: relational range-frame count ==
    streaming per-key buffer count."""
    within = 600
    rows = sorted(
        [
            (T0 + timedelta(minutes=m, seconds=i), u, float(i))
            for i, (u, m) in enumerate(events)
        ],
        key=lambda r: r[0],
    )
    df = spark.createDataFrame(rows, "ts timestamp, user string, v double")
    batch = pattern.count_quantifier_bounded(
        df, "ts", ["user"], F.lit(True), 2, 4, within
    )
    batch_set = {
        (r["user"], str(r["ts"]), r["match_count"], r["v"]) for r in batch.collect()
    }

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    n = max(1, len(rows) // split)
    for i in range(0, len(rows), n):
        r.send(
            [
                {"ts": ts.isoformat(), "user": u, "v": v}
                for ts, u, v in rows[i : i + n]
            ]
        )
    r.run(
        lambda sdf: nfa.count_quantifier_stream(
            sdf, "ts", "user",
            event_filter=F.lit(True),
            min_count=2, max_count=4,
            within_seconds=within, value_col="v",
        )
    )
    stream_set = {
        (m["user"], str(m["ts"]), m["match_count"], m["v"]) for m in r.shutdown()
    }
    assert stream_set == batch_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=30),  # minute offset
            st.integers(min_value=-5, max_value=5),  # value
        ),
        min_size=1,
        max_size=12,
    ),
    split=st.integers(min_value=1, max_value=3),
    n=st.integers(min_value=1, max_value=4),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_length_sliding_batch_equals_streaming(spark, events, split, n):
    """The batch rows-frame window (operators.windows.length_sliding) and
    the streaming keyed-state frame buffer (streaming.windows.sliding_stream
    mode='length') must agree on every event's trailing-n aggregate."""
    from engine_spark.operators import windows as BW
    from engine_spark.streaming import windows as SW2

    rows = sorted(
        [
            (T0 + timedelta(minutes=m, seconds=i), u, float(v))
            for i, (u, m, v) in enumerate(events)
        ],
        key=lambda r: r[0],
    )

    df = spark.createDataFrame(rows, "ts timestamp, user string, v double")
    batch = BW.length_sliding(
        df, "ts", n, partition_by=["user"],
        aggs={"s": F.sum("v"), "c": F.count(F.lit(1))},
        tiebreak=["v"],
    )
    batch_set = sorted(
        (r["user"], r["v"], r["s"], r["c"])
        for r in batch.select("user", "v", "s", "c").collect()
    )

    r = StreamRunner(spark, "ts timestamp, user string, v double")
    nn = max(1, len(rows) // split)
    for i in range(0, len(rows), nn):
        r.send(
            [
                {"ts": t.strftime("%Y-%m-%dT%H:%M:%S"), "user": u, "v": v}
                for t, u, v in rows[i : i + nn]
            ]
        )
    r.run(
        lambda sdf: SW2.sliding_stream(
            sdf, "ts", "user",
            [("sum", "v", "s"), ("count", None, "c")],
            mode="length", size=n,
        )
    )
    stream_set = sorted((m["user"], m["v"], m["s"], m["c"]) for m in r.shutdown())
    assert stream_set == batch_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "b", "c", "x"]),  # b twice: tie-prone
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=8),  # minute offset
        ),
        min_size=2,
        max_size=10,
    ),
    split=st.integers(min_value=1, max_value=3),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_midchain_quantifier_ties_batch_equals_streaming(spark, events, split):
    """`A -> B{2,} -> C` with CO-TIMESTAMPED B events: the batch path ranks
    all qualifying B's by ts (ties each count toward the quantifier), so the
    streaming counter must accept t >= last-counted-timestamp rather than
    strictly-after. B events carry second offset 0 (two B's in the same
    minute tie exactly) and a payload derived from the timestamp alone, so
    capture is identical whichever tied event ranks m-th; A/C events get
    unique per-event second offsets, keeping every cross-step comparison
    strict and unambiguous in both engines."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    sql = (
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT e1.eid AS a, e2.bmin AS bm, e3.eid AS c "
        "FROM EVERY PATTERN (e1=E[etype = 'a'] -> e2=E[etype = 'b']{2,} "
        "-> e3=E[etype = 'c']) WITHIN 1200 SECONDS; "
        "END;"
    )
    rows = sorted(
        [
            (
                T0 + timedelta(minutes=m, seconds=0 if t == "b" else i + 10),
                u,
                t,
                i,
                m if t == "b" else -1,
            )
            for i, (t, u, m) in enumerate(events)
        ],
        key=lambda r: r[0],
    )
    schema = "ts timestamp, user string, etype string, eid int, bmin int"

    app = SqlApp(spark)
    app.register_stream("E", spark.createDataFrame(rows, schema), ts_col="ts")
    batch_set = {
        (r["a"], r["bm"], r["c"]) for r in app.sql(sql)["Out"].collect()
    }

    r = StreamRunner(spark, schema)
    nn = max(1, len(rows) // split)
    for i in range(0, len(rows), nn):
        r.send(
            [
                {
                    "ts": t.strftime("%Y-%m-%dT%H:%M:%S"),
                    "user": u,
                    "etype": ty,
                    "eid": e,
                    "bmin": bm,
                }
                for t, u, ty, e, bm in rows[i : i + nn]
            ]
        )

    def build(sdf):
        app2 = SqlApp(spark)
        app2.streams["E"] = _Stream(df=sdf, ts_col="ts")
        return app2.sql(sql)["Out"]

    r.run(build)
    stream_set = {(m["a"], m["bm"], m["c"]) for m in r.shutdown()}
    assert stream_set == batch_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "x"]),
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=25),  # minute offset
        ),
        min_size=1,
        max_size=10,
    ),
    split=st.integers(min_value=1, max_value=3),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_midchain_and_group_batch_equals_streaming(spark, events, split):
    """`A -> (B AND C)`: the relational chain (join + first-completing-pair
    rank) and the streaming NFA (group step holding first match per member)
    must produce identical match sets on any totally-ordered schedule."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream
    from engine_spark.streaming.harness import StreamRunner

    within = 1200
    sql = (
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT e1.eid AS a, e2.eid AS b, e3.eid AS c "
        "FROM EVERY PATTERN (e1=E[etype = 'a'] -> "
        "(e2=E[etype = 'b'] AND e3=E[etype = 'c'])) "
        f"WITHIN {within} SECONDS; "
        "END;"
    )
    rows = sorted(
        [
            (T0 + timedelta(minutes=m, seconds=i), u, t, i)
            for i, (t, u, m) in enumerate(events)
        ],
        key=lambda r: r[0],
    )

    # --- batch ---------------------------------------------------------
    app = SqlApp(spark)
    bdf = spark.createDataFrame(
        rows, "ts timestamp, user string, etype string, eid int"
    )
    app.register_stream("E", bdf, ts_col="ts")
    batch_set = {
        (r["a"], r["b"], r["c"]) for r in app.sql(sql)["Out"].collect()
    }

    # --- streaming -----------------------------------------------------
    r = StreamRunner(spark, "ts timestamp, user string, etype string, eid int")
    nn = max(1, len(rows) // split)
    for i in range(0, len(rows), nn):
        r.send(
            [
                {
                    "ts": t.strftime("%Y-%m-%dT%H:%M:%S"),
                    "user": u,
                    "etype": ty,
                    "eid": e,
                }
                for t, u, ty, e in rows[i : i + nn]
            ]
        )

    def build(sdf):
        app2 = SqlApp(spark)
        app2.streams["E"] = _Stream(df=sdf, ts_col="ts")
        return app2.sql(sql)["Out"]

    r.run(build)
    stream_set = {(m["a"], m["b"], m["c"]) for m in r.shutdown()}
    assert stream_set == batch_set


# ---------------------------------------------------------------------------
# Tie-heavy schedules: every event lands on an exact minute (second offset
# 0), so co-timestamped events are the NORM, and payloads are derived from
# the timestamp alone — tied events are interchangeable, making the match
# SET well-defined even where "which tied event" is engine-specific
# (streaming picks arrival order, relational picks a deterministic rank).
# Both engines advance steps strictly-after (batch hop join `nxt_ts >
# cur_ts`; NFA `t > p['l']`), so cross-step ties must never match — these
# properties pin that, plus set-equality, across micro-batch splits.
# ---------------------------------------------------------------------------

tie_events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["login", "purchase", "view"]),
        st.sampled_from(["u1", "u2"]),
        st.integers(min_value=0, max_value=6),  # tiny range: ties everywhere
    ),
    min_size=2,
    max_size=12,
)


def _tie_rows(events):
    """Second offset always 0; payload = minute (identical for all events
    sharing a timestamp, so capture is tie-insensitive)."""
    return sorted(
        [
            (T0 + timedelta(minutes=m), u, t, float(m))
            for (t, u, m) in events
        ],
        key=lambda r: r[0],
    )


@given(events=tie_events_strategy, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_followed_by_ties_batch_equals_streaming(spark, events, split):
    within = 120
    rows = _tie_rows(events)
    df = spark.createDataFrame(rows, "ts timestamp, user string, etype string, v double")
    batch = pattern.followed_by(
        df, "ts", ["user"],
        first=F.col("etype") == "login",
        second=F.col("etype") == "purchase",
        within_seconds=within,
    )
    batch_set = {
        (r["user"], r["e1_v"], r["e2_v"])
        for r in batch.select("user", "e1_v", "e2_v").collect()
    }

    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    n = max(1, len(rows) // split)
    for i in range(0, len(rows), n):
        r.send(
            [
                {"ts": ts.isoformat(), "user": u, "etype": t, "v": v}
                for ts, u, t, v in rows[i : i + n]
            ]
        )
    r.run(
        lambda sdf: nfa.chain_stream(
            sdf, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "login"),
                ("e2", F.col("etype") == "purchase"),
            ],
            within_seconds=within, payload_cols=["v"],
        )
    )
    stream_set = {(m["user"], m["e1_v"], m["e2_v"]) for m in r.shutdown()}
    assert batch_set == stream_set


@given(events=tie_events_strategy)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_absent_ties_batch_equals_streaming(spark, events):
    from engine_spark.operators import pattern as PT

    within = 120
    rows = _tie_rows(events)
    df = spark.createDataFrame(rows, "ts timestamp, user string, etype string, v double")
    batch = PT.absent(
        df, "ts", ["user"],
        first=F.col("etype") == "login",
        absent_filter=F.col("etype") == "purchase",
        within_seconds=within,
    )
    batch_set = sorted(
        (r["user"], r["v"]) for r in batch.select("user", "v").collect()
    )

    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    r.send(
        [
            {"ts": ts.isoformat(), "user": u, "etype": t, "v": v}
            for ts, u, t, v in rows
        ]
    )
    r.send([{"ts": (T0 + timedelta(hours=5)).isoformat(), "user": "zz", "etype": "view", "v": 0.0}])
    r.send([{"ts": (T0 + timedelta(hours=6)).isoformat(), "user": "zz", "etype": "view", "v": 0.0}])
    r.run(
        lambda sdf: nfa.chain_stream(
            sdf, "ts", "user",
            steps=[("e1", F.col("etype") == "login")],
            within_seconds=within, payload_cols=["v"],
            absent_final=(F.col("etype") == "purchase", float(within)),
        )
    )
    stream_set = sorted((m["user"], m["e1_v"]) for m in r.shutdown())
    assert stream_set == batch_set


@given(events=tie_events_strategy, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_chain3_ties_batch_equals_streaming(spark, events, split):
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    within = 300
    rows = _tie_rows(events)
    sql = (
        "PARTITION WITH (user OF E) BEGIN "
        "INSERT INTO Out SELECT e1.user AS u, e1.v AS v1, e2.v AS v2, e3.v AS v3 "
        "FROM EVERY PATTERN (e1=E[etype = 'login'] -> e2=E[etype = 'view'] "
        f"-> e3=E[etype = 'purchase']) WITHIN {within} SECONDS; END;"
    )
    df = spark.createDataFrame(rows, "ts timestamp, user string, etype string, v double")
    app = SqlApp(spark)
    app.streams["E"] = _Stream(df=df, ts_col="ts")
    batch_set = {tuple(r) for r in app.sql(sql)["Out"].collect()}

    r = StreamRunner(spark, "ts timestamp, user string, etype string, v double")
    n = max(1, len(rows) // split)
    for i in range(0, len(rows), n):
        r.send(
            [
                {"ts": ts.isoformat(), "user": u, "etype": t, "v": v}
                for ts, u, t, v in rows[i : i + n]
            ]
        )
    r.run(
        lambda sdf: nfa.chain_stream(
            sdf, "ts", "user",
            steps=[
                ("e1", F.col("etype") == "login"),
                ("e2", F.col("etype") == "view"),
                ("e3", F.col("etype") == "purchase"),
            ],
            within_seconds=within, payload_cols=["v"],
        )
    )
    stream_set = {
        (m["user"], m["e1_v"], m["e2_v"], m["e3_v"]) for m in r.shutdown()
    }
    assert batch_set == stream_set


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "x"]),
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=2,
        max_size=10,
    ),
    split=st.integers(min_value=1, max_value=3),
    connective=st.sampled_from(["AND", "OR"]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_group_ties_batch_equals_streaming(spark, events, split, connective):
    """`A -> (B AND C)` and `A -> (B OR C)` on tie-heavy schedules. For OR
    the firing member is engine-specific on a tie, so the projection takes
    coalesce(e2.v, e3.v) — member-agnostic, well-defined either way."""
    from engine_spark.plans import SqlApp
    from engine_spark.plans.compiler import _Stream

    within = 300
    rows = sorted(
        [
            (T0 + timedelta(minutes=m), u, t, float(m))
            for (t, u, m) in events
        ],
        key=lambda r: r[0],
    )
    proj = (
        "e2.v AS b, e3.v AS c" if connective == "AND"
        else "coalesce(e2.v, e3.v) AS bc"
    )
    sql = (
        "PARTITION WITH (user OF E) BEGIN "
        f"INSERT INTO Out SELECT e1.v AS a, {proj} "
        f"FROM EVERY PATTERN (e1=E[etype = 'a'] -> "
        f"(e2=E[etype = 'b'] {connective} e3=E[etype = 'c'])) "
        f"WITHIN {within} SECONDS; END;"
    )
    schema = "ts timestamp, user string, etype string, v double"
    app = SqlApp(spark)
    app.register_stream("E", spark.createDataFrame(rows, schema), ts_col="ts")
    batch_set = sorted(tuple(r) for r in app.sql(sql)["Out"].collect())

    r = StreamRunner(spark, schema)
    nn = max(1, len(rows) // split)
    for i in range(0, len(rows), nn):
        r.send(
            [
                {"ts": t.isoformat(), "user": u, "etype": ty, "v": v}
                for t, u, ty, v in rows[i : i + nn]
            ]
        )

    def build(sdf):
        app2 = SqlApp(spark)
        app2.streams["E"] = _Stream(df=sdf, ts_col="ts")
        return app2.sql(sql)["Out"]

    r.run(build)
    cols = ("a", "b", "c") if connective == "AND" else ("a", "bc")
    stream_set = sorted(tuple(m[c] for c in cols) for m in r.shutdown())
    assert stream_set == batch_set


gapfill_events = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2"]),
        st.integers(min_value=0, max_value=8),  # hour offset
        st.integers(min_value=0, max_value=59),  # minute
        st.integers(min_value=-5, max_value=9),  # integer-valued amount
    ),
    min_size=1,
    max_size=14,
)


@given(events=gapfill_events, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_gapfill_stream_matches_batch(spark, events, split):
    """Dense-hour gap-fill + forward-fill: the batch plan (per-key hour
    grid via sequence() + left join + last(ignorenulls) window — the
    events_gapfill_1h gate shape) and the streaming operator
    (watermark-closed hours from applyInPandasWithState) must agree
    exactly on any event schedule once the watermark closes every hour:
    same dense rows, same sums, same carried-forward values, same
    is_gap flags (VERDICT r8 task #7)."""
    from pyspark.sql import Window as W

    from engine_spark.streaming.gapfill import gapfill_stream

    evs = sorted(
        (
            (u, T0 + timedelta(hours=ho, minutes=m), float(v))
            for u, ho, m, v in events
        ),
        key=lambda e: e[1],
    )

    # -- streaming: ts-ordered micro-batch splits + sentinel flushes that
    # push the watermark past every real hour (it trails one batch)
    r = StreamRunner(spark, "ts timestamp, user string, v double")
    per = -(-len(evs) // split)
    for i in range(0, len(evs), per):
        r.send(
            [
                {"ts": e[1].isoformat(), "user": e[0], "v": e[2]}
                for e in evs[i : i + per]
            ]
        )
    for flush_h in (12, 13):
        r.send(
            [
                {
                    "ts": (T0 + timedelta(hours=flush_h)).isoformat(),
                    "user": "zz",
                    "v": 0.0,
                }
            ]
        )
    r.run(lambda df: gapfill_stream(df, "ts", "user", "v"))
    stream = sorted(
        (m["user"], m["hour"], m["n_events"], m["filled_value"], m["is_gap"])
        for m in r.shutdown()
        if m["user"] != "zz"
    )

    # -- batch twin: the relational gate shape
    bdf = spark.createDataFrame(evs, "user string, ts timestamp, v double")
    hourly = bdf.groupBy(
        "user", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"), F.sum("v").alias("sum_v"))
    grid = (
        hourly.groupBy("user")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user",
            F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("hour"),
        )
    )
    joined = grid.join(hourly, ["user", "hour"], "left")
    w = W.partitionBy("user").orderBy("hour")
    batch = sorted(
        (
            row.user,
            row.hour,
            row.n_events,
            row.filled_value,
            row.is_gap,
        )
        for row in joined.select(
            "user",
            "hour",
            F.coalesce(F.col("n_events"), F.lit(0).cast("bigint")).alias(
                "n_events"
            ),
            F.last("sum_v", ignorenulls=True).over(w).alias("filled_value"),
            F.col("n_events").isNull().alias("is_gap"),
        ).collect()
    )
    assert stream == batch


cohort_events = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2", "u3"]),
        st.integers(min_value=0, max_value=5),   # day offset from T0
        st.integers(min_value=0, max_value=23),  # hour of day
    ),
    min_size=1,
    max_size=14,
)


@given(events=cohort_events, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cohort_stream_matches_batch(spark, events, split):
    """Cohort assignment: the streaming operator (watermark-final cohorts
    from applyInPandasWithState) must emit exactly the batch gate's
    (user, cohort_day, day, day_offset) pairs — one per distinct active
    day, offsets against the user's minimum day — for any event schedule
    and any micro-batch split, and the aggregated retention matrix must
    match the events_cohort_retention gate shape."""
    from collections import Counter

    from engine_spark.streaming.cohort import cohort_stream

    evs = sorted(
        ((u, T0 + timedelta(days=d, hours=h)) for u, d, h in events),
        key=lambda e: e[1],
    )

    r = StreamRunner(spark, "ts timestamp, user string")
    per = -(-len(evs) // split)
    for i in range(0, len(evs), per):
        r.send([{"ts": e[1].isoformat(), "user": e[0]} for e in evs[i : i + per]])
    for flush_d in (8, 9):  # push the watermark past every real day
        r.send([{"ts": (T0 + timedelta(days=flush_d)).isoformat(), "user": "zz"}])
    r.run(lambda df: cohort_stream(df, "ts", "user"))
    stream_pairs = sorted(
        (m["user"], m["cohort_day"], m["day"], m["day_offset"])
        for m in r.shutdown()
        if m["user"] != "zz"
    )

    # -- batch twin: the events_cohort_retention gate shape
    bdf = spark.createDataFrame(evs, "user string, ts timestamp")
    per_user = (
        bdf.select("user", F.date_trunc("day", "ts").alias("day"))
        .groupBy("user")
        .agg(F.collect_set("day").alias("days"))
    )
    batch_pairs = sorted(
        (row.user, row.cohort_day, row.day, row.day_offset)
        for row in per_user.select(
            "user",
            F.array_min("days").alias("cohort_day"),
            F.explode("days").alias("day"),
        )
        .withColumn(
            "day_offset",
            F.datediff(F.col("day"), F.col("cohort_day")).cast("int"),
        )
        .collect()
    )
    assert stream_pairs == batch_pairs

    # matrix parity: counting the streamed pairs IS the retention matrix
    stream_matrix = Counter((c, o) for _, c, _, o in stream_pairs)
    batch_matrix = Counter((c, o) for _, c, _, o in batch_pairs)
    assert stream_matrix == batch_matrix


funnel_events = st.lists(
    st.tuples(
        st.sampled_from(["u1", "u2"]),
        st.sampled_from(["signup", "click", "purchase", "view"]),
        st.integers(min_value=0, max_value=60),  # hours from T0
    ),
    min_size=1,
    max_size=16,
)


@given(events=funnel_events, split=st.integers(min_value=1, max_value=3))
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_funnel_stream_matches_batch(spark, events, split):
    """Conversion funnel: the streaming operator (watermark-final stage
    minima from applyInPandasWithState) must emit exactly the batch
    gate's (user, stage, ts, delay) rows — t1 = min signup, t2 = first
    click in (t1, t1+24h], t3 = first purchase in (t2, t2+24h] — for any
    event schedule and any micro-batch split. Events are sent in
    event-time order (the watermark contract — a LATE signup is dropped
    by design, which the batch twin cannot see); disorder is still
    exercised inside each micro-batch, where stage events and their
    predecessors arrive together and the watermark lags one batch."""
    from engine_spark.streaming.funnel import funnel_stream

    evs = sorted(
        ((u, k, T0 + timedelta(hours=h)) for u, k, h in events),
        key=lambda e: e[2],
    )

    r = StreamRunner(spark, "ts timestamp, user string, event_type string")
    per = -(-len(evs) // split)
    for i in range(0, len(evs), per):
        r.send(
            [
                {"ts": e[2].isoformat(), "user": e[0], "event_type": e[1]}
                for e in evs[i : i + per]
            ]
        )
    for flush_h in (200, 201):  # push the watermark past every candidate
        r.send(
            [
                {
                    "ts": (T0 + timedelta(hours=flush_h)).isoformat(),
                    "user": "zz",
                    "event_type": "view",
                }
            ]
        )
    r.run(lambda df: funnel_stream(df, "ts", "user"))
    stream_rows = sorted(
        (m["user"], m["stage"], m["ts"], m["delay_us"])
        for m in r.shutdown()
        if m["user"] != "zz"
    )

    # -- batch twin: the events_funnel_24h gate's per-user stage minima
    from pyspark.sql import Window as W

    bdf = spark.createDataFrame(
        [(u, k, t) for u, k, t in evs], "user string, event_type string, ts timestamp"
    )
    w = W.partitionBy("user")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    d1 = bdf.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS")),
            F.col("ts"),
        )
    ).over(w)
    d2 = d1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        d2.withColumn("t3", t3)
        .groupBy("user")
        .agg(F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3"))
        .collect()
    )
    batch_rows = []
    for row in per_user:
        if row.t1 is not None:
            batch_rows.append((row.user, "signup", row.t1, 0))
        if row.t2 is not None:
            us = int((row.t2 - row.t1).total_seconds() * 1_000_000)
            batch_rows.append((row.user, "click", row.t2, us))
        if row.t3 is not None:
            us = int((row.t3 - row.t2).total_seconds() * 1_000_000)
            batch_rows.append((row.user, "purchase", row.t3, us))
    assert stream_rows == sorted(batch_rows)


# ---------------------------------------------------------------------------
# connected components: both code paths (label propagation + pointer jump,
# large-star/small-star contraction) against a Python union-find oracle on
# random graphs — including chain segments whose diameter defeats the
# propagation round budget, the shape the star fallback exists for
# ---------------------------------------------------------------------------

_cc_edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=40),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=60,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@given(edges=_cc_edges_strategy, chain_len=st.integers(min_value=0, max_value=30))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_connected_components_both_paths_match_union_find(
    spark, edges, chain_len
):
    from engine_spark.datapipe.cluster import connected_components

    # graft a chain (disjoint id range) onto the random graph so some
    # component's diameter exceeds the tiny star_after budget below
    edges = edges + [(100 + i, 100 + i + 1) for i in range(chain_len)]
    want = _uf_components(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    # fast path only (star_after high enough to never trigger)
    fast = {
        r["vertex"]: r["component"]
        for r in connected_components(df, star_after=25).collect()
    }
    assert fast == want
    # star path (fallback triggers after one propagation round)
    starred = {
        r["vertex"]: r["component"]
        for r in connected_components(df, star_after=1).collect()
    }
    assert starred == want


def test_star_fallback_converges_on_diameter_200_chain(spark):
    """The r11 gap scenario verbatim: a chain component whose diameter
    (200) dwarfs the old 25-round budget must converge via the star
    fallback instead of raising."""
    from engine_spark.datapipe.cluster import connected_components

    n = 200
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    out = {
        r["vertex"]: r["component"]
        for r in connected_components(df, max_rounds=4, star_after=2).collect()
    }
    assert out == {i: 0 for i in range(n + 1)}
