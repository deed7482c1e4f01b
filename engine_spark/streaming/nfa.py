"""Per-key pattern NFA kernels on Spark's keyed pandas state — the
streaming execution of the CEP constructs (reference
stream_pre_state_processor.rs / count_pre_state_processor.rs / absent +
timer wheel). One kernel per pattern semantics: ``chain_stream`` runs
followed-by chains of any length (absence, AND/OR groups and count
quantifiers are elements of the chain), ``count_quantifier_stream`` a
single quantified step and ``logical_and_stream_payload`` a first-step
AND group.

Design:
- match predicates are evaluated as Catalyst expressions *before* the
  stateful operator (``_is_<i>`` boolean columns) — the Python NFA
  only sequences; filtering stays JVM-side and pushes to the scan;
- within-batch ordering: events are sorted by event time inside each
  micro-batch (the reference's junction guarantees arrival order;
  micro-batching makes this explicit — SURVEY §7 hard spot (a));
- watermark + EventTimeTimeout evict state exactly where the reference's
  window buffer expiry / timer wheel did.

Scale: state is per key-group in the state store (RocksDB on a real
cluster), partitioned by the grouping key — the same shuffle a streaming
aggregation pays. No global state, no driver involvement.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from engine_spark.streaming.eventtime import watermarked

US = 1_000_000


def _set_timeout(state: GroupState, deadline_ms: int) -> None:
    """Event-time timeouts must not be earlier than the current watermark —
    clamp (the deadline already passed; fire at the next possible tick)."""
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(deadline_ms, wm + 1))


def _us(ts) -> int:
    return int(pd.Timestamp(ts).value // 1000)  # ns → µs


def _ts_us_arr(s: pd.Series) -> np.ndarray:
    """Whole-column µs-since-epoch conversion — one vectorized cast instead
    of a ``pd.Timestamp`` construction per event. ``.values`` on a tz-aware
    series yields UTC datetime64, matching ``pd.Timestamp(x).value``."""
    v = s.values
    if v.dtype.kind == "M":
        return v.astype("datetime64[ns]").astype("int64") // 1000
    return np.fromiter((_us(x) for x in v), dtype="int64", count=len(v))


def _bool_arr(s: pd.Series) -> np.ndarray:
    """Predicate column → dense bool array; SQL three-valued NULL means
    'not matched' (the batch WHERE treats NULL as false)."""
    if s.dtype == bool:
        return s.to_numpy()
    return s.fillna(False).to_numpy(dtype=bool)


#: Per-key per-micro-batch event count above which the stateful NFA logs an
#: executor-side hot-key warning (the per-key rate ceiling is documented in
#: PERF.md; the fix is ``chain_stream``'s ``salt`` or the relational path).
HOT_KEY_WARN_EVENTS = 200_000


def _warn_hot_key(key, n: int, threshold: int | None = None) -> None:
    if n <= (threshold or HOT_KEY_WARN_EVENTS):
        return
    import warnings

    warnings.warn(
        f"streaming NFA hot key {key!r}: {n} events in one micro-batch "
        f"(> {threshold or HOT_KEY_WARN_EVENTS}) funnel through a single "
        "python worker (per-key rate ceiling, see PERF.md). Pass salt=R or "
        "salt='auto' to chain_stream, or SqlApp(nfa_salt=...) for SQL "
        "PATTERN queries (exact semantics preserved), or route this key to "
        "the relational batch path.",
        stacklevel=2,
    )


def _mark_hot_key(hot_dir: str, key_str: str) -> None:
    """Executor-side: persist a hot-key marker (idempotent, atomic
    single-file publish) so the NEXT plan build salts this key.
    ``hot_dir`` must be a path visible to both executors and driver —
    on a cluster, shared storage next to the checkpoint dir (same
    durability requirement). Scheme-aware: local paths use os.replace,
    ``hdfs://``/``s3a://`` go through pyarrow.fs (fsio.atomic_publish_file)
    — a marker is best-effort; a missed publish only delays salting by a
    batch, never breaks match correctness."""
    import hashlib
    import json as _json
    import os

    from engine_spark.fsio import atomic_publish_file

    fn = (
        hot_dir.rstrip("/")
        + "/"
        + hashlib.md5(key_str.encode()).hexdigest()
        + ".json"
    )
    if "://" not in fn and os.path.exists(fn):
        return
    atomic_publish_file(fn, (_json.dumps({"k": key_str}) + "\n").encode())


#: executor-side hot-key registry reload cadence for ``salt='auto-live'``
#: (seconds). A marker written in batch N is visible to every executor
#: within this TTL — set it at or below the trigger interval so batch
#: N+1 re-keys. Tests set 0 to force a reload per Arrow batch.
HOT_RELOAD_TTL_S = 2.0

#: per-process registry snapshot cache: dir → (monotonic_read_time, keys)
_HOT_LIVE_CACHE: dict[str, tuple[float, frozenset]] = {}


def _hot_keys_live(hot_dir: str, ttl: float) -> frozenset:
    """Executor-side marker-set read with a TTL cache (the worker twin of
    the driver's eager plan-build listing): one small-dir listing per
    process per TTL window, never per row."""
    import json as _json
    import time as _time

    now = _time.monotonic()
    ent = _HOT_LIVE_CACHE.get(hot_dir)
    if ent is not None and now - ent[0] < ttl:
        return ent[1]
    from engine_spark.fsio import executor_read_small_files

    keys: set[str] = set()
    for data in executor_read_small_files(hot_dir, ".json"):
        try:
            for line in data.decode().splitlines():
                if line.strip():
                    keys.add(str(_json.loads(line)["k"]))
        except Exception:  # noqa: BLE001 - torn marker delays, not breaks
            continue
    snap = frozenset(keys)
    _HOT_LIVE_CACHE[hot_dir] = (now, snap)
    return snap


def _fan_out(
    tagged: DataFrame,
    hash_cols: list[str],
    r: int,
    repl_cond: Column,
    anchor_col: str,
    hot: Column | None = None,
) -> DataFrame:
    """Exact hot-key salting, shared by static and auto modes: a row's
    anchor role (``anchor_col``: it opens state) hashes to ONE of ``r``
    sub-keys, while rows matching ``repl_cond`` (they advance or cancel
    state) replicate to ALL r — every sub-key sees the full continuation
    stream in order, so each anchor's outcome is exact and the union of
    sub-key outputs IS the unsalted output. A row in both roles keeps its
    anchor role only in its own sub-key (otherwise r copies would each
    open a start). ``hot`` restricts salting to flagged keys; the others
    ride in sub-key 0 unreplicated. Adds ``_salt``, rewrites
    ``anchor_col``."""
    own = F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(r))
    if hot is not None:
        own = F.when(hot, own).otherwise(F.lit(0).cast("long"))
        repl_cond = hot & repl_cond
    return tagged.withColumn(
        "_salt",
        F.explode(
            F.when(
                repl_cond,
                F.sequence(F.lit(0).cast("long"), F.lit(r - 1).cast("long")),
            ).otherwise(F.array(own))
        ),
    ).withColumn(anchor_col, F.col(anchor_col) & (F.col("_salt") == own))


def _auto_salt(
    tagged: DataFrame,
    key_col: str,
    hash_cols: list[str],
    hot_key_dir: str,
    r: int,
    repl_cond: Column,
    anchor_col: str,
    live: bool = False,
) -> DataFrame:
    """Hot-key-only salting, driven by the marker registry: keys listed in
    ``hot_key_dir`` get the exact anchor-owns-one/continuation-fans-to-all
    treatment of :func:`_fan_out`; cold keys ride in sub-key 0 with no
    replication cost.

    The registry is read EAGERLY on the driver at plan-build time (one
    Hadoop-FS listing + tiny reads — no file-source relation whose
    InMemoryFileIndex would freeze the listing inside a long-lived
    query), so the snapshot semantics are explicit: a marker written by
    the detector in batch N re-keys the NEXT PLAN BUILD. Under
    :class:`StreamRunner` (which rebuilds the plan every micro-batch,
    the supported deployment for ``salt='auto'``) that is batch N+1; a
    single long-lived ``writeStream.start()`` picks markers up at query
    restart — see SCALE.md "auto-salt freshness".

    Membership is sticky, which keeps the cold→hot transition exact:
    pre-salt state lives in sub-key 0 and continuation events replicate
    to ALL sub-keys including 0, so existing opens still meet every one;
    a hot→cold flip would strand state in sub-keys 1..R-1, which is why
    markers are never removed.

    ``live=True`` (``salt='auto-live'``): instead of freezing the
    registry into an ``isin`` literal at plan build, the ``_hot`` flag
    comes from an Arrow-batched pandas UDF whose per-process marker
    snapshot refreshes on :data:`HOT_RELOAD_TTL_S` — so a marker written
    in batch N re-keys batch N+1 under a SINGLE long-lived
    ``writeStream.start()``, no restart and no StreamRunner re-plan.
    Cost: one vectorized set-membership pass over the key column per
    batch (cold keys included), vs zero Python for the frozen literal —
    which is why the snapshot mode stays the default."""
    import json as _json

    from engine_spark.fsio import HadoopFS

    spark = tagged.sparkSession
    fs = HadoopFS(spark, hot_key_dir)
    fs.mkdirs(hot_key_dir)
    if live:
        ttl = HOT_RELOAD_TTL_S

        @F.pandas_udf("boolean")
        def _hot_live(k: pd.Series) -> pd.Series:
            keys = _hot_keys_live(hot_key_dir, ttl)
            if not keys:
                return pd.Series(False, index=k.index)
            return k.isin(list(keys))

        tagged = tagged.withColumn(
            "_hot", _hot_live(F.col(key_col).cast("string"))
        )
    else:
        base = hot_key_dir.rstrip("/")
        keys: set[str] = set()
        for name, is_dir in fs.list_names(hot_key_dir):
            if is_dir or not name.endswith(".json"):
                continue
            try:
                for line in fs.read_bytes(f"{base}/{name}").decode().splitlines():
                    if line.strip():
                        keys.add(str(_json.loads(line)["k"]))
            except Exception:  # noqa: BLE001 - torn marker delays, not breaks
                continue
        if keys:
            tagged = tagged.withColumn(
                "_hot",
                F.when(
                    F.col(key_col).cast("string").isin(*sorted(keys)),
                    F.lit(True),
                ),
            )
        else:
            tagged = tagged.withColumn("_hot", F.lit(None).cast("boolean"))
    return _fan_out(
        tagged, hash_cols, r, repl_cond, anchor_col, hot=F.col("_hot")
    ).drop("_hot")


def chain_stream(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    steps: list[tuple[str, Column]],
    within_seconds: int,
    payload_cols: list[str] | None = None,
    every: bool = True,
    late: str = "0 seconds",
    cross_filters: dict[int, "object"] | None = None,
    absent_final: tuple[Column, float] | None = None,
    step_mins: list[int] | None = None,
    group_steps: dict[int, tuple[str, Column, str]] | None = None,
    salt: int | str | None = None,
    hot_key_dir: str | None = None,
    auto_salt_r: int = 8,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Streaming N-step followed-by chain `e1=A -> e2=B -> ... WITHIN d`
    per key (reference stream_pre_state_processor.rs runs arbitrary chains
    through the same state-processor sequence; N=1 with ``absent_final``
    is `A -> NOT B FOR d`).

    Semantics match the relational compiler's PATTERN mode: every step-0
    event opens a partial match (EVERY; with ``every=False`` the key fires
    once and stops), each partial advances on the FIRST subsequent event
    satisfying its next step (skip-till-next-match), and the whole chain
    must complete within ``d`` of its first element.

    State per key = the list of open partial matches, each carrying its
    captured events — JSON-encoded so arbitrary payload columns ride along
    without a per-shape state schema. Partials are evicted as soon as the
    newest event (and, on quiet keys, the event-time timeout) passes
    ``first_ts + d``, so state stays bounded by the in-horizon starts
    exactly like the reference's pending-state queue.

    ``cross_filters`` maps a step index to a predicate
    ``fn(captured: dict[alias -> payload dict], row: dict) -> bool``
    evaluated DURING matching against the partial's captured events —
    cross-references like ``e2.price > e1.price`` (reference
    stream_pre_state_processor.rs evaluates them in-flight; a post-filter
    would drop pairs the NFA would have matched with the next candidate).

    ``absent_final=(cancel_pred, for_seconds)`` appends an absence guard
    (`... -> NOT C FOR d`, reference AbsentStreamStateElement + timer
    wheel): a chain that completes its last captured step becomes PENDING
    and emits only once event time passes ``last_ts + d`` with no
    cancelling event on the key inside that window — a cancel kills the
    pending match. "Event time passes" means the watermark, or on a busy
    key the newest event minus ``late`` (a cancel at or before that point
    is behind the next watermark and can never arrive). The pending queue
    is part of the same bounded state.

    ``group_steps`` maps a step index (≥ 1) to ``(alias2, pred2, op)``,
    turning that step into an AND/OR group (`… -> (B AND C) -> …`,
    reference logical_pre_state_processor.rs mid-chain): AND holds the
    first match of each member (either arrival order, both after the
    previous captured step) and advances when both are present, at the
    later arrival; OR advances on the first event matching either member,
    null-padding the other member's columns (an event matching both
    advances via the first member).

    ``step_mins`` gives each step a count quantifier minimum (`B{m,…}`):
    the partial counts qualifying events and advances on the m-th —
    capturing that event (reference count_pre_state_processor.rs completes
    its count state at min; in skip-till-next-match mode extra events are
    skippable, so a max bound cannot gate the advance).

    ``salt=R``: exact hot-key parallelization. All events of one key
    otherwise funnel through one python worker (the per-key ceiling in
    PERF.md); a per-batch detector warns (executor log) when an unsalted
    key exceeds HOT_KEY_WARN_EVENTS in one micro-batch. Every partial is
    anchored at its step-0 event, which hashes to ONE of R sub-keys;
    events matching any later step / group member / absence cancel
    replicate to ALL R, so each sub-key sees the complete continuation
    stream in order and every partial advances exactly as unsalted — the
    sub-key union IS the unsalted output, no merge step (see
    :func:`_fan_out`). Requires ``every=True`` (fire-once is per-KEY state
    that sub-keys cannot share). Cost: continuation-event volume ×R —
    right when step-0 events dominate the stream.

    ``salt="auto"`` wires the detector to the fix: pass ``hot_key_dir`` (a
    path visible to executors AND driver — next to the checkpoint dir,
    which has the same shared-storage requirement). When a key's
    per-micro-batch volume crosses ``hot_threshold`` (default
    HOT_KEY_WARN_EVENTS) the detector persists a marker; the registry is
    snapshotted at each PLAN BUILD, so under StreamRunner (which rebuilds
    the plan per micro-batch) the NEXT batch re-keys that key across
    ``auto_salt_r`` sub-keys with the same exactness contract.
    ``salt="auto-live"`` is the variant for a SINGLE long-lived
    ``start()``: membership is re-read executor-side on a TTL
    (HOT_RELOAD_TTL_S), so a marker from batch N re-keys batch N+1 with
    no restart and no re-plan. Membership is sticky (see
    :func:`_auto_salt`). In snapshot mode cold keys pay only a literal
    IN-set test.

    Output: ``key`` + per step ``{alias}_{ts_col}`` and ``{alias}_{c}`` for
    each payload column.
    """
    import json

    from pyspark.sql import types as T

    from engine_spark.plans.parser import parse_duration_seconds

    n = len(steps)
    if n == 0:
        raise ValueError("chain_stream: at least one step required")
    step_mins = list(step_mins) if step_mins else [1] * n
    if len(step_mins) != n:
        raise ValueError("step_mins must have one entry per step")
    if step_mins[0] != 1:
        raise ValueError(
            "step 0 cannot carry a count quantifier (a quantified anchor "
            "needs the single-step count operator)"
        )
    group_steps = dict(group_steps or {})
    group_ops = {i: op for i, (_, _, op) in group_steps.items()}
    if 0 in group_steps:
        raise ValueError(
            "step 0 cannot be a group in a multi-step chain (pair "
            "multiplicity of an unanchored group needs the dedicated "
            "single-group operator)"
        )
    for i in group_steps:
        if step_mins[i] != 1:
            raise ValueError("a group step cannot carry a count quantifier")
        if cross_filters and i in cross_filters:
            raise ValueError(
                "cross-reference filters on a group step are not supported"
            )
    within_us = within_seconds * US
    schema = {f.name: f.dataType for f in df.schema.fields}
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in (key_col, ts_col)]
    ts_payload = {
        c
        for c in payload_cols
        if isinstance(schema[c], (T.TimestampType, T.TimestampNTZType))
    }

    tagged = watermarked(df, ts_col, late)
    for i, (_, pred) in enumerate(steps):
        tagged = tagged.withColumn(f"_is_{i}", pred.cast("boolean"))
    for i, (_, pred2, _) in group_steps.items():
        tagged = tagged.withColumn(f"_is_{i}b", pred2.cast("boolean"))
    if absent_final is not None:
        tagged = tagged.withColumn("_is_ab", absent_final[0].cast("boolean"))
    auto = salt in ("auto", "auto-live")
    salted = salt is not None
    if salted:
        if not every:
            raise ValueError(
                "salt requires every=True: fire-once is per-KEY state that "
                "salted sub-keys cannot share exactly"
            )
        later_flags = [F.col(f"_is_{i}") for i in range(1, n)]
        later_flags += [F.col(f"_is_{i}b") for i in group_steps]
        if absent_final is not None:
            later_flags.append(F.col("_is_ab"))
        later = F.lit(False)
        for fcol in later_flags:
            later = later | F.coalesce(fcol, F.lit(False))
        hash_cols = [ts_col, *payload_cols]
        if auto:
            if not hot_key_dir:
                raise ValueError("salt='auto' requires hot_key_dir")
            if auto_salt_r < 2:
                raise ValueError("auto_salt_r must be >= 2")
            tagged = _auto_salt(
                tagged, key_col, hash_cols, hot_key_dir, auto_salt_r,
                later, "_is_0", live=salt == "auto-live",
            )
        else:
            if salt < 1:
                raise ValueError("salt must be >= 1")
            tagged = _fan_out(tagged, hash_cols, salt, later, "_is_0")
    # run() must only close over plain Python values (Column handles hold
    # JVM locks cloudpickle can't ship) — reduce absent_final to a flag
    has_absent = absent_final is not None
    for_us = int(absent_final[1] * US) if has_absent else 0
    late_us = int(parse_duration_seconds(late) * US)
    for_ms = for_us // 1000

    #: flattened capture positions: group steps contribute TWO entries
    flat_aliases: list[str] = []
    for i, (alias, _) in enumerate(steps):
        flat_aliases.append(alias)
        if i in group_steps:
            flat_aliases.append(group_steps[i][0])
    n_flat = len(flat_aliases)
    out_parts = [f"{key_col} {schema[key_col].simpleString()}"]
    out_columns = [key_col]
    for alias in flat_aliases:
        out_parts.append(f"{alias}_{ts_col} {schema[ts_col].simpleString()}")
        out_columns.append(f"{alias}_{ts_col}")
        for c in payload_cols:
            out_parts.append(f"{alias}_{c} {schema[c].simpleString()}")
            out_columns.append(f"{alias}_{c}")
    out_schema = ", ".join(out_parts)
    state_schema = "done boolean, partials array<string>"
    # the run closure must not capture `steps` itself: Column objects hold
    # JVM handles that cloudpickle can't ship to the workers
    step_aliases = [a for a, _ in steps]

    def _schedule(state: GroupState, partials: list[dict]) -> None:
        cands = []
        for p in partials:
            if p["i"] == n:  # pending absence: fire at its deadline
                cands.append(p["l"] // 1000 + for_ms)
            else:  # open chain: clean up once its horizon passes
                cands.append(p["f"] // 1000 + within_seconds * 1000)
        if cands:
            _set_timeout(state, min(cands))

    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            # quiet key: the watermark reached a deadline — emit matured
            # pending-absence matches, drop expired opens
            done, partials = False, []
            if state.exists:
                d0, pj = state.get
                done = bool(d0)
                partials = [json.loads(s) for s in (pj or [])]
            wm_us = state.getCurrentWatermarkMs() * 1000
            ready = [
                p for p in partials if p["i"] == n and p["l"] + for_us <= wm_us
            ]
            if ready and not every:
                done, partials, ready = True, [], ready[:1]
            else:
                partials = [
                    p
                    for p in partials
                    if (p["i"] == n and p["l"] + for_us > wm_us)
                    or (p["i"] < n and wm_us - p["f"] <= within_us)
                ]
            if done or partials:
                state.update((done, [json.dumps(p) for p in partials]))
                _schedule(state, partials)
            else:
                state.remove()
            if ready:
                yield _build_rows(key, [(p["f"], p["cap"]) for p in ready])
            return
        done, partials = False, []
        if state.exists:
            d0, pj = state.get
            done = bool(d0)
            partials = [json.loads(s) for s in (pj or [])]
        if done:
            state.update((True, []))
            return
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ts_col, kind="mergesort"
        )
        if auto:
            # sub-key 0 carries a cold key's whole stream; crossing the
            # threshold there marks the key so the NEXT batch salts it
            if key[1] == 0 and len(rows) > (hot_threshold or HOT_KEY_WARN_EVENTS):
                _mark_hot_key(hot_key_dir, str(key[0]))
        elif not salted:
            _warn_hot_key(key[0], len(rows), hot_threshold)
        # vectorized row access (one cast per column, not a dict per event);
        # rows matching no step / group / cancel predicate are skipped — they
        # cannot change NFA state, and horizon eviction is re-checked both on
        # later matching events and at batch end
        ts_us = _ts_us_arr(rows[ts_col])
        step_f = [_bool_arr(rows[f"_is_{i}"]) for i in range(n)]
        grp_f = {i: _bool_arr(rows[f"_is_{i}b"]) for i in group_ops}
        ab_f = _bool_arr(rows["_is_ab"]) if has_absent else None
        pay_a = {c: rows[c].values for c in payload_cols}
        relevant = np.zeros(len(rows), dtype=bool)
        for f_ in step_f:
            relevant |= f_
        for f_ in grp_f.values():
            relevant |= f_
        if ab_f is not None:
            relevant |= ab_f

        def capture_at(j: int) -> dict:
            cap = {}
            for c in payload_cols:
                v = pay_a[c][j]
                if c in ts_payload:
                    cap[c] = (
                        None if v is None or v != v else pd.Timestamp(v).isoformat()
                    )
                    continue
                if hasattr(v, "item"):  # numpy scalar → python
                    v = v.item()
                cap[c] = (
                    None if v is None or (isinstance(v, float) and v != v) else v
                )
            return cap

        col_a: dict | None = None

        def row_at(j: int) -> dict:  # full row view for cross-ref predicates
            nonlocal col_a
            if col_a is None:
                col_a = {c: rows[c].values for c in rows.columns}
            return {c: col_a[c][j] for c in rows.columns}

        out: list[tuple[int, list]] = []
        for j in np.flatnonzero(relevant):
            t = int(ts_us[j])
            ab = bool(ab_f[j]) if has_absent else False
            kept = []
            fired = False
            for p in partials:
                i = p["i"]
                if i == n:  # pending absence: a cancel inside the window kills
                    if ab and p["l"] < t <= p["l"] + for_us:
                        continue
                    kept.append(p)
                    continue
                if t - p["f"] > within_us:
                    continue  # horizon passed with the chain incomplete
                if i in group_ops:
                    # AND/OR group step: two member predicates
                    ma = bool(step_f[i][j]) and t > p["l"]
                    mb = bool(grp_f[i][j]) and t > p["l"]
                    if not (ma or mb):
                        kept.append(p)
                        continue
                    ent = [t, capture_at(j)]
                    if group_ops[i] == "or":
                        # first member wins when an event matches both
                        pair = [ent, [None, None]] if ma else [[None, None], ent]
                        cap = p["cap"] + pair
                        adv_l = t
                    else:  # and: hold first match per member, either order
                        ga = p.get("ga") or (ent if ma else None)
                        gb = p.get("gb") or (ent if mb else None)
                        if not (ga and gb):
                            q2 = {k: v for k, v in p.items() if k not in ("ga", "gb")}
                            if ga:
                                q2["ga"] = ga
                            if gb:
                                q2["gb"] = gb
                            kept.append(q2)
                            continue
                        cap = p["cap"] + [ga, gb]
                        adv_l = max(ga[0], gb[0])
                    if i + 1 == n:
                        if has_absent:
                            kept.append(
                                {"i": n, "f": p["f"], "l": adv_l, "cap": cap}
                            )
                        else:
                            out.append((p["f"], cap))
                            fired = True
                    else:
                        kept.append(
                            {"i": i + 1, "f": p["f"], "l": adv_l, "cap": cap, "c": 0}
                        )
                    continue
                # Tie semantics must match the batch path: the FIRST event
                # of a step is strictly after the previous step's event
                # (hop join cond `nxt_ts > cur_ts`), but while a quantified
                # step is counting (c > 0), batch ranks ALL qualifying
                # events by ts — co-timestamped events each count — so the
                # streaming counter accepts t >= last-counted timestamp.
                _after = t >= p["l"] if p.get("c", 0) > 0 else t > p["l"]
                ok = bool(step_f[i][j]) and _after
                if ok and cross_filters and i in cross_filters:
                    captured = {
                        flat_aliases[q]: p["cap"][q][1]
                        for q in range(len(p["cap"]))
                    }
                    ok = bool(cross_filters[i](captured, row_at(j)))
                if ok:
                    c = p.get("c", 0) + 1
                    if c < step_mins[i]:
                        # quantified step still collecting (count state):
                        # stay at step i with the counter bumped
                        kept.append({**p, "c": c, "l": t})
                        continue
                    cap = p["cap"] + [[t, capture_at(j)]]  # the m-th event
                    if i + 1 == n:
                        if has_absent:
                            kept.append({"i": n, "f": p["f"], "l": t, "cap": cap})
                        else:
                            out.append((p["f"], cap))
                            fired = True
                    else:
                        kept.append(
                            {"i": i + 1, "f": p["f"], "l": t, "cap": cap, "c": 0}
                        )
                else:
                    kept.append(p)
            partials = kept
            if fired and not every:
                done, partials = True, []
                break
            if bool(step_f[0][j]):
                cap0 = [[t, capture_at(j)]]
                if n == 1:
                    if has_absent:
                        partials.append({"i": n, "f": t, "l": t, "cap": cap0})
                    else:
                        out.append((t, cap0))
                        if not every:
                            done, partials = True, []
                            break
                else:
                    partials.append({"i": 1, "f": t, "l": t, "cap": cap0})
        if len(rows) and not done:
            now = int(ts_us[-1])
            # busy-key flush: a pending deadline at or before the watermark
            # or the newest event minus the allowed lateness proves its
            # window closed uncancelled — any cancel inside it is behind the
            # next watermark. Flushing at the newest event itself would emit
            # matches that a still-admissible late cancel must kill.
            flush = max(state.getCurrentWatermarkMs() * 1000, now - late_us)
            ready = [
                p for p in partials if p["i"] == n and p["l"] + for_us <= flush
            ]
            if ready and not every:
                done, partials, ready = True, [], ready[:1]
            else:
                partials = [
                    p
                    for p in partials
                    if (p["i"] == n and p["l"] + for_us > flush)
                    or (p["i"] < n and now - p["f"] <= within_us)
                ]
            out.extend((p["f"], p["cap"]) for p in ready)
        if done:
            state.update((True, []))
        elif partials:
            state.update((False, [json.dumps(p) for p in partials]))
            _schedule(state, partials)
        else:
            state.remove()
        if out:
            yield _build_rows(key, out)

    def _build_rows(key, out: list[tuple[int, list]]) -> pd.DataFrame:
        built = []
        for _, cap in out:
            row = [key[0]]
            for j in range(n_flat):
                tj, pj_ = cap[j]
                if pj_ is None:  # unmatched OR-group member: all-null
                    row.append(None)
                    row.extend([None] * len(payload_cols))
                    continue
                row.append(pd.Timestamp(tj * 1000))
                for c in payload_cols:
                    v = pj_[c]
                    if c in ts_payload and v is not None:
                        v = pd.Timestamp(v)
                    row.append(v)
            built.append(tuple(row))
        return pd.DataFrame(built, columns=out_columns)

    group_cols = [key_col, "_salt"] if salted else [key_col]
    return tagged.groupBy(*group_cols).applyInPandasWithState(
        run, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def count_quantifier_stream(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    event_filter: Column,
    min_count: int,
    within_seconds: int,
    value_col: str | None = None,
    max_count: int | None = None,
    late: str = "0 seconds",
    payload_cols: list[str] | None = None,
    collect_aggs: list[tuple[str, str | None, str]] | None = None,
) -> DataFrame:
    """Streaming `e1=A{m,}` / `A{m,n}` WITHIN d (reference
    count_pre_state_processor.rs): an event fires when the trailing-d count
    of qualifying events on its key is in ``[m, n]`` — the exact semantics
    of the batch ``pattern.count_quantifier_bounded`` range frame, held as
    a per-key timestamp buffer whose size the horizon bounds.

    ``payload_cols`` carries arbitrary event columns through to the output
    (types preserved from the input schema — what the SQL routing needs);
    the legacy ``value_col`` form emits that one column as double.

    ``collect_aggs`` = ``[(fn, col | None, alias), ...]`` with fn in
    count/sum/avg/min/max: collection aggregates over the MATCHED SET
    (the trailing-d buffer, reference collection_aggregation_executor.rs)
    — the buffer then also holds the referenced columns' values.

    Output: (key, ts, match_count, *payload, *collect_agg_aliases).
    """
    if payload_cols is None:
        if value_col is None:
            raise ValueError("pass payload_cols or value_col")
        carry = [value_col]
        carry_types = ["double"]
    else:
        carry = list(payload_cols)
        schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        carry_types = [schema[c] for c in carry]
    within_us = within_seconds * US
    filtered = watermarked(df.filter(event_filter), ts_col, late)
    ktype = dict((f.name, f.dataType) for f in df.schema.fields)[key_col].simpleString()
    tstype = df.schema[ts_col].dataType.simpleString()
    collect_aggs = list(collect_aggs or [])
    from engine_spark.streaming.windows import SIMPLE_AGG_FNS, _agg_over

    for fn, _, _ in collect_aggs:
        if fn not in SIMPLE_AGG_FNS:
            raise ValueError(
                f"collection aggregate {fn!r} not in {SIMPLE_AGG_FNS}"
            )
    agg_cols = sorted({c for _, c, _ in collect_aggs if c is not None})
    out_schema = ", ".join(
        [f"{key_col} {ktype}", f"{ts_col} {tstype}", "match_count long"]
        + [f"{c} {t}" for c, t in zip(carry, carry_types)]
        + [
            f"{a} {'long' if fn == 'count' else 'double'}"
            for fn, _, a in collect_aggs
        ]
    )
    state_schema = ", ".join(
        ["buf_ts array<long>"]
        + [f"buf_{i} array<double>" for i in range(len(agg_cols))]
    )
    legacy = payload_cols is None

    def _carry_value(v):
        if legacy:
            return float(v)
        if isinstance(v, np.datetime64):
            return pd.Timestamp(v)  # .item() on datetime64[ns] is raw int ns
        if hasattr(v, "item"):  # numpy scalar → python
            v = v.item()
        return v

    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        buf: list[tuple] = []  # (ts, *agg_col_values)
        if state.exists:
            got = state.get
            bts = got[0] or []
            cols = [list(got[1 + i] or []) for i in range(len(agg_cols))]
            buf = [
                (t, *[cols[i][j] for i in range(len(agg_cols))])
                for j, t in enumerate(bts)
            ]
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ts_col, kind="mergesort"
        )
        out = []
        ts_us = _ts_us_arr(rows[ts_col])
        agg_a = {c: rows[c].values for c in agg_cols}
        carry_a = {c: rows[c].values for c in carry}
        for j in range(len(rows)):
            t = int(ts_us[j])
            buf = [b for b in buf if t - b[0] <= within_us]
            buf.append(
                (
                    t,
                    *[
                        None
                        if agg_a[c][j] is None or agg_a[c][j] != agg_a[c][j]
                        else float(agg_a[c][j])
                        for c in agg_cols
                    ],
                )
            )
            cnt = len(buf)
            if cnt >= min_count and (max_count is None or cnt <= max_count):
                agg_vals = [
                    _agg_over(
                        [b[1 + agg_cols.index(c)] for b in buf]
                        if c
                        else [1] * len(buf),
                        fn,
                    )
                    for fn, c, _ in collect_aggs
                ]
                out.append(
                    (
                        key[0],
                        pd.Timestamp(t * 1000),
                        cnt,
                        *[_carry_value(carry_a[c][j]) for c in carry],
                        *agg_vals,
                    )
                )
        if buf:
            state.update(
                (
                    [b[0] for b in buf],
                    *[[b[1 + i] for b in buf] for i in range(len(agg_cols))],
                )
            )
            _set_timeout(
                state, max(b[0] for b in buf) // 1000 + within_seconds * 1000
            )
        else:
            state.remove()
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    key_col,
                    ts_col,
                    "match_count",
                    *carry,
                    *[a for _, _, a in collect_aggs],
                ],
            )

    return filtered.groupBy(key_col).applyInPandasWithState(
        run, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def logical_and_stream_payload(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    first: Column,
    second: Column,
    within_seconds: int,
    aliases: tuple[str, str] = ("e1", "e2"),
    payload_cols: list[str] | None = None,
    late: str = "0 seconds",
) -> DataFrame:
    """Streaming `e1=A AND e2=B` (reference logical_pre_state_processor.rs
    AND mode) with full payload capture: every (A, B) pair on the key with
    ``|tA − tB| ≤ d`` fires at the later of the two — the pair set of the
    batch ``pattern.logical_and`` join.

    Output: key + ``{a1}_{ts_col}``/``{a1}_{col}…`` + ``{a2}_…`` +
    ``_match_ts`` — the same column names the relational first-step group
    produces, so shared SELECT rewriting works. State = the in-horizon A/B
    buffers per key with payloads as JSON (the chain_stream representation).
    """
    import json

    from pyspark.sql import types as T

    a1, a2 = aliases
    within_us = within_seconds * US
    schema = {f.name: f.dataType for f in df.schema.fields}
    if payload_cols is None:
        payload_cols = [c for c in df.columns if c not in (key_col, ts_col)]
    ts_payload = {
        c
        for c in payload_cols
        if isinstance(schema[c], (T.TimestampType, T.TimestampNTZType))
    }
    tagged = (
        watermarked(df, ts_col, late)
        .withColumn("_is_a", first.cast("boolean"))
        .withColumn("_is_b", second.cast("boolean"))
        .filter(F.col("_is_a") | F.col("_is_b"))
    )
    ktype = schema[key_col].simpleString()
    tstype = schema[ts_col].simpleString()
    out_parts = [f"{key_col} {ktype}"]
    out_columns = [key_col]
    for alias in (a1, a2):
        out_parts.append(f"{alias}_{ts_col} {tstype}")
        out_columns.append(f"{alias}_{ts_col}")
        for c in payload_cols:
            out_parts.append(f"{alias}_{c} {schema[c].simpleString()}")
            out_columns.append(f"{alias}_{c}")
    out_parts.append(f"_match_ts {tstype}")
    out_columns.append("_match_ts")
    out_schema = ", ".join(out_parts)
    state_schema = "a_ts array<long>, a_pay array<string>, b_ts array<long>, b_pay array<string>"

    def capture(rec: dict) -> str:
        cap = {}
        for c in payload_cols:
            v = rec[c]
            if hasattr(v, "item"):
                v = v.item()
            if c in ts_payload and v is not None:
                v = pd.Timestamp(v).isoformat()
            cap[c] = None if v is None or (isinstance(v, float) and v != v) else v
        return json.dumps(cap)

    def revive(pay: str, c: str):
        v = json.loads(pay).get(c)
        if c in ts_payload and v is not None:
            return pd.Timestamp(v)
        return v

    def run(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        a_buf: list[tuple[int, str]] = []
        b_buf: list[tuple[int, str]] = []
        if state.exists:
            ats, aps, bts, bps = state.get
            a_buf = list(zip(ats or [], aps or []))
            b_buf = list(zip(bts or [], bps or []))
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ts_col, kind="mergesort"
        )
        out = []

        def emit(ta: int, pa: str, tb: int, pb: str) -> None:
            out.append(
                (
                    key[0],
                    pd.Timestamp(ta * 1000),
                    *[revive(pa, c) for c in payload_cols],
                    pd.Timestamp(tb * 1000),
                    *[revive(pb, c) for c in payload_cols],
                    pd.Timestamp(max(ta, tb) * 1000),
                )
            )

        for r in rows.to_dict("records"):
            t = _us(r[ts_col])
            pay = capture(r)
            ia, ib = bool(r["_is_a"]), bool(r["_is_b"])
            if ia:
                for tb, pb in b_buf:
                    if abs(t - tb) <= within_us:
                        emit(t, pay, tb, pb)
            if ib:
                for ta, pa in a_buf:
                    if abs(t - ta) <= within_us:
                        emit(ta, pa, t, pay)
            if ia and ib:
                emit(t, pay, t, pay)
            if ia:
                a_buf.append((t, pay))
            if ib:
                b_buf.append((t, pay))
        if len(rows):
            now = _us(rows[ts_col].iloc[-1])
            a_buf = [(ta, pa) for ta, pa in a_buf if now - ta <= within_us]
            b_buf = [(tb, pb) for tb, pb in b_buf if now - tb <= within_us]
        if a_buf or b_buf:
            state.update(
                (
                    [t for t, _ in a_buf],
                    [p for _, p in a_buf],
                    [t for t, _ in b_buf],
                    [p for _, p in b_buf],
                )
            )
            newest = max([t for t, _ in a_buf] + [t for t, _ in b_buf])
            _set_timeout(state, newest // 1000 + within_seconds * 1000)
        else:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=out_columns)

    return tagged.groupBy(key_col).applyInPandasWithState(
        run, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )
