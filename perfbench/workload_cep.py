"""cep_stream: a live EventFlux SQL app, the system's main use.

Why: nearly all the work lands in ``streaming``, ``sources`` and the
pandas state kernels (the per-event window and the pattern NFA), almost
none in ``datapipe`` or the stores.

A seeded generator in the benchmark process publishes event files into
a ``sources.filequeue.FileQueue`` directory; one ``SqlApp`` runs three
live queries over them (filter/project, a partitioned per-event 10-minute window and a
partitioned ``EVERY`` signup -> purchase pattern), each into a
``foreachBatch`` sink that stamps every delivery's arrival time.

1. Drain (closed loop): BACKLOG_EVENTS events in BACKLOG_FILES files are
   written before the queries start, so each query takes them as its
   first micro-batch. ``throughput_per_s`` is BACKLOG_EVENTS / seconds
   from starting the queries until every query has committed every file;
   it includes what the first batch pays for planning and code
   generation, as an app started on a backlog does.
2. Paced (open loop): PACED_RATE events/s for ``--seconds`` seconds, one
   file every TICK_S. Each event is stamped with the time it was due, so
   a stalled writer still charges its lateness to the latency.
   ``latency_p50_ms`` (and ``latency.tail_ms``, the highest percentile
   with ten samples beyond it) runs from that stamp of the last event
   contributing to an output row (for the pattern, the purchase) to the
   row's arrival in its sink. ``gen.late_ms_max`` is how late the writer
   ran; a large value voids the run. The backlog (files published but
   not yet committed by the slowest query) is sampled every half second;
   ``sources.backlog_slope_files_per_s`` is its least-squares slope over
   the second half of the phase, once the first micro-batches after the
   drain have passed.
3. Check: the same SQL compiled in batch mode over every published event
   must give exactly the rows the live queries delivered. The per-layer
   ``batch.pass_s`` is the median wall time of BATCH_REPS more such batch
   runs, after the first, which also warms the batch plans up.

``cpu_s`` and ``peak_rss_mb`` cover phases 1-2.

The pattern selects no partition key column. Inside ``PARTITION WITH
(user_id ...)`` a live stream rejects ``SELECT e1.user_id``
(UNRESOLVED_COLUMN e1_user_id) while the batch compile accepts it, and
the batch compile rejects the unqualified ``user_id`` the live stream
accepts; no spelling compiles on both paths. The signup and purchase ids
identify a match without it. The window and the pattern share one
PARTITION block: two consecutive blocks in one app text fail to parse.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time

from common import (latency_summary, latencies_ms, log, median, named_latency, percentile,
                    record_latency)

BACKLOG_EVENTS = 2000
BACKLOG_FILES = 10
#: events/s. With run.CORES Spark cores on a 4-core host the seed commit
#: holds both 20 and 50 events/s over a 40 s paced phase: the window's
#: micro-batches stay at 34-44 and 80-120 rows, about 2 s each, the
#: backlog slope over the second half is 0.14 and -0.14 files/s, and the
#: writer runs at most 36 ms late. 20 leaves room for a slower host.
PACED_RATE = 20
TICK_S = 0.1
BATCH_REPS = 2
USERS = 5000
WINDOW_S = 600  # the SQL's WINDOW('time', 10 MINUTES)
#: longest wait for the queries to catch up after a phase
CATCH_UP_S = 90.0

SCHEMA = ("event_id long, user_id string, event_type string, value double, "
          "gen_ms double, ts_us long")
SQL = """
INSERT INTO Filtered SELECT event_id, user_id, value, gen_ms FROM E
  WHERE event_type = 'purchase' AND value > 50.0;
PARTITION WITH (user_id OF E) BEGIN
  INSERT INTO Windowed SELECT event_id, user_id, gen_ms, count(*) AS n_10m,
    sum(value) AS sum_10m FROM E WINDOW('time', 10 MINUTES);
  INSERT INTO Matched SELECT e1.event_id AS signup_id,
    e2.event_id AS purchase_id, e2.value AS amount, e2.gen_ms AS gen_ms
    FROM EVERY PATTERN (e1=E[event_type = 'signup'] -> e2=E[event_type = 'purchase'])
    WITHIN 1800 SECONDS;
END;
"""
#: output stream -> layer name used in per-layer metrics
QUERIES = {"Filtered": "filter", "Windowed": "window", "Matched": "pattern"}


def committed_files(ckpt: str) -> int:
    """Files the query's file source has committed: entries of the source
    metadata log up to the offset of the last committed micro-batch."""
    commits = [int(os.path.basename(p)) for p in glob.glob(os.path.join(ckpt, "commits", "*"))
               if os.path.basename(p).isdigit()]
    if not commits:
        return 0
    with open(os.path.join(ckpt, "offsets", str(max(commits)))) as f:
        lines = f.read().splitlines()
    log_offset = json.loads(lines[-1])["logOffset"]
    src = os.path.join(ckpt, "sources", "0")
    entries = {}
    for p in os.listdir(src):
        if p.startswith("."):
            continue
        idx = int(p.split(".")[0])
        if idx <= log_offset:
            entries[idx] = p
    compact = [i for i, p in entries.items() if p.endswith(".compact")]
    start = max(compact) if compact else -1
    n = 0
    for idx, p in entries.items():
        if idx >= start:
            with open(os.path.join(src, p)) as f:
                n += sum(1 for line in f if line.startswith("{"))
    return n


class Sink:
    """foreachBatch target: keeps every delivered row and its arrival."""

    def __init__(self):
        self.deliveries: list[tuple[float, list]] = []
        self.lock = threading.Lock()

    def __call__(self, batch_df, batch_id: int) -> None:
        rows = batch_df.collect()
        arrived = time.time()
        with self.lock:
            self.deliveries.append((arrived, rows))

    def rows(self) -> list:
        with self.lock:
            return [r for _, rs in self.deliveries for r in rs]


def _canon(rows) -> list[tuple]:
    """Order-insensitive, float-rounded form for comparing row sets."""
    out = []
    for r in rows:
        out.append(tuple(sorted((k, round(v, 6) if isinstance(v, float) else v)
                                for k, v in r.asDict().items())))
    return sorted(out, key=repr)


class Writer:
    """Stamps and publishes generated events as JSON-lines files, written
    beside the watched directory and renamed into it so the file source
    never lists a partial file. ts is strictly increasing.

    FileQueue.publish is not used: it writes its ``.tmp`` inside the
    watched directory, so a live stream can list the partial file, and it
    back-dates each final file's mtime, so once the source has seen a
    current-dated ``.tmp`` its maxFileAge filter drops every later file
    and the stream stalls without an error.

    The paced phase's files go straight into the watched directory, not
    one subdirectory each: the source lists recursively, so every new
    directory lengthens each later listing, and over a 40 s phase the
    micro-batches of even the filter query slowed from 1 s to 11 s."""

    def __init__(self, queue, source):
        self.queue, self.source = queue, source
        self.staging = os.path.join(queue.path, "_staging")
        os.makedirs(self.staging, exist_ok=True)
        self.files = 0
        self._last_us = 0

    def publish(self, batches: list[tuple[list[dict], list[int]]]) -> None:
        """One file per (payloads, due stamps) batch. A single file is
        renamed into the watched directory. Several go into one new
        subdirectory, made visible by one rename, so the source sees them
        in the same listing."""
        group = os.path.join(self.staging, f"g-{self.files:06d}")
        os.makedirs(group)
        names = []
        for payloads, due_us in batches:
            lines = []
            for p, us in zip(payloads, due_us):
                us = max(us, self._last_us + 1)
                self._last_us = us
                lines.append(json.dumps(dict(p, ts_us=us, gen_ms=us / 1000.0)))
            names.append(f"seg-{self.files:06d}.jsonl")
            with open(os.path.join(group, names[-1]), "w") as f:
                f.write("\n".join(lines) + "\n")
            self.files += 1
        if len(names) == 1:
            os.rename(os.path.join(group, names[0]), os.path.join(self.queue.segments, names[0]))
            os.rmdir(group)
        else:
            os.rename(group, os.path.join(self.queue.segments, os.path.basename(group)))


def run(b) -> dict:
    from pyspark.sql import functions as F

    from engine_spark.plans import SqlApp
    from engine_spark.sources.filequeue import FileQueue
    from gen import EventSource

    spark = b.spark
    queue = FileQueue(os.path.join(b.work, "queue"))
    writer = Writer(queue, EventSource(b.seed, USERS))

    def stream_df(df):
        return df.withColumn("ts", F.expr("timestamp_micros(ts_us)"))

    with b.span("plans.compile"):
        t0 = time.perf_counter()
        app = SqlApp(spark)
        app.register_stream("E", stream_df(queue.stream(spark, SCHEMA, None)), ts_col="ts")
        outs = app.sql(SQL)
        b.layers["plans.compile_ms"] = (time.perf_counter() - t0) * 1000.0
    # the backlog is written before the app starts
    per = BACKLOG_EVENTS // BACKLOG_FILES
    now_us = int(time.time() * 1e6)
    writer.publish([(writer.source.take(per), [now_us] * per) for _ in range(BACKLOG_FILES)])
    sinks, queries, ckpts = {}, {}, {}
    cpu0 = b.sampler.cpu_seconds()
    b.sampler.reset_peak()
    t_start = time.perf_counter()
    with b.span("streaming.run") as run_span:
        for name, df in outs.items():
            sinks[name] = Sink()
            ckpts[name] = os.path.join(b.work, f"ckpt_{name}")
            queries[name] = (df.writeStream.foreachBatch(sinks[name])
                             .option("checkpointLocation", ckpts[name])
                             .queryName(name).start())
            if run_span is not None:
                b.query_spans[queries[name].id] = run_span["id"]
        try:
            e2e = _phases(b, writer, sinks, queries, ckpts, t_start, cpu0)
        finally:
            for q in queries.values():
                q.stop()
    for name, q in queries.items():
        b.progress[QUERIES[name]] = [json.loads(p.json) for p in q.recentProgress]
        _progress_layers(b, QUERIES[name], b.progress[QUERIES[name]])
        log(f"cep_stream: {name} batches (rows, trigger ms): " + str(
            [(p["numInputRows"], p["durationMs"].get("triggerExecution"))
             for p in b.progress[QUERIES[name]]]))
    _check(b, queue, stream_df, sinks)
    return e2e


def _wait_caught_up(b, writer, queries, ckpts, phase: str) -> bool:
    deadline = time.time() + CATCH_UP_S
    while time.time() < deadline:
        for q in queries.values():
            if q.exception() is not None:
                b.tally.record(f"{phase}:{q.name}", False, str(q.exception())[:200])
                return False
        if all(committed_files(c) >= writer.files for c in ckpts.values()):
            return True
        time.sleep(0.02)
    b.tally.record(f"{phase}:catch-up", False, f"not caught up after {CATCH_UP_S}s")
    return False


def _phases(b, writer, sinks, queries, ckpts, t_start: float, cpu0: float) -> dict:
    sampler = b.sampler
    with b.span("streaming.drain"):
        ok = _wait_caught_up(b, writer, queries, ckpts, "drain")
        drain_s = time.perf_counter() - t_start
    b.tally.record("drain", ok)
    log(f"cep_stream: drained {BACKLOG_EVENTS} events in {drain_s:.2f}s")

    # paced: one file per tick, each event stamped with its due time
    backlog: list[tuple[float, int]] = []
    late_ms = []
    per_tick = int(round(PACED_RATE * TICK_S))
    ticks = int(round(b.seconds / TICK_S))
    with b.span("streaming.paced"):
        start = time.time() + TICK_S
        next_probe = start
        for j in range(1, ticks + 1):
            due = start + j * TICK_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            spacing_us = TICK_S * 1e6 / per_tick
            first = (due - TICK_S) * 1e6
            writer.publish([(writer.source.take(per_tick),
                             [int(first + (k + 1) * spacing_us) for k in range(per_tick)])])
            late_ms.append((time.time() - due) * 1000.0)
            if time.time() >= next_probe:
                done = min(committed_files(c) for c in ckpts.values())
                backlog.append((time.time() - start, writer.files - done))
                next_probe += 0.5
        ok = _wait_caught_up(b, writer, queries, ckpts, "paced")
    b.tally.record("paced", ok)
    log(f"cep_stream: paced phase done, backlog {[n for _, n in backlog]}")
    cpu_s = sampler.cpu_seconds() - cpu0
    peak = sampler.peak_rss_mb

    paced_from = (start - TICK_S) * 1000.0
    lat_all, lat_q = [], {}
    for name, sink in sinks.items():
        with sink.lock:
            deliveries = list(sink.deliveries)
        for arrived, rows in deliveries:
            stamps = [r["gen_ms"] for r in rows if r["gen_ms"] >= paced_from]
            ls = latencies_ms(arrived, stamps)
            lat_all.extend(ls)
            lat_q.setdefault(QUERIES[name], []).extend(ls)
    summary = latency_summary(lat_all)
    record_latency(b.layers, summary)
    b.layers["gen.late_ms_max"] = max(late_ms) if late_ms else 0.0
    b.layers["sources.backlog_files_end"] = float(backlog[-1][1]) if backlog else 0.0
    b.layers["sources.backlog_slope_files_per_s"] = _slope(
        [(t, n) for t, n in backlog if t >= b.seconds / 2.0])
    for q, ls in lat_q.items():
        b.layers[f"streaming.{q}.latency_p50_ms"] = percentile(ls, 50.0) if ls else 0.0
    eps = BACKLOG_EVENTS / drain_s
    b.named = {
        "stream_eps": [eps, "events/s"],
        **named_latency("stream_latency", summary),
        "paced_rate": [PACED_RATE, "events/s"],
        "gen_late_ms_max": [b.layers["gen.late_ms_max"], "ms"],
    }
    return {"throughput_per_s": eps, "latency_p50_ms": summary["p50"],
            "cpu_s": cpu_s, "peak_rss_mb": peak}


def _slope(points: list[tuple[float, int]]) -> float:
    """Least-squares slope of backlog files over seconds."""
    if len(points) < 2:
        return 0.0
    n = len(points)
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    return sum((x - mx) * (y - my) for x, y in points) / sxx if sxx else 0.0


def _progress_layers(b, qname: str, progress: list[dict]) -> None:
    """Per-query StreamingQueryProgress, folded into medians and sums."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not data:
        return
    L = b.layers

    def med(vals):
        return median(vals) if vals else 0.0

    dur = [p.get("durationMs", {}) for p in data]
    L["streaming.batches"] = L.get("streaming.batches", 0.0) + len(data)
    rows_in = sum(p["numInputRows"] for p in data)
    busy_s = sum(d.get("triggerExecution", 0) for d in dur) / 1000.0
    L[f"streaming.{qname}.eps"] = rows_in / busy_s if busy_s else 0.0
    # across queries the layer medians keep the slowest query's figure
    for key, field in (("trigger_ms_p50", "triggerExecution"), ("add_batch_ms_p50", "addBatch"),
                       ("planning_ms_p50", "queryPlanning"), ("wal_ms_p50", "walCommit"),
                       ("offset_ms_p50", "latestOffset")):
        L[f"streaming.{key}"] = max(L.get(f"streaming.{key}", 0.0),
                                    med([d.get(field, 0) for d in dur]))
    L["streaming.batch_rows_p50"] = max(L.get("streaming.batch_rows_p50", 0.0),
                                        med([p["numInputRows"] for p in data]))
    last_ops = data[-1].get("stateOperators", [])
    L["state.rows_total"] = L.get("state.rows_total", 0.0) + sum(
        o.get("numRowsTotal", 0) for o in last_ops)
    L["state.memory_bytes"] = L.get("state.memory_bytes", 0.0) + sum(
        o.get("memoryUsedBytes", 0) for o in last_ops)
    L["state.rows_dropped_by_watermark"] = L.get("state.rows_dropped_by_watermark", 0.0) + sum(
        o.get("numRowsDroppedByWatermark", 0) for p in data for o in p.get("stateOperators", []))
    for key, field in (("commit_ms_p50", "commitTimeMs"), ("updates_ms_p50", "allUpdatesTimeMs"),
                       ("removals_ms_p50", "allRemovalsTimeMs")):
        vals = [sum(o.get(field, 0) for o in p.get("stateOperators", [])) for p in data
                if p.get("stateOperators")]
        L[f"state.{key}"] = max(L.get(f"state.{key}", 0.0), med(vals))


def window_reference(events: list[dict], window_s: float = WINDOW_S) -> list[tuple]:
    """Per-event trailing-window count and sum per user, in arrival order:
    each event sees the same user's events with ts in [ts - window, ts]
    that arrived up to and including itself."""
    from collections import deque

    recent: dict[str, deque] = {}
    out = []
    for e in sorted(events, key=lambda e: e["ts_us"]):
        q = recent.setdefault(e["user_id"], deque())
        q.append((e["ts_us"], e["value"]))
        while q[0][0] < e["ts_us"] - window_s * 1e6:
            q.popleft()
        out.append((e["event_id"], e["user_id"], e["gen_ms"], len(q),
                    round(sum(v for _, v in q), 6)))
    return sorted(out)


def _check(b, queue, stream_df, sinks) -> None:
    """The filter and pattern outputs must equal the batch compile of the
    same SQL over every published event; its wall time is batch.pass_s.

    The window output is checked against window_reference instead. The
    batch compile frames the window by whole epoch seconds, so events of
    one user inside the same second count each other both ways, while the
    live path and the reference count only events that arrived earlier.
    The rows where the batch compile differs from the reference are
    counted in check.window_batch_divergent_rows."""
    from engine_spark.plans import SqlApp

    spark = b.spark
    times, expected = [], None
    # the first run warms the batch plans up and gives the check its rows
    for rep in range(1 + BATCH_REPS):
        with b.span("plans.batch_compile"):
            t0 = time.perf_counter()
            app = SqlApp(spark)
            app.register_stream("E", stream_df(queue.read_all(spark, SCHEMA)), ts_col="ts")
            outs = app.sql(SQL)
            got = {name: df.collect() for name, df in outs.items()}
            dt = time.perf_counter() - t0
        if rep:
            times.append(dt)
        else:
            expected = got
            log(f"cep_stream: first batch compile {dt:.2f}s")
    log(f"cep_stream: batch compiles (s) {[round(t, 2) for t in times]}")
    b.layers["batch.pass_s"] = median(times)
    b.layers["cache.pinned_rdds"] = float(b.pinned_rdds())
    events = []
    for p in sorted(glob.glob(os.path.join(queue.segments, "*.jsonl"))
                    + glob.glob(os.path.join(queue.segments, "*", "*.jsonl"))):
        with open(p) as f:
            events.extend(json.loads(line) for line in f)
    ref = window_reference(events)
    batch_window = sorted((r["event_id"], r["user_id"], r["gen_ms"], r["n_10m"],
                           round(r["sum_10m"], 6)) for r in expected["Windowed"])
    b.layers["check.window_batch_divergent_rows"] = float(
        sum(1 for x, y in zip(ref, batch_window) if x != y) + abs(len(ref) - len(batch_window)))
    for name, sink in sinks.items():
        if name == "Windowed":
            live = sorted((r["event_id"], r["user_id"], r["gen_ms"], r["n_10m"],
                           round(r["sum_10m"], 6)) for r in sink.rows())
            b.tally.record("equal:Windowed", live == ref,
                           f"live {len(live)} rows, reference {len(ref)} rows")
            continue
        live, batch = _canon(sink.rows()), _canon(expected[name])
        if not b.tally.record(f"equal:{name}", live == batch,
                              f"live {len(live)} rows, batch {len(batch)} rows"):
            only_live = sorted(set(live) - set(batch), key=repr)[:20]
            only_batch = sorted(set(batch) - set(live), key=repr)[:20]
            with open(os.path.join(b.work, f"mismatch-{name}.json"), "w") as f:
                json.dump({"only_live": only_live, "only_batch": only_batch}, f, indent=1)
