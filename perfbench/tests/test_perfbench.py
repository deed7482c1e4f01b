"""Pure-Python tests of the benchmark itself: no Spark, no JVM.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import common  # noqa: E402
import gen  # noqa: E402
import workload_cep  # noqa: E402
import workload_corpus  # noqa: E402


# -- generators --------------------------------------------------------

def test_event_source_is_deterministic_per_seed():
    a = gen.EventSource(7).take(500)
    assert a == gen.EventSource(7).take(500)
    assert a != gen.EventSource(8).take(500)
    assert [e["event_id"] for e in a] == list(range(500))
    assert {e["event_type"] for e in a} <= set(gen.EVENT_TYPES)


def test_event_source_keys_are_skewed():
    events = gen.EventSource(3).take(5000)
    counts: dict[str, int] = {}
    for e in events:
        counts[e["user_id"]] = counts.get(e["user_id"], 0) + 1
    top = max(counts.values())
    # Zipf(1.1) over 5000 keys: the hottest key carries ~10% of events
    assert top > 0.05 * len(events)
    assert len(counts) > 500


def test_corpus_is_deterministic_and_replicated():
    assert gen.base_documents(2, 50) == gen.base_documents(2, 50)
    assert (gen.base_embeddings(2, 20) == gen.base_embeddings(2, 20)).all()
    epochs = gen.corpus_epochs(2, 50, 3, 4)
    assert epochs == gen.corpus_epochs(2, 50, 3, 4)
    ids = sorted(i for e in epochs for i in e)
    assert ids == sorted(b + r * gen.REPLICA_STRIDE for r in range(3) for b in range(50))
    assert gen.search_terms(2, 5) == gen.search_terms(2, 5)


# -- latency and the percentile rule ------------------------------------

def test_latency_runs_from_creation_stamp_to_arrival():
    assert common.latencies_ms(100.5, [100_000.0, 100_250.0, 100_500.0]) == [500.0, 250.0, 0.0]


def test_percentile_is_nearest_rank():
    vals = list(range(1, 101))
    assert common.percentile(vals, 50) == 50
    assert common.percentile(vals, 99) == 99
    assert common.percentile(vals, 100) == 100
    assert common.percentile([5.0], 90) == 5.0


@pytest.mark.parametrize("n, pct", [(2000, 99.0), (1000, 99.0), (999, 98.0), (100, 90.0),
                                    (27, 62.0), (20, 50.0), (19, None), (0, None)])
def test_tail_rule_keeps_ten_samples_beyond(n, pct):
    assert common.tail_percentile(n) == pct
    if pct is not None:
        rank = -(-int(pct) * n // 100)
        assert n - rank >= common.MIN_BEYOND
        # one percent higher would leave fewer than ten beyond
        if pct < 99:
            assert n - (-(-(int(pct) + 1) * n // 100)) < common.MIN_BEYOND


def test_latency_summary_states_sample_count():
    s = common.latency_summary([float(i) for i in range(1, 101)])
    assert s == {"n": 100, "p50": 50.0, "tail_pct": 90.0, "tail": 90.0}
    assert common.named_latency("x", s) == {
        "x_p50_ms": [50.0, "ms"], "x_p90_ms": [90.0, "ms"], "latency_samples": [100, "count"]}
    few = common.latency_summary([1.0] * 5)
    assert few["tail"] is None
    assert common.named_latency("x", few) == {"x_p50_ms": [1.0, "ms"],
                                               "latency_samples": [5, "count"]}


# -- failure accounting --------------------------------------------------

def test_tally_counts_wrong_answers_as_failures():
    t = common.Tally()
    assert t.record("a", True)
    assert not t.record("b", False, "3 rows differ")
    t.record("c", True)
    assert (t.attempted, t.failed) == (3, 1)
    assert t.failures == ["b: 3 rows differ"]
    line = json.loads(common.result_line(t, {"x_s": (1.5, "s")}))
    assert line == {"correct": False, "attempted": 3, "failed": 1,
                    "metrics": {"x_s": {"value": 1.5, "unit": "s"}}}


def test_result_line_reports_at_least_one_attempt():
    line = json.loads(common.result_line(common.Tally(), {}))
    assert line["attempted"] == 1 and line["correct"] is True


# -- spans -----------------------------------------------------------------

def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "streaming.run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "store.a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "store.b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "plans.x", "parent": 1, "start": 1.5, "end": 2.0},
    ]
    st = common.self_times(spans)
    assert st["streaming"] == pytest.approx(5.0)  # children cover [1, 6]
    assert st["store"] == pytest.approx(2.5 + 3.0)
    assert st["plans"] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    calls = []
    t = common.Tracer(False, "x", on_enter=lambda *a: calls.append(a))
    with t.span("a"):
        pass
    assert t.spans == [] and calls == []
    t = common.Tracer(True, "x", on_enter=lambda *a: calls.append(a))
    with t.span("a"):
        with t.span("b"):
            pass
    assert [s["parent"] for s in t.spans] == [None, 0]
    assert calls == [(0, "a"), (1, "b"), (0, "a")]


def test_proc_sampler_reads_this_process():
    s = common.ProcSampler()
    assert s.cpu_seconds() > 0
    assert os.getpid() in common.process_tree(os.getpid())
    s.start()
    s.stop()
    assert s.peak_rss_mb > 1
    assert [k for k, _ in s.loadavg] == ["before", "after"]


def test_end_descendants_ends_an_orphaned_grandchild():
    # in a child process, so reaping cannot touch pytest's own children;
    # the shell exits at once and leaves its background sleep orphaned
    script = (
        "import os, subprocess, sys, time\n"
        f"sys.path.insert(0, {os.path.dirname(HERE)!r})\n"
        "import common\n"
        "common.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=open('pid', 'w'))\n"
        "orphan = int(open('pid').read())\n"
        "assert orphan in common.process_tree(os.getpid())\n"
        "t0 = time.monotonic()\n"
        "assert common.end_descendants(grace_s=0.5) == [orphan]\n"
        "assert time.monotonic() - t0 < 10\n"
        "assert common.process_tree(os.getpid()) == [os.getpid()]\n"
    )
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        subprocess.run([sys.executable, "-c", script], cwd=d, check=True, timeout=60)


# -- the event writer -------------------------------------------------------

def test_writer_publishes_one_file_flat_and_several_in_one_directory(tmp_path):
    class Queue:
        path = str(tmp_path)
        segments = str(tmp_path / "segments")

    os.makedirs(Queue.segments)
    w = workload_cep.Writer(Queue, gen.EventSource(1))
    w.publish([(w.source.take(2), [10, 10])])
    w.publish([(w.source.take(2), [20, 20]), (w.source.take(1), [5])])
    assert sorted(os.listdir(Queue.segments)) == ["g-000001", "seg-000000.jsonl"]
    assert sorted(os.listdir(tmp_path / "segments" / "g-000001")) == [
        "seg-000001.jsonl", "seg-000002.jsonl"]
    assert os.listdir(tmp_path / "_staging") == []
    paths = [tmp_path / "segments" / "seg-000000.jsonl",
             tmp_path / "segments" / "g-000001" / "seg-000001.jsonl",
             tmp_path / "segments" / "g-000001" / "seg-000002.jsonl"]
    stamps = [json.loads(line)["ts_us"] for p in paths for line in p.read_text().splitlines()]
    # due stamps are kept unless that would not move time forward
    assert stamps == [10, 11, 20, 21, 22]


# -- oracles ----------------------------------------------------------------

def test_window_reference_counts_only_earlier_arrivals():
    ev = [
        {"event_id": 0, "user_id": "u", "value": 1.0, "ts_us": 0, "gen_ms": 0.0},
        {"event_id": 1, "user_id": "u", "value": 2.0, "ts_us": 1, "gen_ms": 0.001},
        {"event_id": 2, "user_id": "v", "value": 5.0, "ts_us": 2, "gen_ms": 0.002},
        {"event_id": 3, "user_id": "u", "value": 4.0, "ts_us": 601_000_000, "gen_ms": 601_000.0},
    ]
    assert workload_cep.window_reference(ev) == [
        (0, "u", 0.0, 1, 1.0), (1, "u", 0.001, 2, 3.0), (2, "v", 0.002, 1, 5.0),
        (3, "u", 601_000.0, 1, 4.0),
    ]


def test_expected_dup_flags_first_occurrence_wins():
    text = {1: "a b", 2: "A B", 3: "c", 4: "a b", 5: "c"}
    flags = workload_corpus.expected_dup_flags([[2, 1, 3], [5, 4]], text.get)
    assert flags == [{1: False, 2: True, 3: False}, {4: True, 5: True}]


# -- BENCHMARK.json ---------------------------------------------------------

def test_benchmark_json_records_the_workload_constants():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        spec = json.load(f)
    why = {w["name"]: w["why"] for w in spec["workloads"]}
    assert set(why) == {"cep_stream", "corpus"}
    assert f"{workload_cep.PACED_RATE} ev/s" in why["cep_stream"]
    assert f"backlog {workload_cep.BACKLOG_EVENTS}" in why["cep_stream"]
    assert f"{workload_corpus.EPOCHS} epochs" in why["corpus"]
    assert f"{workload_corpus.SEARCHES_PER_EPOCH} BM25-store search" in why["corpus"]
    import run

    assert {m["name"] for m in spec["end_to_end"]} == set(run.E2E_UNITS)
    assert all(m["unit"] == run.E2E_UNITS[m["name"]] for m in spec["end_to_end"])
