"""engine_spark benchmark: one command per workload.

    python3 perfbench/run.py --workload cep_stream --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` under ``.perfbench/`` in the checkout, drives the program only
through its public entry points, checks every answer, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` runs the same work twice, first untraced in a child
process, then with spans and Spark's event log on in this one, and
reports the per-layer metrics of the traced pass plus
``overhead.<metric>``: traced minus untraced. Spans and the folded event log go to
``.perfbench/trace-<workload>-<seed>.json``.

Workloads: ``cep_stream`` (workload_cep.py) and ``corpus``
(workload_corpus.py). Each module's docstring says why it was chosen,
what each end-to-end metric means on it, and its fixed constants.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

#: end-to-end metrics every workload reports (name -> unit); what each
#: means per workload is in the workload module's docstring
E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}
#: JVM heap of the driver (local mode runs everything in it)
DRIVER_MEM = "1g"
#: Spark cores (local mode, and the shuffle partitions). Two on a 4-core
#: host leave room for the benchmark process, the JVM's own threads and
#: the Python workers: against four, a cep_stream run at 50 events/s saw
#: window micro-batches of about 2.0 s instead of 3.1-3.9 s.
CORES = 2


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Bench:
    """What one measured pass of a workload shares: the Spark session,
    spans, the failure tally, the /proc sampler and the layer counters."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        from common import ProcSampler, Tally, Tracer

        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = os.path.join(WORK, f"{workload}-{seed}-{'t' if traced else 'u'}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.event_log = os.path.join(self.work, "eventlog")
        self.tracer = Tracer(traced, f"{workload}-{seed}", on_enter=self._tag)
        self.tally = Tally()
        self.sampler = ProcSampler()
        self.spark = None
        #: per-layer values the workload records (name -> number)
        self.layers: dict[str, float] = {}
        #: the workload's end-to-end figures under their own names
        self.named: dict[str, list] = {}
        #: streaming query id -> span id, to fold micro-batch jobs
        self.query_spans: dict[str, int] = {}
        #: per query, its StreamingQueryProgress records
        self.progress: dict[str, list[dict]] = {}
        #: run the costly oracle comparisons; the traced pass skips them,
        #: the untraced pass of the same run checked the same inputs
        self.checks = not traced

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def _tag(self, sid: int, name: str) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"span-{sid}", name)

    def _conf(self) -> dict[str, str]:
        local = os.path.join(WORK, "spark-local")
        os.makedirs(local, exist_ok=True)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} "
                                             f"-Dderby.system.home={local}",
            "spark.eventLog.enabled": "true" if self.traced else "false",
        }
        if self.traced:
            os.makedirs(self.event_log, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + self.event_log
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup(self) -> float:
        """get_spark and one warm-up action in this fresh process, so the
        JVM starts cold, as it does for a caller. Returns its seconds."""
        from engine_spark.session import get_spark

        t0 = time.perf_counter()
        with self.span("session.start"):
            spark = get_spark("perfbench", shuffle_partitions=CORES,
                              extra_conf=self._conf())
        t1 = time.perf_counter()
        self.spark = spark
        with self.span("session.warmup"):
            spark.range(0, 100_000, numPartitions=CORES).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.warmup_s"] = t2 - t1
        return t2 - t0

    def pinned_rdds(self) -> int:
        """Persisted RDDs the program left in the block manager."""
        jsc = self.spark.sparkContext._jsc
        return int(jsc.sc().getPersistentRDDs().size())

    def stop(self) -> None:
        """Stop the session, then the py4j gateway JVM that outlives it,
        and wait for that JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            proc.wait(timeout=30)


def _workload_module(name: str):
    import importlib

    return importlib.import_module({"cep_stream": "workload_cep",
                                    "corpus": "workload_corpus"}[name])


def run_pass(workload: str, seed: int, seconds: int, traced: bool) -> tuple[Bench, dict]:
    """One measured pass: set-up, the workload, the end-to-end metrics."""
    from common import log

    b = Bench(workload, seed, seconds, traced)
    b.sampler.start()
    try:
        setup_s = b.setup()
        log(f"{workload}: set-up {setup_s:.2f}s")
        e2e = _workload_module(workload).run(b)
        e2e["setup_s"] = setup_s
        log(f"{workload}: layers {json.dumps(b.layers)}")
        log(f"{workload}: RSS kB by pid at the peak {b.sampler.peak_by_pid}")
    finally:
        b.stop()
        b.sampler.stop()
    b.layers["host.steal_s"] = b.sampler.steal_s
    return b, e2e


def _layer_metrics(b: Bench) -> dict[str, float]:
    """Event-log counters and span self times, folded into b.layers."""
    from common import self_times
    from eventlog import fold

    folded = fold(b.event_log, b.query_spans)
    tot = folded["total"]
    out = dict(b.layers)
    for k in ("jobs", "stages", "tasks", "exchanges", "executor_run_s", "executor_cpu_s",
              "gc_s", "scheduler_delay_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "peak_exec_mem_bytes"):
        out[f"spark.{k}"] = tot[k]
    out["python.total_s"] = tot["python_total_s"]
    out["python.boot_s"] = tot["python_boot_s"]
    out["python.rows_received"] = tot["python_rows_received"]
    out["python.bytes_sent"] = tot["python_bytes_sent"]
    dedup_spans = {sp["id"] for sp in b.tracer.spans if sp["name"].startswith("dedup.")}
    join_rows = sum(v["join_rows_out"] for k, v in folded["by_span"].items() if k in dedup_spans)
    if join_rows and "dedup.pairs_out" in out:
        out["dedup.verify_ratio"] = out["dedup.pairs_out"] / join_rows
    for layer, secs in self_times(b.tracer.spans).items():
        out[f"self.{layer}_s"] = secs
    for records in b.progress.values():
        for p in records:
            p["span"] = b.query_spans.get(p.get("id"))
    with open(os.path.join(WORK, f"trace-{b.workload}-{b.seed}.json"), "w") as f:
        json.dump({"trace": b.tracer.trace_id, "spans": b.tracer.spans, "progress": b.progress,
                   "by_span": {str(k): v for k, v in folded["by_span"].items()},
                   "loadavg": b.sampler.loadavg, "failures": b.tally.failures}, f)
    return out


def _untraced_subprocess(args) -> dict:
    """Run the same workload and seed with --trace 0 in a child process
    and return its result line."""
    import subprocess

    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=150, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> int:
    """Run the benchmark; on every way out, wait for each process it
    started (the JVM, the Python workers, a child run) to end."""
    import signal

    from common import adopt_orphans, end_descendants

    adopt_orphans()
    # SIGTERM unwinds like an exception, so the finally below still runs
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        return _main(argv)
    finally:
        end_descendants()


def _main(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "engine_spark", "session.py")):
        _die(f"no engine_spark package under {ROOT}: run from a checkout of the repo")
    if args.workload not in ("cep_stream", "corpus"):
        _die(f"unknown workload {args.workload!r}")
    if args.seconds < 1:
        _die("--seconds must be at least 1")
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(bench_json):
        with open(bench_json) as f:
            spec = json.load(f)
        per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        _die("BENCHMARK.json not found at the checkout root")

    # the program's Python workers import engine_spark from the checkout;
    # every temporary file stays under .perfbench/
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVMs would otherwise write their perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    os.chdir(WORK)  # Spark's derby.log and spark-warehouse land here

    from common import result_line

    if args.trace == 0:
        b, e2e = run_pass(args.workload, args.seed, args.seconds, traced=False)
        tally, work = b.tally, b.work
        metrics = {k: (e2e[k], E2E_UNITS[k]) for k in E2E_UNITS}
        print(json.dumps({"workload": args.workload, "named": b.named,
                          "loadavg": b.sampler.loadavg, "host_steal_s": b.sampler.steal_s,
                          "failures": b.tally.failures}))
    else:
        # the untraced pass runs in its own process, so both passes start
        # from a cold JVM and neither warms the other
        untraced = _untraced_subprocess(args)
        bt, e2e_t = run_pass(args.workload, args.seed, args.seconds, traced=True)
        tally, work = bt.tally, bt.work
        tally.attempted += untraced["attempted"]
        tally.failed += untraced["failed"]
        if untraced["failed"]:
            tally.failures.append(f"untraced pass: {untraced['failed']} failed")
        layers = _layer_metrics(bt)
        for k in E2E_UNITS:
            layers[f"overhead.{k}"] = e2e_t[k] - untraced["metrics"][k]["value"]
        metrics = {name: (float(layers.get(name, 0.0)), unit)
                   for name, unit in per_layer.items()}
        print(json.dumps({"workload": args.workload, "failures": tally.failures}))
    for f in tally.failures:
        print(f"FAILED {f}", file=sys.stderr)
    if not tally.failed:
        # a failed run keeps its inputs and mismatch files for inspection
        shutil.rmtree(work, ignore_errors=True)
    print(result_line(tally, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
