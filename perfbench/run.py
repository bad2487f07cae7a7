#!/usr/bin/env python3
"""The engine's benchmark: one workload, one run, one JSON line of results.

    python3 perfbench/run.py --workload api|batch --seed N \\
        --seconds S --trace 0|1

Run it from the root of a checkout of the engine. One run:

1. pins the run conditions: ``local[N]`` with N = min(4, cores), the same N
   as ``SPARK_GRAFT_CPUS`` and shuffle partitions, ``PYTHONPATH`` for Spark's
   Python workers, fresh scratch directories under ``.perfbench/run/``, the
   JSON request log in a file there;
2. prepares its own inputs, untimed: the fixture tables (``datagen``), DuckDB
   views over them, expected answers, and for ``api`` the ``_bulk``
   receiver in its own process;
3. sets the engine up three times (session start, app, source registration
   and one probe request) and reports the median as ``setup_s``;
4. runs one untimed warm-up round;
5. runs whole rounds of the workload's operations, one at a time (a closed
   loop with one client), until ``--seconds`` have passed;
6. checks every answer against DuckDB, the spool or a property
   (``workloads``, ``checks``); a wrong answer counts as a failed op.
7. stops the JVM, its Python workers and the receiver, and waits until
   each has ended, also when the run fails or is sent SIGTERM.

With ``--trace 0`` the last line of standard output carries the end-to-end
metrics; their times are steal-free (``StealClock``). With ``--trace 1``
rounds alternate between untraced and traced (untraced first and last), the
per-layer table is printed, the spans are written to
``.perfbench/run/<workload>-trace/spans.jsonl``, and the last line carries
the per-layer metrics, including the tracing overhead measured against the
untraced rounds of the same run.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "golang_db_query_engine_elasticsearch_indexer_spark"
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("api", "batch")
SCALES = {"sf0.01": 0.01, "sf0.001": 0.001}
SETUPS = 3
MAX_CPUS = 4
# One untimed warm-up round. The rounds after it are still 7-18 % faster
# each (see README); a second warm-up round would not fit the run budget.
WARMUP_ROUNDS = 1

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "docs_per_s": "1/s",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    import workloads

    units = {
        "api.self_ms": "ms", "api.response_bytes": "bytes",
        "plans.select_gate_ms": "ms",
        "session.register_ms": "ms", "session.register_misses": "count",
        "es_dsl.compile_ms": "ms", "esql.compile_ms": "ms", "compile.sql_chars": "count",
        "py4j.calls_per_op": "count", "py4j.ms_per_op": "ms",
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms", "catalyst.queries_per_op": "count",
        "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count", "spark.task_run_ms_per_op": "ms",
        "spark.task_cpu_ms_per_op": "ms", "spark.shuffle_write_bytes_per_op": "bytes",
        "spark.spill_bytes_per_op": "bytes", "spark.gc_ms_per_op": "ms",
        "result.envelope_ms": "ms", "result.rows_per_op": "count",
        "indexer.positional_ids_ms": "ms", "indexer.sink_write_ms": "ms",
        "indexer.bulk_requests_per_op": "count", "indexer.bulk_bytes_per_doc": "bytes",
        "indexer.bulk_retries_per_op": "count",
    }
    for k in workloads.BATCH_KERNELS:
        units.update({f"batch.{k}.ms": "ms", f"batch.{k}.jobs": "count", f"batch.{k}.stages": "count"})
    units.update({
        "proc.jvm_cpu_ms_per_op": "ms", "proc.driver_cpu_ms_per_op": "ms",
        "proc.worker_cpu_ms_per_op": "ms", "receiver.cpu_ms_per_op": "ms",
        "trace.overhead_pct": "%", "trace.spans_per_op": "count",
    })
    return units


class Receiver:
    """The ``_bulk`` receiver process (``receiver.py``) and its control routes."""

    def __init__(self, spool: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "receiver.py"), "--spool", spool],
            stdout=subprocess.PIPE, text=True,
        )
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def _call(self, path: str, body: dict | None = None) -> dict:
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(self.url + path, data=data, method="POST" if data else "GET")
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())

    def reset(self, spool: str) -> None:
        self._call("/_bench/reset", {"spool": spool})

    def stats(self) -> dict:
        return self._call("/_bench/stats")

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def cpu_ticks() -> tuple[int, int]:
    """(busy ticks, of which stolen) so far, summed over this machine's CPUs.
    Steal is time a CPU had work to run but the hypervisor ran another
    guest; busy is user, nice, system, irq, softirq and steal."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


class StealClock:
    """Wall time with the hypervisor's steal taken out: an interval's wall
    time times the share of the busy CPU ticks in it that were not stolen.
    On a shared host steal reached 23 % of all CPU ticks in a run and doubled
    raw latencies; work stretched that way is not the engine's cost."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.c0 = cpu_ticks()

    def stop(self) -> tuple[float, float]:
        """(wall seconds, steal-free seconds) since construction."""
        wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.c0, cpu_ticks()))
        return wall, wall * (1 - steal / busy) if busy else wall


def pin_conditions(cpus: int, run_dir: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(1, ROOT)


def log_requests_to(path: str) -> None:
    """Send the engine's JSON request log to ``path`` instead of stderr."""
    from golang_db_query_engine_elasticsearch_indexer_spark import api

    log = logging.getLogger(api._log.name)
    handler = logging.FileHandler(path)
    handler.setFormatter(api._json_log_handler().formatter)
    log.addHandler(handler)
    log.setLevel(logging.INFO)
    log.propagate = False


def duck_connections(dirs: dict, cpus: int) -> dict:
    import duckdb

    out = {}
    for db, path in dirs.items():
        con = duckdb.connect()
        con.execute(f"SET threads TO {cpus}")
        for name in os.listdir(path):
            if name.endswith(".parquet"):
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{os.path.join(path, name)}'")
        out[db] = con
    return out


def set_up(cpus: int, run_dir: str, dirs: dict, duck: dict, sink):
    """Start the engine: session, app, source registry and one probe
    request. Returns (spark, test client, steal-free seconds taken)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.api import create_app
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        SourceRegistry, build_session,
    )

    clock = StealClock()
    spark = build_session(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        },
    )
    registry = SourceRegistry()
    for db, path in dirs.items():
        registry.register_source("parquet", db, path)
    client = create_app(spark=spark, registry=registry, sink=sink).test_client()
    resp = client.get("/query/", query_string={
        "dbDriver": "parquet", "dbName": "sf0.01", "query": "SELECT count(*) AS n FROM orders"})
    _wall, took = clock.stop()
    want = duck["sf0.01"].execute("SELECT count(*) FROM orders").fetchone()[0]
    if resp.status_code != 200 or resp.get_json()["data"][0]["n"] != want:
        raise RuntimeError(f"set-up probe answered {resp.status_code} {resp.get_data(as_text=True)[:200]}")
    return spark, client, took


def stop_gateway() -> None:
    """End the JVM and wait for it. PySpark leaves the JVM to notice on its
    own that its stdin closed when this process exits, so without this the
    JVM outlives the run for as long as its shutdown takes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"perfbench: no engine checkout at {ROOT} ({PKG}/ missing)", file=sys.stderr)
        return 2

    from procstat import become_subreaper, stop_children

    # every process the run starts (JVM, Python workers, receiver) has
    # ended before this one does, on every way out of it
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        return measure(args)
    finally:
        stop_children()


def measure(args: argparse.Namespace) -> int:
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    run_dir = os.path.join(STATE, "run", f"{args.workload}-{'trace' if args.trace else 'plain'}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_conditions(cpus, run_dir)
    load_start = os.getloadavg()

    import datagen
    import workloads
    from procstat import PeakRss, ProcessTree
    from trace import Tracer

    dirs = {db: datagen.ensure(os.path.join(STATE, "data"), sf) for db, sf in SCALES.items()}
    duck = duck_connections(dirs, cpus)
    log_requests_to(os.path.join(run_dir, "requests.log"))
    receiver = sink = spark = None
    try:
        if args.workload == "api":
            from golang_db_query_engine_elasticsearch_indexer_spark.indexer import HttpBulkSink

            receiver = Receiver(os.path.join(run_dir, "bulk-setup.ndjson"))
            sink = HttpBulkSink(receiver.url)
        else:
            import __spark_entry__ as entry

            expected = workloads.batch_expected(duck[workloads.SF_MAIN], entry.oracle_sql())

        setups = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            spark, client, took = set_up(cpus, run_dir, dirs, duck, sink)
            setups.append(took)
        tree = ProcessTree(exclude=(receiver.proc.pid,) if receiver else ())
        tracer = Tracer(spark)
        ctx = workloads.Context(client, duck, dirs, run_dir)
        if args.workload == "api":
            wl = workloads.Api(ctx, args.seed, receiver)
        else:
            wl = workloads.Batch(ctx, spark, expected, tracer)

        def run_round(r: int, traced: bool, records: list) -> float:
            tracer.active = traced
            t_round = time.perf_counter()
            for i, op in enumerate(wl.round_ops(r)):
                if op.before:
                    op.before()
                if traced:
                    tracer.begin_op(f"r{r}.{i}.{op.kind}")
                err = answer = None
                clock = StealClock()
                try:
                    with tracer.span("batch.pass" if args.workload == "batch" else "api.request"):
                        answer = op.run()
                except Exception as exc:  # an engine failure is a failed op, not a crash
                    err = f"{type(exc).__name__}: {exc}"
                wall, dt = clock.stop()
                if traced:
                    tracer.end_op()
                if op.after and err is None:
                    answer = op.after(answer)
                records.append({"op": op, "answer": answer, "error": err, "s": dt, "wall_s": wall,
                                "traced": traced, "id": f"r{r}.{i}.{op.kind}"})
            tracer.active = False
            return time.perf_counter() - t_round

        warm_times = [run_round(-1 - i, False, []) for i in range(WARMUP_ROUNDS)]

        if args.trace:
            tracer.install()
        records: list[dict] = []
        cpu_traced = {"jvm": 0.0, "driver": 0.0, "workers": 0.0, "receiver": 0.0}
        rss = PeakRss(tree).start()
        cpu0 = tree.cpu_by_role()
        window = StealClock()
        t_start = time.perf_counter()
        r = 0
        while True:
            traced = bool(args.trace) and r % 2 == 1
            if traced:
                c0 = tree.cpu_by_role()
                c0["receiver"] = receiver.stats()["cpu_s"] if receiver else 0.0
            run_round(r, traced, records)
            if traced:
                c1 = tree.cpu_by_role()
                c1["receiver"] = receiver.stats()["cpu_s"] if receiver else 0.0
                for role in c0:
                    cpu_traced[role] += c1[role] - c0[role]
            r += 1
            # whole rounds until --seconds have passed; a traced run
            # alternates untraced and traced rounds and ends on an untraced
            # one, so each traced round sits between two untraced ones
            if time.perf_counter() - t_start >= args.seconds and (not args.trace or r % 2 and r >= 3):
                break
        window_s, window_free_s = window.stop()
        cpu1 = tree.cpu_by_role()
        peak_rss = rss.stop()
        if args.trace:
            tracer.uninstall()

        failed = wrong = 0
        for rec in records:
            if rec["error"] is None:
                reason = rec["op"].check(rec["answer"])
                if reason is not None:
                    rec["error"] = f"wrong answer: {reason}"
                    wrong += 1
            if rec["error"] is not None:
                failed += 1
                print(f"perfbench: {rec['id']} failed: {rec['error']}", file=sys.stderr)
    finally:
        # every step runs even when one before it fails: a SIGTERM that
        # lands inside a py4j call leaves the gateway unable to stop Spark
        try:
            if spark is not None:
                spark.stop()
        finally:
            try:
                stop_gateway()
            finally:
                if receiver is not None:
                    receiver.stop()
                for con in duck.values():
                    con.close()

    load_end = os.getloadavg()
    run_info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "load_avg_start": load_start, "load_avg_end": load_end, "setups_s": setups,
        "warmup_rounds_s": warm_times, "rounds": r, "ops": len(records), "window_s": window_s,
        "steal_share": 1 - window_free_s / window_s,
        "op_ms": [(rec["id"], round(rec["s"] * 1000, 1), round(rec["wall_s"] * 1000, 1), rec["traced"])
                  for rec in records],
    }
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump(run_info, f, indent=1)
    print(f"perfbench: load average {load_start} -> {load_end}, warm-up rounds "
          f"{[round(t, 2) for t in warm_times]} s, steal {run_info['steal_share']:.1%} of busy "
          f"CPU in the window", file=sys.stderr)

    if args.trace:
        from layers import layer_metrics, print_table

        metrics = layer_metrics(args.workload, tracer, records, cpu_traced)
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
        print_table(args.workload, metrics)
        units = per_layer_units()
        out = {name: {"value": metrics.get(name, 0.0), "unit": unit} for name, unit in units.items()}
    else:
        delivered = [(rec["op"].rows(rec["answer"]), rec["s"]) for rec in records
                     if rec["error"] is None]
        docs = sum(n for n, _s in delivered)
        docs_s = sum(s for n, s in delivered if n)
        values = {
            "setup_s": statistics.median(setups),
            "ops_per_s": len(records) / sum(rec["s"] for rec in records),
            "latency_p50_ms": statistics.median(rec["s"] * 1000 for rec in records),
            "docs_per_s": docs / docs_s if docs_s else 0.0,
            "cpu_ms_per_op": (sum(cpu1.values()) - sum(cpu0.values())) * 1000 / len(records),
            "peak_rss_mb": peak_rss / 2**20,
        }
        out = {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({"correct": wrong == 0, "attempted": len(records), "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
