"""Per-layer metrics of a traced run, and the table that prints them.

Every figure is per traced operation (a request, a save or a pass) unless
its name says otherwise. ``SHOULD_MOVE`` records, for each layer, the
end-to-end metric a change in that layer should move and on which workload.
"""

from __future__ import annotations

import statistics

import workloads

SHOULD_MOVE = {
    "api": "latency_p50_ms on api",
    "plans": "latency_p50_ms on api",
    "session": "ops_per_s on api (two database switches a round) and setup_s",
    "es_dsl": "latency_p50_ms on api",
    "esql": "latency_p50_ms on api",
    "compile": "latency_p50_ms on api",
    "py4j": "latency_p50_ms on api and batch",
    "catalyst": "latency_p50_ms on api and batch",
    "spark": ("jobs, stages: latency_p50_ms on batch; shuffle, task time: docs_per_s on api "
              "(the save); all: cpu_ms_per_op"),
    "result": "latency_p50_ms on api",
    "indexer": "docs_per_s on api (the save); figures are per save",
    "batch": "latency_p50_ms and ops_per_s on batch",
    "proc": "cpu_ms_per_op on every workload",
    "receiver": "none: shows the receiver is not the bottleneck (api)",
    "trace": "none: cost of tracing against the untraced rounds of the run",
}


def layer_metrics(workload: str, tracer, records: list[dict], cpu_traced: dict) -> dict:
    traced = [r for r in records if r["traced"]]
    n = len(traced)
    ops = [tracer.ops[r["id"]] for r in traced]

    def per_op(key: str) -> float:
        return sum(o.get(key, 0.0) for o in ops) / n

    def total(name: str) -> float:
        return sum(tracer.total_ms(name).values()) / n

    def self_time(name: str) -> float:
        return sum(tracer.self_ms(name).values()) / n

    m = {
        "api.self_ms": self_time("api.request"),
        "plans.select_gate_ms": total("plans.select_gate"),
        "session.register_ms": total("session.register"),
        "session.register_misses": per_op("session.register_misses"),
        "es_dsl.compile_ms": total("es_dsl.compile"),
        "esql.compile_ms": total("esql.compile"),
        "compile.sql_chars": per_op("compile.sql_chars"),
        "py4j.calls_per_op": per_op("py4j.calls"),
        "py4j.ms_per_op": per_op("py4j.ms"),
        "catalyst.queries_per_op": per_op("catalyst.queries"),
        "result.envelope_ms": self_time("result.envelope"),
        "result.rows_per_op": per_op("result.rows"),
        "proc.jvm_cpu_ms_per_op": cpu_traced["jvm"] * 1000 / n,
        "proc.driver_cpu_ms_per_op": cpu_traced["driver"] * 1000 / n,
        "proc.worker_cpu_ms_per_op": cpu_traced["workers"] * 1000 / n,
        "receiver.cpu_ms_per_op": cpu_traced["receiver"] * 1000 / n,
        "trace.spans_per_op": len(tracer.spans) / n,
        "trace.overhead_pct": overhead_pct(records),
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = per_op(f"catalyst.{phase}_ms")
    for key in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
                "shuffle_write_bytes", "spill_bytes", "gc_ms"):
        m[f"spark.{key}_per_op"] = per_op(f"spark.{key}")
    if workload == "api":
        saves = [r for r in traced if r["op"].kind == "save"]
        m["api.response_bytes"] = sum(
            len((r["answer"][0] if r["op"].kind == "save" else r["answer"]).get_data())
            for r in traced) / n
        stats = [r["answer"][1] for r in saves]
        docs = sum(s["lines"] for s in stats) / 2
        m["indexer.bulk_requests_per_op"] = sum(s["requests"] for s in stats) / len(saves)
        m["indexer.bulk_bytes_per_doc"] = sum(s["bytes"] for s in stats) / docs
        m["indexer.bulk_retries_per_op"] = sum(s["retries"] for s in stats) / len(saves)
        m["indexer.positional_ids_ms"] = sum(tracer.total_ms("indexer.positional_ids").values()) / len(saves)
        m["indexer.sink_write_ms"] = sum(tracer.total_ms("indexer.sink_write").values()) / len(saves)
    if workload == "batch":
        for k in workloads.BATCH_KERNELS:
            groups = [tracer.groups[f"{r['id']}/{k}"] for r in traced]
            m[f"batch.{k}.ms"] = statistics.median(r["answer"][k][2] for r in traced)
            m[f"batch.{k}.jobs"] = sum(g["spark.jobs"] for g in groups) / n
            m[f"batch.{k}.stages"] = sum(g["spark.stages"] for g in groups) / n
    return m


def overhead_pct(records: list[dict]) -> float:
    """Median, over the operations of the traced rounds, of each one's time
    against the mean of the same operation in the untraced rounds on either
    side of it, minus one: slow drift across the run cancels out."""
    by_round: dict[int, list[dict]] = {}
    for rec in records:
        by_round.setdefault(int(rec["id"].split(".")[0][1:]), []).append(rec)
    ratios = []
    for r, recs in by_round.items():
        if recs[0]["traced"]:
            for i, rec in enumerate(recs):
                around = (by_round[r - 1][i]["s"] + by_round[r + 1][i]["s"]) / 2
                ratios.append(rec["s"] / around)
    return 100 * (statistics.median(ratios) - 1)


def print_table(workload: str, metrics: dict) -> None:
    """The per-layer table, grouped by layer, to standard output."""
    print(f"per-layer metrics, workload {workload} (per traced op unless named otherwise)")
    current = None
    for name in sorted(metrics, key=lambda k: (k.split(".")[0], k)):
        layer = name.split(".")[0]
        if layer != current:
            current = layer
            print(f"  [{layer}] should move: {SHOULD_MOVE.get(layer, '-')}")
        print(f"    {name:<44} {metrics[name]:>14.3f}")
