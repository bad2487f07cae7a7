#!/usr/bin/env python3
"""In-plan scaling probe: measured evidence for the "would this survive
a scale-up" question.

Registers k-times-scaled views of the sf0.1 fixtures (key-shifted
self-unions — NO data is written; the union is part of the logical
plan, so Spark honestly scans the parquet k times and shuffles k times
the rows) and times representative headline kernels at k = 1/2/4/8:

- agg scan        q1_pricing_summary (inventory SQL) over lineitem xk
- 3-table join    q3_shipping_priority over customer/orders/lineitem xk
                  (join keys shifted CONSISTENTLY across tables, so the
                  join fan-out scales like real data, not quadratically)
- BM25 scoring    the compiled es_dsl match_scored body over documents xk
- terms agg       the compiled es_dsl terms+stats body over events xk
- exact dedup     hash-groupBy over documents xk (each text now has k
                  exact copies — the dedup load grows like a crawl's)
- window top-k    win_topk_per_group (rank window per supplier) over
                  lineitem xk — k-times the groups, same per-group depth
- LSH dedup       dedup_minhash_lsh over documents xk. The k copies are
                  EXACT duplicates, so every LSH bucket grows k-fold and
                  many cross the MINHASH_MAX_BUCKET cap and are dropped —
                  that cap firing IS the kernel's documented skew guard
                  doing its job on exactly the workload (k-fold crawl
                  duplication) it guards against; the timing measures
                  signature gen + banding + capped verify, the plan a
                  100 TB crawl would run
- JPEG codec      multimodal decode_jpeg over documents xk — map-only
                  Arrow-batched mapInPandas; per-row CPU, zero shuffle

Usage (repo root):
  python tools/scale_probe.py [ks...]              # default 1 2 4 8
  python tools/scale_probe.py --kernels a,b [ks..] # subset by name

Prints one JSON line per (kernel, k) and a final summary with the
efficiency ratio t(k) / (k * t(1)) — ~1.0 means the kernel is
scan/shuffle-bounded (linear); >>1 means something super-linear hides
in the plan. Results are recorded in SCALE.md ("scaling probe").
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.1"
# key shifts keep scaled ids disjoint AND referentially consistent
B_ORDER = 100_000_000  # orderkey space per copy
B_CUST = 10_000_000
B_DOC = 10_000_000
B_EVENT = 100_000_000
B_USER = 10_000_000


def register_scaled(spark, k: int) -> None:
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    od = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cu = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    dc = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")

    def times(df, shifts: dict[str, int]):
        parts = []
        for i in range(k):
            part = df
            for col, base in shifts.items():
                part = part.withColumn(col, F.col(col) + F.lit(i * base))
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    times(li, {"l_orderkey": B_ORDER}).createOrReplaceTempView("lineitem")
    times(od, {"o_orderkey": B_ORDER, "o_custkey": B_CUST}).createOrReplaceTempView("orders")
    times(cu, {"c_custkey": B_CUST}).createOrReplaceTempView("customer")
    times(dc, {"doc_id": B_DOC}).createOrReplaceTempView("documents")
    times(ev, {"event_id": B_EVENT, "user_id": B_USER}).createOrReplaceTempView("events")


def kernels() -> dict:
    """name -> SQL string (run via spark.sql) or callable(spark) ->
    DataFrame (operator kernels that are not a single statement). All
    read the scaled temp views, never the parquet paths directly."""
    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import (
        SQL_QUERIES,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        dedup,
        multimodal,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        HAS_CHILD_BODY,
        MATCH_SCORED_BODY,
        SCORED_BOOL_BODY,
        MATRIX_STATS_BODY,
        MORE_LIKE_THIS_BODY,
        PARENT_CHILD_RELATIONS,
        RESCORE_BODY,
        SUGGEST_TERM_BODY,
        TERMS_AGG_BODY,
        compile_search,
    )

    return {
        "agg_scan_q1": SQL_QUERIES["q1_pricing_summary"]["sql"],
        "join3_q3": SQL_QUERIES["q3_shipping_priority"]["sql"],
        "bm25_match_scored": compile_search(
            "documents", MATCH_SCORED_BODY, "spark"
        ),
        "es_terms_agg": compile_search(
            "events", TERMS_AGG_BODY, "spark", "event_id"
        ),
        "dedup_exact_hash": (
            "SELECT count(*) AS clusters, sum(n) AS docs FROM ("
            "  SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep"
            "  FROM documents GROUP BY md5(text))"
        ),
        # r10 additions (VERDICT r09 ask #7): the three remaining
        # families where a super-linear term could hide
        "win_topk_per_group": SQL_QUERIES["win_topk_per_group"]["sql"],
        "dedup_minhash_lsh": lambda spark: dedup.minhash_lsh_pairs(
            spark, SF_DIR
        ),
        "jpeg_decode": lambda spark: multimodal.decode_jpeg(spark, SF_DIR),
        # r10 batch-12/16 additions: the two new corpus-vocabulary
        # shapes — more_like_this (liked-doc point lookup + df agg +
        # broadcast term-relation join + per-doc sum) and the term
        # suggester (vocabulary x query-token candidate space). Both
        # should be scan/agg-bounded; a super-linear term would mean
        # the qterms/vocab relations stopped broadcasting.
        "more_like_this": compile_search(
            "documents", MORE_LIKE_THIS_BODY, "spark"
        ),
        "suggest_term": compile_search(
            "documents", SUGGEST_TERM_BODY, "spark"
        ),
        # r10 batch 18-23 additions: the three new shapes where a
        # super-linear term could hide — rescore (a SECOND BM25 CTE
        # chain joined onto the bounded first-pass window; the window
        # bound is what must keep the second pass corpus-independent),
        # has_child (child-side GROUP BY + semi-join into orders — the
        # join fan-out must track the key shift, never square), and
        # matrix_stats (six DECIMAL product sums in one aggregate —
        # pure partial-agg, should be the most linear kernel here).
        "rescore": compile_search("documents", RESCORE_BODY, "spark"),
        "has_child": compile_search(
            "orders", HAS_CHILD_BODY, "spark", "o_orderkey",
            PARENT_CHILD_RELATIONS,
        ),
        "matrix_stats": compile_search(
            "lineitem", MATRIX_STATS_BODY, "spark", "l_orderkey"
        ),
        # batch 32: three BM25 CTE chains + two id-keyed joins + the
        # filtered join-back — the widest everyday scoring topology;
        # the joins are over HIT-sized relations, so the kernel should
        # scale like the single-chain match, not like a join of scans
        "scored_bool": compile_search(
            "documents", SCORED_BOOL_BODY, "spark"
        ),
        # r11 (VERDICT r10 ask #8): the ES|QL compiler's everyday
        # pipeline (FROM | WHERE | STATS BY | SORT) over scaled
        # events — one declarative statement, so it should be
        # scan+partial-agg bounded exactly like agg_scan_q1; a
        # super-linear term would mean the nested-SELECT stages
        # stopped collapsing in Catalyst.
        "esql_pipeline": _esql_pipeline_sql(),
        # r12 (VERDICT r11 ask #6): the two unprobed plan families.
        # INLINESTATS compiles to window functions PARTITIONED BY the
        # group keys — with ~5 langs the per-partition sort grows
        # k-fold, the worst case for a windowed plan (a super-linear
        # term here would mean the window sort is the bottleneck, and
        # real deployments should add finer partition keys).
        # multi_from is the missing-column-as-NULL UNION ALL: two
        # scans + one partial agg — it should scale like agg_scan_q1;
        # a super-linear term would mean the union blocks pushdown.
        "esql_inlinestats": _esql_sql("ESQL_INLINESTATS"),
        "esql_multi_from": _esql_sql("_MULTI_FROM_PROBE"),
        # r13 (VERDICT r12 ask #5): FORK at branch-count x row scale.
        # FORK compiles to ONE UNION ALL whose branches each embed the
        # input subquery textually — so the plan question is whether
        # the input is recomputed per branch. Measured live (r13):
        # filter-only branches over a raw scan plan as N parquet scans
        # with each branch's predicate PUSHED into its own scan (the
        # right 100 TB plan — each scan prunes row groups; a cache
        # would materialize the whole input to serve every branch);
        # when the input ends in an aggregation, AQE's runtime
        # ReusedExchange shares the exchange across branches (verified
        # post-AQE: 1 ReusedExchange), so the expensive prefix runs
        # once. fork8/fork2 wall ratio at fixed k measures the
        # branch-count term; ks measure the row term.
        "esql_fork2": _esql_sql("_FORK2_PROBE"),
        "esql_fork8": _esql_sql("_FORK8_PROBE"),
    }


_MULTI_FROM_PROBE = """FROM documents, events METADATA _index
  | STATS n = COUNT(*), chars = SUM(n_chars), val = SUM(value) BY _index
  | SORT _index"""

_FORK2_PROBE = """FROM documents
  | FORK (WHERE n_chars > 500 | EVAL arm = 1)
         (WHERE n_chars <= 500 | EVAL arm = 0)
  | STATS n = COUNT(*), chars = SUM(n_chars) BY _fork | SORT _fork"""

# 8 disjoint n_chars bands — every branch a selective pushed filter
_FORK8_PROBE = "FROM documents\n  | FORK " + " ".join(
    f"(WHERE n_chars > {lo} AND n_chars <= {hi} | EVAL arm = {i})"
    for i, (lo, hi) in enumerate(
        [(-1, 125), (125, 250), (250, 375), (375, 500),
         (500, 625), (625, 750), (750, 875), (875, 10**9)]
    )
) + "\n  | STATS n = COUNT(*), chars = SUM(n_chars) BY _fork | SORT _fork"

_LOCAL_PROBES = {
    "_MULTI_FROM_PROBE": _MULTI_FROM_PROBE,
    "_FORK2_PROBE": _FORK2_PROBE,
    "_FORK8_PROBE": _FORK8_PROBE,
}


def _esql_sql(name: str) -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        esql,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        footer_schemas,
    )

    q = _LOCAL_PROBES.get(name) or getattr(esql, name)
    # the scaled views keep the fixture columns, so the footers give the
    # multi-index FROM's schemas
    schemas = footer_schemas(("documents", "events"), SF_DIR)
    return esql.compile_esql(q, "spark", schemas)


def _esql_pipeline_sql() -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        ESQL_FILTER_STATS,
        compile_esql,
    )

    return compile_esql(ESQL_FILTER_STATS, "spark")


def main() -> None:
    from pyspark.sql import SparkSession

    argv = sys.argv[1:]
    only: set[str] | None = None
    if argv and argv[0] == "--kernels":
        only = set(argv[1].split(","))
        argv = argv[2:]
    ks = [int(x) for x in argv] or [1, 2, 4, 8]
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    ker = kernels()
    if only is not None:
        unknown = only - set(ker)
        if unknown:
            raise SystemExit(f"unknown kernels: {sorted(unknown)}")
        ker = {n: s for n, s in ker.items() if n in only}

    def run(obj) -> None:
        df = spark.sql(obj) if isinstance(obj, str) else obj(spark)
        df.count()

    # warmup: JVM/codegen/footers at k=1
    register_scaled(spark, 1)
    for obj in ker.values():
        run(obj)

    base: dict[str, float] = {}
    rows = []
    for k in ks:
        register_scaled(spark, k)
        for name, obj in ker.items():
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                run(obj)
                best = min(best, time.time() - t0)
            if k == ks[0]:
                base[name] = best
            eff = best / (k / ks[0] * base[name])
            rec = {"kernel": name, "k": k, "sec": round(best, 3),
                   "efficiency": round(eff, 3)}
            rows.append(rec)
            print(json.dumps(rec), flush=True)
    summary: dict[str, dict] = {}
    for name in ker:
        summary[name] = {
            str(r["k"]): [r["sec"], r["efficiency"]]
            for r in rows if r["kernel"] == name
        }
    print(json.dumps({"summary": summary}))
    spark.stop()


if __name__ == "__main__":
    main()
