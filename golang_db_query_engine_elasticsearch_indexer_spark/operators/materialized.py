"""Entries whose Spark form materializes shared intermediates, and the
one way the engine binds a DataFrame into SQL text.

Spark INLINES multiply-referenced CTEs into independent subplans — a
WITH-clause relation consumed N times becomes N copies of its whole
subtree, and chains of such references multiply (measured: 63 scans
for the 6-round BPE chain, 18 for the triangle census). DuckDB
materializes each CTE once, so the chained-CTE text stays correct AND
efficient there — which is exactly what the oracle needs. The Spark
implementations persist each shared relation once, compose the rest
of the statement on it, and freeze the (small) result with an eager
``localCheckpoint`` before releasing it. Values are unchanged; only the
physical plan differs, which the registry differential proves.

Kernels that compose SQL text over a DataFrame name it through
:func:`bound`, which gives every call its own view names. A fixed view
name collides between concurrent calls on one session, and
``spark.catalog.dropTempView`` uncaches every cached plan equal to the
view's, so dropping the view of a persisted frame evicts it.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Observability hook for plan capture (tools/capture_plans.py
#: --internals): when set to a list, the kernels here (and the curation
#: report) append ``(stage_name, formatted_plan)`` for their persisted
#: stage and final statement (Bloom also its word aggregate) — the
#: INTERNAL plans an eager localCheckpoint hides from the returned
#: frame's explain. Never set in production paths.
PLAN_CAPTURE: list | None = None


def _capture(name: str, df: DataFrame) -> None:
    if PLAN_CAPTURE is None:
        return
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
    except Exception as e:  # noqa: BLE001 — capture is best-effort
        plan = f"EXPLAIN FAILED: {type(e).__name__}: {e}"
    PLAN_CAPTURE.append((name, plan))


@contextmanager
def bound(spark: SparkSession, **frames: DataFrame) -> Iterator[dict[str, str]]:
    """Register each frame as a temp view under a name unique to this
    call and yield ``{key: view_name}`` for SQL composed in the block::

        with bound(spark, codes=index.codes) as v:
            out = spark.sql(f"SELECT ... FROM {v['codes']}")

    ``spark.sql`` analyzes eagerly, so a frame built in the block keeps
    its plan after the block ends. On exit the names leave the session
    catalog only; the cache is untouched, so a persisted frame stays
    cached for the caller."""
    tag = uuid.uuid4().hex[:12]
    names = {key: f"__{key}_{tag}" for key in frames}
    try:
        for key, df in frames.items():
            df.createOrReplaceTempView(names[key])
        yield names
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)


# --- join_bloom_prefilter ---------------------------------------------------


def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the Bloom pre-filter audit (oracle: the chained
    form in ``inventory._bloom_sql``). Two actions over one persisted
    relation, ``dim``; orders and lineitem are each scanned once.

    The membership test materializes the ACTUAL Bloom bitmap: the dim
    side's m=65536 positions fold into 1024 BIGINT words in-plan
    (``bit_or`` of single-bit values — map-side, <=1024 rows out
    regardless of dim cardinality), the words are collected once and
    inlined as a constant-foldable array literal, and the pass flag is
    a row-local bit test on each DISTINCT probe key — no join, no
    broadcast build for membership. Same result by construction: bit p
    set in the word array <=> p in the DISTINCT position set, and the
    conjunction over k salts is unchanged; the oracle keeps the exploded
    join+HAVING formulation, so the differential pins the equivalence.

    The five counts are one conditional aggregate over the probe keys
    LEFT JOINed to ``dim``: ``dim`` is DISTINCT, so the join never fans
    out, a key with a dim match is a true match, and ``n_missed`` counts
    the true matches that fail the test. Each salt's md5 is bound to a
    column once per key (``h0..h2``) and folded from there; the inline
    ``_bloom_pos`` form repeats the md5 call once per hex digit.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import (  # noqa: PLC0415
        _bloom_fold,
        _bloom_md5,
    )

    k_hashes = 3
    n_words = 65536 // 64  # bitmap words for _bloom_fold's fixed m_bits

    def positions(keys: DataFrame) -> DataFrame:
        return keys.selectExpr(
            "k", *(f"{_bloom_md5('k', s)} AS h{s}" for s in range(k_hashes))
        ).selectExpr(
            "k", *(f"{_bloom_fold(f'h{s}')} AS p{s}" for s in range(k_hashes))
        )

    dim = spark.sql(
        "SELECT DISTINCT o_orderkey AS k FROM orders"
        " WHERE o_totalprice > 400000"
    ).persist()
    try:
        # One aggregate job folds every dim position into its bitmap
        # word (bit_or is idempotent, so no DISTINCT pass is needed);
        # the collect moves <=1024 rows whatever the scale factor.
        ps = ", ".join(f"p{s}" for s in range(k_hashes))
        words_df = (
            positions(dim)
            .selectExpr(f"explode(array({ps})) AS pos")
            .selectExpr(
                "pos DIV 64 AS w", "shiftleft(1L, cast(pos % 64 AS INT)) AS bit"
            )
            .groupBy("w")
            .agg(F.expr("bit_or(bit)").alias("bits"))
        )
        _capture("__blm_words", words_df)
        words = {int(r["w"]): int(r["bits"]) for r in words_df.collect()}
        arr_lit = "array(" + ",".join(
            f"{words.get(i, 0)}L" for i in range(n_words)
        ) + ")"

        def _bit_test(p: str) -> str:
            # bit p of the folded filter: word p DIV 64, bit p % 64.
            # shiftright is arithmetic, but `& 1` isolates the shifted
            # bit, so sign-fill above it is irrelevant.
            return (
                f"((shiftright(element_at({arr_lit},"
                f" cast({p} DIV 64 AS INT) + 1),"
                f" cast({p} % 64 AS INT)) & 1) = 1)"
            )

        hit = " AND ".join(_bit_test(f"p{s}") for s in range(k_hashes))
        probe = positions(
            spark.sql("SELECT DISTINCT l_orderkey AS k FROM lineitem")
        ).selectExpr("k", f"{hit} AS hit")
        final = (
            probe.join(dim.selectExpr("k AS dk"), F.expr("k = dk"), "left")
            .agg(
                F.expr("count(*)").alias("n_probe"),
                F.expr("count_if(hit)").alias("n_bloom_pass"),
                F.expr("count_if(dk IS NOT NULL)").alias("n_true_match"),
                F.expr("count_if(dk IS NOT NULL AND NOT hit)").alias("n_missed"),
            )
            .crossJoin(dim.selectExpr("count(*) AS n_dim_keys"))
            .selectExpr(
                "n_probe", "n_dim_keys", "n_bloom_pass", "n_true_match", "n_missed",
                "n_bloom_pass - n_true_match AS n_false_pos",
                "round(cast(n_bloom_pass - n_true_match AS double)"
                " / nullif(n_probe - n_true_match, 0), 6) AS fpr",
            )
        )
        _capture("__final__", final)
        return final.localCheckpoint(eager=True)
    finally:
        dim.unpersist()


# --- sketch_histogram_quantiles ---------------------------------------------


def _bigint(x: int | None) -> str:
    return "cast(NULL AS bigint)" if x is None else f"{x}L"


def histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the histogram-quantile sketch (oracle: the chained
    form in ``inventory._histogram_quantiles_entry``). ``vals`` (one
    lineitem shuffle to (value, count)) is the only persisted relation;
    what the oracle derives from it that does not grow with scale comes
    to the driver in two small collects:

    1. bounds and ranks (3 rows): ``lo``, ``hi`` and
       ``rk = cast(ceil(q * n) AS bigint)`` per q, computed in Spark;
    2. the direct and per-shard (``v % 4``) histograms (<= 5 x 128
       rows) in one grouping-sets aggregate, binned by the oracle's
       integer arithmetic with ``lo``/``hi`` as literals.

    The driver sums the shard rows per bin, counts the direct
    ``(bin, bc)`` pairs missing from that merge (the oracle's
    ``EXCEPT``, computed, so ``merged_hist_diff`` still proves
    mergeability), runs the cumulative sum and picks the first bin with
    ``cb >= rk`` per q — integer arithmetic throughout. One final
    statement takes the picks as a ``VALUES`` literal, computes
    ``est_cents`` by the oracle's double expression and the exact value
    by the oracle's bin-local window over ``vals``, restricted to the
    picked bins. An empty column has NULL bounds and an empty histogram,
    so no picks; the final statement then returns the empty 6-column
    frame."""
    from golang_db_query_engine_elasticsearch_indexer_spark.inventory import (  # noqa: PLC0415
        _HQ_BINS,
        _HQ_QS_VALUES,
        _HQ_VALS_SQL,
    )

    vals = spark.sql(_HQ_VALS_SQL).persist()
    try:
        tq = (
            vals.selectExpr(
                "min(v) AS lo", "max(v) AS hi", "cast(sum(c) AS bigint) AS n"
            )
            .crossJoin(spark.sql(f"SELECT q FROM {_HQ_QS_VALUES}"))
            .selectExpr("q", "lo", "hi", "cast(ceil(q * n) AS bigint) AS rk")
            .collect()
        )
        lo, hi = _bigint(tq[0]["lo"]), _bigint(tq[0]["hi"])
        bin_of = f"((v - {lo}) * {_HQ_BINS}) div ({hi} - {lo} + 1)"
        direct: dict[int, int] = {}
        merged: dict[int, int] = {}
        hist = (
            vals.selectExpr(f"{bin_of} AS bin", "v % 4 AS sh", "c")
            .groupingSets([["bin"], ["bin", "sh"]], "bin", "sh")
            .agg(
                F.grouping("sh").alias("whole"),
                F.expr("cast(sum(c) AS bigint)").alias("bc"),
            )
        )
        for r in hist.collect():
            if r["whole"]:
                direct[r["bin"]] = r["bc"]
            else:
                merged[r["bin"]] = merged.get(r["bin"], 0) + r["bc"]
        n_diff = len(set(direct.items()) - set(merged.items()))
        cum, total = [], 0
        for b in sorted(direct):
            total += direct[b]
            cum.append((b, direct[b], total))
        picks = []
        for r in tq:
            hit = next((c for c in cum if c[2] >= r["rk"]), None)
            if hit is not None:
                b, bc, cb = hit
                picks.append(f"({r['q']!r}D, {r['rk']}L, {b}L, {bc}L, {cb}L)")
        # No pick: one all-NULL row, whose bin matches no vals row, so
        # the inner join below leaves the typed empty frame.
        null_pick = "(cast(NULL AS double)" + ", cast(NULL AS bigint)" * 4 + ")"
        pick = spark.sql(
            f"SELECT * FROM VALUES {', '.join(picks) or null_pick}"
            " AS t(q, rk, bin, bc, cb)"
        )
        final = (
            vals.selectExpr(f"{bin_of} AS bin", "v", "c")
            .join(pick, "bin")
            .selectExpr(
                "q",
                "rk",
                f"{lo} + ((bin + (rk - (cb - bc)) * cast(1 AS double) / bc)"
                f" * ({hi} - {lo} + 1)) / cast({_HQ_BINS} AS double) AS est_cents",
                "v",
                "(cb - bc) + cast(sum(c) OVER (PARTITION BY q ORDER BY v"
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cv",
            )
            .where("cv >= rk")
            .groupBy("q", "rk", "est_cents")
            .agg(F.min("v").alias("exact_cents"))
            .selectExpr(
                "q",
                "rk AS target_rank",
                "round(est_cents / cast(100 AS double), 4) AS est_quantile",
                "round(exact_cents / cast(100 AS double), 4) AS exact_quantile",
                "round(abs(est_cents - exact_cents) / exact_cents, 6) AS rel_err",
                f"{n_diff}L AS merged_hist_diff",
            )
            .orderBy("q")
        )
        _capture("__final__", final)
        return final.localCheckpoint(eager=True)
    finally:
        vals.unpersist()


# --- events_stickiness ------------------------------------------------------


def stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of DAU/WAU stickiness (oracle: the chained form in
    inventory). ``du`` feeds both the DAU rollup and the x7
    day-contribution explode, and the day bounds were scalar
    subqueries over raw events — 8 fact-table scans inlined. Staged:
    events is scanned ONCE (du), bounds derive from the du cache."""
    du = spark.sql("SELECT DISTINCT cast(ts AS date) AS d, user_id FROM events")
    _capture("__stk_du", du)
    du = du.persist()
    try:
        with bound(spark, du=du) as v:
            final = spark.sql(f"""
            WITH bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM {v['du']}),
            dau AS (
              SELECT d, count(DISTINCT user_id) AS dau FROM {v['du']} GROUP BY d
            ),
            contrib AS (
              SELECT explode(sequence(d, date_add(d, 6))) AS wd, user_id
              FROM {v['du']}
            ),
            wau AS (
              SELECT wd AS d, count(DISTINCT user_id) AS wau
              FROM contrib
              WHERE wd <= (SELECT hi FROM bounds)
              GROUP BY wd
            )
            SELECT cast(dau.d AS string) AS day, dau.dau, wau.wau,
                   round(dau.dau * cast(1 AS double) / wau.wau, 4) AS stickiness
            FROM dau JOIN wau ON dau.d = wau.d
            WHERE dau.d >= (SELECT date_add(lo, 6) FROM bounds)
            ORDER BY day
            """)
        _capture("__final__", final)
        return final.localCheckpoint(eager=True)
    finally:
        du.unpersist()


# --- orders_revenue_concentration -------------------------------------------


def revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark side of the HHI revenue-concentration entry (oracle: the
    chained form in inventory). The per-nation revenue rollup is a
    3-table join consumed twice (total + shares) — inlined, that is
    six fact/dim scans; staged, the rollup (#nations rows) computes
    once."""
    nrev = spark.sql("""
        SELECT n.n_name AS nation, round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """)
    _capture("__hhi_nrev", nrev)
    nrev = nrev.persist()
    try:
        with bound(spark, nrev=nrev) as v:
            final = spark.sql(f"""
            WITH tot AS (SELECT sum(revenue) AS total FROM {v['nrev']})
            SELECT cast(count(*) AS bigint) AS n_nations,
                   round(sum(power(revenue / total, 2)) * 10000, 2) AS hhi,
                   round(max(revenue / total), 4) AS top_share
            FROM {v['nrev']} CROSS JOIN tot
            """)
        _capture("__final__", final)
        return final.localCheckpoint(eager=True)
    finally:
        nrev.unpersist()


def registry() -> dict[str, dict]:
    from golang_db_query_engine_elasticsearch_indexer_spark import (  # noqa: PLC0415
        inventory,
    )

    return {
        "join_bloom_prefilter": {
            "fn": bloom_prefilter,
            "oracle": inventory.STAGED_QUERIES["join_bloom_prefilter"]["oracle"],
        },
        "sketch_histogram_quantiles": {
            "fn": histogram_quantiles,
            "oracle": inventory.STAGED_QUERIES["sketch_histogram_quantiles"][
                "oracle"
            ],
        },
        "events_stickiness": {
            "fn": stickiness,
            "oracle": inventory.STAGED_QUERIES["events_stickiness"]["oracle"],
        },
        "orders_revenue_concentration": {
            "fn": revenue_concentration,
            "oracle": inventory.STAGED_QUERIES["orders_revenue_concentration"][
                "oracle"
            ],
        },
    }
