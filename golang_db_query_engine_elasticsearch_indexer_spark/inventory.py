"""Query inventory: the engine's declared capability surface.

Every entry maps to SURVEY.md §2's operator inventory. The reference
admits this SQL surface through its parse gate (single call site
query_controller.go:27, MySQL grammar) and delegates execution to the
RDBMS; our engine executes it natively with Catalyst (SURVEY.md §2.B).
Each entry carries a DuckDB oracle (usually the same SQL — both are
ANSI-ish dialects) for the driver's differential correctness gate.

Float discipline: both engines sum doubles in different orders, so
every floating aggregate is ``round()``-ed to a tolerance that absorbs
last-bit drift; every ORDER BY is made total (explicit tiebreaks) so
LIMIT/window frames are deterministic.

Tie discipline (r13): where the rounded value can be an EXACT
small-denominator rational — integer/2-dp data averaged or divided by
group counts (avg_qty, avg_orders_per_cust, avg_gap_s, unit_price…) —
native ``round(double, d)`` splits the engines on scale-(d+1) ties
(Spark re-reads the shortest decimal and rounds HALF_UP, DuckDB rounds
the binary value; the esql_bucket wrong answer caught by the r13 sf0.1
sweep). Those cells round in exact decimal space instead:
``cast(round(cast(x AS DECIMAL(38, d+6)), d) AS DOUBLE)``. Cells whose
operands are irrational (sqrt/ln/stddev) or large non-exact sums keep
plain round() — no exact tie is reachable there.

Entries here are *SQL-shaped*; DataFrame-API operators (dedup,
similarity, text analysis, streaming, indexer) are registered by
``operators/``/``streaming/`` modules and merged in ``__spark_entry__``.
"""

from __future__ import annotations

# name -> {"sql": spark_sql, "oracle": duckdb_sql (defaults to sql; None =
# genuinely engine-specific result, driver runs the weaker rows-only check)}
SQL_QUERIES: dict[str, dict] = {}


def _q(name: str, sql: str, oracle: str | None = None, no_oracle: bool = False) -> None:
    SQL_QUERIES[name] = {"sql": sql, "oracle": None if no_oracle else (oracle or sql)}


# Entries whose EXECUTABLE form lives in operators/materialized.py (the
# staged-materialization variant is the one registered in queries());
# only the oracle and the reference spec text live here. Keeping them
# out of SQL_QUERIES guarantees exactly one executable form per name —
# previously the registry silently shadowed the inventory text in the
# queries() merge and the dead SQL could drift unnoticed (VERDICT r05
# ask #2).
STAGED_QUERIES: dict[str, dict] = {}


def _q_staged(name: str, spec_sql: str, oracle: str | None = None) -> None:
    STAGED_QUERIES[name] = {"spec_sql": spec_sql, "oracle": oracle or spec_sql}


# ---------------------------------------------------------------------------
# Aggregation spine (SURVEY.md §2.B "Aggregation"). TPC-H-shaped queries
# adapted to the fixture date range (orders 1995..2001, TESTDATA.md).
# ---------------------------------------------------------------------------

_q(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           cast(round(cast(avg(l_quantity) AS DECIMAL(38, 10)), 4)
                AS DOUBLE)                                                  AS avg_qty,
           cast(round(cast(avg(l_extendedprice) AS DECIMAL(38, 10)), 4)
                AS DOUBLE)                                                  AS avg_price,
           cast(round(cast(avg(l_discount) AS DECIMAL(38, 12)), 6)
                AS DOUBLE)                                                  AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= date '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

_q(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           cast(cast(o_orderdate AS date) AS string)         AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < date '1997-03-15'
      AND l_shipdate  > date '1997-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)

_q(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey   = o_custkey
    JOIN lineitem ON l_orderkey  = o_orderkey
    JOIN supplier ON l_suppkey   = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= date '1996-01-01'
      AND o_orderdate <  date '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

_q(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= date '1996-01-01'
      AND l_shipdate <  date '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)

_q(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= date '1996-10-01'
      AND o_orderdate <  date '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)

# ---------------------------------------------------------------------------
# Projection / filter predicates (SURVEY.md §2.B "Projection", "Filter")
# ---------------------------------------------------------------------------

_q(
    "proj_distinct",
    """
    SELECT DISTINCT l_returnflag, l_linestatus
    FROM lineitem
    ORDER BY 1, 2
    """,
)

_q(
    "filter_in_between_like",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderstatus IN ('F', 'O')
      AND o_orderpriority LIKE '1%'
      AND o_totalprice BETWEEN 50000 AND 200000
      AND NOT (o_orderkey % 2 = 0)
    ORDER BY o_orderkey
    LIMIT 100
    """,
)

_q(
    "filter_null_handling",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), '<none>') AS seg,
           (nullif(c_mktsegment, 'BUILDING') IS NULL)           AS is_building
    FROM customer
    ORDER BY c_custkey
    LIMIT 100
    """,
)

_q(
    "filter_null_safe_eq",
    """
    SELECT count(*) AS n
    FROM customer
    WHERE nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULL
    """,
)

_q(
    "filter_regexp",
    """
    SELECT count(*) AS n
    FROM part
    WHERE p_name RLIKE '^[a-m].*[0-9]$'
    """,
    oracle="""
    SELECT count(*) AS n
    FROM part
    WHERE regexp_matches(p_name, '^[a-m].*[0-9]$')
    """,
)

# ---------------------------------------------------------------------------
# Joins (SURVEY.md §2.B "Joins — equi/outer/cross/semi/anti/theta")
# ---------------------------------------------------------------------------

_q(
    "join_left_outer",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)

_q(
    "join_right_outer",
    """
    SELECT c_custkey, count(o_orderkey) AS n_orders
    FROM orders
    RIGHT JOIN customer ON c_custkey = o_custkey
    GROUP BY c_custkey
    ORDER BY c_custkey
    """,
)

_q(
    "join_full_outer",
    """
    SELECT coalesce(a.k, b.k) AS k, a.na, b.nb
    FROM (SELECT l_returnflag  AS k, count(*) AS na FROM lineitem GROUP BY 1) a
    FULL JOIN (SELECT o_orderstatus AS k, count(*) AS nb FROM orders GROUP BY 1) b
      ON a.k = b.k
    ORDER BY k
    """,
)

_q(
    "join_cross",
    """
    SELECT r_name, n_name
    FROM region CROSS JOIN nation
    ORDER BY r_name, n_name
    LIMIT 50
    """,
)

_q(
    "join_semi_exists",
    """
    SELECT count(*) AS n
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    """,
)

_q(
    "join_anti_not_exists",
    """
    SELECT count(*) AS n
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
    )
    """,
)

_q(
    "join_non_equi_theta",
    """
    SELECT s_suppkey, count(*) AS n_cheaper_parts
    FROM supplier JOIN part ON p_retailprice < s_acctbal
    GROUP BY s_suppkey
    ORDER BY s_suppkey
    """,
)

_q(
    "join_using",
    """
    SELECT count(*) AS n, min(r_name) AS first_region
    FROM (SELECT n_regionkey AS rk, n_name FROM nation) n
    JOIN (SELECT r_regionkey AS rk, r_name FROM region) r USING (rk)
    """,
)

# ---------------------------------------------------------------------------
# Subqueries (SURVEY.md §2.B "Subqueries")
# ---------------------------------------------------------------------------

_q(
    "subquery_scalar",
    """
    SELECT count(*) AS n
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    """,
)

_q(
    "subquery_correlated_scalar",
    """
    SELECT c_custkey
    FROM customer c
    WHERE c_acctbal > 2 * (
      SELECT avg(c2.c_acctbal) FROM customer c2
      WHERE c2.c_nationkey = c.c_nationkey
    )
    ORDER BY c_custkey
    LIMIT 100
    """,
)

_q(
    "subquery_in",
    """
    SELECT count(*) AS n
    FROM part
    WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
)

_q(
    "subquery_not_in",
    """
    SELECT count(*) AS n
    FROM part
    WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem WHERE l_quantity > 45)
    """,
)

_q(
    "subquery_derived_table",
    """
    SELECT cast(round(cast(avg(n_ord) AS DECIMAL(38, 10)), 4) AS DOUBLE)
             AS avg_orders_per_cust,
           max(n_ord) AS max_orders
    FROM (SELECT o_custkey, count(*) AS n_ord FROM orders GROUP BY o_custkey) t
    """,
)

_q(
    "with_cte",
    """
    WITH cust_tot AS (
      SELECT o_custkey, sum(o_totalprice) AS tot
      FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment, round(sum(tot), 2) AS seg_total
    FROM cust_tot JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

# ---------------------------------------------------------------------------
# Aggregates (SURVEY.md §2.B "Aggregation", "Approximate agg")
# ---------------------------------------------------------------------------

_q(
    "agg_count_distinct",
    """
    SELECT count(DISTINCT l_partkey) AS nd_parts,
           count(DISTINCT l_suppkey) AS nd_supps,
           count(DISTINCT l_returnflag) AS nd_flags
    FROM lineitem
    """,
)

_q(
    "agg_stats",
    """
    SELECT l_linestatus,
           round(stddev_samp(l_quantity), 4)              AS sd_qty,
           round(var_samp(l_quantity), 4)                 AS var_qty,
           round(corr(l_quantity, l_extendedprice), 4)    AS corr_qp,
           round(covar_samp(l_quantity, l_discount), 6)   AS covar_qd
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)

_q(
    "agg_group_concat",
    """
    SELECT n_nationkey,
           array_join(sort_array(collect_list(s_name)), ',') AS supplier_names
    FROM nation JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    ORDER BY n_nationkey
    """,
    oracle="""
    SELECT n_nationkey,
           string_agg(s_name, ',' ORDER BY s_name) AS supplier_names
    FROM nation JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    ORDER BY n_nationkey
    """,
)

_q(
    "agg_having",
    """
    SELECT o_custkey, count(*) AS n
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 15
    ORDER BY n DESC, o_custkey
    """,
)

_q(
    "agg_filtered",
    """
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25)  AS n_big,
           count(*) FILTER (WHERE l_quantity <= 25) AS n_small
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

_q(
    "agg_percentile",
    """
    SELECT l_returnflag,
           round(percentile(l_quantity, 0.5), 4)  AS p50,
           round(percentile(l_quantity, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4)  AS p50,
           round(quantile_cont(l_quantity, 0.95), 4) AS p95
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

_q(
    "agg_rollup",
    """
    SELECT coalesce(l_returnflag, '<all>')  AS rf,
           coalesce(l_linestatus, '<all>')  AS ls,
           round(sum(l_quantity), 2)        AS sum_qty,
           count(*)                         AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY rf, ls
    """,
)

_q(
    "agg_cube",
    """
    SELECT coalesce(l_returnflag, '<all>')  AS rf,
           coalesce(l_linestatus, '<all>')  AS ls,
           count(*)                         AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY rf, ls
    """,
)

_q(
    "agg_grouping_sets",
    """
    SELECT coalesce(o_orderstatus, '<all>')    AS st,
           coalesce(o_orderpriority, '<all>')  AS prio,
           count(*)                            AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY st, prio
    """,
)

# Modern grouping shorthand (GROUP BY ALL / ORDER BY ALL): both engines
# infer the grouping keys from the non-aggregate select list and order
# by every output column left-to-right — a total order, so the result
# is deterministic without naming a single column twice.
_q(
    "agg_group_by_all",
    """
    SELECT o_orderpriority, o_orderstatus,
           count(*)                      AS n,
           round(sum(o_totalprice), 2)   AS total
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)

_q(
    "pivot_conditional",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 2) AS qty_O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 2) AS qty_F
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)

# ---------------------------------------------------------------------------
# Window functions (SURVEY.md §2.B "Window functions" — extension: the
# reference's pinned 2018 parser predates OVER(); Spark executes natively)
# ---------------------------------------------------------------------------

_q(
    "win_topk_per_group",
    """
    SELECT s_suppkey, l_orderkey, l_linenumber, l_extendedprice
    FROM (
      SELECT l_suppkey AS s_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ) AS rn
      FROM lineitem
    ) t
    WHERE rn <= 3
    ORDER BY s_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber
    """,
)

_q(
    "win_rank_dense",
    """
    SELECT o_orderstatus, o_orderkey,
           rank()       OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority, o_orderkey) AS rnk,
           dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority)             AS drnk
    FROM orders
    ORDER BY o_orderstatus, rnk
    LIMIT 200
    """,
)

_q(
    "win_lead_lag",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           lag(l_quantity)  OVER w AS prev_qty,
           lead(l_quantity) OVER w AS next_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
    ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber
    LIMIT 500
    """,
)

_q(
    "win_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    LIMIT 500
    """,
)

_q(
    "win_ntile",
    """
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
    FROM customer
    ORDER BY c_custkey
    """,
)

# ---------------------------------------------------------------------------
# Sort / limit / offset, set ops (SURVEY.md §2.B)
# ---------------------------------------------------------------------------

_q(
    "sort_limit_offset",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 10
    """,
)

# Explicit NULLS FIRST/LAST placement — engines default differently
# (Spark: NULLS FIRST on ASC; DuckDB: NULLS LAST), so a portable ORDER
# BY over a nullable expression MUST state placement; this entry pins
# that both directions honor it. The nullable key is derived
# deterministically (every third order contributes NULL).
_q(
    "sort_nulls_ordering",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS k
    FROM orders
    WHERE o_orderkey <= 200
    ORDER BY k DESC NULLS LAST, o_orderkey NULLS FIRST
    LIMIT 40
    """,
)

_q(
    "set_union_all",
    """
    SELECT k, count(*) AS n
    FROM (
      SELECT l_returnflag AS k FROM lineitem
      UNION ALL
      SELECT o_orderstatus AS k FROM orders
    ) t
    GROUP BY k
    ORDER BY k
    """,
)

_q(
    "set_union_distinct",
    """
    SELECT c_nationkey AS k FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    ORDER BY k
    """,
)

_q(
    "set_intersect",
    """
    SELECT c_nationkey AS k FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY k
    """,
)

_q(
    "set_except",
    # The supplier side is restricted so the difference is NON-EMPTY at
    # every fixture scale (the unrestricted form matched vacuously with
    # 0 rows at sf0.01 — every customer nation had a supplier).
    """
    SELECT c_nationkey AS k FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_suppkey <= 20
    ORDER BY k
    """,
)

_q(
    "values_inline_table",
    """
    SELECT id, name FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS t(id, name)
    ORDER BY id
    """,
)

# ---------------------------------------------------------------------------
# Scalar function families (SURVEY.md §2.B "String/Date/Math/Conditional/
# Casts/JSON"). MySQL builtins pass the reference's generic-function
# grammar; Spark implements the common set natively.
# ---------------------------------------------------------------------------

_q(
    "str_functions",
    """
    SELECT c_custkey,
           upper(c_name)                                   AS up,
           lower(c_mktsegment)                             AS lo,
           substring(c_name, 1, 8)                         AS sub,
           length(c_name)                                  AS len,
           replace(c_name, 'Customer', 'Cust')             AS rep,
           concat(c_name, '-', c_mktsegment)               AS cat,
           c_name || '!'                                   AS bang,
           lpad(cast(c_custkey AS string), 8, '0')         AS pad,
           trim('  pad  ')                                 AS trimmed,
           instr(c_name, '1')                              AS pos1,
           reverse(c_mktsegment)                           AS rev
    FROM customer
    ORDER BY c_custkey
    LIMIT 50
    """,
)

_q(
    "date_functions",
    """
    SELECT o_orderkey,
           year(o_orderdate)                                        AS y,
           month(o_orderdate)                                       AS m,
           day(o_orderdate)                                         AS d,
           quarter(o_orderdate)                                     AS q,
           extract(YEAR FROM o_orderdate)                           AS ey,
           cast(date_trunc('month', o_orderdate) AS date)           AS month_start,
           cast(cast(o_orderdate AS date) AS string)                AS iso_day,
           datediff(cast(o_orderdate AS date), date '1995-01-01')   AS days_since,
           date_add(cast(o_orderdate AS date), 30)                  AS plus30
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                        AS y,
           month(o_orderdate)                                       AS m,
           day(o_orderdate)                                         AS d,
           quarter(o_orderdate)                                     AS q,
           extract(YEAR FROM o_orderdate)                           AS ey,
           cast(date_trunc('month', o_orderdate) AS date)           AS month_start,
           cast(cast(o_orderdate AS date) AS string)                AS iso_day,
           datediff('day', date '1995-01-01', cast(o_orderdate AS date)) AS days_since,
           cast(o_orderdate AS date) + 30                           AS plus30
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
)

_q(
    "math_functions",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 4)                AS ad,
           cast(round(cast(l_extendedprice / l_quantity
                AS DECIMAL(38, 9)), 3) AS DOUBLE)          AS unit_price,
           cast(ceil(l_quantity)  AS bigint)               AS cq,
           cast(floor(l_extendedprice) AS bigint)          AS fe,
           mod(l_orderkey, 7)                              AS m7,
           round(power(1 + l_discount, 2), 6)              AS pw,
           round(sqrt(l_quantity), 6)                      AS sq,
           round(ln(l_extendedprice), 6)                   AS lg
    FROM lineitem
    ORDER BY l_orderkey, l_linenumber
    LIMIT 100
    """,
)

# ANSI-safe "try" variants: the error-absorbing function surface a
# gateway exposes so malformed rows NULL out instead of failing the
# job (the Spark-side counterpart of the reference's per-row JSON
# tolerance). DuckDB has TRY_CAST but no try_divide/try_add, so the
# oracle expresses the identical semantics with NULLIF/CASE guards —
# a different formulation of the same contract.
_q(
    "functions_try_safe",
    """
    SELECT o_orderkey,
           try_divide(o_totalprice, o_orderkey % 3)          AS div_maybe_zero,
           try_cast(o_orderstatus AS int)                    AS status_as_int,
           try_cast(cast(o_orderkey AS string) AS bigint)    AS key_roundtrip,
           try_cast(o_orderpriority AS date)                 AS prio_as_date,
           try_divide(cast(1.0 AS double), 0)                AS one_over_zero
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
    oracle="""
    SELECT o_orderkey,
           o_totalprice / nullif(o_orderkey % 3, 0)          AS div_maybe_zero,
           TRY_CAST(o_orderstatus AS INTEGER)                AS status_as_int,
           TRY_CAST(cast(o_orderkey AS VARCHAR) AS BIGINT)   AS key_roundtrip,
           TRY_CAST(o_orderpriority AS DATE)                 AS prio_as_date,
           CAST(NULL AS DOUBLE)                              AS one_over_zero
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
)

_q(
    "conditional_case",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 250000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                              AS bucket,
           coalesce(nullif(o_orderstatus, 'O'), 'open')     AS st,
           least(o_totalprice, 100000.0)                    AS capped,
           greatest(o_orderkey, 100)                        AS floored
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
)

_q(
    "cast_types",
    """
    SELECT o_orderkey,
           cast(floor(o_totalprice) AS bigint)            AS price_int,
           cast(o_orderkey AS string)                     AS key_str,
           cast(o_orderdate AS date)                      AS just_date,
           cast(cast(o_orderkey AS string) AS bigint)     AS roundtrip,
           cast('3.5' AS double)                          AS lit_d
    FROM orders
    ORDER BY o_orderkey
    LIMIT 100
    """,
)

_q(
    "json_functions",
    """
    SELECT event_id,
           cast(get_json_object(props, '$.k') AS bigint) AS k_val
    FROM events
    ORDER BY event_id
    LIMIT 200
    """,
    oracle="""
    SELECT event_id,
           cast(json_extract_string(props, '$.k') AS bigint) AS k_val
    FROM events
    ORDER BY event_id
    LIMIT 200
    """,
)

# ---------------------------------------------------------------------------
# Events: sessionization + time bucketing (batch form; streaming variants
# live in streaming/ — SURVEY.md §2.B "Streaming" extension row)
# ---------------------------------------------------------------------------

_q(
    "events_time_bucket",
    """
    SELECT cast(date_trunc('hour', ts) AS string) AS hour_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)

_q(
    "events_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                  WHEN unix_micros(cast(ts AS timestamp_ltz)) -
                       unix_micros(cast(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS timestamp_ltz))
                       > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, cast(sum(new_session) AS bigint) AS n_sessions, count(*) AS n_events
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                  WHEN epoch_us(ts) -
                       epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id, cast(sum(new_session) AS bigint) AS n_sessions, count(*) AS n_events
    FROM gaps
    GROUP BY user_id
    ORDER BY user_id
    """,
)


_q(
    "events_anomaly_zscore",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    roll AS (
      SELECT hour_start, event_type, n,
             round(avg(n) OVER w, 6)         AS mu,
             round(stddev_samp(n) OVER w, 6) AS sigma
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                   ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT cast(hour_start AS string) AS hour_start, event_type, n, mu, sigma,
           round((n - mu) / sigma, 4) AS z,
           CASE WHEN abs(round((n - mu) / sigma, 4)) >= 2 THEN 1 ELSE 0 END
             AS is_anomaly
    FROM roll
    WHERE sigma > 0
    ORDER BY event_type, hour_start
    """,
)

# Rolling 7-day distinct active users: the dashboard metric every event
# pipeline reports. COUNT(DISTINCT) isn't window-able in either engine,
# so each observed (day, user) contributes itself to the 7 target days
# it falls inside (a bounded x7 row-local explode) and ONE distinct
# aggregation per target day does the rest — linear in user-days, one
# shuffle, no self-join of the event stream against itself.
_q(
    "events_rolling_active_users",
    """
    WITH du AS (
      SELECT DISTINCT cast(ts AS date) AS d, user_id FROM events
    ),
    contrib AS (
      SELECT explode(sequence(d, date_add(d, 6))) AS wd, user_id FROM du
    )
    SELECT cast(wd AS string) AS day,
           count(DISTINCT user_id) AS active_users_7d
    FROM contrib
    WHERE wd <= (SELECT max(cast(ts AS date)) FROM events)
    GROUP BY wd
    ORDER BY day
    """,
    oracle="""
    WITH du AS (
      SELECT DISTINCT ts::DATE AS d, user_id FROM events
    ),
    contrib AS (
      SELECT unnest(generate_series(d, d + 6, INTERVAL 1 DAY))::DATE AS wd,
             user_id
      FROM du
    )
    SELECT cast(wd AS varchar) AS day,
           count(DISTINCT user_id) AS active_users_7d
    FROM contrib
    WHERE wd <= (SELECT max(ts::DATE) FROM events)
    GROUP BY wd
    ORDER BY day
    """,
)

# Referential-integrity audit: orphan counts for every FK edge of the
# star schema — the data-quality gate a warehouse runs before trusting
# joins (an orphan row silently vanishes from inner joins, which is
# exactly how partial loads corrupt aggregates unnoticed). Each edge is
# one left-anti-shaped count (child rows whose key misses the parent);
# the per-edge relations union into one report. Parent key sets are
# dimension-sized; at 100 TB the big-fact edges run as AQE-planned
# joins of (distinct child key) x parent — never row-by-row lookups.
_q(
    "audit_referential_integrity",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS fk_edge,
           count(*) AS n_child,
           cast(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS bigint)
             AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders.o_custkey -> customer', count(*),
           cast(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS bigint)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer.c_nationkey -> nation', count(*),
           cast(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS bigint)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier.s_nationkey -> nation', count(*),
           cast(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS bigint)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'nation.n_regionkey -> region', count(*),
           cast(sum(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS bigint)
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    UNION ALL
    SELECT 'lineitem.l_partkey -> part', count(*),
           cast(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS bigint)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    ORDER BY fk_edge
    """,
)

# New-vs-returning decomposition: each day's active users split by
# whether the day is the user's FIRST day — the growth-accounting
# breakdown every event warehouse reports. first_day is one groupBy on
# user_id; the daily rollup joins it back (AQE-governed; the user
# dimension grows with the corpus) and aggregates per day.
_q(
    "events_new_vs_returning",
    """
    WITH first_day AS (
      SELECT user_id, min(cast(ts AS date)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT cast(ts AS date) AS day, user_id
      FROM events GROUP BY 1, 2
    )
    SELECT cast(d.day AS string) AS day,
           count(*) AS active_users,
           cast(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS bigint)
             AS new_users,
           cast(sum(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS bigint)
             AS returning_users
    FROM daily d JOIN first_day f ON d.user_id = f.user_id
    GROUP BY d.day
    ORDER BY day
    """,
)

# Market concentration (Herfindahl-Hirschman index) of order revenue
# by customer nation — the concentration diagnostic (HHI = sum of
# squared revenue shares x 10000; < 1500 competitive, > 2500
# concentrated). Two keyed rollups (nation revenue, then one squared-
# share sum); shares are exact ratios of rounded revenues, HHI rounded
# at the end.
_q_staged(
    "orders_revenue_concentration",
    """
    WITH nrev AS (
      SELECT n.n_name AS nation, round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name
    ),
    tot AS (SELECT sum(revenue) AS total FROM nrev)
    SELECT cast(count(*) AS bigint) AS n_nations,
           round(sum(power(revenue / total, 2)) * 10000, 2) AS hhi,
           round(max(revenue / total), 4) AS top_share
    FROM nrev CROSS JOIN tot
    """,
)

# Per-type value box-plot statistics — quartiles, IQR, and Tukey-fence
# outlier counts for events.value by event_type: the distribution
# summary monitoring reads per metric stream. Quartiles compute per
# group (percentile/quantile_cont parity pinned by agg_percentile);
# the fences are ROUNDED to 4 dp before the outlier comparison (the
# rounding-boundary discipline) so the counted sets cannot diverge
# cross-engine; the fence join is #types-sized.
_q(
    "events_value_boxplot",
    """
    WITH q AS (
      SELECT event_type,
             round(percentile(value, 0.25), 4) AS q1,
             round(percentile(value, 0.5), 4) AS median,
             round(percentile(value, 0.75), 4) AS q3
      FROM events GROUP BY event_type
    ),
    fences AS (
      SELECT event_type, q1, median, q3,
             round(q3 - q1, 4) AS iqr,
             round(q1 - 1.5 * (q3 - q1), 4) AS lo,
             round(q3 + 1.5 * (q3 - q1), 4) AS hi
      FROM q
    )
    SELECT f.event_type, f.q1, f.median, f.q3, f.iqr,
           cast(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
                         THEN 1 ELSE 0 END) AS bigint) AS n_outliers
    FROM events e JOIN fences f ON e.event_type = f.event_type
    GROUP BY f.event_type, f.q1, f.median, f.q3, f.iqr
    ORDER BY f.event_type
    """,
    oracle="""
    WITH q AS (
      SELECT event_type,
             round(quantile_cont(value, 0.25), 4) AS q1,
             round(quantile_cont(value, 0.5), 4) AS median,
             round(quantile_cont(value, 0.75), 4) AS q3
      FROM events GROUP BY event_type
    ),
    fences AS (
      SELECT event_type, q1, median, q3,
             round(q3 - q1, 4) AS iqr,
             round(q1 - 1.5 * (q3 - q1), 4) AS lo,
             round(q3 + 1.5 * (q3 - q1), 4) AS hi
      FROM q
    )
    SELECT f.event_type, f.q1, f.median, f.q3, f.iqr,
           cast(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
                         THEN 1 ELSE 0 END) AS bigint) AS n_outliers
    FROM events e JOIN fences f ON e.event_type = f.event_type
    GROUP BY f.event_type, f.q1, f.median, f.q3, f.iqr
    ORDER BY f.event_type
    """,
)

# Hour-of-day x day-of-week load heatmap — the traffic-shape rollup
# capacity planning reads (24x7 cells, one partial-aggregated
# shuffle). dayofweek/isodow are engine-specific numberings, so the
# weekday key is the NAME from a shared format string; share is
# row-local over the window sum.
_q(
    "events_load_heatmap",
    """
    WITH cells AS (
      SELECT date_format(ts, 'EEEE') AS weekday,
             cast(hour(ts) AS int) AS hour_of_day,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT weekday, hour_of_day, n_events,
           round(n_events * cast(1 AS double) / sum(n_events) OVER (), 6)
             AS share
    FROM cells
    ORDER BY weekday, hour_of_day
    """,
    oracle="""
    WITH cells AS (
      SELECT strftime(ts, '%A') AS weekday,
             cast(extract(hour FROM ts) AS int) AS hour_of_day,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT weekday, hour_of_day, n_events,
           round(n_events * cast(1 AS double) / sum(n_events) OVER (), 6)
             AS share
    FROM cells
    ORDER BY weekday, hour_of_day
    """,
)

# ABC/Pareto revenue classification — the "which customers carry 80%
# of revenue" cut every account analysis starts from: customers ranked
# by revenue, cumulative share via one window over the CUSTOMER-level
# rollup (never an order-scale sort), classed A (first 60% of
# revenue), B (next 25%), C (tail). The share a customer's class is
# judged on EXCLUDES the customer itself (cum_before) so the first
# customer is always A and boundaries are unambiguous; ordering ties
# break on custkey.
_q(
    "customers_abc_pareto",
    """
    WITH rev AS (
      SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT custkey, revenue,
             cast(coalesce(sum(revenue) OVER (
               ORDER BY revenue DESC, custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS double) AS cum_before,
             cast(sum(revenue) OVER () AS double) AS total
      FROM rev
    )
    SELECT custkey, revenue,
           round(cum_before / total, 6) AS share_before,
           CASE WHEN cum_before / total < 0.6 THEN 'A'
                WHEN cum_before / total < 0.85 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    ORDER BY revenue DESC, custkey
    """,
)

# Funnel conversion latency — extends events_funnel with the TIMING
# dimension over the SAME converter population: the v/c/p stage CTEs
# below are events_funnel's own (first view, first click within 1 day
# of it, first purchase within 1 day of that), so n_converters here
# EQUALS the funnel's stage-3 count by construction (asserted by
# test). percentile_cont/quantile_cont agree across engines (the
# driver-green agg_percentile entry pins that) and inputs are exact
# integer minutes — both dialects truncate to whole seconds FIRST
# (unix_timestamp truncates; DuckDB's epoch keeps the fraction and
# its double->bigint cast ROUNDS, so floor() is explicit on both
# sides), then floor the minute division.
_q(
    "events_funnel_latency",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    conv AS (
      SELECT v.user_id, v.t1, c.t2, p.t3
      FROM p JOIN c ON p.user_id = c.user_id
             JOIN v ON p.user_id = v.user_id
    ),
    lat AS (
      SELECT user_id,
             cast(floor((unix_timestamp(t2) - unix_timestamp(t1))
               / 60) AS bigint) AS view_to_click_min,
             cast(floor((unix_timestamp(t3) - unix_timestamp(t2))
               / 60) AS bigint) AS click_to_purchase_min
      FROM conv
    )
    SELECT cast(count(*) AS bigint) AS n_converters,
           round(percentile(view_to_click_min, 0.5), 2) AS p50_view_to_click_min,
           round(percentile(view_to_click_min, 0.9), 2) AS p90_view_to_click_min,
           round(percentile(click_to_purchase_min, 0.5), 2) AS p50_click_to_purchase_min,
           round(percentile(click_to_purchase_min, 0.9), 2) AS p90_click_to_purchase_min
    FROM lat
    """,
    oracle=    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    conv AS (
      SELECT v.user_id, v.t1, c.t2, p.t3
      FROM p JOIN c ON p.user_id = c.user_id
             JOIN v ON p.user_id = v.user_id
    ),
    lat AS (
      SELECT user_id,
             cast(floor((floor(epoch(t2)) - floor(epoch(t1)))
               / 60) AS bigint) AS view_to_click_min,
             cast(floor((floor(epoch(t3)) - floor(epoch(t2)))
               / 60) AS bigint) AS click_to_purchase_min
      FROM conv
    )
    SELECT cast(count(*) AS bigint) AS n_converters,
           round(quantile_cont(view_to_click_min, 0.5), 2) AS p50_view_to_click_min,
           round(quantile_cont(view_to_click_min, 0.9), 2) AS p90_view_to_click_min,
           round(quantile_cont(click_to_purchase_min, 0.5), 2) AS p50_click_to_purchase_min,
           round(quantile_cont(click_to_purchase_min, 0.9), 2) AS p90_click_to_purchase_min
    FROM lat
    """,
)

# DAU/WAU stickiness — the engagement-depth ratio growth dashboards
# track (dau/wau = 1/7 means users appear one day a week; 1.0 means
# daily). WAU reuses the bounded x7 day-contribution explode of the
# rolling-actives entry; DAU is the plain per-day distinct; the ratio
# joins the two tiny day-keyed rollups. (A 30-day MAU would be
# DEGENERATE on the fixture — events span exactly 30 days — so the
# 7-day form is the honest one at test scale.) Days whose trailing
# window is truncated by the data start are trimmed — they would
# report inflated stickiness (day one would always be 1.0).
_q_staged(
    "events_stickiness",
    """
    WITH du AS (
      SELECT DISTINCT cast(ts AS date) AS d, user_id FROM events
    ),
    dau AS (
      SELECT d, count(DISTINCT user_id) AS dau FROM du GROUP BY d
    ),
    contrib AS (
      SELECT explode(sequence(d, date_add(d, 6))) AS wd, user_id FROM du
    ),
    wau AS (
      SELECT wd AS d, count(DISTINCT user_id) AS wau
      FROM contrib
      WHERE wd <= (SELECT max(cast(ts AS date)) FROM events)
      GROUP BY wd
    )
    SELECT cast(dau.d AS string) AS day, dau.dau, wau.wau,
           round(dau.dau * cast(1 AS double) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    WHERE dau.d >= (SELECT date_add(min(cast(ts AS date)), 6) FROM events)
    ORDER BY day
    """,
    oracle="""
    WITH du AS (
      SELECT DISTINCT ts::DATE AS d, user_id FROM events
    ),
    dau AS (
      SELECT d, count(DISTINCT user_id) AS dau FROM du GROUP BY d
    ),
    contrib AS (
      SELECT unnest(generate_series(d, d + 6, INTERVAL 1 DAY))::DATE AS wd,
             user_id
      FROM du
    ),
    wau AS (
      SELECT wd AS d, count(DISTINCT user_id) AS wau
      FROM contrib
      WHERE wd <= (SELECT max(ts::DATE) FROM events)
      GROUP BY wd
    )
    SELECT cast(dau.d AS varchar) AS day, dau.dau, wau.wau,
           round(dau.dau * cast(1 AS double) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    WHERE dau.d >= (SELECT min(ts::DATE) + 6 FROM events)
    ORDER BY day
    """,
)

# Monthly order volume with year-over-year growth — the seasonality
# report every revenue warehouse publishes: one month-keyed rollup
# (partial-aggregated shuffle), then lag(12) over the ~80-row month
# series (a tiny single-partition window, NOT an order-scale sort).
_q(
    "orders_monthly_yoy",
    """
    WITH m AS (
      SELECT date_format(o_orderdate, 'yyyy-MM') AS month,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, revenue,
           round((revenue - lag(revenue, 12) OVER (ORDER BY month))
                 / lag(revenue, 12) OVER (ORDER BY month), 4) AS yoy_growth
    FROM m
    ORDER BY month
    """,
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, revenue,
           round((revenue - lag(revenue, 12) OVER (ORDER BY month))
                 / lag(revenue, 12) OVER (ORDER BY month), 4) AS yoy_growth
    FROM m
    ORDER BY month
    """,
)

# SCD2-style state-interval history (gaps-and-islands): consecutive
# runs of the same event_type per user collapse into intervals, closed
# by the NEXT interval's start (valid_to NULL = current state) — the
# slowly-changing-dimension type-2 build every warehouse derives from
# an event stream. The island key is the classic double-row_number
# difference (rn_global - rn_within_type), fully deterministic under
# the (ts, event_id) total order. Scale: two windows + lead, all
# partitioned BY USER (the shuffle key is user_id; partitions are
# user-history-sized, never global sorts); the interval relation the
# lead runs over is already collapsed.
_q(
    "events_state_intervals",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rnt
      FROM events
    ),
    iv AS (
      SELECT user_id, event_type, rn - rnt AS g,
             min(ts) AS valid_from,
             cast(min(event_id) AS bigint) AS first_event_id,
             count(*) AS n_events
      FROM seq GROUP BY user_id, event_type, rn - rnt
    ),
    closed AS (
      SELECT user_id, event_type, valid_from, first_event_id,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY valid_from, first_event_id)
               AS valid_to,
             n_events
      FROM iv
    )
    SELECT user_id, event_type, valid_from, valid_to, n_events
    FROM closed
    ORDER BY user_id, valid_from, first_event_id
    """,
)

# Event-sequence transition matrix (first-order Markov): P(next | cur)
# per event_type pair — the sequence-modeling summary session analyses
# start from. One lag window per user (shuffle on user_id), then a
# pair-count aggregation; probabilities are exact count ratios rounded
# to 4 dp, so both engines emit identical doubles.
_q(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ),
    pairs AS (
      SELECT cur, nxt, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           round(n / sum(n) OVER (PARTITION BY cur), 4) AS p
    FROM pairs
    ORDER BY cur, nxt
    """,
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
      FROM events
    ),
    pairs AS (
      SELECT cur, nxt, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY cur, nxt
    )
    SELECT cur, nxt, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY cur), 4) AS p
    FROM pairs
    ORDER BY cur, nxt
    """,
)

# Last-touch attribution: each purchase credits the user's most recent
# preceding click — the marketing-attribution window pattern (IGNORE
# NULLS last_value over an unbounded-preceding frame; one shuffle on
# user_id, no self-join of the event stream).
_q(
    "events_attribution_last_touch",
    """
    WITH touched AS (
      SELECT event_id, user_id, ts, event_type, value,
             last(CASE WHEN event_type = 'click' THEN event_id END, true)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_click
      FROM events
    )
    SELECT event_id AS purchase_id, user_id, attributed_click,
           round(value, 2) AS purchase_value
    FROM touched
    WHERE event_type = 'purchase' AND attributed_click IS NOT NULL
    ORDER BY purchase_id
    """,
    oracle="""
    WITH touched AS (
      SELECT event_id, user_id, ts, event_type, value,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS attributed_click
      FROM events
    )
    SELECT event_id AS purchase_id, user_id, attributed_click,
           round(value, 2) AS purchase_value
    FROM touched
    WHERE event_type = 'purchase' AND attributed_click IS NOT NULL
    ORDER BY purchase_id
    """,
)

# Position-based (U-shaped) multi-touch attribution: each purchase
# splits credit across ALL preceding clicks of the same user — 40%
# first touch, 40% last touch, 20% shared by the middles (100% / 50-50
# for 1- and 2-click journeys). The companion of the last-touch entry;
# one purchases⋈clicks join per user plus two per-purchase windows.
# Journey length is bounded in practice (attribution windows), so the
# per-purchase fan-out is a constant at 100 TB. Credit is EXACT
# integer arithmetic (parts-per-million with floor division): a
# credit-times-value double would land on decimal half-way points
# (e.g. 0.025 x any 2 dp value), where Spark's HALF_UP and DuckDB's
# nearest-double rounding systematically disagree.
_q(
    "events_attribution_position",
    """
    WITH pairs AS (
      SELECT p.event_id AS purchase_id, p.user_id,
             round(p.value, 2) AS purchase_value,
             c.event_id AS click_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts, c.event_id) AS pos,
             count(*)   OVER (PARTITION BY p.event_id) AS n_clicks
      FROM events p
      JOIN events c
        ON c.user_id = p.user_id AND c.event_type = 'click'
       AND (c.ts < p.ts OR (c.ts = p.ts AND c.event_id < p.event_id))
      WHERE p.event_type = 'purchase'
    )
    SELECT purchase_id, user_id, click_id,
           cast(pos AS BIGINT) AS pos, cast(n_clicks AS BIGINT) AS n_clicks,
           cast(CASE WHEN n_clicks = 1 THEN 1000000
                     WHEN n_clicks = 2 THEN 500000
                     WHEN pos = 1 OR pos = n_clicks THEN 400000
                     ELSE floor(200000.0 / (n_clicks - 2)) END AS BIGINT)
             AS credit_ppm,
           purchase_value
    FROM pairs
    ORDER BY purchase_id, click_id
    """,
)

# Native session_window (the Spark-first form of sessionization): the
# built-in gap-window operator in batch GROUP BY, per (user, session)
# rows with window bounds as epoch micros (integers — timestamp
# rendering never crosses engines). The oracle is the INDEPENDENT
# gaps-and-islands formulation (lag + running sum), so the
# differential checks Spark's operator semantics against first
# principles: a new session starts when the gap is >= the 30-minute
# duration (session windows are half-open [start, start+gap)), end =
# last event + gap. events_sessionization keeps the hand-rolled
# per-user rollup; this entry is the per-session grain on the native
# operator.
_q(
    "events_session_window_native",
    """
    SELECT user_id,
           unix_micros(session_window.start) AS session_start_us,
           unix_micros(session_window.end)   AS session_end_us,
           count(*) AS n_events
    FROM (SELECT user_id, cast(ts AS timestamp_ltz) AS ts FROM events)
    GROUP BY user_id, session_window(ts, '30 minutes')
    ORDER BY user_id, session_start_us
    """,
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    ids AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 1800000000 AS session_end_us,
           count(*) AS n_events
    FROM ids GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
)

# HyperLogLog distinct-count sketch, implemented as DETERMINISTIC SQL
# (Flajolet et al. 2007): 256 buckets from the top 8 bits of a 48-bit
# md5-uniform hash, register = max leading-zero rank of the low 40
# bits, harmonic-mean estimate (alpha_256 = 0.7213/(1 + 1.079/256))
# with the small-range linear-counting correction. Unlike
# approx_count_distinct (whose sketch is engine-internal and not
# replayable), every step here is portable arithmetic, so the ESTIMATE
# itself is oracle-checked — the pattern that lets a pipeline
# pre-aggregate distinct counts mergeably at 100 TB (registers combine
# with max) while keeping cross-engine testability. The observed
# relative error is also emitted (and asserted small in tests).
_HLL_SPARK = """
    WITH h AS (
      SELECT {H} AS h FROM events
    ),
    regs AS (
      SELECT h div 1099511627776 AS bucket,
             max(CASE WHEN h % 1099511627776 = 0 THEN 41
                      ELSE 41 - length(bin(h % 1099511627776)) END) AS m
      FROM h GROUP BY 1
    ),
    agg AS (
      SELECT (256 - count(*)) + sum(power(2.0, -m)) AS denom,
             256 - count(*) AS v
      FROM regs
    ),
    est AS (
      SELECT CASE WHEN (0.718272 * 65536 / denom) <= 640.0 AND v > 0
                  THEN 256 * ln(256.0 / v)
                  ELSE 0.718272 * 65536 / denom END AS e
      FROM agg
    )
    SELECT round(e, 2) AS hll_estimate,
           (SELECT count(DISTINCT user_id) FROM events) AS exact_distinct,
           round(abs(e - (SELECT count(DISTINCT user_id) FROM events))
                 / (SELECT count(DISTINCT user_id) FROM events), 4) AS rel_err
    FROM est
"""
# Post-register HLL daily/total estimation: everything downstream of a
# ``regs(day, bucket, m)`` relation — shared between the batch
# sketch_hll_daily_merged entry (regs built inline) and the STREAMING
# variant in ``streaming/`` (regs maintained by a streaming max-agg),
# so the two can never drift. Identical text in both dialects.
HLL_DAILY_POST = """
    groups AS (
      SELECT cast(day AS string) AS grp,
             (256 - count(*)) + sum(power(2.0, -m)) AS denom,
             256 - count(*) AS v
      FROM regs GROUP BY day
      UNION ALL
      SELECT 'TOTAL' AS grp,
             (256 - count(*)) + sum(power(2.0, -m)) AS denom,
             256 - count(*) AS v
      FROM (SELECT bucket, max(m) AS m FROM regs GROUP BY bucket)
    ),
    est AS (
      SELECT grp,
             CASE WHEN (0.718272 * 65536 / denom) <= 640.0 AND v > 0
                  THEN 256 * ln(256.0 / v)
                  ELSE 0.718272 * 65536 / denom END AS e
      FROM groups
    ),
    ex AS (
      SELECT cast(cast(ts AS date) AS string) AS grp,
             count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'TOTAL', count(DISTINCT user_id) FROM events
    )
    SELECT grp, round(e, 2) AS hll_estimate, exact_distinct,
           round(abs(e - exact_distinct) / exact_distinct, 4) AS rel_err
    FROM est JOIN ex USING (grp)
    ORDER BY grp
"""

#: DuckDB oracle for the daily/total HLL result — also reused verbatim
#: by the streaming register-maintenance entry (same expected output).
HLL_DAILY_DUCK: str = ""  # assigned in _hll_entry below


def _hll_entry() -> None:
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
        hex_prefix_int,
    )

    h = hex_prefix_int("md5(cast(user_id AS string))", 12)
    spark_sql = _HLL_SPARK.replace("{H}", h)
    duck_sql = spark_sql.replace("h div 1099511627776", "h // 1099511627776").replace(
        "length(bin(h % 1099511627776))",
        "length(printf('%b', h % 1099511627776))",
    )
    _q("sketch_hll_distinct_users", spark_sql, oracle=duck_sql)

    # Grouped + MERGED sketch — the property that makes HLL worth its
    # error at 100 TB: per-day registers roll up to the global estimate
    # by max() over registers, WITHOUT touching raw data again. The
    # TOTAL row here is computed from the daily registers (one extra
    # bucket-level aggregation), and the oracle replays the same merge,
    # so the mergeability claim is itself differential-tested.
    daily_spark = f"""
    WITH h AS (
      SELECT {h} AS h, cast(ts AS date) AS day FROM events
    ),
    regs AS (
      SELECT day, h div 1099511627776 AS bucket,
             max(CASE WHEN h % 1099511627776 = 0 THEN 41
                      ELSE 41 - length(bin(h % 1099511627776)) END) AS m
      FROM h GROUP BY 1, 2
    ),{HLL_DAILY_POST}"""
    daily_duck = daily_spark.replace(
        "h div 1099511627776", "h // 1099511627776"
    ).replace(
        "length(bin(h % 1099511627776))",
        "length(printf('%b', h % 1099511627776))",
    )
    global HLL_DAILY_DUCK
    HLL_DAILY_DUCK = daily_duck
    _q("sketch_hll_daily_merged", daily_spark, oracle=daily_duck)


_hll_entry()


# Count-min sketch (Cormode & Muthukrishnan 2005) heavy-hitter counts,
# as DETERMINISTIC portable SQL — the frequency-estimation counterpart
# of the HLL entry above. d=4 hash rows x w=16 counters; each token
# increments one counter per row (bucket = md5-derived 16-bit hash mod
# w); a term's estimate is the MIN over its d counters, which can only
# OVERestimate (collisions add, never subtract) — the test asserts
# estimate >= exact for every reported term. Counters are plain sums,
# so sketches MERGE by cell-wise addition: the entry builds the sketch
# twice — directly, and as the sum of per-source sketches — and emits
# both estimates, so the mergeability property (the reason a 100 TB
# pipeline can sketch per shard and combine) is itself inside the
# differential gate. Scale shape follows the word-count-first
# discipline (same as tokens_bpe_pair_stats): the token stream
# collapses to (source, term, count) in ONE shuffle, and the x4
# hash-row explode, both sketch builds, and the exact top-k all run
# off that vocabulary-scale relation — counter increments become
# sum(count), so the raw stream is never exploded x4 and both sketch
# aggregations collapse to d*w = 64 cells (production widths in the
# hundreds-to-thousands keep this tiny). The width is
# sized to the fixture vocabulary (31 distinct tokens vs w=16) so
# collisions actually occur and the estimate-vs-exact gap is
# non-vacuous at test scale (the behavioral test asserts BOTH
# directions: every estimate >= exact, and at least one strict
# overestimate exists); a production deployment sizes w ~ e/epsilon
# for additive error epsilon*N, d ~ ln(1/delta).
_CMS_D = 4
_CMS_W = 16
_CMS_TOP = 20


def _cms_entry() -> None:
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
        DUCK_TOKENS,
        TOKENS,
        hex_prefix_int,
    )

    bucket = (
        hex_prefix_int("md5(concat('cms', cast(r AS string), ':', w))", 4)
        + f" % {_CMS_W}"
    )
    body = f"""
    hits AS (
      SELECT source, w, cnt, r, {bucket} AS bucket FROM srcwr
    ),
    cells AS (
      SELECT r, bucket, cast(sum(cnt) AS BIGINT) AS c FROM hits GROUP BY r, bucket
    ),
    cells_by_source AS (
      SELECT source, r, bucket, cast(sum(cnt) AS BIGINT) AS c
      FROM hits GROUP BY source, r, bucket
    ),
    merged AS (
      SELECT r, bucket, cast(sum(c) AS BIGINT) AS c
      FROM cells_by_source GROUP BY r, bucket
    ),
    exact AS (
      SELECT w, cast(sum(cnt) AS BIGINT) AS exact_cnt FROM srcw
      GROUP BY w ORDER BY exact_cnt DESC, w LIMIT {_CMS_TOP}
    ),
    probes AS (
      SELECT w, exact_cnt, r, {bucket} AS bucket
      FROM (SELECT w, exact_cnt, {{R}} AS r FROM exact)
    ),
    est AS (
      SELECT p.w, p.exact_cnt,
             min(d.c) AS cms_estimate,
             min(m.c) AS cms_merged
      FROM probes p
      JOIN cells d ON p.r = d.r AND p.bucket = d.bucket
      JOIN merged m ON p.r = m.r AND p.bucket = m.bucket
      GROUP BY p.w, p.exact_cnt
    )
    SELECT w AS term, exact_cnt, cms_estimate, cms_merged,
           cms_estimate - exact_cnt AS overestimate
    FROM est
    ORDER BY exact_cnt DESC, term
    """
    spark_sql = (
        f"""
    WITH srcw AS (
      SELECT source, w, count(*) AS cnt
      FROM (SELECT source, explode({TOKENS}) AS w FROM documents)
      GROUP BY source, w
    ),
    srcwr AS (
      SELECT source, w, cnt, explode(sequence(0, {_CMS_D - 1})) AS r FROM srcw
    ),"""
        + body.replace("{R}", f"explode(sequence(0, {_CMS_D - 1}))")
    )
    duck_sql = (
        f"""
    WITH srcw AS (
      SELECT source, w, count(*) AS cnt
      FROM (SELECT source, unnest({DUCK_TOKENS}) AS w FROM documents)
      GROUP BY source, w
    ),
    srcwr AS (
      SELECT source, w, cnt, unnest(range(0, {_CMS_D})) AS r FROM srcw
    ),"""
        + body.replace("{R}", f"unnest(range(0, {_CMS_D}))")
    )
    _q("sketch_cms_heavy_hitters", spark_sql, oracle=duck_sql)


_cms_entry()


# Histogram quantile sketch — the third sketch of the family (HLL =
# distincts, CMS = frequencies, this = quantiles): a fixed 128-bin
# equi-width histogram over integer cents, from which P50/P90/P99 are
# interpolated and compared against the exact rank statistic IN the
# result (rel_err column). All binning is INTEGER arithmetic
# ((v-lo)*128 integer-div (hi-lo+1)) so bin assignment can never
# diverge cross-engine on a float boundary; the interpolation is a
# rational of integers rounded at the end. Mergeability — the property
# that lets a 100 TB pipeline histogram each partition and sum —
# is demonstrated in-plan: per-shard (v%4) histograms summed bin-wise
# are EXCEPT-compared against the direct histogram and the difference
# count (0) is a result column. Scale shape: one shuffle collapses the
# column to its (value, count) distribution; the histogram is a
# 128-row relation; the only full-order window (the exact-rank
# baseline) runs over the value distribution, not the raw table — and
# is exactly the thing the histogram replaces at scale.
_HQ_BINS = 128


_HQ_VALS_SQL = """
      SELECT cast(round(l_extendedprice * 100, 0) AS bigint) AS v, count(*) AS c
      FROM lineitem GROUP BY 1
"""

_HQ_QS_VALUES = (
    "(VALUES (cast(0.5 AS double)), (cast(0.9 AS double)),"
    " (cast(0.99 AS double))) AS t(q)"
)

# CTE list + final select, parameterized on the vals relation name and
# the integer-division token. The ORACLE chains vals as a CTE (DuckDB
# materializes it). The Spark engine (operators/materialized.py)
# persists vals once, since Spark would inline the three vals
# references into three lineitem scans (11 scans total in the
# one-query form), and runs the fixed-size tail (bounds, the 128-bin
# histograms, pick) on the driver.
#
# Exact-quantile tail (r13 optimization): the exact rank lookup is
# bin-local, not a global prefix sum — the original
# `sum(c) OVER (ORDER BY v)` over ALL distinct values is an
# unpartitioned window (Spark: "Moving all data to a single
# partition"), the one non-scalable stage this entry had. Because the
# bin id is monotone nondecreasing in v, the target quantile's value
# lives in exactly the bin `pick` already located (bins below it hold
# cum <= below < rk; that bin's last value reaches cb >= rk), and the
# global prefix decomposes as below + within-bin prefix — all BIGINT
# arithmetic, so the surfaced values are bit-identical to the global-
# window formulation in both engines. The within-bin window touches
# ~n/BINS rows per target quantile instead of every distinct value.
_HQ_BOUNDS_SQL = (
    "SELECT min(v) AS lo, max(v) AS hi, cast(sum(c) AS bigint) AS n FROM {vals}"
)

_HQ_BINNED_SQL = (
    "SELECT ((v - lo) * {BINS}) {IDIV} (hi - lo + 1) AS bin, v % 4 AS sh, v, c\n"
    "      FROM {vals} CROSS JOIN {bounds}"
)

# hist folded into cum (cum carries (bin, bc, cb), so hist is just its
# (bin, bc) projection everywhere it was read).
_HQ_CUM_SQL = """SELECT bin, bc,
             cast(sum(bc) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cb
      FROM (SELECT bin, cast(sum(c) AS bigint) AS bc FROM {binned} GROUP BY bin) hist"""

_HQ_TAIL_SQL = """
    hist_by_shard AS (
      SELECT sh, bin, cast(sum(c) AS bigint) AS bc FROM {binned} GROUP BY sh, bin
    ),
    merged AS (
      SELECT bin, cast(sum(bc) AS bigint) AS bc FROM hist_by_shard GROUP BY bin
    ),
    merge_check AS (
      SELECT count(*) AS n_diff FROM (
        SELECT bin, bc FROM {cum}
        EXCEPT
        SELECT bin, bc FROM merged
      ) d
    ),
    tq AS (
      SELECT q, cast(ceil(q * n) AS bigint) AS rk, lo, hi, n
      FROM {QS} CROSS JOIN {bounds}
    ),
    pick AS (
      SELECT t.q, t.rk, t.lo, t.hi, min(c2.bin) AS bin
      FROM tq t JOIN {cum} c2 ON c2.cb >= t.rk
      GROUP BY t.q, t.rk, t.lo, t.hi
    ),
    est AS (
      SELECT p.q, p.rk,
             p.lo + ((p.bin + (p.rk - (c2.cb - c2.bc)) * cast(1 AS double) / c2.bc)
                     * (p.hi - p.lo + 1)) / cast({BINS} AS double) AS est_cents
      FROM pick p JOIN {cum} c2 ON p.bin = c2.bin
    ),
    pickc AS (
      SELECT p.q, p.rk, p.bin, c3.cb - c3.bc AS below
      FROM pick p JOIN {cum} c3 ON p.bin = c3.bin
    ),
    winv AS (
      SELECT pc.q, pc.rk, b2.v,
             pc.below + cast(sum(b2.c) OVER (PARTITION BY pc.q ORDER BY b2.v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bigint) AS cv
      FROM {binned} b2 JOIN pickc pc ON b2.bin = pc.bin
    ),
    exact AS (
      SELECT q, min(v) AS exact_cents
      FROM winv WHERE cv >= rk
      GROUP BY q
    )
    SELECT e.q, e.rk AS target_rank,
           round(e.est_cents / cast(100 AS double), 4) AS est_quantile,
           round(x.exact_cents / cast(100 AS double), 4) AS exact_quantile,
           round(abs(e.est_cents - x.exact_cents) / x.exact_cents, 6) AS rel_err,
           m.n_diff AS merged_hist_diff
    FROM est e JOIN exact x ON e.q = x.q CROSS JOIN merge_check m
    ORDER BY e.q
"""


def _hq_tail(vals: str, idiv: str) -> str:
    """Fully chained CTE form (the ORACLE text; DuckDB materializes each
    CTE once, so chaining is also the efficient shape there)."""
    b_sql = _HQ_BOUNDS_SQL.format(vals=vals)
    bin_sql = _HQ_BINNED_SQL.format(
        vals=vals, bounds="bounds", BINS=_HQ_BINS, IDIV=idiv
    )
    cum_sql = _HQ_CUM_SQL.format(binned="binned")
    return (
        f"bounds AS ({b_sql}),\n"
        f"    binned AS ({bin_sql}),\n"
        f"    cum AS ({cum_sql}),"
        + _HQ_TAIL_SQL.format(
            binned="binned", bounds="bounds", cum="cum",
            BINS=_HQ_BINS, QS=_HQ_QS_VALUES,
        )
    )


def _histogram_quantiles_entry() -> None:
    # The chained text below is the SPEC formulation; the executable
    # Spark side is operators/materialized.py (vals persisted once,
    # bounds and histograms collected to the driver).
    # The oracle IS this chained form with DuckDB's // division.
    chained = "WITH vals AS (" + _HQ_VALS_SQL + "),\n"
    _q_staged(
        "sketch_histogram_quantiles",
        chained + _hq_tail("vals", "div"),
        oracle=chained + _hq_tail("vals", "//"),
    )


_histogram_quantiles_entry()

# RFM (recency/frequency/monetary) customer segmentation — the classic
# marketing-analytics rollup. One aggregation over orders, then three
# ntile(5) windows with c_custkey tiebreaks (total order => identical
# quintile assignment in both engines). The global windows are the
# rank-based formulation; at 100 TB the same scores come from
# approx-percentile quintile thresholds broadcast to a map-only CASE
# (SCALE.md row).
_q(
    "customer_rfm_segments",
    """
    WITH rfm AS (
      SELECT o_custkey AS c,
             datediff(date '2001-08-01', max(cast(o_orderdate AS date))) AS recency_days,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT c, recency_days, n_orders, monetary,
             ntile(5) OVER (ORDER BY recency_days DESC, c) AS r_score,
             ntile(5) OVER (ORDER BY n_orders, c)          AS f_score,
             ntile(5) OVER (ORDER BY monetary, c)          AS m_score
      FROM rfm
    )
    SELECT c AS c_custkey, recency_days, n_orders, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal_lapsing'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    ORDER BY c_custkey
    """,
    oracle="""
    WITH rfm AS (
      SELECT o_custkey AS c,
             date_diff('day', max(o_orderdate::DATE), DATE '2001-08-01') AS recency_days,
             count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS monetary
      FROM orders
      GROUP BY o_custkey
    ),
    scored AS (
      SELECT c, recency_days, n_orders, monetary,
             ntile(5) OVER (ORDER BY recency_days DESC, c) AS r_score,
             ntile(5) OVER (ORDER BY n_orders, c)          AS f_score,
             ntile(5) OVER (ORDER BY monetary, c)          AS m_score
      FROM rfm
    )
    SELECT c AS c_custkey, recency_days, n_orders, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal_lapsing'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    ORDER BY c_custkey
    """,
)

_q(
    "events_rollup_multires",
    """
    WITH base AS (
      SELECT cast(cast(date_trunc('day', ts) AS date) AS string) AS day_start,
             cast(date_trunc('hour', ts) AS string)              AS hour_start,
             event_type, value
      FROM events
    )
    SELECT day_start, hour_start, event_type,
           CASE WHEN grouping(hour_start) = 0 THEN 'hour'
                WHEN grouping(day_start) = 0 THEN 'day'
                ELSE 'total' END AS resolution,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM base
    GROUP BY GROUPING SETS ((day_start, hour_start, event_type),
                            (day_start, event_type),
                            (event_type))
    ORDER BY event_type, resolution,
             day_start ASC NULLS FIRST, hour_start ASC NULLS FIRST
    """,
)
# events_rollup_multires: hypertable-style continuous aggregate — ONE
# scan produces the hourly, daily, and all-time rollups of the event
# stream via GROUPING SETS (the TimescaleDB multi-resolution rollup
# shape, and what a serving layer materializes instead of re-bucketing
# raw events per dashboard query). Catalyst compiles it to a single
# Expand + partial-aggregated shuffle — strictly cheaper at 100 TB than
# three separate scans. The time buckets are pre-stringified so the
# grouping keys are engine-portable, and NULLS FIRST is explicit (Spark
# defaults ASC NULLS FIRST, DuckDB NULLS LAST).


# events_anomaly_zscore: rolling z-score anomaly detection on the hourly
# event-rate series — each hour's count against the trailing-24h
# mean/stddev (rows-preceding frame, so gaps don't widen the window).
# mu/sigma are rounded to 6 dp BEFORE z so cross-engine stddev
# implementation drift (Welford vs naive summation) cannot leak into
# the flag, and the flag thresholds the ROUNDED z — the value actually
# reported — so a consumer re-deriving it from the output agrees with
# the shipped column; the frame excludes the current row
# (self-exclusion: a spike must not inflate its own baseline). Scale: one shuffle to the hourly
# rollup (upstream count partial-aggregates map-side), then a window
# over the tiny per-type series.


_q(
    "recursive_date_spine",
    """
    WITH RECURSIVE bounds AS (
      SELECT cast(date_trunc('day', min(ts)) AS date) AS lo,
             cast(date_trunc('day', max(ts)) AS date) AS hi
      FROM events
    ),
    spine(d) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT cast(d + INTERVAL 1 DAY AS date) FROM spine, bounds WHERE d < hi
    ),
    daily AS (
      SELECT cast(date_trunc('day', ts) AS date) AS d, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT cast(s.d AS string) AS day, coalesce(daily.n, 0) AS n_events
    FROM spine s LEFT JOIN daily ON daily.d = s.d
    ORDER BY day
    """,
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT cast(date_trunc('day', min(ts)) AS date) AS lo,
             cast(date_trunc('day', max(ts)) AS date) AS hi
      FROM events
    ),
    spine(d) AS (
      SELECT lo FROM bounds
      UNION ALL
      SELECT cast(d + INTERVAL 1 DAY AS date) FROM spine, bounds WHERE d < hi
    ),
    daily AS (
      SELECT cast(date_trunc('day', ts) AS date) AS d, count(*) AS n
      FROM events GROUP BY 1
    )
    SELECT cast(s.d AS string) AS day, coalesce(daily.n, 0) AS n_events
    FROM spine s LEFT JOIN daily ON daily.d = s.d
    ORDER BY day
    """,
)
# Seasonal-baseline anomaly scoring: each (day, hour) bucket's event
# count compared to the mean and stddev of the SAME hour-of-day across
# the rest of the fixture month — the companion of the rolling z-score
# entry for periodic traffic (a 9am spike is normal on weekdays, a 3am
# spike is not). Two small keyed aggregations; the z computation is
# row-local over #buckets rows; deviations round at the boundary.
_q(
    "events_anomaly_seasonal",
    """
    WITH hourly AS (
      SELECT cast(ts AS date) AS d, hour(ts) AS h, count(*) AS n
      FROM events GROUP BY cast(ts AS date), hour(ts)
    ),
    base AS (
      SELECT h, avg(n) AS mu, stddev_samp(n) AS sigma
      FROM hourly GROUP BY h
    )
    SELECT cast(hourly.d AS string) AS day, hourly.h AS hour, hourly.n,
           round(base.mu, 4) AS hour_mean,
           round(base.sigma, 4) AS hour_std,
           round((hourly.n - base.mu) / nullif(base.sigma, 0), 4) AS z
    FROM hourly JOIN base ON hourly.h = base.h
    WHERE abs((hourly.n - base.mu) / nullif(base.sigma, 0)) >= 2
    ORDER BY day, hour
    """,
    oracle="""
    WITH hourly AS (
      SELECT ts::DATE AS d, hour(ts) AS h, count(*) AS n
      FROM events GROUP BY ts::DATE, hour(ts)
    ),
    base AS (
      SELECT h, avg(n) AS mu, stddev_samp(n) AS sigma
      FROM hourly GROUP BY h
    )
    SELECT cast(hourly.d AS varchar) AS day, hourly.h AS hour, hourly.n,
           round(base.mu, 4) AS hour_mean,
           round(base.sigma, 4) AS hour_std,
           round((hourly.n - base.mu) / nullif(base.sigma, 0), 4) AS z
    FROM hourly JOIN base ON hourly.h = base.h
    WHERE abs((hourly.n - base.mu) / nullif(base.sigma, 0)) >= 2
    ORDER BY day, hour
    """,
)

# Neyman-allocation stratified sample design (survey statistics): for
# a fixed total budget, sample each stratum proportionally to
# N_h * S_h (its size times its internal standard deviation) — the
# allocation that minimizes estimator variance. Strata are sources,
# the target variable is document length; output is the per-stratum
# design table (size, spread, optimal share, integer allocation) the
# sampler then executes with the md5 machinery the sample_* entries
# already verify. One aggregation + one window sum over #strata rows.
_q(
    "sample_neyman_allocation",
    """
    WITH strata AS (
      SELECT source, count(*) AS n_h,
             round(stddev_samp(n_chars), 4) AS s_h
      FROM documents GROUP BY source
    ),
    weighted AS (
      SELECT source, n_h, s_h, n_h * s_h AS w,
             sum(n_h * s_h) OVER () AS w_total
      FROM strata
    )
    SELECT source, n_h, s_h,
           round(w / w_total, 6) AS neyman_share,
           cast(floor(100 * w / w_total) AS BIGINT) AS alloc_of_100
    FROM weighted
    ORDER BY source
    """,
    oracle="""
    WITH strata AS (
      SELECT source, count(*) AS n_h,
             round(stddev_samp(n_chars), 4) AS s_h
      FROM documents GROUP BY source
    ),
    weighted AS (
      SELECT source, n_h, s_h, n_h * s_h AS w,
             sum(n_h * s_h) OVER () AS w_total
      FROM strata
    )
    SELECT source, n_h, s_h,
           round(w / w_total, 6) AS neyman_share,
           cast(floor(100 * w / w_total) AS BIGINT) AS alloc_of_100
    FROM weighted
    ORDER BY source
    """,
)

# Bot/automation detection from inter-event timing — the traffic-
# hygiene filter a training-data pipeline runs before trusting
# engagement signals: humans arrive with high gap variance, scripts
# are metronomic (coefficient of variation near 0) or inhumanly fast
# (sub-second median gaps). Gaps are exact integer MICROSECONDS (one
# lag window per user); the only floats are the final avg/stddev,
# rounded at the boundary. A planted-metronome test proves the flag
# fires (organic fixture traffic is honestly unflagged).
_q(
    "events_bot_detection",
    """
    WITH gaps AS (
      SELECT user_id,
             unix_micros(cast(ts AS timestamp_ltz)) -
               lag(unix_micros(cast(ts AS timestamp_ltz)))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    stats AS (
      SELECT user_id,
             count(gap_us) AS n_gaps,
             cast(round(cast(avg(gap_us) / 1e6 AS DECIMAL(38, 8)), 2)
               AS DOUBLE) AS avg_gap_s,
             round(stddev_samp(gap_us) / 1e6, 2) AS std_gap_s,
             round(stddev_samp(gap_us) / nullif(avg(gap_us), 0), 4) AS gap_cv
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY user_id
      HAVING count(gap_us) >= 5
    )
    SELECT user_id, n_gaps, avg_gap_s, std_gap_s, gap_cv,
           (gap_cv < 0.1 OR avg_gap_s < 1.0) AS is_bot_like
    FROM stats
    ORDER BY user_id
    """,
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) -
               lag(epoch_us(ts))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    stats AS (
      SELECT user_id,
             count(gap_us) AS n_gaps,
             cast(round(cast(avg(gap_us) / 1e6 AS DECIMAL(38, 8)), 2)
               AS DOUBLE) AS avg_gap_s,
             round(stddev_samp(gap_us) / 1e6, 2) AS std_gap_s,
             round(stddev_samp(gap_us) / nullif(avg(gap_us), 0), 4) AS gap_cv
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY user_id
      HAVING count(gap_us) >= 5
    )
    SELECT user_id, n_gaps, avg_gap_s, std_gap_s, gap_cv,
           (gap_cv < 0.1 OR avg_gap_s < 1.0) AS is_bot_like
    FROM stats
    ORDER BY user_id
    """,
)

# Time-series gap-fill + forward-fill: the dense (user x day) grid with
# three fill flavors — zero-fill (spend that day), last-observation-
# carried-forward (last_value IGNORE NULLS over the running frame), and
# running cumulative — the report shape every sparse-activity timeseries
# needs before charting/modeling. The grid is users x days (bounded:
# distinct-users x date-span, never event-count); the only fact work is
# one bounded scan each for bounds/users/daily. User slice keeps the
# fixture output compact.
_q(
    "events_gapfill_forward",
    """
    WITH bounds AS (
      SELECT cast(min(ts) AS date) AS lo, cast(max(ts) AS date) AS hi
      FROM events
    ),
    spine AS (SELECT explode(sequence(lo, hi)) AS d FROM bounds),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 30),
    daily AS (
      SELECT user_id, cast(ts AS date) AS d, round(sum(value), 2) AS spend
      FROM events WHERE event_type = 'purchase' AND user_id < 30
      GROUP BY user_id, cast(ts AS date)
    )
    SELECT u.user_id, cast(s.d AS string) AS day,
           coalesce(daily.spend, 0.0) AS spend,
           last(daily.spend, true)
             OVER (PARTITION BY u.user_id ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_known_spend,
           round(sum(coalesce(daily.spend, 0.0))
             OVER (PARTITION BY u.user_id ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS cum_spend
    FROM users u CROSS JOIN spine s
    LEFT JOIN daily ON daily.user_id = u.user_id AND daily.d = s.d
    ORDER BY u.user_id, day
    """,
    oracle="""
    WITH bounds AS (
      SELECT cast(min(ts) AS date) AS lo, cast(max(ts) AS date) AS hi
      FROM events
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    ),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 30),
    daily AS (
      SELECT user_id, ts::DATE AS d, round(sum(value), 2) AS spend
      FROM events WHERE event_type = 'purchase' AND user_id < 30
      GROUP BY user_id, ts::DATE
    )
    SELECT u.user_id, cast(s.d AS varchar) AS day,
           coalesce(daily.spend, 0.0) AS spend,
           last_value(daily.spend IGNORE NULLS)
             OVER (PARTITION BY u.user_id ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_known_spend,
           round(sum(coalesce(daily.spend, 0.0))
             OVER (PARTITION BY u.user_id ORDER BY s.d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS cum_spend
    FROM users u CROSS JOIN spine s
    LEFT JOIN daily ON daily.user_id = u.user_id AND daily.d = s.d
    ORDER BY u.user_id, day
    """,
)

# recursive_date_spine: WITH RECURSIVE (Spark 4's recursive CTE) builds
# the day spine between the corpus's min and max event days, then
# gap-fills the daily event series with zeros — the canonical time-
# series densification a reporting layer needs and plain GROUP BY
# cannot produce (missing days simply don't exist in the input). The
# recursion depth is the calendar span (days), not the data size.

_q(
    "variant_json_bucket",
    """
    SELECT variant_get(v, '$.k', 'int') % 10 AS k_bucket,
           count(*) AS n,
           min(variant_get(v, '$.k', 'int')) AS min_k,
           max(variant_get(v, '$.k', 'int')) AS max_k
    FROM (SELECT parse_json(props) AS v FROM events)
    GROUP BY 1
    ORDER BY k_bucket
    """,
    oracle="""
    SELECT k % 10 AS k_bucket,
           count(*) AS n,
           min(k) AS min_k,
           max(k) AS max_k
    FROM (SELECT cast(json_extract(props, '$.k') AS INTEGER) AS k FROM events)
    GROUP BY 1
    ORDER BY k_bucket
    """,
)
# variant_json_bucket: semi-structured access via Spark 4's VARIANT
# (parse_json + variant_get typed path extraction) over the events
# props JSON column — the open-schema column pattern a 100 TB event
# store ships with; the binary variant encoding makes repeated path
# access cheaper than per-row string re-parsing. DuckDB oracle uses
# its native json_extract on the same paths.


# ---------------------------------------------------------------------------
# Surface widening: NATURAL/LATERAL joins, window frames, set-op ALL
# variants, unpivot (SURVEY.md §2.B "Joins", "Window functions", "Set ops").
# ---------------------------------------------------------------------------

_q(
    "join_natural",
    """
    SELECT n_name, region_name
    FROM (SELECT n_regionkey AS regionkey, n_name FROM nation)
    NATURAL JOIN (SELECT r_regionkey AS regionkey, r_name AS region_name FROM region)
    ORDER BY n_name
    """,
)

_q(
    "join_lateral_topk",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
         LATERAL (
           SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
           FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 1
         ) t
    WHERE c.c_custkey <= 200
    ORDER BY c.c_custkey
    """,
)

_q(
    "win_rows_frame",
    """
    SELECT o_orderkey,
           round(avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg
    FROM orders
    WHERE o_custkey <= 100
    ORDER BY o_orderkey
    """,
)

_q(
    "win_range_frame",
    """
    SELECT o_orderkey, o_totalprice,
           count(*) OVER (
             ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS n_within_1k_below
    FROM orders
    WHERE o_orderkey <= 2000
    ORDER BY o_orderkey
    """,
)

_q(
    "win_first_last_value",
    """
    SELECT o_orderkey,
           first_value(o_orderkey) OVER w AS first_in_status,
           last_value(o_orderkey) OVER (
             PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_in_status
    FROM orders
    WHERE o_orderkey <= 500
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_orderkey
    """,
)

_q(
    "set_except_all",
    """
    SELECT o_custkey FROM orders WHERE o_totalprice > 50000
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' AND o_totalprice > 50000
    ORDER BY o_custkey
    """,
)

_q(
    "unpivot_stack",
    """
    SELECT r_name, metric, value FROM (
      SELECT r_name,
             stack(2, 'key_sum', cast(sum(r_regionkey) AS double),
                      'name_len', cast(max(length(r_name)) AS double)) AS (metric, value)
      FROM region GROUP BY r_name
    )
    ORDER BY r_name, metric
    """,
    oracle="""
    SELECT r_name, metric, value FROM (
      SELECT r_name, 'key_sum' AS metric, cast(sum(r_regionkey) AS double) AS value
      FROM region GROUP BY r_name
      UNION ALL
      SELECT r_name, 'name_len', cast(max(length(r_name)) AS double)
      FROM region GROUP BY r_name
    )
    ORDER BY r_name, metric
    """,
)


# More TPC-H-shaped multi-join aggregations (q7/q9/q18 forms adapted to
# the fixture schema/date range) — the join-reordering and semi-join
# workloads Catalyst must plan well at scale.
_q(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation,
             n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN date '1995-01-01' AND date '1998-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)

_q(
    "q9_product_type_profit",
    """
    SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      WHERE p.p_name LIKE '%red%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)

# q2/q11/q20 forms (min-cost supplier, important values, excess
# suppliers) adapted to the fixture schema: the fixtures have no
# partsupp table, so lineitem serves as the part-supplier relation.
# These are the classic correlated-aggregate workloads — per-group
# scalar subqueries Catalyst must decorrelate into joins.
_q(
    "q2_min_cost_supplier",
    """
    SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
           round(l.l_extendedprice, 2) AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_name LIKE '%bolt%'
      AND l.l_extendedprice = (
        SELECT min(l2.l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey)
    ORDER BY p_partkey, s_suppkey
    """,
)

_q(
    "q11_important_values",
    """
    SELECT l_suppkey, round(sum(l_extendedprice * l_quantity), 2) AS inv_value
    FROM lineitem
    GROUP BY l_suppkey
    HAVING sum(l_extendedprice * l_quantity) > (
      SELECT 0.011 * sum(l_extendedprice * l_quantity) FROM lineitem)
    ORDER BY inv_value DESC, l_suppkey
    """,
)

_q(
    "q20_excess_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%red%'
      GROUP BY l_suppkey, l.l_partkey
      HAVING sum(l_quantity) > (
        SELECT 0.12 * sum(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    )
    ORDER BY s_suppkey
    """,
)

_q(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS o_totalprice,
           round(sum(l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)

# Array/map/struct functions (SURVEY.md §2.B — extension row: the
# reference emits flat scalar rows only; the complex-type family is
# what the embeddings/documents fixtures need). Results are projected
# back to scalars so the cross-engine hash compares primitive values.
_q(
    "array_map_struct_functions",
    """
    SELECT n_nationkey,
           cast(size(split(n_name, '_')) AS int) AS n_parts,
           element_at(split(n_name, '_'), -1) AS suffix,
           aggregate(sequence(1, n_nationkey + 1), cast(0 AS bigint),
                     (acc, x) -> acc + x) AS tri,
           named_struct('k', n_nationkey).k AS sk,
           map('a', n_regionkey)['a'] AS mv,
           element_at(sort_array(array(n_regionkey, n_nationkey)), 1) AS lo
    FROM nation
    ORDER BY n_nationkey
    """,
    oracle="""
    SELECT n_nationkey,
           cast(len(string_split(n_name, '_')) AS int) AS n_parts,
           string_split(n_name, '_')[-1] AS suffix,
           cast(list_sum(range(1, n_nationkey + 2)) AS bigint) AS tri,
           struct_pack(k := n_nationkey).k AS sk,
           map_extract(map(['a'], [n_regionkey]), 'a')[1] AS mv,
           list_sort([n_regionkey, n_nationkey])[1] AS lo
    FROM nation
    ORDER BY n_nationkey
    """,
)

# Approximate aggregation (SURVEY.md §2.B "Approximate agg" — free
# upgrades over the reference surface). Sketch INTERNALS are
# engine-specific (Spark HLL++ / GK-quantile vs DuckDB's sketches),
# so the raw sketch outputs have no cross-engine oracle; instead the
# plan emits the exact values PLUS in-plan error-bound booleans —
# |approx - exact| within the documented epsilon, both computed in
# the SAME aggregation — so the output is deterministic and the
# DuckDB differential verifies the exact tier and that the sketches
# meet their bounds (VERDICT r11 ask #4; formerly rows-only).
# Epsilons: HLL++ default rsd is 0.05 — 0.15 is 3 sigma; Spark's
# percentile_approx at the default accuracy (10000) is well inside
# 5% of the exact interpolated median on any non-degenerate group.
_q(
    "agg_approx_sketches",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           cast(abs(approx_count_distinct(l_orderkey)
                    - count(DISTINCT l_orderkey))
                <= 0.15 * count(DISTINCT l_orderkey)
                AS boolean) AS orders_within_eps,
           cast(abs(percentile_approx(l_extendedprice, 0.5)
                    - percentile(l_extendedprice, 0.5))
                <= 0.05 * percentile(l_extendedprice, 0.5)
                AS boolean) AS median_within_eps
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    oracle="""
    SELECT l_returnflag,
           cast(count(DISTINCT l_orderkey) AS bigint) AS exact_orders,
           TRUE AS orders_within_eps,
           TRUE AS median_within_eps
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# Remaining TPC-H query shapes (SURVEY.md §2.B joins/subqueries/aggregation),
# adapted to the fixture schema: there is no partsupp table and lineitem has
# no commitdate/receiptdate or shipmode, so q4/q12/q21 use a late-shipping
# proxy (l_shipdate vs o_orderdate + INTERVAL) and q16 counts suppliers from
# lineitem. The *operator shapes* (EXISTS-agg, CASE-sum, outer-join
# distribution, correlated avg, disjunctive pushdown, double-EXISTS,
# NOT-EXISTS + scalar avg) are the coverage target, not the TPC-H numbers.
# ---------------------------------------------------------------------------

_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= date '1996-07-01'
      AND o_orderdate <  date '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

_q(
    "q12_priority_shipping",
    """
    SELECT l_linestatus,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= date '1996-01-01'
      AND l_shipdate <  date '1997-01-01'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)

_q(
    "q13_customer_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)

_q(
    "q14_promo_revenue",
    """
    SELECT round(100.00 * sum(CASE WHEN p_type = 'PROMO'
                                   THEN l_extendedprice * (1 - l_discount)
                                   ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= date '1996-09-01'
      AND l_shipdate <  date '1996-10-01'
    """,
)

_q(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= date '1996-01-01'
        AND l_shipdate <  date '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)

_q(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5'
      AND p_size IN (1, 7, 13, 19, 25, 31, 37, 43)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)

_q(
    "q17_small_quantity_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#11'
      AND l_quantity < (
        SELECT 0.5 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)

_q(
    "q19_disjunctive_predicates",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 35)
       OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
)

_q(
    "q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part
      JOIN lineitem    ON p_partkey   = l_partkey
      JOIN supplier    ON s_suppkey   = l_suppkey
      JOIN orders      ON l_orderkey  = o_orderkey
      JOIN customer    ON o_custkey   = c_custkey
      JOIN nation n1   ON c_nationkey = n1.n_nationkey
      JOIN nation n2   ON s_nationkey = n2.n_nationkey
      JOIN region      ON n1.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)

_q(
    "q21_waiting_suppliers",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey  = l1.l_suppkey
    JOIN orders      ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o2 ON l3.l_orderkey = o2.o_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)

# TPC-H Q22 shape. In the fixture every customer has at least one order
# (TPC-H proper leaves 1/3 orderless), so plain NOT EXISTS(orders) is
# vacuously empty; dormancy is instead "no order since 1999-01-01",
# which keeps the anti-join shape and returns a discriminating result.
_q(
    "q22_dormant_customers",
    """
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM (
      SELECT c_custkey % 7 AS cntrycode, c_acctbal
      FROM customer
      WHERE c_custkey % 7 IN (0, 1, 2, 3)
        AND c_acctbal > (
          SELECT avg(c_acctbal) FROM customer
          WHERE c_acctbal > 0.00 AND c_custkey % 7 IN (0, 1, 2, 3)
        )
        AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                        AND o_orderdate >= date '1999-01-01')
    ) custsale
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)

# Ordered-funnel analysis: users reaching view -> click-within-1-day ->
# purchase-within-1-day-of-click, each stage anchored at the earliest
# qualifying event. The per-stage joins are equi on user_id (the time
# constraints are post-join filters), so each stage is one keyed
# shuffle of a rapidly-shrinking relation — the classic
# product-analytics funnel expressed relationally.
_q(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 DAY
      GROUP BY e.user_id
    )
    SELECT stage, count(*) AS n_users
    FROM (
      SELECT v.user_id,
             CASE WHEN p.user_id IS NOT NULL THEN 3
                  WHEN c.user_id IS NOT NULL THEN 2
                  ELSE 1 END AS stage
      FROM v
      LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id
    ) staged
    GROUP BY stage
    ORDER BY stage
    """,
)

# The SAME funnel computed in ONE scan: per-user events are collected
# and sorted once (a single shuffle on user_id), then a codegen'd
# aggregate() fold walks each user's history picking the first
# qualifying event per stage — no per-stage fact-table re-joins.
# events_funnel keeps the relational join-chain formulation (its own
# oracle), and THIS entry's oracle IS that join-chain — an independent
# formulation, so the differential proves fold == relational algebra.
# At 100 TB the fold form scans the fact table once instead of three
# times and its only shuffle is the per-user grouping; state per user
# is one 3-timestamp struct. Greedy-first == min-qualifying because
# events are processed in ascending (ts, type) order with strict
# inequalities mirroring the join chain's.
_q(
    "events_funnel_one_pass",
    """
    WITH folded AS (
      SELECT user_id,
             aggregate(
               array_sort(collect_list(named_struct('ts', ts, 't', event_type))),
               named_struct('v', cast(NULL AS timestamp),
                            'c', cast(NULL AS timestamp),
                            'p', cast(NULL AS timestamp)),
               (acc, e) -> named_struct(
                 'v', CASE WHEN acc.v IS NULL AND e.t = 'view'
                           THEN e.ts ELSE acc.v END,
                 'c', CASE WHEN acc.c IS NULL AND e.t = 'click'
                            AND acc.v IS NOT NULL AND e.ts > acc.v
                            AND e.ts <= acc.v + INTERVAL 1 DAY
                           THEN e.ts ELSE acc.c END,
                 'p', CASE WHEN acc.p IS NULL AND e.t = 'purchase'
                            AND acc.c IS NOT NULL AND e.ts > acc.c
                            AND e.ts <= acc.c + INTERVAL 1 DAY
                           THEN e.ts ELSE acc.p END)
             ) AS f
      FROM events
      GROUP BY user_id
    )
    SELECT stage, count(*) AS n_users FROM (
      SELECT CASE WHEN f.p IS NOT NULL THEN 3
                  WHEN f.c IS NOT NULL THEN 2
                  ELSE 1 END AS stage
      FROM folded WHERE f.v IS NOT NULL
    ) staged
    GROUP BY stage
    ORDER BY stage
    """,
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 DAY
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 DAY
      GROUP BY e.user_id
    )
    SELECT stage, count(*) AS n_users
    FROM (
      SELECT v.user_id,
             CASE WHEN p.user_id IS NOT NULL THEN 3
                  WHEN c.user_id IS NOT NULL THEN 2
                  ELSE 1 END AS stage
      FROM v
      LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id
    ) staged
    GROUP BY stage
    ORDER BY stage
    """,
)

# Cohort retention: users grouped by first-activity DAY (the fixture's
# events span a single month), counted as active per week offset. Day
# difference syntax diverges between dialects (Spark datediff(end,
# start) vs DuckDB date_diff('day', start, end)), hence the explicit
# oracle. Two keyed shuffles total: the per-user min, then the
# (cohort, offset) count-distinct.
_q(
    "events_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT cast(cast(f.first_ts AS date) AS string) AS cohort_day,
           cast(floor(datediff(cast(e.ts AS date), cast(f.first_ts AS date)) / 7)
                AS bigint)                          AS week_offset,
           count(DISTINCT e.user_id)                AS active_users
    FROM events e
    JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort_day, week_offset
    ORDER BY cohort_day, week_offset
    """,
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
    )
    SELECT cast(cast(f.first_ts AS date) AS string) AS cohort_day,
           cast(floor(date_diff('day', cast(f.first_ts AS date), cast(e.ts AS date)) / 7)
                AS bigint)                          AS week_offset,
           count(DISTINCT e.user_id)                AS active_users
    FROM events e
    JOIN firsts f ON e.user_id = f.user_id
    GROUP BY cohort_day, week_offset
    ORDER BY cohort_day, week_offset
    """,
)

# Market-basket affinity: parts co-ordered in the same order, with
# lift = P(a,b) / (P(a)P(b)). The self-join shuffles once on
# l_orderkey; the per-part frequency and order-count relations are
# tiny and broadcast back onto the pair stream. The distinct-first
# projection keeps the join input at (order, part) grain so multi-line
# orders can't inflate counts.
_q(
    "basket_part_affinity",
    """
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
    freq AS (SELECT l_partkey, count(*) AS cnt FROM op GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS together
      FROM op a
      JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
      HAVING count(*) >= 3
    )
    SELECT part_a, part_b, together,
           round(cast(together AS double) * n_orders / (fa.cnt * fb.cnt), 6) AS lift
    FROM pairs
    JOIN freq fa ON part_a = fa.l_partkey
    JOIN freq fb ON part_b = fb.l_partkey
    CROSS JOIN n
    ORDER BY together DESC, part_a, part_b
    """,
)

_q(
    "win_percent_rank_cume_dist",
    """
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice, o_orderkey), 6) AS pct_rank,
           round(cume_dist() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey), 6)    AS cume,
           round(o_totalprice, 2) AS total
    FROM orders
    WHERE o_orderdate >= date '1997-01-01'
      AND o_orderdate <  date '1997-02-01'
    ORDER BY o_orderpriority, o_orderkey
    """,
)

# Deterministic train/validation/test splitting — a first-class
# training-data-pipeline operator. Assignment is a pure function of the
# stable document key (md5 hex prefix ranges ≈ 5% / 10% / 85%), so the
# split is reproducible on any cluster size, needs no shuffle beyond the
# final count, survives re-runs and backfills, and never leaks a
# document across splits. Both engines produce identical md5 hex, so the
# assignment itself is oracle-checked, not just the counts.
_q(
    "split_train_val_test",
    """
    SELECT split, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT CASE WHEN substr(md5(cast(doc_id AS string)), 1, 2) < '0d' THEN 'validation'
                  WHEN substr(md5(cast(doc_id AS string)), 1, 2) < '27' THEN 'test'
                  ELSE 'train' END AS split,
             n_chars
      FROM documents
    ) assigned
    GROUP BY split
    ORDER BY split
    """,
)


def _bloom_pos(key: str, salt: int, m_bits: int = 65536) -> str:
    """One Bloom position: salted md5 hex prefix folded mod ``m_bits``.

    Built on the same portable ``hex_prefix_int`` primitive as the
    MinHash permutations (10 hex digits < 2^40 keeps the mod in exact
    BIGINT range), so Spark and DuckDB compute bit-identical positions.
    """
    return _bloom_fold(_bloom_md5(key, salt), m_bits)


def _bloom_md5(key: str, salt: int) -> str:
    """The salted md5 hex string under one Bloom position."""
    return f"md5(concat(cast({key} AS string), '#{salt}'))"


def _bloom_fold(md5_expr: str, m_bits: int = 65536) -> str:
    """A Bloom position from its salted md5 hex string. hex_prefix_int
    names the string once per digit, so a caller that binds the md5 to
    a column first folds that column instead of repeating the md5 call
    10 times."""
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (
        hex_prefix_int,
    )

    return f"({hex_prefix_int(md5_expr, 10)} % {m_bits})"


def _bloom_sql() -> str:
    """Shared-dialect SQL for the Bloom pre-filter audit (see _q below)."""
    k_hashes = 3
    dim_pos = "\n      UNION ALL ".join(
        f"SELECT {_bloom_pos('k', s)} AS pos FROM dim" for s in range(k_hashes)
    )
    probe_pos = "\n      UNION ALL ".join(
        f"SELECT k, {_bloom_pos('k', s)} AS pos FROM probe" for s in range(k_hashes)
    )
    return f"""
    WITH dim AS (
      SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_totalprice > 400000
    ),
    probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
    dim_pos AS (
      SELECT DISTINCT pos FROM (
      {dim_pos}
      ) d
    ),
    probe_pos AS (
      {probe_pos}
    ),
    bloom_pass AS (
      SELECT p.k FROM probe_pos p JOIN dim_pos b ON p.pos = b.pos
      GROUP BY p.k HAVING count(*) = {k_hashes}
    ),
    truth AS (SELECT p.k FROM probe p JOIN dim d ON p.k = d.k),
    counts AS (
      SELECT (SELECT count(*) FROM probe)      AS n_probe,
             (SELECT count(*) FROM dim)        AS n_dim_keys,
             (SELECT count(*) FROM bloom_pass) AS n_bloom_pass,
             (SELECT count(*) FROM truth)      AS n_true_match,
             (SELECT count(*) FROM truth t LEFT JOIN bloom_pass bp ON t.k = bp.k
              WHERE bp.k IS NULL)              AS n_missed
    )
    SELECT n_probe, n_dim_keys, n_bloom_pass, n_true_match, n_missed,
           n_bloom_pass - n_true_match AS n_false_pos,
           round(cast(n_bloom_pass - n_true_match AS double)
                 / nullif(n_probe - n_true_match, 0), 6) AS fpr
    FROM counts
    """


# Bloom-filter semi-join pre-filter with a measured false-positive
# rate — the explicit form of the runtime-filter pushdown a 100 TB
# join lives or dies by (Spark's own runtime bloom does exactly this
# under AQE; here it is in-plan and auditable). The dim side's bit
# set is DISTINCT positions only (<= m=65536 rows regardless of dim
# cardinality — always broadcastable); the probe side is scanned once
# with k=3 row-local hashes and the membership check is an equi-join
# + bounded-fan-out (3) groupBy. The query reports the filter's
# economics (pass count, true matches, false positives, FPR) and
# proves the no-false-negative contract in-plan (n_missed = 0 by
# construction). Positions are salted md5 folds — bit-identical in
# both engines, so the oracle checks assignment, not just counts.
_q_staged("join_bloom_prefilter", _bloom_sql())

# Per-priority linear revenue trend — the regression-aggregate family
# (regr_slope / regr_intercept / regr_r2 / corr) over monthly revenue
# with a deterministic month-index x. One keyed rollup to 80 monthly
# points per group, then 5-group regression aggregates: the trend fit
# every forecasting dashboard starts from, computed entirely with
# partial-aggregable built-ins (no driver math). Revenue is rounded
# BEFORE the fit (shared input discipline); fit outputs round at
# scale-appropriate precision.
_q(
    "orders_regression_trend",
    """
    WITH m AS (
      SELECT o_orderpriority AS priority,
             cast((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
                  AS double) AS x,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT priority,
           cast(count(*) AS bigint)                 AS n_months,
           round(regr_slope(revenue, x), 2)         AS slope,
           round(regr_intercept(revenue, x), 2)     AS intercept,
           round(regr_r2(revenue, x), 6)            AS r2,
           round(corr(revenue, x), 6)               AS corr_xy
    FROM m GROUP BY priority ORDER BY priority
    """,
)

# Chi-square test of independence between event_type and weekday —
# the categorical-association check behind "does traffic shape depend
# on the day". Builds the FULL contingency grid (distinct types x
# distinct weekdays, zero-filled) so absent cells still contribute
# their expected mass; marginals come from windows over the grid (35
# rows), never a second scan. Weekday is the NAME from the shared
# format string (the heatmap's dialect-numbering guard). Output is
# the statistic + dof + n — the classic scan-once, reduce-to-one-row
# diagnostic.
_q(
    "events_chi_square",
    """
    WITH obs AS (
      SELECT event_type, date_format(ts, 'EEEE') AS weekday, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, d.weekday, coalesce(o.o, 0) AS o
      FROM (SELECT DISTINCT event_type FROM obs) t
      CROSS JOIN (SELECT DISTINCT weekday FROM obs) d
      LEFT JOIN obs o ON o.event_type = t.event_type AND o.weekday = d.weekday
    ),
    tot AS (
      SELECT o,
             event_type,
             weekday,
             sum(o) OVER (PARTITION BY event_type) AS row_tot,
             sum(o) OVER (PARTITION BY weekday)    AS col_tot,
             sum(o) OVER ()                        AS n
      FROM grid
    )
    SELECT cast(count(*) AS bigint) AS n_cells,
           cast(max(n) AS bigint)   AS n_events,
           cast((count(DISTINCT event_type) - 1)
                * (count(DISTINCT weekday) - 1) AS bigint) AS dof,
           round(sum(power(o - row_tot * cast(col_tot AS double) / n, 2)
                     / (row_tot * cast(col_tot AS double) / n)), 4) AS chi2
    FROM tot
    """,
    oracle="""
    WITH obs AS (
      SELECT event_type, strftime(ts, '%A') AS weekday, count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT t.event_type, d.weekday, coalesce(o.o, 0) AS o
      FROM (SELECT DISTINCT event_type FROM obs) t
      CROSS JOIN (SELECT DISTINCT weekday FROM obs) d
      LEFT JOIN obs o ON o.event_type = t.event_type AND o.weekday = d.weekday
    ),
    tot AS (
      SELECT o,
             event_type,
             weekday,
             sum(o) OVER (PARTITION BY event_type) AS row_tot,
             sum(o) OVER (PARTITION BY weekday)    AS col_tot,
             sum(o) OVER ()                        AS n
      FROM grid
    )
    SELECT cast(count(*) AS bigint) AS n_cells,
           cast(max(n) AS bigint)   AS n_events,
           cast((count(DISTINCT event_type) - 1)
                * (count(DISTINCT weekday) - 1) AS bigint) AS dof,
           round(sum(power(o - row_tot * cast(col_tot AS double) / n, 2)
                     / (row_tot * cast(col_tot AS double) / n)), 4) AS chi2
    FROM tot
    """,
)

# Welch two-sample t-test (unequal variances) between purchase and
# view event values — the A/B-comparison primitive. One grouped scan
# produces (n, mean, var) per arm; the statistic and the
# Welch-Satterthwaite dof are row-local arithmetic over the two
# single-row arms. var_samp/avg are partial-aggregable, so the whole
# test is one shuffle at any scale.
_q(
    "events_welch_ttest",
    """
    WITH s AS (
      SELECT event_type, count(*) AS n, avg(value) AS m, var_samp(value) AS v
      FROM events WHERE event_type IN ('purchase', 'view') GROUP BY event_type
    ),
    a AS (SELECT * FROM s WHERE event_type = 'purchase'),
    b AS (SELECT * FROM s WHERE event_type = 'view')
    SELECT cast(a.n AS bigint) AS n_purchase,
           cast(b.n AS bigint) AS n_view,
           round(a.m, 4) AS mean_purchase,
           round(b.m, 4) AS mean_view,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat,
           round(power(a.v / a.n + b.v / b.n, 2)
                 / (power(a.v / a.n, 2) / (a.n - 1)
                    + power(b.v / b.n, 2) / (b.n - 1)), 2) AS welch_dof
    FROM a CROSS JOIN b
    """,
)

# Open-order count per month via sweep-line — interval analytics
# WITHOUT an interval join: each order's open span (order month ->
# last ship month) becomes a +1 delta at the start and a -1 after the
# end; a single cumulative window over the ~80 delta months yields
# the concurrent-open count. This is the scale-correct shape for
# "how many intervals cover X" questions — the naive month-x-order
# range join is O(months x orders); the sweep is one rollup plus an
# 80-row window. Month keys are integer indices ((y-1995)*12+m-1),
# identical arithmetic in both engines.
_q(
    "orders_open_interval_sweep",
    """
    WITH span AS (
      SELECT o.o_orderkey,
             (year(o.o_orderdate) - 1995) * 12 + month(o.o_orderdate) - 1
               AS start_m,
             max((year(l.l_shipdate) - 1995) * 12 + month(l.l_shipdate) - 1)
               AS end_m
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    deltas AS (
      SELECT start_m AS m, 1 AS delta FROM span
      UNION ALL
      SELECT end_m + 1 AS m, -1 AS delta FROM span
    ),
    agg AS (
      SELECT m,
             cast(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS bigint)
               AS opened,
             cast(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS bigint)
               AS closed
      FROM deltas GROUP BY m
    )
    SELECT cast(m AS int) AS month_idx, opened, closed,
           cast(sum(opened - closed) OVER (ORDER BY m) AS bigint)
             AS open_after_month
    FROM agg ORDER BY month_idx
    """,
)


# Per-nation Gini coefficient of customer revenue — the inequality
# measure complementing the HHI entry (HHI asks "how concentrated are
# nations"; Gini asks "within a nation, how unequal are customers").
# Rank-based exact formula G = (2*sum(i*x_i) - (n+1)*sum(x)) /
# (n*sum(x)) over revenue ranked ascending with a custkey tiebreak.
# The ranking window runs over the CUSTOMER-level rollup partitioned
# by nation (the ABC/Pareto discipline: window the aggregate, never
# the order-scale relation); at 100 TB the same statistic estimates
# from quantile sketches if even the customer rollup outgrows a
# partition.
_q(
    "customers_gini_by_nation",
    """
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey AS custkey,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    ranked AS (
      SELECT c_nationkey, revenue,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY revenue, custkey) AS i
      FROM rev
    )
    SELECT n.n_name AS nation,
           cast(count(*) AS bigint) AS n_customers,
           round(sum(revenue), 2) AS revenue_total,
           round((2 * sum(i * revenue) - (count(*) + 1) * sum(revenue))
                 / (count(*) * sum(revenue)), 6) AS gini
    FROM ranked r JOIN nation n ON r.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)


# Autocorrelation of the hourly event rate at calendar-meaningful lags
# (1,2,3,6,12,24h) — the periodicity diagnostic behind "does this
# stream have a daily cycle". The event stream collapses to ~720
# hourly buckets in one partial-aggregated shuffle; each lag pairs the
# bucket relation with itself via an integer-offset equi-join (tiny x6
# fan-out on an already-aggregated relation, never on events) and
# corr() reduces each lag to one row.
_q(
    "events_hourly_autocorr",
    """
    WITH hourly AS (
      SELECT datediff(cast(ts AS date), date '2024-01-01') * 24
               + hour(ts) AS hidx,
             count(*) AS n
      FROM events GROUP BY 1
    ),
    lags AS (SELECT explode(array(1, 2, 3, 6, 12, 24)) AS lag)
    SELECT l.lag,
           cast(count(*) AS bigint) AS n_pairs,
           round(corr(a.n, b.n), 6) AS acf
    FROM hourly a
    JOIN lags l ON true
    JOIN hourly b ON b.hidx = a.hidx - l.lag
    GROUP BY l.lag
    ORDER BY l.lag
    """,
    oracle="""
    WITH hourly AS (
      SELECT date_diff('day', date '2024-01-01', cast(ts AS date)) * 24
               + extract(hour FROM ts) AS hidx,
             count(*) AS n
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag)
    SELECT cast(l.lag AS int) AS lag,
           cast(count(*) AS bigint) AS n_pairs,
           round(corr(a.n, b.n), 6) AS acf
    FROM hourly a
    JOIN lags l ON true
    JOIN hourly b ON b.hidx = a.hidx - l.lag
    GROUP BY l.lag
    ORDER BY l.lag
    """,
)


# Mann-Whitney U (Wilcoxon rank-sum) between purchase and view event
# values — the nonparametric complement of events_welch_ttest (no
# normality assumption; rank arithmetic is EXACT so the cross-engine
# comparison has no float-summation hazard until the final z). Ties
# get average ranks (min-rank + (tie_size-1)/2) and the variance
# carries the standard tie correction. The ranking window runs over
# the two-arm subset only; at 100 TB the same statistic computes from
# binned rank counts.
_q(
    "events_mannwhitney_u",
    """
    WITH arms AS (
      SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    ranked AS (
      SELECT is_a,
             rank() OVER (ORDER BY value) AS min_rank,
             count(*) OVER (PARTITION BY value) AS tie_n
      FROM arms
    ),
    stats AS (
      SELECT cast(sum(is_a) AS bigint) AS n_a,
             cast(sum(1 - is_a) AS bigint) AS n_b,
             sum(CASE WHEN is_a = 1
                      THEN min_rank + (tie_n - 1) / cast(2 AS double)
                      ELSE 0 END) AS r_a
      FROM ranked
    ),
    ties AS (
      SELECT coalesce(sum(cast(t AS double) * t * t - t), 0) AS tie_term
      FROM (SELECT count(*) AS t FROM arms GROUP BY value HAVING count(*) > 1) g
    ),
    final AS (
      SELECT n_a, n_b,
             r_a - n_a * (n_a + 1) / cast(2 AS double) AS u_stat,
             n_a * cast(n_b AS double) / 2 AS mean_u,
             sqrt(n_a * cast(n_b AS double) / 12
                  * ((n_a + n_b + 1)
                     - tie_term / ((n_a + n_b) * cast(n_a + n_b - 1 AS double))))
               AS sigma_u
      FROM stats CROSS JOIN ties
    )
    SELECT n_a AS n_purchase, n_b AS n_view,
           round(u_stat, 2) AS u_stat,
           round(mean_u, 2) AS mean_u,
           round(sigma_u, 4) AS sigma_u,
           round((u_stat - mean_u) / sigma_u, 4) AS z
    FROM final
    """,
)

# Benford first-significant-digit audit of order totals — the
# data-quality / fraud screen: observed first-digit shares against the
# Benford expectation log10(1 + 1/d). The digit is extracted from the
# INTEGER cents string (round(x*100) cast to bigint, then the first
# character) — integer-to-string formatting is stable in both engines,
# where double-to-string is not; scaling by 100 preserves the leading
# significant digit for x >= 1. One grouped count to 9 rows, shares
# from a window over those 9.
_q(
    "orders_benford_digits",
    """
    WITH digits AS (
      SELECT cast(substr(cast(cast(round(o_totalprice * 100, 0) AS bigint)
                              AS string), 1, 1) AS int) AS digit
      FROM orders
    ),
    counts AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit)
    SELECT digit,
           cast(n AS bigint) AS n_orders,
           round(n * cast(1 AS double) / sum(n) OVER (), 6) AS share,
           round(log10(1 + cast(1 AS double) / digit), 6) AS benford_expected
    FROM counts
    ORDER BY digit
    """,
)


# Two-sample Kolmogorov-Smirnov statistic between purchase and view
# values — the distribution-shape complement of the mean-level t-test
# and the rank-level U test. D = max |ECDF_a - ECDF_b| evaluated at
# the pooled distinct values: per-value arm counts (one grouped
# shuffle), cumulative windows over the distinct-value relation, and
# a one-row max. Counts stay exact integers until the two final
# divisions, so both engines walk identical ECDFs.
_q(
    "events_ks_test",
    """
    WITH arms AS (
      SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    tot AS (
      SELECT cast(sum(is_a) AS bigint) AS n_a,
             cast(sum(1 - is_a) AS bigint) AS n_b
      FROM arms
    ),
    per_v AS (
      SELECT value, sum(is_a) AS da, sum(1 - is_a) AS db
      FROM arms GROUP BY value
    ),
    cum AS (
      SELECT sum(da) OVER (ORDER BY value) AS ca,
             sum(db) OVER (ORDER BY value) AS cb
      FROM per_v
    )
    SELECT n_a AS n_purchase, n_b AS n_view,
           round(max(abs(ca * cast(1 AS double) / n_a
                         - cb * cast(1 AS double) / n_b)), 6) AS ks_d,
           round(max(abs(ca * cast(1 AS double) / n_a
                         - cb * cast(1 AS double) / n_b))
                 * sqrt(n_a * cast(n_b AS double) / (n_a + n_b)), 4) AS ks_scaled
    FROM cum CROSS JOIN tot
    GROUP BY n_a, n_b
    """,
)

# Kaplan-Meier survival curve for signup -> first-purchase conversion
# with a 7-day censoring horizon — time-to-event analytics done
# exactly: subjects are signup users, the event is the first purchase
# strictly after signup, durations are calendar-day differences, and
# anyone converting after day 7 (or never) is censored at 7 (the
# censor-after-event convention keeps them at risk through day 7).
# S(t) folds as exp(sum(ln(1 - d/n))) over the <= 8-row time relation;
# the d = n boundary is floored at 1e-12 (Spark's ln(0) is NULL where
# DuckDB's is -inf — the floor makes both round to 0.000000).
_q(
    "events_survival_km",
    """
    WITH s AS (
      SELECT user_id, min(ts) AS st FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.st
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    subj AS (
      SELECT s.user_id,
             CASE WHEN p.pt IS NOT NULL
                       AND datediff(cast(p.pt AS date), cast(s.st AS date)) <= 7
                  THEN datediff(cast(p.pt AS date), cast(s.st AS date))
                  ELSE 7 END AS dur,
             CASE WHEN p.pt IS NOT NULL
                       AND datediff(cast(p.pt AS date), cast(s.st AS date)) <= 7
                  THEN 1 ELSE 0 END AS observed
      FROM s LEFT JOIN p ON s.user_id = p.user_id
    ),
    totals AS (SELECT cast(count(*) AS bigint) AS n_subj FROM subj),
    counts AS (
      SELECT dur AS t,
             cast(sum(observed) AS bigint) AS d,
             cast(sum(1 - observed) AS bigint) AS c,
             cast(count(*) AS bigint) AS ends
      FROM subj GROUP BY dur
    ),
    risk AS (
      SELECT t, d, c,
             cast(n_subj - coalesce(sum(ends) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS bigint) AS n_risk
      FROM counts CROSS JOIN totals
    )
    SELECT cast(t AS int) AS t_day, n_risk AS n_at_risk,
           d AS n_events, c AS n_censored,
           round(exp(sum(ln(greatest(1 - d * cast(1 AS double) / n_risk,
                                     cast(1e-12 AS double))))
                     OVER (ORDER BY t)), 6) AS survival
    FROM risk
    ORDER BY t_day
    """,
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS st FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS pt
      FROM events e JOIN s ON e.user_id = s.user_id AND e.ts > s.st
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ),
    subj AS (
      SELECT s.user_id,
             CASE WHEN p.pt IS NOT NULL
                       AND date_diff('day', cast(s.st AS date), cast(p.pt AS date)) <= 7
                  THEN date_diff('day', cast(s.st AS date), cast(p.pt AS date))
                  ELSE 7 END AS dur,
             CASE WHEN p.pt IS NOT NULL
                       AND date_diff('day', cast(s.st AS date), cast(p.pt AS date)) <= 7
                  THEN 1 ELSE 0 END AS observed
      FROM s LEFT JOIN p ON s.user_id = p.user_id
    ),
    totals AS (SELECT cast(count(*) AS bigint) AS n_subj FROM subj),
    counts AS (
      SELECT dur AS t,
             cast(sum(observed) AS bigint) AS d,
             cast(sum(1 - observed) AS bigint) AS c,
             cast(count(*) AS bigint) AS ends
      FROM subj GROUP BY dur
    ),
    risk AS (
      SELECT t, d, c,
             cast(n_subj - coalesce(sum(ends) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS bigint) AS n_risk
      FROM counts CROSS JOIN totals
    )
    SELECT cast(t AS int) AS t_day, n_risk AS n_at_risk,
           d AS n_events, c AS n_censored,
           round(exp(sum(ln(greatest(1 - d * cast(1 AS double) / n_risk,
                                     cast(1e-12 AS double))))
                     OVER (ORDER BY t)), 6) AS survival
    FROM risk
    ORDER BY t_day
    """,
)

# Exponentially weighted moving average of the daily event rate —
# trailing 14-day window with decay 0.7^j, normalized by the weights
# actually present (missing days shrink the denominator instead of
# biasing the level). The x14 offset fan-out runs on the ~30-row
# DAILY rollup, never on events; weights are closed-form powers so
# the smoothing is stateless and replayable from any point — the
# batch property a backfill needs (a recursive EWMA would tie each
# day to full history).
_q(
    "events_ewma_daily",
    """
    WITH daily AS (
      SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, n, datediff(day, date '2024-01-01') AS di FROM daily
    ),
    offsets AS (SELECT explode(sequence(0, 13)) AS j),
    w AS (
      SELECT a.day, a.n, b.n AS nb, power(cast(0.7 AS double), o.j) AS wt
      FROM idx a
      JOIN offsets o ON true
      JOIN idx b ON b.di = a.di - o.j
    )
    SELECT cast(day AS string) AS day, cast(n AS bigint) AS n_events,
           round(sum(nb * wt) / sum(wt), 4) AS ewma
    FROM w GROUP BY day, n ORDER BY day
    """,
    oracle="""
    WITH daily AS (
      SELECT cast(ts AS date) AS day, count(*) AS n FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, n, date_diff('day', date '2024-01-01', day) AS di FROM daily
    ),
    offsets AS (SELECT unnest(range(0, 14)) AS j),
    w AS (
      SELECT a.day, a.n, b.n AS nb, power(cast(0.7 AS double), o.j) AS wt
      FROM idx a
      JOIN offsets o ON true
      JOIN idx b ON b.di = a.di - o.j
    )
    SELECT cast(day AS varchar) AS day, cast(n AS bigint) AS n_events,
           round(sum(nb * wt) / sum(wt), 4) AS ewma
    FROM w GROUP BY day, n ORDER BY day
    """,
)


def flagship_sql() -> str:
    """The minimum-slice query (SURVEY.md §7): scan → agg → order."""
    return SQL_QUERIES["q1_pricing_summary"]["sql"]
