"""ES|QL compiler semantics, pinned on hand-derived rows (the es_dsl
test discipline): stage behavior, expression grammar, loud rejections,
and both dialects compiling every registered statement."""

from __future__ import annotations

import duckdb
import pytest

from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
    ESQL_EVAL_KEEP,
    ESQL_FILTER_STATS,
    ESQL_MEDIAN_RENAME,
    compile_esql,
    esql_df,
)
from golang_db_query_engine_elasticsearch_indexer_spark.session import (
    footer_schemas,
)
from tests.conftest import SF_DIR


def _schemas():
    """Fixture schemas for the multi-index FROM statements compiled
    below."""
    return footer_schemas(
        ("region", "nation", "documents", "events"), SF_DIR
    )


@pytest.fixture()
def tiny():
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE t AS SELECT * FROM (VALUES
          (1, 'en', 'alpha beta',  10.0),
          (2, 'en', 'beta gamma',  20.0),
          (3, 'de', 'gamma delta', 30.0),
          (4, 'de', 'delta',       40.0),
          (5, 'fr', NULL,          NULL)
        ) AS x(id, lang, text, v)
        """
    )
    return con


def _rows(con, q):
    return con.execute(compile_esql(q, "duck", _schemas())).fetchall()


def test_where_eval_keep_sort_limit(tiny):
    rows = _rows(tiny, """FROM t
      | EVAL dv = v * 2, tag = CONCAT(lang, "!")
      | WHERE dv >= 40 AND lang != "fr"
      | KEEP id, tag, dv
      | SORT dv DESC, id ASC
      | LIMIT 2""")
    assert rows == [(4, "de!", 80.0), (3, "de!", 60.0)]


def test_stats_by_and_aggs(tiny):
    rows = _rows(tiny, """FROM t
      | STATS n = COUNT(*), nv = COUNT(v), s = SUM(v), a = AVG(v),
              m = MEDIAN(v), langs = COUNT_DISTINCT(lang)
      """)
    (n, nv, s, a, m, langs), = rows
    assert (n, nv, langs) == (5, 4, 3)
    assert s == 100.0 and a == 25.0 and m == 25.0
    by = _rows(tiny, "FROM t | STATS n = COUNT(*) BY lang | SORT lang")
    assert by == [("de", 2), ("en", 2), ("fr", 1)]


def test_like_wildcards_and_predicates(tiny):
    rows = _rows(tiny, 'FROM t | WHERE text LIKE "*beta*" | SORT id')
    assert [r[0] for r in rows] == [1, 2]
    rows = _rows(tiny, 'FROM t | WHERE text LIKE "delt?" | SORT id')
    assert [r[0] for r in rows] == [4]
    rows = _rows(tiny, "FROM t | WHERE v IS NULL")
    assert [r[0] for r in rows] == [5]
    rows = _rows(tiny, 'FROM t | WHERE lang IN ("en", "fr") | SORT id')
    assert [r[0] for r in rows] == [1, 2, 5]
    rows = _rows(tiny, "FROM t | WHERE NOT (v > 15) | SORT id")
    assert [r[0] for r in rows] == [1]  # NULL fails the negation too


def test_drop_and_rename(tiny):
    rows = tiny.execute(compile_esql(
        "FROM t | DROP text, v | RENAME lang AS language | SORT id"
        " | LIMIT 1", "duck")).fetchdf()
    assert list(rows.columns) == ["id", "language"]


def test_esql_rejections(tiny):
    for q, msg in [
        ("", "empty query"),
        ("WHERE x == 1", "source command must be FROM"),
        ("FROM t | RERANK x", "requires a deployed inference model"),
        ("FROM t | COMPLETION x", "requires a deployed inference"),
        ("FROM t | RRF", "unsupported command"),
        ("FROM t | FORK a", "FORK wants .branch."),
        ("FROM t | FORK (WHERE v > 1)", "2..8"),
        ("FROM t | ENRICH p", "ENRICH wants"),
        ("FROM t | ENRICH p ON k WITH", "ENRICH WITH wants"),
        ("FROM t | WHERE x ~ 1", "unsupported syntax"),
        ("FROM t | STATS PERCENTILE(v)", "wants .field, percentile."),
        ("FROM t | STATS PERCENTILE(v, 101)", "must be 0..100"),
        ("FROM t | EVAL d = DATE_DIFF(\"month\", a, b)",
         "DATE_DIFF unit 'month' unsupported"),
        ("FROM t | EVAL d = DATE_FORMAT(\"yyyy-QQ\", a)",
         "DATE_FORMAT token"),
        ("FROM region, nope | LIMIT 1",
         "multi-index FROM knows only"),
        ("FROM zz* | LIMIT 1", "must be expanded before compile"),
        ("FROM t | WHERE SUM(v) > 1", "only inside STATS"),
        ("FROM t | STATS n = COUNT(*) BY v + 1",
         "BY wants plain column names"),
        ("FROM t | LIMIT many", "LIMIT wants one integer"),
        ("FROM t | EVAL 3 = v", "EVAL wants name"),
        ("FROM t | SORT v NULLS", "SORT wants column"),
        ('FROM t | WHERE text LIKE 5', "LIKE wants a string"),
        # \-escapes other than \" parse differently across dialects
        # (Spark unescapes '\t' to a tab, DuckDB keeps it literal):
        # the compiler must raise, not silently mistranslate.
        ('FROM t | WHERE text == "a\\tb"',
         "may not contain backslashes"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")
    # the one supported escape still round-trips
    assert "'a\"b'" in compile_esql(
        'FROM t | WHERE text == "a\\"b"', "duck")


def test_registered_statements_compile_both_dialects():
    for q in (ESQL_FILTER_STATS, ESQL_EVAL_KEEP, ESQL_MEDIAN_RENAME):
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_esql(q, dialect)


def test_date_trunc_case_starts_with(tiny):
    tiny.execute("ALTER TABLE t ADD COLUMN ts TIMESTAMP")
    tiny.execute(
        "UPDATE t SET ts = TIMESTAMP '2024-01-01 00:00:00'"
        " + to_hours(id * 30)"
    )
    rows = _rows(tiny, '''FROM t
      | EVAL day = DATE_TRUNC("day", ts),
             band = CASE(v < 15, "low", v < 35, "mid", "high")
      | KEEP id, day, band
      | SORT id''')
    assert [str(r[1])[:10] for r in rows] == [
        "2024-01-02", "2024-01-03", "2024-01-04", "2024-01-06",
        "2024-01-07",
    ]
    # row 5's v is NULL: both conditions evaluate NULL (not true), so
    # the default arm applies — the ES|QL CASE fall-through rule
    assert [r[2] for r in rows] == ["low", "mid", "mid", "high", "high"]
    rows = _rows(tiny, '''FROM t
      | WHERE STARTS_WITH(text, SUBSTRING("beta!", 1, 4))
      | SORT id''')
    assert [r[0] for r in rows] == [2]
    for q, msg in [
        ('FROM t | EVAL d = DATE_TRUNC("eon", ts)',
         "DATE_TRUNC unit 'eon'"),
        ("FROM t | EVAL d = DATE_TRUNC(ts)", "wants .unit, field."),
        ("FROM t | EVAL c = CASE(v)", "cond, value pairs"),
        ("FROM t | LOOKUP JOIN a b", "LOOKUP wants JOIN"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_lookup_join_enriches(tiny):
    tiny.execute(
        "CREATE TABLE langs AS SELECT * FROM (VALUES"
        " ('en', 'English'), ('de', 'German')) AS x(lang, lang_name)"
    )
    rows = _rows(tiny, """FROM t
      | LOOKUP JOIN langs ON lang
      | KEEP id, lang_name
      | SORT id""")
    assert rows == [(1, "English"), (2, "English"), (3, "German"),
                    (4, "German"), (5, None)]


def test_dissect_grok_and_rlike(tiny):
    """DISSECT splits on literal separators; GROK's named patterns
    extract typed captures; non-matching rows keep the row with NULL
    captures (the ES behavior, pinned across both engines' different
    no-match results); RLIKE is a partial regex match."""
    tiny.execute("ALTER TABLE t ADD COLUMN line VARCHAR")
    tiny.execute("""UPDATE t SET line = CASE id
        WHEN 1 THEN 'GET /a 200'
        WHEN 2 THEN 'POST /b 404'
        WHEN 3 THEN 'GET /c 500'
        WHEN 4 THEN 'garbage' END""")
    rows = _rows(tiny, '''FROM t
      | GROK line "%{WORD:verb} %{NOTSPACE:path} %{INT:code:int}"
      | KEEP id, verb, code
      | SORT id''')
    assert rows == [(1, "GET", 200), (2, "POST", 404),
                    (3, "GET", 500), (4, None, None), (5, None, None)]
    rows = _rows(tiny, '''FROM t
      | DISSECT line "%{verb} %{rest}"
      | WHERE verb == "GET"
      | KEEP id, rest
      | SORT id''')
    assert rows == [(1, "/a 200"), (3, "/c 500")]
    rows = _rows(tiny, 'FROM t | WHERE line RLIKE "[0-9]{3}$" | SORT id')
    assert [r[0] for r in rows] == [1, 2, 3]
    for q, msg in [
        ('FROM t | GROK line "%{NOPE:x}"', "unsupported grok pattern"),
        ('FROM t | GROK line "no keys"', "pattern has no"),
        ("FROM t | MV_EXPAND a b", "MV_EXPAND wants one column"),
        ('FROM t | WHERE line RLIKE "a\\\\d"', "may not contain quotes"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_mv_expand_explodes(tiny):
    tiny.execute(
        "CREATE TABLE arr AS SELECT * FROM (VALUES"
        " (1, [10, 20]), (2, [30])) AS x(id, vals)"
    )
    rows = _rows(tiny, """FROM arr
      | MV_EXPAND vals
      | STATS n = COUNT(*), s = SUM(vals) BY id
      | SORT id""")
    assert rows == [(1, 2, 30.0), (2, 1, 30.0)]


def test_stats_by_aliased_expression(tiny):
    """BY name = <expr>: the expression groups, the alias names the
    key column — the EVAL-free form of time bucketing."""
    tiny.execute("ALTER TABLE t ADD COLUMN ts2 TIMESTAMP")
    tiny.execute(
        "UPDATE t SET ts2 = TIMESTAMP '2024-01-01 00:00:00'"
        " + to_hours(id * 30)"
    )
    rows = _rows(tiny, '''FROM t
      | STATS n = COUNT(*) BY day = DATE_TRUNC("day", ts2), lang
      | SORT day, lang''')
    assert [(str(r[0])[:10], r[1], r[2]) for r in rows] == [
        ("2024-01-02", "en", 1), ("2024-01-03", "en", 1),
        ("2024-01-04", "de", 1), ("2024-01-06", "de", 1),
        ("2024-01-07", "fr", 1),
    ]
    with pytest.raises(ValueError, match="STATS BY wants plain column"):
        compile_esql("FROM t | STATS n = COUNT(*) BY v + 1", "duck")


def test_where_after_stats_is_having(tiny):
    """Pipe composition gives HAVING for free: WHERE after STATS
    filters the aggregated buckets (each stage nests the previous)."""
    rows = _rows(tiny, """FROM t
      | STATS n = COUNT(*), s = SUM(v) BY lang
      | WHERE n >= 2 AND s > 40
      | SORT lang""")
    assert rows == [("de", 2, 70.0)]


def test_inlinestats_windows(tiny):
    """INLINESTATS keeps the rows and adds the group statistic — the
    window-function shape — so later stages can compare each row to
    its group (the above-group-average idiom)."""
    rows = _rows(tiny, """FROM t
      | INLINESTATS a = AVG(v), n = COUNT(*) BY lang
      | WHERE v > a
      | KEEP id, lang, n
      | SORT id""")
    assert rows == [(2, "en", 2), (4, "de", 2)]
    rows = _rows(tiny, """FROM t
      | INLINESTATS total = SUM(v)
      | KEEP id, total
      | SORT id
      | LIMIT 1""")
    assert rows == [(1, 100.0)]
    for q, msg in [
        ("FROM t | INLINESTATS MEDIAN(v)", "wants name = AGG"),
        ("FROM t | INLINESTATS m = MEDIAN(v)",
         "COUNT/SUM/AVG/MIN/MAX"),
        ("FROM t | INLINESTATS s = SUM(*)", "only COUNT takes"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_conversions_and_trim(tiny):
    """TO_STRING/TO_INTEGER/TO_LONG/TO_DOUBLE and TRIM; integer
    conversion truncates toward zero in BOTH engines (DuckDB's
    rounding cast is trunc()-guarded)."""
    rows = _rows(tiny, """FROM t
      | EVAL s = TO_STRING(id), i = TO_INTEGER(v / 15),
             d = TO_DOUBLE(id) / 2
      | KEEP id, s, i, d
      | SORT id""")
    assert rows[0] == (1, "1", 0, 0.5)
    assert rows[3] == (4, "4", 2, 2.0)   # 40/15 = 2.67 truncates to 2
    rows = _rows(tiny, 'FROM t | EVAL x = TRIM("  ok  ") | KEEP x | LIMIT 1')
    assert rows == [("ok",)]


def test_prefix_case_insensitive_flag(tiny):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_search,
    )

    body = {"query": {"prefix": {"text": {
        "value": "ALPHA", "case_insensitive": True}}},
        "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"]}
    ids = [r[0] for r in tiny.execute(
        compile_search("t", {**body, "sort": [{"id": "asc"}],
                             "_source": ["id"]}, "duck", "id")
    ).fetchall()]
    assert ids == [1]


def test_percentile_exact_interpolated(tiny):
    rows = _rows(tiny, """FROM t
      | STATS p50 = PERCENTILE(v, 50), p95 = PERCENTILE(v, 95)""")
    # v = [10, 20, 30, 40] (NULL excluded): p50 = 25, p95 = 38.5
    assert rows == [(25.0, 38.5)]


def test_date_format_and_diff(tiny):
    tiny.execute(
        """CREATE TABLE ev AS SELECT * FROM (VALUES
             (1, TIMESTAMP '2024-03-05 10:30:00',
                 TIMESTAMP '2024-03-05 13:45:00'),
             (2, TIMESTAMP '2024-03-05 12:00:00',
                 TIMESTAMP '2024-03-05 10:30:00')
           ) AS x(id, a, b)"""
    )
    rows = _rows(tiny, """FROM ev
      | EVAL day = DATE_FORMAT("yyyy-MM-dd HH:mm", a),
             dh = DATE_DIFF("hour", a, b),
             dm = DATE_DIFF("minute", a, b)
      | KEEP id, day, dh, dm
      | SORT id""")
    # row 2: -1.5h truncates toward zero to -1 (not floor -2)
    assert rows == [(1, "2024-03-05 10:30", 3, 195),
                    (2, "2024-03-05 12:00", -1, -90)]


def test_mv_family(tiny):
    tiny.execute(
        """CREATE TABLE arr AS SELECT * FROM (VALUES
             (1, [1.0, 2.0, 4.0]::DOUBLE[], ['a','b']::VARCHAR[]),
             (2, []::DOUBLE[],              []::VARCHAR[]),
             (3, NULL::DOUBLE[],            NULL::VARCHAR[])
           ) AS x(id, xs, ss)"""
    )
    rows = _rows(tiny, """FROM arr
      | EVAL n = MV_COUNT(xs), lo = MV_MIN(xs), hi = MV_MAX(xs),
             s = MV_SUM(xs), m = MV_AVG(xs), c = MV_CONCAT(ss, "-")
      | KEEP id, n, lo, hi, s, m, c
      | SORT id""")
    assert rows[0][:5] == (1, 3, 1.0, 4.0, 7.0)
    assert abs(rows[0][5] - 7.0 / 3) < 1e-5  # avg quantized to 6dp
    assert rows[0][6] == "a-b"
    # empty array: count 0, everything else NULL (pinned across
    # engines — Spark's aggregate()/array_join() would return the
    # seed / '' without the compiled CASE guards)
    assert rows[1] == (2, 0, None, None, None, None, None)
    assert rows[2] == (3, None, None, None, None, None, None)


def test_enrich_join(tiny):
    tiny.execute(
        """CREATE TABLE pol AS SELECT * FROM (VALUES
             (1, 'one', 10), (2, 'two', 20), (9, 'nine', 90)
           ) AS x(id, nm, extra)"""
    )
    rows = _rows(tiny, """FROM t
      | ENRICH pol ON id WITH label = nm
      | KEEP id, label
      | SORT id""")
    assert rows == [(1, "one"), (2, "two"), (3, None), (4, None),
                    (5, None)]
    # only the WITH projection joins in: `extra` must not leak through
    cols = tiny.execute(compile_esql(
        "FROM t | ENRICH pol ON id WITH label = nm | LIMIT 1", "duck"
    )).fetchdf().columns
    assert "extra" not in list(cols)


def test_multi_index_from_union(tiny):
    tiny.execute("CREATE TABLE region AS SELECT 1 AS r_regionkey,"
                 " 'AMERICA' AS r_name")
    tiny.execute("CREATE TABLE nation AS SELECT 7 AS n_nationkey,"
                 " 'FRANCE' AS n_name, 1 AS n_regionkey")
    rows = _rows(tiny, """FROM region, nation
      | EVAL kind = CASE(r_regionkey IS NOT NULL, "region", "nation")
      | KEEP kind, r_name, n_name
      | SORT kind""")
    # missing columns NULL-pad per the ES rule
    assert rows == [("nation", None, "FRANCE"),
                    ("region", "AMERICA", None)]


def test_from_wildcards_resolve_against_session(spark, tables):
    """esql_df expands FROM wildcards against the request session's
    indices, then compiles the union over their catalog schemas."""
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        NotFoundError,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        _resolve_from,
    )

    q, schemas = _resolve_from(spark, "FROM e* | LIMIT 1")
    assert q == "FROM embeddings, events | LIMIT 1"
    sql = compile_esql(q, "spark", schemas)
    assert "UNION ALL" in sql and "NULL AS" in sql
    assert "events" in sql and "embeddings" in sql
    # duplicate mentions collapse; single-name wildcard skips the union
    q, schemas = _resolve_from(spark, "FROM r*, region | LIMIT 1")
    assert (q, schemas) == ("FROM region | LIMIT 1", {})
    assert "UNION ALL" not in compile_esql(q, "spark", schemas)
    with pytest.raises(NotFoundError, match="no indices match"):
        esql_df(spark, "FROM zz* | LIMIT 1")


def test_union_uid_unique_per_row(tiny):
    """ADVICE r12 (medium): the union's ``_uid`` must be unique per
    distinct row, not per first-column value — lineitem's l_orderkey
    repeats per order, so the r12 first-column _uid left pagination
    engine-arbitrary for exactly the rows it was added to pin. The
    fix hashes every cross-engine-stable column of the branch."""
    from pyspark.sql import types as T

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        union_all_sql,
    )

    def schema(**cols):
        return T.StructType([T.StructField(c, t) for c, t in cols.items()])

    tiny.execute(
        """CREATE TABLE li AS SELECT * FROM (VALUES
             (1, 1, 'A'), (1, 2, 'B'), (2, 1, 'A')
           ) AS x(ok, ln, fl)"""
    )
    tiny.execute("CREATE TABLE hdr AS SELECT 3 AS ok")
    sql = union_all_sql({
        "li": schema(ok=T.IntegerType(), ln=T.IntegerType(),
                     fl=T.StringType()),
        "hdr": schema(ok=T.IntegerType()),
    }, uid=True)
    uids = [
        r[0]
        for r in tiny.execute(f"SELECT _uid FROM ({sql})").fetchall()
    ]
    # 4 rows, 4 distinct _uids — despite ok=1 repeating in li
    assert len(uids) == 4 and len(set(uids)) == 4
    assert all(u for u in uids)  # never NULL/empty
    # r13 self-review pin: per-column tokens make the hash immune to
    # delimiter ambiguity — ('a|b','c') vs ('a','b|c') — and to a
    # literal value colliding with the NULL sentinel
    tiny.execute(
        """CREATE TABLE amb AS SELECT * FROM (VALUES
             ('a|b', 'c'), ('a', 'b|c'), ('n', NULL), (NULL, 'n')
           ) AS x(s1, s2)"""
    )
    sql2 = union_all_sql(
        {"amb": schema(s1=T.StringType(), s2=T.StringType())}, uid=True
    )
    uids2 = [
        r[0]
        for r in tiny.execute(f"SELECT _uid FROM ({sql2})").fetchall()
    ]
    assert len(uids2) == 4 and len(set(uids2)) == 4
    # the fixture-table compile hashes beyond the first column too
    fix = union_all_sql(footer_schemas(("lineitem",), SF_DIR), uid=True)
    assert "md5(cast(l_orderkey" in fix
    assert "md5(cast(l_linenumber" in fix


def test_mv_family_cross_engine(spark, tiny):
    """The MV_* guards must make BOTH engines emit identical rows,
    empty/NULL arrays included."""
    tiny.execute(
        """CREATE TABLE arr2 AS SELECT * FROM (VALUES
             (1, [1.5, 2.25]::DOUBLE[], ['x','y']::VARCHAR[]),
             (2, []::DOUBLE[],          []::VARCHAR[]),
             (3, NULL::DOUBLE[],        NULL::VARCHAR[])
           ) AS x(id, xs, ss)"""
    )
    spark.createDataFrame(
        [(1, [1.5, 2.25], ["x", "y"]), (2, [], []), (3, None, None)],
        "id bigint, xs array<double>, ss array<string>",
    ).createOrReplaceTempView("arr2")
    q = """FROM arr2
      | EVAL n = MV_COUNT(xs), lo = MV_MIN(xs), hi = MV_MAX(xs),
             s = MV_SUM(xs), m = MV_AVG(xs), c = MV_CONCAT(ss, "-")
      | KEEP id, n, lo, hi, s, m, c
      | SORT id"""
    duck_rows = tiny.execute(compile_esql(q, "duck")).fetchall()
    spark_rows = [tuple(r) for r in
                  spark.sql(compile_esql(q, "spark")).collect()]
    assert duck_rows == spark_rows
    spark.catalog.dropTempView("arr2")


def test_stats_per_agg_where(tiny):
    """STATS x = AGG(e) WHERE cond (ES 8.13): the predicate filters
    ONE aggregate, not the stage."""
    rows = _rows(tiny, """FROM t
      | STATS en = COUNT(*) WHERE lang == "en",
              de_sum = SUM(v) WHERE lang == "de",
              n = COUNT(*)""")
    assert rows == [(2, 70.0, 5)]
    # composes with BY and with PERCENTILE/AVG's two-agg rendering
    rows = _rows(tiny, """FROM t
      | STATS big = AVG(v) WHERE v >= 20 BY lang
      | SORT lang""")
    assert rows == [("de", 35.0), ("en", 20.0), ("fr", None)]


def test_sort_null_ordering_pinned(tiny):
    """Bare SORT renders EXPLICIT NULLS LAST (asc) / FIRST (desc) —
    the ES rule (null = largest) — because Spark and DuckDB defaults
    are opposite and a LIMIT would otherwise pick different rows."""
    sql = compile_esql("FROM t | SORT v | LIMIT 2", "duck")
    assert "v ASC NULLS LAST" in sql
    sql = compile_esql("FROM t | SORT v DESC | LIMIT 2", "spark")
    assert "v DESC NULLS FIRST" in sql
    rows = _rows(tiny, "FROM t | SORT v DESC | KEEP id | LIMIT 2")
    assert [r[0] for r in rows] == [5, 4]  # null first under DESC
    rows = _rows(tiny, "FROM t | SORT v DESC NULLS LAST | KEEP id"
                       " | LIMIT 2")
    assert [r[0] for r in rows] == [4, 3]  # explicit override wins


def test_row_source_and_scalar_functions(tiny):
    rows = _rows(tiny, """ROW a = 16, s = "a,b,,c"
      | EVAL r = SQRT(a), c = CEIL(a / 10), f = FLOOR(a / 10),
             l = LEFT(s, 3), rr = RIGHT(s, 3), rep = REPLACE(s, ",", "-"),
             rev = REVERSE("abc"), g = GREATEST(1, 5, 3),
             parts = MV_COUNT(SPLIT(s, ","))""")
    (a, s, r, c, f, l, rr, rep, rev, g, parts), = rows
    assert (r, c, f) == (4.0, 2.0, 1.0)
    assert (l, rr, rep, rev, g) == ("a,b", ",,c", "a-b--c", "cba", 5)
    assert parts == 4  # empty field between the double commas survives


def test_mv_sort_dedupe_slice(tiny):
    tiny.execute("CREATE TABLE mv AS SELECT"
                 " [3.0, 1.0, 2.0, 1.0, NULL]::DOUBLE[] AS xs")
    rows = _rows(tiny, """FROM mv
      | EVAL asc_first = MV_SLICE(MV_SORT(xs), 0, 0),
             desc_all = MV_SORT(xs, "DESC"),
             ded = MV_DEDUPE(xs)""")
    (_, asc_first, desc_all, ded), = rows
    assert asc_first == [1.0]
    # DESC = exact reverse of nulls-last ASC -> null leads
    # (the duplicate 1.0 survives: sort is not dedupe)
    assert desc_all == [None, 3.0, 2.0, 1.0, 1.0]
    # dedupe pins sorted, NULL-dropped output
    assert ded == [1.0, 2.0, 3.0]
    for q, msg in [
        ("FROM mv | EVAL x = MV_SLICE(xs, 2, 1)", "start must be <= end"),
        ("FROM mv | EVAL x = MV_SLICE(xs, a, 1)",
         "non-negative integer literals"),
        ('FROM mv | EVAL x = MV_SORT(xs, "weird")',
         'order must be "ASC" or "DESC"'),
        ('FROM mv | EVAL x = SPLIT(xs, ",,")', None),
        ('ROW x = SPLIT("a", s)', "separator must be a string literal"),
    ]:
        if msg is None:
            continue
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_mv_transforms_cross_engine(spark, tiny):
    """MV_SORT/MV_DEDUPE/MV_SLICE/SPLIT must emit identical rows in
    both engines (the dedup/order pinning is the point)."""
    tiny.execute("CREATE TABLE mvx AS SELECT 1 AS id,"
                 " [2.0, 1.0, 2.0, NULL]::DOUBLE[] AS xs,"
                 " 'a.b.c' AS s")
    spark.createDataFrame(
        [(1, [2.0, 1.0, 2.0, None], "a.b.c")],
        "id bigint, xs array<double>, s string",
    ).createOrReplaceTempView("mvx")
    q = """FROM mvx
      | EVAL ded = MV_DEDUPE(xs), top = MV_SLICE(MV_SORT(xs, "DESC"), 0, 1),
             parts = SPLIT(s, ".")
      | KEEP id, ded, top, parts"""
    duck_rows = tiny.execute(compile_esql(q, "duck")).fetchall()
    spark_rows = [tuple(r) for r in
                  spark.sql(compile_esql(q, "spark")).collect()]
    assert duck_rows == spark_rows
    # the '.' separator is literal, NOT regex-any-char, in both
    assert duck_rows[0][3] == ["a", "b", "c"]
    spark.catalog.dropTempView("mvx")


def test_from_metadata_index(tiny):
    """FROM ... METADATA _index exposes the source name as a column —
    single index, multi-index union (per-branch constant), and the
    loud raise for unsupported metadata fields."""
    tiny.execute("CREATE TABLE r2 AS SELECT 1 AS r_regionkey,"
                 " 'A' AS r_name")
    # _rows passes the fixture schemas of region/nation; reuse them
    tiny.execute("CREATE TABLE region AS SELECT 2 AS r_regionkey,"
                 " 'B' AS r_name")
    tiny.execute("CREATE TABLE nation AS SELECT 7 AS n_nationkey,"
                 " 'FR' AS n_name, 2 AS n_regionkey")
    rows = _rows(tiny, """FROM region, nation METADATA _index
      | STATS n = COUNT(*) BY _index | SORT _index""")
    assert rows == [("nation", 1), ("region", 1)]
    rows = _rows(tiny, "FROM t METADATA _index | KEEP _index | LIMIT 1")
    assert rows == [("t",)]
    with pytest.raises(ValueError, match="unsupported METADATA"):
        compile_esql("FROM t METADATA _id | LIMIT 1", "duck")


def test_mtermvectors_relation(tiny):
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import (
        mtermvectors_sql,
    )

    sql = mtermvectors_sql("t", [1, 4, 999], "text", "id", "duck")
    rows = tiny.execute(sql).fetchall()
    # doc 1: 'alpha beta'; doc 4: 'delta'; 999 absent
    assert rows == [
        (1, "alpha", 1), (1, "beta", 1), (4, "delta", 1),
    ]


def test_date_extract_locate_ends_with(tiny):
    tiny.execute("ALTER TABLE t ADD COLUMN ts2 TIMESTAMP")
    tiny.execute("UPDATE t SET ts2 = TIMESTAMP '2024-03-05 10:30:45'")
    rows = _rows(tiny, """FROM t
      | WHERE ENDS_WITH(text, "beta") OR LOCATE(text, "delta") > 0
      | EVAL h = DATE_EXTRACT("hour_of_day", ts2),
             s = DATE_EXTRACT("second_of_minute", ts2),
             pos = LOCATE(text, "beta")
      | KEEP id, h, s, pos
      | SORT id""")
    # 1: 'alpha beta' ends with beta; 3/4 contain delta
    assert rows == [(1, 10, 45, 7), (3, 10, 45, 0), (4, 10, 45, 0)]
    for q, msg in [
        ('FROM t | EVAL x = DATE_EXTRACT("era", ts2)',
         "DATE_EXTRACT field 'era' unsupported"),
        ("FROM t | EVAL x = DATE_EXTRACT(ts2)", "wants .field, date."),
        ("FROM t | EVAL x = LOCATE(text)", "wants .string, substring."),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_bucket_time_and_numeric(tiny):
    tiny.execute("CREATE TABLE ev2 AS SELECT * FROM (VALUES"
                 " (1, TIMESTAMP '2024-03-05 02:10:00', 12.0),"
                 " (2, TIMESTAMP '2024-03-05 07:59:00', 37.0),"
                 " (3, TIMESTAMP '2024-03-05 13:00:00', 61.0),"
                 " (4, TIMESTAMP '2024-03-06 01:00:00', 99.0)"
                 ") AS x(id, ts, v)")
    rows = _rows(tiny, """FROM ev2
      | EVAL day = BUCKET(ts, 1 day), six = BUCKET(ts, 6 hours),
             vb = BUCKET(v, 5, 0, 100)
      | KEEP id, day, six, vb
      | SORT id""")
    assert [str(r[1])[:10] for r in rows] == ["2024-03-05"] * 3 + [
        "2024-03-06"]
    assert [str(r[2])[11:16] for r in rows] == [
        "00:00", "06:00", "12:00", "00:00"]
    # width ladder picks 20 for (5, 0, 100); zero-anchored buckets
    assert [r[3] for r in rows] == [0.0, 20.0, 60.0, 80.0]
    # widths < 1e-4 repr in scientific notation; the literal must
    # stay a valid DOUBLE in both dialects (ADVICE r11: '1e-05e0'
    # was a syntax error)
    for dialect in ("duck", "spark"):
        tiny_sql = compile_esql(
            "FROM ev2 | EVAL b = BUCKET(v, 100, 0, 0.001) | KEEP id, b"
            " | SORT id", dialect)
        assert "e0e" not in tiny_sql and "1e-05" in tiny_sql
    tiny_rows = _rows(
        tiny, "FROM ev2 | EVAL b = BUCKET(v, 100, 0, 0.001)"
        " | KEEP id, b | SORT id | LIMIT 1")
    assert abs(tiny_rows[0][1] - 12.0) < 1e-5  # bucket of v=12.0
    for q, msg in [
        ("FROM ev2 | EVAL b = BUCKET(ts, 3 months)",
         "unsupported for count > 1"),
        ("FROM ev2 | EVAL b = BUCKET(v, 0, 0, 100)",
         "count >= 1 and max > min"),
        ("FROM ev2 | EVAL b = BUCKET(v, 5, a, 100)",
         "literal .count, min, max."),
        ("FROM ev2 | EVAL b = BUCKET(v)", "BUCKET wants"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_bucket_cross_engine(spark, tiny):
    """Repeated fixed spans bucket on integer epoch micros — the two
    engines must emit identical timestamps and numeric buckets."""
    tiny.execute("CREATE TABLE ev3 AS SELECT * FROM (VALUES"
                 " (1, TIMESTAMP '2024-03-05 02:10:00', 12.5),"
                 " (2, TIMESTAMP '2024-03-05 22:59:00', 87.5)"
                 ") AS x(id, ts, v)")
    spark.createDataFrame(
        [(1, "2024-03-05 02:10:00", 12.5), (2, "2024-03-05 22:59:00", 87.5)],
        "id bigint, ts_s string, v double",
    ).selectExpr("id", "cast(ts_s AS timestamp) AS ts", "v") \
        .createOrReplaceTempView("ev3")
    q = """FROM ev3
      | EVAL six = BUCKET(ts, 6 hours), vb = BUCKET(v, 10, 0, 100)
      | KEEP id, six, vb
      | SORT id"""
    duck_rows = [(r[0], str(r[1]), r[2]) for r in
                 tiny.execute(compile_esql(q, "duck")).fetchall()]
    spark_rows = [(r[0], str(r[1]), r[2]) for r in
                  spark.sql(compile_esql(q, "spark")).collect()]
    assert duck_rows == spark_rows
    spark.catalog.dropTempView("ev3")


def test_sample_deterministic(tiny):
    """SAMPLE <prob> ON <field> [<seed>] — the documented
    deterministic deviation: same seed -> same rows (reproducible
    across engines/retries); different seed -> (almost surely) a
    different subset; the bare spec rand() form is rejected loudly."""
    tiny.execute("CREATE TABLE many AS SELECT range AS id, "
                 "range * 1.5 AS val FROM range(1000)")
    a1 = _rows(tiny, "FROM many | SAMPLE 0.3 ON id 5 | SORT id")
    a2 = _rows(tiny, "FROM many | SAMPLE 0.3 ON id 5 | SORT id")
    assert a1 == a2 and 0 < len(a1) < 1000
    # the rate lands near the probability (md5 is uniform)
    assert 200 < len(a1) < 400
    b = _rows(tiny, "FROM many | SAMPLE 0.3 ON id 6 | SORT id")
    assert b != a1
    # seedless form defaults seed=0 and still works
    c = _rows(tiny, "FROM many | SAMPLE 0.3 ON id | SORT id")
    assert 200 < len(c) < 400
    # REGRESSION (review r12): NULL keys are excluded EXPLICITLY —
    # without the guard DuckDB's NULL-skipping concat gave the whole
    # NULL block one shared coin while Spark dropped it
    tiny.execute("CREATE TABLE withnull AS SELECT "
                 "CASE WHEN range < 5 THEN range END AS id FROM range(10)")
    got = _rows(tiny, "FROM withnull | SAMPLE 0.9 ON id 1 | SORT id")
    assert all(r[0] is not None for r in got)
    sql = compile_esql("FROM withnull | SAMPLE 0.9 ON id 1", "duck")
    assert "IS NOT NULL" in sql
    for q, msg in [
        ("FROM many | SAMPLE 0.3", "keying field is required"),
        ("FROM many | SAMPLE 1.5 ON id", r"\(0, 1\) exclusive"),
        ("FROM many | SAMPLE x ON id", "must be a number"),
        ("FROM many | SAMPLE 0.3 ON id 1 2", "wants <prob> ON"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_top_values_weighted_avg(tiny):
    """The r12 aggregate tier: TOP returns the ordered top-k VALUES
    with NULLs dropped; VALUES pins ES's unordered distinct set to
    sorted-ascending; WEIGHTED_AVG is sum(v*w)/sum(w) over the exact
    decimal discipline, skipping NULL-value rows entirely."""
    rows = _rows(tiny, """FROM t
      | STATS top2 = MV_CONCAT(TOP(text, 2, "desc"), "|"),
              langs = MV_CONCAT(VALUES(lang), ","),
              w = WEIGHTED_AVG(v, id)""")
    assert rows == [("gamma delta|delta", "de,en,fr",
                     pytest.approx((10 + 40 + 90 + 160) / 10))]
    # NULL v (id 5) contributes NEITHER product NOR weight; NULL text
    # is dropped from TOP/VALUES (ES missing-value rule)
    rows = _rows(tiny, """FROM t
      | STATS first = MV_CONCAT(TOP(lang, 1, "asc"), ","),
              n = MV_COUNT(VALUES(text))""")
    assert rows == [("de", 4)]
    for q, msg in [
        ("FROM t | STATS x = TOP(v, 0, \"asc\")", "limit must be"),
        ("FROM t | STATS x = TOP(v, 2, \"up\")", 'order must be "asc"'),
        ("FROM t | STATS x = TOP(v)", "TOP wants"),
        ("FROM t | STATS x = WEIGHTED_AVG(v)", "WEIGHTED_AVG wants"),
        ("FROM t | STATS x = VALUES(v, v)", "VALUES wants one"),
        ("FROM t | EVAL x = VALUES(v)", "only inside STATS"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_fork_branches(tiny):
    """FORK: 2..8 sub-pipelines over the current table, concatenated
    with the _fork discriminator in branch order; branches get the
    full grammar (including nested FORK); mismatched branch schemas
    fail loudly (stricter than ES's NULL padding)."""
    rows = _rows(tiny, """FROM t
      | FORK (WHERE v >= 30 | EVAL tag = "big" | KEEP id, tag)
             (SORT v ASC | LIMIT 2 | EVAL tag = "small" | KEEP id, tag)
      | SORT _fork, id""")
    assert rows == [(3, "big", "fork1"), (4, "big", "fork1"),
                    (1, "small", "fork2"), (2, "small", "fork2")]
    # nested FORK: inner discriminator is consumed by KEEP, outer
    # re-tags
    rows = _rows(tiny, """FROM t
      | FORK (WHERE id == 1 | KEEP id)
             (FORK (WHERE id == 2 | KEEP id)
                   (WHERE id == 3 | KEEP id) | KEEP id)
      | SORT _fork, id""")
    assert rows == [(1, "fork1"), (2, "fork2"), (3, "fork2")]
    # a FORK feeding later pipes composes (the UNION is a subquery)
    rows = _rows(tiny, """FROM t
      | FORK (WHERE v > 35 | KEEP lang) (WHERE v < 15 | KEEP lang)
      | STATS n = COUNT(*) BY _fork | SORT _fork""")
    assert rows == [("fork1", 1), ("fork2", 1)]
    # mismatched branch columns: loud at analysis (DuckDB binder)
    import duckdb as _duck
    with pytest.raises(_duck.Error):
        tiny.execute(compile_esql(
            "FROM t | FORK (KEEP id) (KEEP id, lang)", "duck"))


def test_change_point_mean_shift(tiny):
    """CHANGE_POINT locates the deterministic mean-shift argmax: a
    series flat at 10 then flat at 50 must flag the first row of the
    new regime; every other row carries NULLs (the ES pass-through
    shape); AS renames the output pair."""
    tiny.execute(
        "CREATE TABLE series AS SELECT range AS k, "
        "CASE WHEN range < 6 THEN 10.0 ELSE 50.0 END AS v "
        "FROM range(10)")
    rows = _rows(tiny, "FROM series | CHANGE_POINT v ON k | SORT k")
    flagged = [r for r in rows if r[2] is not None]
    assert len(rows) == 10 and len(flagged) == 1
    assert flagged[0][0] == 6 and flagged[0][2] == "step_change"
    assert 0 < flagged[0][3] < 1
    # AS renames; pipeline composes afterwards
    rows = _rows(tiny, """FROM series
      | CHANGE_POINT v ON k AS ct, cs
      | WHERE ct IS NOT NULL | KEEP k, ct, cs""")
    assert rows == [(6, "step_change", rows[0][2])]
    # flat series: the locator still locates (ES also always reports
    # its best candidate), but the score pins to 1.0 — "no
    # confidence", the caller-filterable sentinel
    tiny.execute("CREATE TABLE flat AS SELECT range AS k, 7.0 AS v "
                 "FROM range(5)")
    rows = _rows(tiny, "FROM flat | CHANGE_POINT v ON k | SORT k")
    flagged = [r for r in rows if r[2] is not None]
    assert len(flagged) == 1 and flagged[0][3] == 1.0
    for q, msg in [
        ("FROM series | CHANGE_POINT v", "wants <value> ON <key>"),
        ("FROM series | CHANGE_POINT v ON k AS a", "AS wants"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_change_point_contract_enforced(tiny, spark):
    """ADVICE r12: a duplicate or NULL key makes the prefix-sum
    tie-order engine-arbitrary, so the PLAN raises (error /
    raise_error) instead of silently picking one — the documented
    aggregated-series contract, now enforced in both engines."""
    import duckdb as _duck

    tiny.execute(
        "CREATE TABLE dupk AS SELECT * FROM (VALUES "
        "(1, 10.0), (1, 50.0), (2, 20.0)) AS x(k, v)")
    tiny.execute(
        "CREATE TABLE nullk AS SELECT * FROM (VALUES "
        "(1, 10.0), (NULL, 50.0), (2, 20.0)) AS x(k, v)")
    for tbl in ("dupk", "nullk"):
        with pytest.raises(_duck.Error, match="unique, non-NULL key"):
            tiny.execute(compile_esql(
                f"FROM {tbl} | CHANGE_POINT v ON k", "duck")).fetchall()
    spark.createDataFrame(
        [(1, 10.0), (1, 50.0), (2, 20.0)], "k int, v double"
    ).createOrReplaceTempView("dupk")
    with pytest.raises(Exception, match="unique, non-NULL key"):
        spark.sql(compile_esql(
            "FROM dupk | CHANGE_POINT v ON k", "spark")).collect()
    spark.catalog.dropTempView("dupk")
    # a clean unique key keeps working in both engines
    tiny.execute(
        "CREATE TABLE okk AS SELECT range AS k, "
        "CASE WHEN range < 3 THEN 1.0 ELSE 9.0 END AS v FROM range(6)")
    rows = _rows(tiny, "FROM okk | CHANGE_POINT v ON k | SORT k")
    assert len([r for r in rows if r[2] is not None]) == 1


def test_math_hash_scalar_tier(tiny):
    """The r12 scalar additions evaluate identically in both engines
    (the oracle entry covers Spark; here the DuckDB side pins exact
    values) and the known-divergent forms raise with the reason."""
    rows = _rows(tiny, """FROM t
      | WHERE id == 1
      | EVAL s = ROUND(SIN(0.5), 6), a2 = ROUND(ATAN2(1.0, 2.0), 6),
             lg = LOG(2.0, 8.0), p = ROUND(PI(), 6),
             h = MD5("x"), t2 = LTRIM(RTRIM("  a  "))
      | KEEP s, a2, lg, p, h, t2""")
    assert rows == [(0.479426, 0.463648, 3.0, 3.141593,
                     "9dd4e461268c8034f5c8564e155c67a6", "a")]
    for q, msg in [
        ("FROM t | EVAL x = LOG(v)", "spell the base"),
        ("FROM t | EVAL x = CBRT(v)", "unsupported function"),
        ("FROM t | EVAL x = SIGNUM(v)", "unsupported function"),
        ("FROM t | EVAL x = SHA256(v, 2)", "SHA256 wants one"),
        ("FROM t | EVAL x = ATAN2(v)", "ATAN2 wants 2..2"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_esql(q, "duck")


def test_round_decimal_tie_cross_engine(tiny, spark):
    """Regression for the r13 sf0.1 sweep finding: ROUND(x, d) on a
    decimal tie the binary double can't represent. AVG over the sweep
    group was exactly 2394.22/16 = 149.63875 (stored double
    149.6387499…); native round() split the engines — Spark re-read
    the shortest decimal and rounded the tie up (149.6388), DuckDB
    rounded the binary value down (149.6387). The compiler now rounds
    literal-scale ROUND in exact decimal space; both engines must
    agree on the HALF_UP answer."""
    q = """FROM t
      | WHERE id == 1
      | EVAL tie = ROUND(2394.22 / 16, 4),
             neg = ROUND(0 - 2394.22 / 16, 4)
      | KEEP tie, neg"""
    duck = _rows(tiny, q)
    assert duck == [(149.6388, -149.6388)]
    tiny_df = spark.createDataFrame([(1,)], "id int")
    tiny_df.createOrReplaceTempView("t")
    s_rows = [tuple(r) for r in spark.sql(compile_esql(q, "spark")).collect()]
    assert s_rows == duck
    # passthrough forms keep native ROUND: computed scale, scale > 18
    assert "DECIMAL" not in compile_esql(
        "FROM t | EVAL x = ROUND(v, id)", "spark")
    assert "DECIMAL" not in compile_esql(
        "FROM t | EVAL x = ROUND(v, 19)", "spark")
    # 1-arg ROUND stays native: integer-boundary ties ARE binary-exact
    assert "DECIMAL" not in compile_esql(
        "FROM t | EVAL x = ROUND(v)", "spark")
    # NaN / ±Infinity / decimal-overflow magnitudes route to native
    # round in BOTH engines (DuckDB hard-errors casting non-finite
    # doubles to DECIMAL; Spark ANSI-off NULLs them — neither is the
    # pass-through ES|QL semantics) — the CASE guard keeps them flowing
    edge_q = """FROM t
      | EVAL a = ROUND(pinf, 4), b = ROUND(nv, 4),
             c = ROUND(ninf, 4), e = ROUND(big, 4)
      | KEEP a, b, c, e"""
    econ = duckdb.connect()
    econ.execute(
        "CREATE TABLE t AS SELECT 'inf'::DOUBLE pinf, 'nan'::DOUBLE nv,"
        " '-inf'::DOUBLE ninf, 1e30::DOUBLE big"
    )
    duck_edge = econ.execute(compile_esql(edge_q, "duck")).fetchall()[0]
    spark.sql(
        "SELECT double('Infinity') pinf, double('NaN') nv,"
        " double('-Infinity') ninf, 1e30d big"
    ).createOrReplaceTempView("t")
    spark_edge = tuple(
        spark.sql(compile_esql(edge_q, "spark")).collect()[0]
    )
    import math

    for dv, sv in zip(duck_edge, spark_edge):
        assert (math.isnan(dv) and math.isnan(sv)) or dv == sv
    assert math.isinf(duck_edge[0]) and math.isnan(duck_edge[1])
    assert duck_edge[3] == 1e30


def test_round_tie_fuzz_cross_engine(tiny, spark):
    """Systematic ROUND-tie fuzz inside the decimal-quantization
    envelope (|x| < 4.5e9/10^d): exact scale-(d+1) '…5' ties, their
    near-tie neighbours, and division-generated ties (the shape the
    sweep actually hit) must round identically in both engines AND
    match Python's exact-decimal ROUND_HALF_UP answer."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    rng = random.Random(13)
    cases = []  # (sql_expr, exact Decimal value, scale d)
    for d in range(0, 7):
        for _ in range(6):
            # exact tie: k integer digits + d fractional + a final 5
            mag = rng.choice([0, 1, 2, 3])
            whole = rng.randrange(0, 10 ** (mag + 1))
            frac = rng.randrange(0, 10**d) if d else 0
            tie = (
                Decimal(whole)
                + Decimal(frac) / (10**d)
                + Decimal(5) / (10 ** (d + 1))
            )
            if rng.random() < 0.5:
                tie = -tie
            cases.append((f"({tie})", tie, d))
            # near-tie neighbours: must round identically too
            for eps in (Decimal(1), Decimal(-1)):
                near = tie + eps / (10 ** (d + 3))
                cases.append((f"({near})", near, d))
            # division-generated tie (the esql_bucket shape):
            # tie * n / n with n a power-of-2 divisor keeps the
            # quotient exact in binary-friendly space
            n = rng.choice([2, 4, 8, 16, 32])
            num = tie * n
            cases.append((f"({num} / {n})", tie, d))
    # evaluate in batches of EVAL columns over the single-row table
    batch = 24
    for i in range(0, len(cases), batch):
        chunk = cases[i : i + batch]
        evals = ", ".join(
            f"c{j} = ROUND({expr}, {d})"
            for j, (expr, _, d) in enumerate(chunk)
        )
        keeps = ", ".join(f"c{j}" for j in range(len(chunk)))
        q = f"FROM t | WHERE id == 1 | EVAL {evals} | KEEP {keeps}"
        duck = _rows(tiny, q)[0]
        spark.createDataFrame([(1,)], "id int").createOrReplaceTempView("t")
        srow = tuple(
            spark.sql(compile_esql(q, "spark")).collect()[0]
        )
        for j, (expr, exact, d) in enumerate(chunk):
            want = float(
                exact.quantize(
                    Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP
                )
            )
            assert duck[j] == want, (expr, d, duck[j], want)
            assert srow[j] == want, (expr, d, srow[j], want)


def test_esql_random_pipeline_cross_engine(spark, tables, sf_dir):
    """Cross-engine EXECUTION fuzz of the r12 command tier: random
    permutations of row-level stages (WHERE / EVAL / SAMPLE / FORK)
    capped by a deterministic aggregation, compiled for BOTH engines
    and hash-compared via the oracle gate — semantic, not just
    compile-level, equivalence over composed pipelines."""
    from itertools import permutations

    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
        compare,
        duckdb_connection,
    )

    pool = [
        'WHERE lang == "en" OR lang == "de"',
        "WHERE n_chars > 300",
        "SAMPLE 0.5 ON doc_id 3",
        "EVAL band = CEIL(n_chars / 250)",
        "FORK (WHERE n_chars > 500 | EVAL big = 1)"
        " (WHERE n_chars <= 500 | EVAL big = 0)",
    ]
    ending = "STATS n = COUNT(*), s = SUM(n_chars) BY lang | SORT lang"
    con = duckdb_connection(sf_dir)
    try:
        cases = [
            list(p) for k in (1, 2, 3)
            for p in permutations(pool, k)
        ]
        # deterministic thinning: every 4th case keeps runtime sane
        # while covering every stage in several positions
        for parts in cases[::4]:
            q = " | ".join(["FROM documents", *parts, ending])
            df = spark.sql(compile_esql(q, "spark"))
            ok, diag = compare(df, con, compile_esql(q, "duck"))
            assert ok, f"{q}\n{diag}"
    finally:
        con.close()


def test_esql_r13_composition_fuzz(spark, tables, sf_dir):
    """VERDICT r12 ask #2: cross-engine EXECUTION fuzz composing the
    newest surface in ONE pipeline — multi-index FROM (the
    missing-column-as-NULL UNION ALL) × FORK × deterministic SAMPLE ×
    per-aggregate WHERE — the feature-interaction space where the
    post_filter-class bugs live. Every case compiles for BOTH engines
    and must hash-match via the oracle gate. Stage notes: over the
    documents∪events union each column is NULL for the other branch's
    rows, so the WHERE/EVAL/per-agg predicates exercise three-valued
    logic across the union; SAMPLE ON doc_id drops the events branch
    by the documented NULL-key-exclusion rule; FORK discriminates on
    _index then re-unions — a union-of-unions."""
    from itertools import permutations

    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
        compare,
        duckdb_connection,
    )

    pool = [
        "WHERE n_chars > 250 OR value > 40.0",
        "SAMPLE 0.5 ON doc_id 7",
        "EVAL src = COALESCE(lang, event_type)",
        'FORK (WHERE _index == "documents" | EVAL is_doc = 1)'
        ' (WHERE _index == "events" | EVAL is_doc = 0)',
    ]
    ending = (
        'STATS n = COUNT(*), en = COUNT(*) WHERE lang == "en", '
        "chars = SUM(n_chars) WHERE n_chars > 400, "
        "nv = COUNT(value) WHERE value > 50.0 "
        "BY _index | SORT _index"
    )
    con = duckdb_connection(sf_dir)
    try:
        cases = [
            list(p) for k in (1, 2, 3, 4)
            for p in permutations(pool, k)
        ]
        # deterministic thinning (the r12 fuzz's pattern): every 3rd
        # case still covers every stage in several positions,
        # including all four composed at once
        for parts in cases[::3]:
            q = " | ".join(
                ["FROM documents, events METADATA _index", *parts,
                 ending]
            )
            df = esql_df(spark, q)
            ok, diag = compare(df, con, compile_esql(q, "duck", _schemas()))
            assert ok, f"{q}\n{diag}"
    finally:
        con.close()


def test_esql_enrichment_composition_fuzz(spark, tables, sf_dir):
    """Composition fuzz #2 (r13 close): the ENRICHMENT tier — LOOKUP
    JOIN / ENRICH / GROK / DISSECT — composed with RENAME, SAMPLE, and
    the decimal-space ROUND, permuted in one pipeline per case and
    hash-compared cross-engine. The r13 fuzz covered FORK × multi-index
    × SAMPLE × per-agg WHERE; this one walks the other half of the
    command surface where per-dialect regex/join/NULL semantics could
    drift. Two bases: a relational one (customer RENAMEd onto nation's
    key, so LOOKUP/ENRICH both resolve) and a text one (documents prose
    through GROK/DISSECT captures feeding WHERE/EVAL)."""
    from itertools import permutations

    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
        compare,
        duckdb_connection,
    )

    con = duckdb_connection(sf_dir)

    def drive(base, pool, ending, thin):
        cases = [
            list(p) for k in (1, 2, 3) for p in permutations(pool, k)
        ]
        for parts in cases[::thin]:
            q = " | ".join([base, *parts, ending])
            df = spark.sql(compile_esql(q, "spark"))
            ok, diag = compare(df, con, compile_esql(q, "duck"))
            assert ok, f"{q}\n{diag}"

    try:
        drive(
            "FROM customer | RENAME c_nationkey AS n_nationkey",
            [
                "LOOKUP JOIN nation ON n_nationkey",
                "ENRICH nation ON n_nationkey WITH nat = n_name",
                "SAMPLE 0.5 ON c_custkey 11",
                "EVAL band = ROUND(c_acctbal / 1000.0, 2)",
                "WHERE c_acctbal > 0.0",
            ],
            "STATS n = COUNT(*), bal = ROUND(SUM(c_acctbal), 2) "
            "BY n_nationkey | SORT n_nationkey | LIMIT 10",
            4,
        )
        drive(
            "FROM documents",
            [
                'DISSECT text "%{w1} %{rest}" | WHERE w1 IS NOT NULL',
                'GROK text "%{WORD:gw} %{WORD:gw2}"'
                " | EVAL glen = LENGTH(gw)",
                "WHERE n_chars > 300",
                "SAMPLE 0.4 ON doc_id 5",
                "EVAL r = ROUND(n_chars / 7.0, 3)",
            ],
            "STATS n = COUNT(*), s = SUM(n_chars) BY lang | SORT lang",
            4,
        )
    finally:
        con.close()


def test_change_point_composition_cross_engine(spark, tables, sf_dir):
    """CHANGE_POINT composed with the rest of the r12/r13 surface —
    the enforced aggregated-series contract must neither fire on
    legitimate composed pipelines (unique non-NULL keys out of STATS
    BY) nor let a NULL-key series through when a multi-index union
    feeds the aggregation. Positive cases hash-compare cross-engine;
    the negative case must raise in BOTH engines."""
    import duckdb as _duck

    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
        compare,
        duckdb_connection,
    )

    cases = [
        # canonical: aggregated series straight into the locator
        "FROM documents | STATS s = SUM(n_chars) BY band ="
        " CEIL(n_chars / 100) | CHANGE_POINT s ON band | SORT band",
        # filtered input + renamed outputs
        'FROM documents | WHERE lang == "en" | STATS s = COUNT(*)'
        " BY band = CEIL(n_chars / 200)"
        " | CHANGE_POINT s ON band AS cptype, score | SORT band",
        # deterministic SAMPLE upstream of the aggregation + LIMIT
        "FROM documents | SAMPLE 0.5 ON doc_id 3 | STATS s ="
        " SUM(n_chars) BY band = CEIL(n_chars / 250)"
        " | CHANGE_POINT s ON band | SORT band | LIMIT 5",
        # post-CHANGE_POINT narrowing to the located row
        "FROM documents | STATS s = SUM(n_chars) BY band ="
        " CEIL(n_chars / 100) | CHANGE_POINT s ON band"
        " | WHERE type IS NOT NULL | KEEP band, type",
        # a multi-index union feeding the series (keys stay unique
        # and non-NULL because _index is the BY key)
        "FROM documents, events METADATA _index | STATS n = COUNT(*)"
        " BY _index | CHANGE_POINT n ON _index | SORT _index",
    ]
    con = duckdb_connection(sf_dir)
    try:
        for q in cases:
            df = esql_df(spark, q)
            ok, diag = compare(df, con, compile_esql(q, "duck", _schemas()))
            assert ok, f"{q}\n{diag}"
        # negative: events rows have NULL n_chars, so the BY key has
        # a NULL band — the contract must raise in BOTH engines
        qbad = (
            "FROM documents, events METADATA _index | STATS s ="
            " COUNT(*) BY band = CEIL(n_chars / 500)"
            " | CHANGE_POINT s ON band"
        )
        with pytest.raises(Exception, match="unique, non-NULL key"):
            esql_df(spark, qbad).collect()
        with pytest.raises(_duck.Error, match="unique, non-NULL key"):
            con.execute(compile_esql(qbad, "duck", _schemas())).fetchall()
    finally:
        con.close()


def test_footer_and_catalog_schemas_agree(spark):
    """Oracles compile multi-index statements over the fixture footer
    schemas (session.footer_schemas), the engine over its catalog's. For
    every fixture table at both scale factors the two must agree on
    column names, in order, and on the uid-safe columns — otherwise the
    union would project different columns, or the two engines' _uid
    would hash different ones."""
    import os

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        uid_safe_columns,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        FIXTURE_TABLES,
        register_sf_dir,
    )
    from tests.conftest import SF_DIR_ORACLE

    try:
        for sf in (SF_DIR, SF_DIR_ORACLE):
            tables = tuple(
                t for t in FIXTURE_TABLES
                if os.path.exists(os.path.join(sf, f"{t}.parquet"))
            )
            assert tables, sf
            footers = footer_schemas(tables, sf)
            register_sf_dir(spark, sf)
            for t in tables:
                catalog = spark.table(t).schema
                assert footers[t].names == catalog.names, (sf, t)
                assert uid_safe_columns(footers[t]) == uid_safe_columns(
                    catalog
                ), (sf, t)
    finally:
        register_sf_dir(spark, SF_DIR)
