"""ES Query-DSL compiler: semantics pinned on hand-derived rows.

The registered es_dsl_* entries get the full Spark-vs-DuckDB
differential from the oracle gate (both texts come from one compiler,
so that gate proves dialect CONSISTENCY); these tests pin the DSL
SEMANTICS themselves — bool logic, minimum_should_match defaults,
must_not NULL handling, analyzer behavior, wildcard/prefix escaping,
range-bucket edge rules — against expected results derived by hand
from the ES docs, so the two dialects cannot simply share a mistake.
"""

from __future__ import annotations

import duckdb
import pytest

from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
    _analyze,
    compile_aggs,
    compile_search,
)


@pytest.fixture()
def tiny():
    """An in-memory corpus small enough to evaluate the DSL by eye."""
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE docs AS SELECT * FROM (VALUES
          (1, 'Alpha Beta Gamma', 'en',   'news',  10),
          (2, 'beta gamma delta', 'en',   'blog',  20),
          (3, 'delta epsilon',    'de',   'news',  30),
          (4, 'beta alpha',       'de',   NULL,    40),
          (5, 'gamma beta alpha', 'fr',   'a_c',   50),
          (6, 'zeta',             'fr',   'abc',   60),
          (7, 'epsilon zeta',     NULL,   '10%x',  70),
          (8, 'alpha',            'en',   '105x',  80)
        ) AS t(doc_id, text, lang, source, n)
        """
    )
    return con


def _ids(con, sql: str) -> list[int]:
    return [r[0] for r in con.execute(sql).fetchall()]


def _search(body: dict) -> str:
    return compile_search("docs", body, "duck")


def test_match_analyzes_and_ors_tokens(tiny):
    # "ALPHA delta" analyzes to [alpha, delta]; any token hit matches.
    # (Explicit sort = filter context; a bare match would be scored.)
    body = {"query": {"match": {"text": "ALPHA   delta"}},
            "sort": [{"doc_id": "asc"}], "size": 100}
    assert _ids(tiny, _search(body)) == [1, 2, 3, 4, 5, 8]


def test_match_phrase_requires_adjacency(tiny):
    # "beta alpha" adjacent in 4 and 5 only (1 has alpha THEN beta)
    body = {"query": {"match_phrase": {"text": "Beta ALPHA"}}, "size": 100}
    assert _ids(tiny, _search(body)) == [4, 5]


def test_bool_must_not_matches_null_fields(tiny):
    # ES: a doc whose field is NULL fails the inner clause, so it
    # MATCHES the must_not — plain SQL NOT would drop doc 4 and 7
    body = {
        "query": {"bool": {"must_not": [{"term": {"source": "news"}}]}},
        "size": 100,
    }
    assert _ids(tiny, _search(body)) == [2, 4, 5, 6, 7, 8]


def test_bool_should_msm_defaults(tiny):
    # should-only: minimum_should_match defaults to 1
    only = {
        "query": {"bool": {"should": [
            {"term": {"lang": "fr"}}, {"term": {"source": "blog"}},
        ]}},
        "size": 100,
    }
    assert _ids(tiny, _search(only)) == [2, 5, 6]
    # with a must present it defaults to 0: should becomes pure
    # scoring and must alone decides membership
    with_must = {
        "query": {"bool": {
            "must": [{"term": {"lang": "en"}}],
            "should": [{"term": {"source": "news"}}],
        }},
        "size": 100,
    }
    assert _ids(tiny, _search(with_must)) == [1, 2, 8]


def test_bool_explicit_msm_counts_votes(tiny):
    body = {
        "query": {"bool": {
            "should": [
                {"match": {"text": "alpha"}},
                {"term": {"lang": "en"}},
                {"range": {"n": {"gte": 50}}},
            ],
            "minimum_should_match": 2,
        }},
        "size": 100,
    }
    # votes: 1:(a,en)=2  2:(en)=1  4:(a)=1  5:(a,n)=2  8:(a,en,n)=3
    assert _ids(tiny, _search(body)) == [1, 5, 8]


def test_wildcard_translation_and_escaping(tiny):
    # ? = one char, * = any run
    body = {"query": {"wildcard": {"source": "a*c"}}, "size": 100}
    assert _ids(tiny, _search(body)) == [5, 6]
    # a literal _ in the pattern must NOT act as a metacharacter
    body = {"query": {"wildcard": {"source": "a_c"}}, "size": 100}
    assert _ids(tiny, _search(body)) == [5]
    # a literal % in a prefix value must NOT act as a metacharacter
    body = {"query": {"prefix": {"source": "10%"}}, "size": 100}
    assert _ids(tiny, _search(body)) == [7]


def test_terms_ids_exists_range(tiny):
    assert _ids(tiny, _search(
        {"query": {"terms": {"lang": ["de", "fr"]}}, "size": 100})) == [3, 4, 5, 6]
    assert _ids(tiny, _search(
        {"query": {"ids": {"values": [3, 5]}}, "size": 100})) == [3, 5]
    assert _ids(tiny, _search(
        {"query": {"exists": {"field": "lang"}}, "size": 100})) == [
        1, 2, 3, 4, 5, 6, 8]
    # gte inclusive, lt exclusive
    assert _ids(tiny, _search(
        {"query": {"range": {"n": {"gte": 30, "lt": 70}}}, "size": 100})) == [
        3, 4, 5, 6]


def test_sort_size_from_and_source(tiny):
    body = {
        "query": {"match_all": {}},
        "sort": [{"n": {"order": "desc"}}],
        "size": 3,
        "from": 2,
        "_source": ["doc_id", "n"],
    }
    rows = tiny.execute(_search(body)).fetchall()
    assert rows == [(6, 60), (5, 50), (4, 40)]


def test_range_agg_edges_and_order(tiny):
    body = {
        "aggs": {"b": {
            "range": {"field": "n", "ranges": [
                {"to": 30}, {"from": 30, "to": 60}, {"from": 60},
            ]},
        }},
    }
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    # from inclusive, to exclusive: 10,20 | 30,40,50 | 60,70,80
    assert rows == [("*-30", 2), ("30-60", 3), ("60-*", 3)]


def test_terms_agg_orders_by_count_then_key(tiny):
    """Buckets order by (doc_count DESC, key); docs MISSING the field
    are in no bucket (ES semantics — doc 7 has NULL lang; use the
    `missing` param to bucket them). The exclusion also removes the
    engines' divergent NULL ordering at the size cut (Spark ASC =
    NULLS FIRST, DuckDB = NULLS LAST — caught by the agg grid)."""
    body = {"aggs": {"t": {"terms": {"field": "lang", "size": 10}}}}
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    assert rows == [("en", 3), ("de", 2), ("fr", 2)]


def test_unsupported_dsl_raises_loudly():
    for body, msg in [
        # more_like_this is SUPPORTED since batch 12 — a body without
        # a like clause still fails loudly, just deeper in
        ({"query": {"more_like_this": {"fields": ["text"]}}},
         "free text or"),
        # span_near is SUPPORTED since batch 20 — an empty body still
        # fails loudly, just deeper in
        ({"query": {"span_near": {}}}, "wants >= 2 clauses"),
        ({"query": {"span_first": {}}}, "unsupported query clause"),
        ({"query": {"bool": {"boost": 2}}}, "unsupported bool keys"),
        ({"query": {"match": {"text": "  "}}}, "empty query string"),
        # suggest is SUPPORTED since batch 16 — an empty suggest body
        # still fails loudly, just deeper in
        ({"suggest": {}}, "single-key object"),
        ({"knn": {}}, "knn requires"),
        ({"sort": [{"n": {"order": "sideways"}}]}, "bad sort order"),
        ({"query": {"term": {"n; DROP": 1}}}, "bad field name"),
        (
            {"query": {"bool": {"should": [{"term": {"lang": "en"}}],
                                "minimum_should_match": 2}}},
            "exceeds should count",
        ),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    with pytest.raises(ValueError, match="overlapping range buckets"):
        compile_aggs("docs", {"aggs": {"b": {"range": {
            "field": "n", "ranges": [{"to": 50}, {"from": 40}],
        }}}}, "duck")
    with pytest.raises(ValueError, match="unknown dialect"):
        compile_search("docs", {}, "mysql")


def test_analyzer_matches_repo_tokenizer():
    assert _analyze("  Foo   BAR\tbaz\n") == ["foo", "bar", "baz"]
    assert _analyze("one") == ["one"]


def test_registered_entries_match_duckdb(spark, tables, sf_dir, duck):
    """The five registered DSL bodies: Spark dialect vs DuckDB dialect,
    hash-style compare (same check the driver gate runs)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import es_dsl
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    for name, spec in es_dsl.registry().items():
        ok, diag = compare(spec["fn"](spark, sf_dir), duck, spec["oracle"])
        assert ok, (name, diag)


def test_avg_sum_metrics_are_order_independent(tiny):
    """sum/avg metrics aggregate exact DECIMALs and emit the raw IEEE
    double — a value pair straddling the round-to-4 half boundary
    (avg exactly 46.49875, the case that flipped between partition
    counts live) must come back as the one deterministic double, not a
    partition-order-dependent rounding."""
    tiny.execute(
        "CREATE TABLE vals AS SELECT * FROM (VALUES"
        " (1, 46.4987), (2, 46.4988)) AS t(doc_id, v)"
    )
    body = {"aggs": {"all": {
        "histogram": {"field": "doc_id", "interval": 100},
        "aggs": {"m": {"avg": {"field": "v"}},
                 "s": {"sum": {"field": "v"}}},
    }}}
    row = tiny.execute(compile_aggs("vals", body, "duck")).fetchall()[0]
    assert row[2] == float(str(92.9975)) / 2   # exact decimal sum, then /2
    assert row[3] == float(str(92.9975))


def test_knn_semantics_and_validation(tiny):
    """knn: exact cosine ordering, k limit, pre-filter, and loud
    rejection of malformed bodies — hand-checkable 2-d vectors."""
    tiny.execute(
        "CREATE TABLE vecs AS SELECT * FROM (VALUES"
        " (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.6, 0.8]),"
        " (4, [-1.0, 0.0]), (5, [0.8, 0.6])) AS t(vec_id, embedding)"
    )

    def knn(spec):
        return compile_search("vecs", {"knn": spec}, "duck", id_field="vec_id")

    base = {"field": "embedding", "query_vector": [1.0, 0.0], "k": 3}
    rows = tiny.execute(knn(base)).fetchall()
    # cos vs [1,0]: 1->1.0, 5->0.8, 3->0.6, 2->0.0, 4->-1.0
    assert rows == [(1, 1.0), (5, 0.8), (3, 0.6)]
    filtered = dict(base, filter={"range": {"vec_id": {"gt": 1}}})
    assert tiny.execute(knn(filtered)).fetchall() == [
        (5, 0.8), (3, 0.6), (2, 0.0)]

    for spec, msg in [
        (dict(base, query_vector=[]), "number list"),
        (dict(base, query_vector=["a"]), "number list"),
        (dict(base, similarity=0.5), "unsupported knn keys"),
    ]:
        with pytest.raises(ValueError, match=msg):
            knn(spec)
    with pytest.raises(ValueError, match="knn combines only"):
        compile_search("vecs", {"knn": base, "sort": ["vec_id"]}, "duck")


def test_es_search_gateway_api(spark, tables, sf_dir):
    """The public gateway verb: POST /{index}/_search parity — lazy
    df variant, enveloped variant, null params, and the loud
    unsupported-DSL failure BEFORE execution."""
    from golang_db_query_engine_elasticsearch_indexer_spark import (
        es_search,
        es_search_df,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        ParamsNullError,
    )

    body = {
        "query": {"term": {"lang": "en"}},
        "_source": ["doc_id", "lang"],
        "size": 5,
    }
    df = es_search_df(spark, "documents", body)
    rows = df.collect()
    assert len(rows) == 5 and all(r.lang == "en" for r in rows)
    res = es_search(spark, "documents", body)
    assert res.count == 5 and [c["name"] for c in res.schema] == ["doc_id", "lang"]
    # empty body = match_all with ES's default size 10
    assert es_search(spark, "documents", {}).count == 10
    with pytest.raises(ParamsNullError):
        es_search_df(spark, None, body)
    with pytest.raises(ParamsNullError):
        es_search_df(spark, "documents", None)
    with pytest.raises(ValueError, match="unsupported query clause"):
        es_search_df(spark, "documents", {"query": {"span_first": {}}})


def test_nested_terms_bucket_semantics(tiny):
    """terms -> histogram nesting: outer top-N chosen by TOTAL bucket
    doc_count, inner buckets enumerated per kept parent, metrics on
    the leaf — hand-derived on the tiny corpus."""
    body = {
        "aggs": {"by_lang": {
            "terms": {"field": "lang", "size": 2},
            "aggs": {"n_band": {
                "histogram": {"field": "n", "interval": 40},
                "aggs": {"nsum": {"sum": {"field": "n"}}},
            }},
        }},
    }
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    # lang totals: en 3, de 2, fr 2 -> top-2 = en, then de (key tiebreak)
    # en n: 10,20,80 -> bands 0(10+20), 80(80); de n: 30,40 -> bands 0(30), 40(40)
    assert rows == [
        ("en", 3, 0.0, 2, 30.0),
        ("en", 3, 80.0, 1, 80.0),
        ("de", 2, 0.0, 1, 30.0),
        ("de", 2, 40.0, 1, 40.0),
    ]


def test_nested_validation(tiny):
    with pytest.raises(ValueError, match="nested buckets only under terms"):
        compile_aggs("docs", {"aggs": {"a": {
            "histogram": {"field": "n", "interval": 10},
            "aggs": {"b": {"terms": {"field": "lang"}}},
        }}}, "duck")
    with pytest.raises(ValueError, match="nesting depth is three"):
        compile_aggs("docs", {"aggs": {"a": {
            "terms": {"field": "lang"},
            "aggs": {"b": {"terms": {"field": "source"},
                           "aggs": {"c": {"terms": {"field": "n"},
                                          "aggs": {"d": {"histogram": {
                                              "field": "n",
                                              "interval": 10}}}}}}},
        }}}, "duck")
    with pytest.raises(ValueError, match="metrics must sit on the innermost"):
        compile_aggs("docs", {"aggs": {"a": {
            "terms": {"field": "lang"},
            "aggs": {
                "b": {"terms": {"field": "source"}},
                "m": {"avg": {"field": "n"}},
            },
        }}}, "duck")
    # depth 3: a metric beside the LEAF bucket (on the mid level) is
    # equally rejected
    with pytest.raises(ValueError, match="metrics must sit on the innermost"):
        compile_aggs("docs", {"aggs": {"a": {
            "terms": {"field": "lang"},
            "aggs": {"b": {"terms": {"field": "source"},
                           "aggs": {"c": {"terms": {"field": "n"}},
                                    "m": {"avg": {"field": "n"}}}}},
        }}}, "duck")


def test_significant_terms_semantics(tiny):
    """JLH on hand-countable doc frequencies: foreground = lang 'de'
    (docs 3, 4), background = all 8. 'delta' hits doc 3 only in the
    foreground (fg 1/2) and docs 2, 3 overall (bg 2/8), so its JLH is
    (0.5 - 0.25) * (0.5 / 0.25) = 0.5; 'beta' (fg 1/2 vs bg 4/8) has
    no lift and must be excluded by the positive-lift gate."""
    body = {
        "query": {"term": {"lang": "de"}},
        "aggs": {"sig": {"significant_terms": {
            "field": "text", "size": 5, "min_doc_count": 1,
        }}},
    }
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    terms = {r[0]: r for r in rows}
    assert "delta" in terms
    fg_pct, bg_pct = 1 / 2, 2 / 8
    assert terms["delta"][1:] == (1, 2, (fg_pct - bg_pct) * (fg_pct / bg_pct))
    assert "beta" not in terms  # fg 1/2 == bg 4/8: no lift, excluded
    assert all(r[3] > 0 for r in rows)


def test_collapse_one_hit_per_group(tiny):
    """ES field collapsing: one hit per distinct field value, picked
    by the search sort (highest n per lang here), collapsed hits
    ordered by the same sort."""
    body = {
        "query": {"exists": {"field": "lang"}},
        "collapse": {"field": "lang"},
        "sort": [{"n": {"order": "desc"}}],
        "_source": ["doc_id", "lang", "n"],
        "size": 10,
    }
    rows = tiny.execute(_search(body)).fetchall()
    # best per lang: en->8(80), fr->6(60), de->4(40)
    assert rows == [(8, "en", 80), (6, "fr", 60), (4, "de", 40)]
    with pytest.raises(ValueError, match="collapse requires _source"):
        compile_search("docs", {"collapse": {"field": "lang"}}, "duck")


def test_compiled_filters_push_to_parquet_scan(spark, tables, sf_dir):
    """The compiled DSL is ordinary Catalyst text, so term/range
    clauses must reach the parquet scan as PushedFilters and _source
    must prune the read schema — the property that makes the compiler
    scale-safe, pinned at the plan level."""
    import re

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_search,
    )

    body = {
        "query": {"bool": {"filter": [
            {"term": {"lang": "en"}},
            {"range": {"n_chars": {"gte": 100, "lt": 450}}},
        ]}},
        "_source": ["doc_id", "n_chars"],
        "size": 5,
    }
    df = spark.sql(compile_search("documents", body, "spark"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan).group(1)
    assert "EqualTo(lang,en)" in pushed
    assert "GreaterThanOrEqual(n_chars,100)" in pushed
    assert "LessThan(n_chars,450)" in pushed
    read = re.search(r"ReadSchema: (.*)", plan).group(1)
    assert "text" not in read  # _source pruned the wide column away


def test_search_after_predicate_reaches_the_scan(spark, tables, sf_dir):
    """The search_after tuple predicate must prune at the parquet scan
    (PushedFilters carries the Or tree over the sort keys) — the
    plan-level property that makes page N cost what page 1 costs."""
    import re

    body = {
        "query": {"term": {"lang": "en"}},
        "sort": [{"n_chars": {"order": "desc"}}],
        "search_after": [350, 123],
        "size": 20,
        "_source": ["doc_id", "n_chars"],
    }
    df = spark.sql(compile_search("documents", body, "spark"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan).group(1)
    assert "Or(LessThan(n_chars,350)" in pushed.replace(" ", "")


def test_nested3_plan_scans_corpus_once(spark, tables, sf_dir):
    """The three-level nesting's scale claim, pinned at the plan level:
    ONE parquet scan of the corpus feeds the (k1,k2,k3) aggregation;
    all per-level totals/ranks are windows over the aggregated cells —
    depth adds key columns to one shuffle, not extra scans."""
    import re

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        NESTED3_BODY,
    )

    df = spark.sql(compile_search("events", NESTED3_BODY, "spark", "event_id"))
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # count scan NODES (the detail header), not tree-render lines
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    assert scans == 1, f"expected one corpus scan, plan has {scans}"
    # and the time filter reached that scan
    assert "GreaterThanOrEqual(ts," in plan


def test_percolate_semantics(tiny):
    """Reverse search on the tiny corpus: every (doc, stored-query)
    match pair from ONE scan, hand-derived."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_percolate,
    )

    queries = {
        "q_en": {"term": {"lang": "en"}},
        "q_big": {"range": {"n": {"gte": 60}}},
        "q_phrase": {"match_phrase": {"text": "beta alpha"}},
    }
    rows = tiny.execute(compile_percolate("docs", queries, "duck")).fetchall()
    assert rows == [
        (1, "q_en"), (2, "q_en"),
        (4, "q_phrase"),
        (5, "q_phrase"),
        (6, "q_big"), (7, "q_big"),
        (8, "q_big"), (8, "q_en"),
    ]
    with pytest.raises(ValueError, match="at least one stored query"):
        compile_percolate("docs", {}, "duck")
    with pytest.raises(ValueError, match="bad percolate query id"):
        compile_percolate("docs", {"x'y": {"match_all": {}}}, "duck")


def test_match_scored_query_context(tiny):
    """Bare match with no sort = ES query context: BM25-scored hits,
    _score-ordered. 'alpha' hits docs 1,4,5,8 all with tf=1, so the
    BM25 length normalization alone decides the order: shortest doc
    first (8: dl=1, then 4: dl=2, then 1 and 5: dl=3, id tiebreak)."""
    body = {"query": {"match": {"text": "ALPHA"}}, "size": 10}
    rows = tiny.execute(_search(body)).fetchall()
    assert [r[0] for r in rows] == [8, 4, 1, 5]
    scores = {r[0]: r[1] for r in rows}
    assert scores[8] > scores[4] > scores[1]
    assert scores[1] == scores[5]  # same dl, same tf -> identical score
    assert all(s > 0 for s in scores.values())
    # _source honored; _score appended; explicit sort = filter context
    src = {"query": {"match": {"text": "alpha"}}, "size": 2,
           "_source": ["doc_id", "lang"]}
    got = tiny.execute(_search(src)).fetchall()
    assert got[0][0] == 8 and len(got[0]) == 3  # doc_id, lang, _score
    with pytest.raises(ValueError, match="scored match combines only"):
        compile_search("docs", {"query": {"match": {"text": "a"}},
                                "collapse": {"field": "lang"}}, "duck")


def test_source_object_form(spark, tables, sf_dir, duck):
    """_source as {"includes": [...], "excludes": [...]}: wildcards
    and excludes resolve against the schema passed for the index;
    plain includes work on any table; empty selections and unknown
    keys are loud."""
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    schemas = {"documents": spark.table("documents").schema}

    body = {"query": {"term": {"lang": "en"}},
            "_source": {"includes": ["doc_id", "n_*"],
                        "excludes": ["n_chars"]},
            "sort": [{"doc_id": "asc"}], "size": 5}
    sql = compile_search("documents", body, "spark", schemas=schemas)
    df = spark.sql(sql)
    assert df.columns == ["doc_id"]  # n_* minus n_chars = nothing else
    ok, diag = compare(
        df, duck, compile_search("documents", body, "duck", schemas=schemas)
    )
    assert ok, diag
    # excludes-only: everything but text
    body2 = {"query": {"term": {"lang": "en"}},
             "_source": {"excludes": ["text"]},
             "sort": [{"doc_id": "asc"}], "size": 5}
    df2 = spark.sql(
        compile_search("documents", body2, "spark", schemas=schemas)
    )
    assert "text" not in df2.columns and "lang" in df2.columns
    # plain includes (no wildcards) need no schema
    body3 = {"query": {"match_all": {}},
             "_source": {"includes": ["doc_id"]},
             "sort": [{"doc_id": "asc"}], "size": 3}
    assert spark.sql(
        compile_search("documents", body3, "spark")).columns == ["doc_id"]
    # runtime fields join the schema the object form resolves against:
    # the catalog's on the spark side, the footers' on the duck side
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        footer_schemas,
    )

    footers = footer_schemas(("documents",), sf_dir)
    for rt_body, want in [
        ({"runtime_mappings": {"d": {"type": "long", "script": {
            "source": "emit(doc['n_chars'].value * 2)"}}},
          "_source": {"excludes": ["text"]}},
         ["doc_id", "lang", "source", "n_chars", "d"]),
        ({"script_fields": {"doc_half": {"script": {
            "source": "doc['n_chars'].value / 2"}}},
          "_source": {"includes": ["doc*"]}},
         ["doc_id", "doc_half"]),
    ]:
        rt_body = {**rt_body, "sort": [{"doc_id": "asc"}], "size": 5}
        df = spark.sql(compile_search("documents", rt_body, "spark", schemas=schemas))
        assert df.columns == want
        ok, diag = compare(
            df, duck, compile_search("documents", rt_body, "duck", schemas=footers)
        )
        assert ok, diag
    import pytest as _pytest
    with _pytest.raises(ValueError, match="selected no fields"):
        compile_search("documents", {
            "_source": {"includes": ["zz_*"]}}, "duck", schemas=schemas)
    with _pytest.raises(ValueError, match="unsupported _source keys"):
        compile_search("documents", {
            "_source": {"include": ["doc_id"]}}, "duck")
    with _pytest.raises(ValueError, match="need the schema of index"):
        compile_search("sometable", {
            "_source": {"excludes": ["x"]}}, "duck", schemas=schemas)


def test_post_filter_narrows_hits_not_scores(tiny):
    """post_filter (the Kibana faceted-search idiom): the hit set
    narrows, but each surviving hit keeps the IDENTICAL BM25 score
    and relative order the unfiltered query gave it; aggs bodies
    ignore post_filter (ES computes aggs before it)."""
    base = {"query": {"match": {"text": "alpha"}}, "size": 10}
    unfiltered = {r[0]: r[1] for r in tiny.execute(_search(base)).fetchall()}
    pf = dict(base, post_filter={"term": {"lang": "en"}})
    rows = tiny.execute(_search(pf)).fetchall()
    assert set(r[0] for r in rows) < set(unfiltered)
    for did, score in ((r[0], r[1]) for r in rows):
        assert score == unfiltered[did]
    # filter-context query + post_filter: plain conjunction
    pf2 = {"query": {"range": {"n": {"gte": 1}}},
           "post_filter": {"term": {"lang": "en"}},
           "sort": [{"doc_id": "asc"}], "size": 10,
           "_source": ["doc_id", "lang"]}
    got = tiny.execute(_search(pf2)).fetchall()
    assert got and all(r[1] == "en" for r in got)
    # aggs ignore post_filter — same agg rows either way (ES scope)
    agg = {"aggs": {"l": {"terms": {"field": "lang", "size": 10}}},
           "size": 0}
    with_pf = tiny.execute(_search(
        dict(agg, post_filter={"term": {"lang": "en"}}))).fetchall()
    without = tiny.execute(_search(agg)).fetchall()
    assert with_pf == without and len(without) > 1
    # REGRESSION (review r12): merging post_filter into a should-only
    # bool must not flip the implicit minimum_should_match from 1 to
    # 0 — post_filter may only ever NARROW the hit set
    should_only = {"query": {"bool": {"should": [
        {"term": {"lang": "en"}}, {"term": {"lang": "fr"}}]}},
        "sort": [{"doc_id": "asc"}], "size": 20,
        "_source": ["doc_id", "lang"]}
    base_hits = tiny.execute(_search(should_only)).fetchall()
    narrowed = tiny.execute(_search(dict(
        should_only, post_filter={"range": {"n": {"gte": 0}}}
    ))).fetchall()
    assert set(narrowed) <= set(base_hits)
    assert all(r[1] in ("en", "fr") for r in narrowed)
    # malformed / knn combination: loud
    with pytest.raises(ValueError, match="post_filter must be an object"):
        compile_search("docs", {"post_filter": "x"}, "duck")
    with pytest.raises(ValueError, match="cannot combine with knn"):
        compile_search("docs", {
            "knn": {"field": "v", "query_vector": [1.0], "k": 1,
                    "num_candidates": 10},
            "post_filter": {"term": {"lang": "en"}}}, "duck")


def test_multi_match_best_vs_most_fields(tiny):
    """multi_match combine rules: best_fields = max over per-field
    BM25, most_fields = sum. Doc 1 matches 'alpha' in text AND 'news'
    in source, so its most_fields score strictly exceeds its
    best_fields score; single-field docs score the same either way."""
    q = {"query": "alpha news", "fields": ["text", "source"]}
    best = {r[0]: r[1] for r in tiny.execute(_search(
        {"query": {"multi_match": dict(q)}, "size": 10})).fetchall()}
    most = {r[0]: r[1] for r in tiny.execute(_search(
        {"query": {"multi_match": dict(q, type="most_fields")},
         "size": 10})).fetchall()}
    # membership: union of per-field hits (text alpha: 1,4,5,8;
    # source news: 1,3)
    assert set(best) == set(most) == {1, 3, 4, 5, 8}
    assert most[1] > best[1]  # both fields hit -> sum beats max
    for d in (3, 4, 5, 8):
        assert most[d] == best[d]  # single-field docs: sum == max
    with pytest.raises(ValueError, match="unsupported multi_match type"):
        compile_search("docs", {"query": {"multi_match": dict(
            q, type="phrase")}}, "duck")
    # multi_match with an explicit sort would be filter context, which
    # _query_expr does not model -> loud
    with pytest.raises(ValueError, match="unsupported query clause"):
        compile_search("docs", {"query": {"multi_match": dict(q)},
                                "sort": [{"n": "asc"}]}, "duck")


def test_scored_constants_match_search():
    """One BM25: the DSL's K1/B must equal operators/search.py's."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        es_dsl,
        search,
    )

    assert es_dsl._BM25_K1 == search.K1
    assert es_dsl._BM25_B == search.B


def test_aggs_reject_hit_level_keys(tiny):
    """ADVICE r08 #3: aggs + hit-level keys must raise, not silently
    drop; the ES size: 0 idiom is the one accepted combination."""
    aggs = {"t": {"terms": {"field": "lang"}}}
    for extra in ({"sort": [{"n": "asc"}]}, {"_source": ["doc_id"]},
                  {"from": 5}, {"collapse": {"field": "lang"}}):
        with pytest.raises(ValueError, match="cannot combine with aggs"):
            compile_search("docs", {"aggs": aggs, **extra}, "duck")
    with pytest.raises(ValueError, match="size: 0 idiom"):
        compile_search("docs", {"aggs": aggs, "size": 5}, "duck")
    # size: 0 is accepted
    rows = tiny.execute(compile_search(
        "docs", {"aggs": aggs, "size": 0}, "duck")).fetchall()
    assert rows[0] == ("en", 3)


def test_knn_honors_source_and_size(tiny):
    """ADVICE r08 #3: knn _source/size are honored — _source picks hit
    columns (score appended), size caps hits at min(k, size)."""
    tiny.execute(
        "CREATE TABLE vecs2 AS SELECT * FROM (VALUES"
        " (1, [1.0, 0.0], 'a'), (2, [0.0, 1.0], 'b'), (3, [0.6, 0.8], 'c'),"
        " (4, [-1.0, 0.0], 'd'), (5, [0.8, 0.6], 'e'))"
        " AS t(vec_id, embedding, tag)"
    )
    base = {"field": "embedding", "query_vector": [1.0, 0.0], "k": 3}
    rows = tiny.execute(compile_search(
        "vecs2", {"knn": base, "size": 2}, "duck", id_field="vec_id"
    )).fetchall()
    assert rows == [(1, 1.0), (5, 0.8)]  # min(k=3, size=2)
    rows = tiny.execute(compile_search(
        "vecs2", {"knn": base, "_source": ["vec_id", "tag"]},
        "duck", id_field="vec_id",
    )).fetchall()
    assert rows == [(1, "a", 1.0), (5, "e", 0.8), (3, "c", 0.6)]


def test_lit_keeps_date_shaped_strings_plain(tiny):
    """ADVICE r08 #2: a date-shaped string against a STRING column must
    compare as a string, not be force-cast to TIMESTAMP."""
    tiny.execute(
        "CREATE TABLE rels AS SELECT * FROM (VALUES"
        " (1, '2024-01-05'), (2, '2024-01-10'), (3, 'v2-beta'))"
        " AS t(doc_id, version)"
    )
    body = {"query": {"term": {"version": "2024-01-10"}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, compile_search("rels", body, "duck")) == [2]
    body = {"query": {"range": {"version": {"gte": "2024-01-06"}}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    # string comparison: '2024-01-10' and 'v2-beta' both >= '2024-01-06'
    assert _ids(tiny, compile_search("rels", body, "duck")) == [2, 3]


def test_composite_pagination_walks_the_bucket_space(tiny):
    """composite + after: pages of size 2 concatenate to exactly the
    full (lang, band) bucket enumeration, no overlap, no gap."""
    def body(after=None):
        comp = {
            "sources": [
                {"lg": {"terms": {"field": "lang"}}},
                {"band": {"histogram": {"field": "n", "interval": 40}}},
            ],
            "size": 2,
        }
        if after:
            comp["after"] = after
        return {"aggs": {"p": {"composite": comp,
                               "aggs": {"ns": {"sum": {"field": "n"}}}}}}

    full_sql = compile_search("docs", {"aggs": {"p": {"composite": {
        "sources": body()["aggs"]["p"]["composite"]["sources"],
        "size": 100,
    }, "aggs": {"ns": {"sum": {"field": "n"}}}}}}, "duck")
    full = tiny.execute(full_sql).fetchall()
    # NULL-lang doc 7 excluded (missing_bucket=false); asc key order
    assert [r[:2] for r in full] == [
        ("de", 0.0), ("de", 40.0), ("en", 0.0), ("en", 80.0),
        ("fr", 40.0),
    ]
    walked, after = [], None
    for _ in range(5):
        page = tiny.execute(compile_search(
            "docs", body(after), "duck")).fetchall()
        if not page:
            break
        walked += page
        after = {"lg": page[-1][0], "band": page[-1][1]}
    assert walked == full
    with pytest.raises(ValueError, match="after must name every"):
        compile_search("docs", body({"lg": "de"}), "duck")
    with pytest.raises(ValueError, match="unsupported composite source"):
        compile_search("docs", {"aggs": {"p": {"composite": {
            "sources": [{"r": {"range": {"field": "n", "ranges": []}}}],
        }}}}, "duck")


def test_composite_desc_order(tiny):
    body = {"aggs": {"p": {"composite": {
        "sources": [{"lg": {"terms": {"field": "lang", "order": "desc"}}}],
        "size": 2,
        "after": {"lg": "fr"},
    }}}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # desc from 'fr': strictly after means < 'fr'
    assert [r[0] for r in rows] == ["en", "de"]


def test_filters_agg_semantics(tiny):
    """Named filters = independent overlapping buckets, one scan."""
    body = {"aggs": {"seg": {
        "filters": {"filters": {
            "en": {"term": {"lang": "en"}},
            "big": {"range": {"n": {"gte": 60}}},
        }},
        "aggs": {"avg_n": {"avg": {"field": "n"}}},
    }}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # en: docs 1,2,8 (n 10,20,80); big: docs 6,7,8 (n 60,70,80);
    # doc 8 is in BOTH buckets
    assert rows == [
        ("big", 3, (60 + 70 + 80) / 3),
        ("en", 3, (10 + 20 + 80) / 3),
    ]
    with pytest.raises(ValueError, match="bad filters bucket name"):
        compile_search("docs", {"aggs": {"seg": {"filters": {"filters": {
            "x'y": {"match_all": {}}}}}}}, "duck")


def test_top_hits_semantics(tiny):
    """terms -> top_hits: top buckets by doc_count, best hits per
    bucket by the top_hits sort."""
    body = {"aggs": {"by_lang": {
        "terms": {"field": "lang", "size": 2},
        "aggs": {"best": {"top_hits": {
            "size": 1, "sort": [{"n": {"order": "desc"}}],
            "_source": ["doc_id", "n"],
        }}},
    }}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # lang counts: en 3, de 2, fr 2 -> kept: en, de (key tiebreak);
    # best hit: en -> doc 8 (n=80), de -> doc 4 (n=40)
    assert rows == [("en", 3, 1, 8, 80), ("de", 2, 1, 4, 40)]
    with pytest.raises(ValueError, match="top_hits only under terms"):
        compile_search("docs", {"aggs": {"h": {
            "histogram": {"field": "n", "interval": 40},
            "aggs": {"t": {"top_hits": {"_source": ["doc_id"]}}},
        }}}, "duck")
    with pytest.raises(ValueError, match="top_hits requires _source"):
        compile_search("docs", {"aggs": {"h": {
            "terms": {"field": "lang"},
            "aggs": {"t": {"top_hits": {"size": 1}}},
        }}}, "duck")


def test_pipeline_cumsum_and_derivative(tiny):
    """cumulative_sum / derivative over a histogram parent, in bucket
    key order; derivative of the first bucket is NULL (ES parity)."""
    body = {"aggs": {"bands": {
        "histogram": {"field": "n", "interval": 40},
        "aggs": {
            "ns": {"sum": {"field": "n"}},
            "cum": {"cumulative_sum": {"buckets_path": "ns"}},
            "dn": {"derivative": {"buckets_path": "ns"}},
            "ccount": {"cumulative_sum": {"buckets_path": "_count"}},
        },
    }}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # bands: 0 (10,20,30), 40 (40,50,60,70), 80 (80)
    assert [(r[0], r[1], r[2]) for r in rows] == [
        (0.0, 3, 60.0), (40.0, 4, 220.0), (80.0, 1, 80.0)]
    assert [r[3] for r in rows] == [60.0, 280.0, 360.0]   # cum
    assert [r[4] for r in rows] == [None, 160.0, -140.0]  # derivative
    assert [r[5] for r in rows] == [3, 7, 8]              # _count cum
    with pytest.raises(ValueError, match="names no single-value sibling"):
        compile_search("docs", {"aggs": {"b": {
            "histogram": {"field": "n", "interval": 40},
            "aggs": {"c": {"cumulative_sum": {"buckets_path": "nope"}}},
        }}}, "duck")
    with pytest.raises(ValueError, match="histogram-family parent"):
        compile_search("docs", {"aggs": {"b": {
            "terms": {"field": "lang"},
            "aggs": {"c": {"cumulative_sum": {"buckets_path": "_count"}}},
        }}}, "duck")


def test_multi_column_metrics_rejected_as_order_and_path():
    """stats/extended_stats/percentiles/percentile_ranks render as
    MULTIPLE columns — naming one as a terms `order` target or a
    pipeline `buckets_path` must be a compile-time ValueError, never a
    downstream binder error on a nonexistent column (ADVICE r09 #1)."""
    for kind, spec in [
        ("stats", {"field": "n"}),
        ("extended_stats", {"field": "n"}),
        ("percentiles", {"field": "n", "percents": [50]}),
        ("percentile_ranks", {"field": "n", "values": [30]}),
    ]:
        with pytest.raises(ValueError, match="neither _key, _count"):
            compile_search("docs", {"aggs": {"t": {
                "terms": {"field": "lang", "order": {"m": "desc"}},
                "aggs": {"m": {kind: spec}},
            }}}, "duck")
        with pytest.raises(ValueError, match="names no single-value sibling"):
            compile_search("docs", {"aggs": {"b": {
                "histogram": {"field": "n", "interval": 40},
                "aggs": {
                    "m": {kind: spec},
                    "c": {"cumulative_sum": {"buckets_path": "m"}},
                },
            }}}, "duck")


def test_nested_three_levels_semantics(tiny):
    """terms -> terms -> histogram with a leaf metric: per-level top-N
    by total count, display order parent-count-first then key rules."""
    body = {"aggs": {"by_lang": {
        "terms": {"field": "lang", "size": 1},
        "aggs": {"by_src": {
            "terms": {"field": "source"},
            "aggs": {"band": {
                "histogram": {"field": "n", "interval": 40},
                "aggs": {"ns": {"sum": {"field": "n"}}},
            }},
        }},
    }}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # top lang: en (3: docs 1,2,8). sources in en: news(1), blog(1),
    # 105x(1) -> mid counts all 1, order by (count desc, key asc):
    # 105x, blog, news. bands: doc1 n=10->0, doc2 n=20->0, doc8 n=80->80
    assert rows == [
        ("en", 3, "105x", 1, 80.0, 1, 80.0),
        ("en", 3, "blog", 1, 0.0, 1, 20.0),
        ("en", 3, "news", 1, 0.0, 1, 10.0),
    ]


def test_match_operator_and(tiny):
    """operator: and requires EVERY analyzed term; filter and scored
    contexts agree on membership."""
    filt = {"query": {"match": {"text": {"query": "beta gamma",
                                         "operator": "and"}}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    # beta AND gamma: docs 1, 2, 5
    assert _ids(tiny, _search(filt)) == [1, 2, 5]
    scored = {"query": {"match": {"text": {"query": "beta gamma",
                                           "operator": "and"}}}, "size": 10}
    assert sorted(r[0] for r in tiny.execute(_search(scored)).fetchall()) == [
        1, 2, 5]
    with pytest.raises(ValueError, match="bad match operator"):
        compile_search("docs", {"query": {"match": {"text": {
            "query": "x", "operator": "xor"}}}}, "duck")
    # boost is SUPPORTED since batch 27 (scales the scored path);
    # a still-unknown key fails loudly
    with pytest.raises(ValueError, match="unsupported match keys"):
        compile_search("docs", {"query": {"match": {"text": {
            "query": "x", "fuzz": 2}}}}, "duck")


def test_fuzzy_semantics(tiny):
    """Token-level edit-distance match with the ES AUTO ladder."""
    # 'alpa' is 1 edit from 'alpha': AUTO on 4 chars = 1 edit
    body = {"query": {"fuzzy": {"text": "alpa"}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(body)) == [1, 4, 5, 8]
    # 0 edits: no exact token 'alpa' anywhere
    tight = {"query": {"fuzzy": {"text": {"value": "alpa", "fuzziness": 0}}},
             "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(tight)) == []
    # AUTO on a 2-char term means exact
    assert _ids(tiny, _search(
        {"query": {"fuzzy": {"text": "ze"}},
         "sort": [{"doc_id": "asc"}], "size": 10})) == []
    with pytest.raises(ValueError, match="bad fuzziness"):
        compile_search("docs", {"query": {"fuzzy": {"text": {
            "value": "x", "fuzziness": 9}}}}, "duck")
    with pytest.raises(ValueError, match="unsupported fuzzy keys"):
        compile_search("docs", {"query": {"fuzzy": {"text": {
            "value": "x", "boost": 2}}}}, "duck")


def test_search_after_walks_hits(tiny):
    """search_after pages concatenate to the full sorted hit list —
    the deep-pagination contract (strictly after, order-aware)."""
    def body(after=None):
        b = {"query": {"exists": {"field": "lang"}},
             "sort": [{"n": {"order": "desc"}}],
             "_source": ["doc_id", "n"], "size": 3}
        if after:
            b["search_after"] = after
        return b

    full = tiny.execute(_search(dict(body(), size=100))).fetchall()
    assert [r[0] for r in full] == [8, 6, 5, 4, 3, 2, 1]
    walked, after = [], None
    while True:
        page = tiny.execute(_search(body(after))).fetchall()
        if not page:
            break
        walked += page
        after = [page[-1][1], page[-1][0]]  # (n value, id tiebreak)
    assert walked == full
    with pytest.raises(ValueError, match="one value per effective"):
        compile_search("docs", dict(body([10]), size=3), "duck")
    with pytest.raises(ValueError, match="search_after replaces from"):
        compile_search("docs", {**body([10, 1]), "from": 2}, "duck")


def test_sibling_pipeline_scalars(tiny):
    """avg/sum/min/max_bucket: one scalar over the parent's buckets,
    rendered as a constant column; buckets_path must name the parent."""
    body = {"aggs": {
        "bands": {
            "histogram": {"field": "n", "interval": 40},
            "aggs": {"ns": {"sum": {"field": "n"}}},
        },
        "avg_ns": {"avg_bucket": {"buckets_path": "bands>ns"}},
        "max_ns": {"max_bucket": {"buckets_path": "bands>ns"}},
        "docs_total": {"sum_bucket": {"buckets_path": "bands>_count"}},
    }}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # bands: 0 -> ns 60 (3 docs), 40 -> ns 220 (4), 80 -> ns 80 (1)
    assert [(r[0], r[1], r[2]) for r in rows] == [
        (0.0, 3, 60.0), (40.0, 4, 220.0), (80.0, 1, 80.0)]
    for r in rows:  # scalars constant on every bucket row
        assert r[3] == (60 + 220 + 80) / 3
        assert r[4] == 220.0
        assert r[5] == 8
    with pytest.raises(ValueError, match="is not the bucket agg"):
        compile_search("docs", {"aggs": {
            "bands": {"histogram": {"field": "n", "interval": 40}},
            "x": {"avg_bucket": {"buckets_path": "other>_count"}},
        }}, "duck")
    with pytest.raises(ValueError, match="histogram-family parent"):
        compile_search("docs", {"aggs": {
            "t": {"terms": {"field": "lang"}},
            "x": {"avg_bucket": {"buckets_path": "t>_count"}},
        }}, "duck")


def test_count_api(tiny):
    """_count: matching-doc count under an optional query body."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_count,
    )

    sql = compile_count("docs", {"query": {"term": {"lang": "en"}}}, "duck")
    assert tiny.execute(sql).fetchall() == [(3,)]
    assert tiny.execute(compile_count("docs", {}, "duck")).fetchall() == [(8,)]
    with pytest.raises(ValueError, match="_count takes only"):
        compile_count("docs", {"size": 5}, "duck")


def test_es_mapping_gateway(spark, tables, sf_dir):
    """_mapping parity: the read API reports exactly what the write
    path's explicit-mapping create would declare."""
    from golang_db_query_engine_elasticsearch_indexer_spark import es_mapping
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        ParamsNullError,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (
        es_mapping_for_schema,
    )

    got = es_mapping(spark, "documents")
    assert set(got) == {"documents"}
    props = got["documents"]["mappings"]["properties"]
    assert props["doc_id"] == {"type": "long"}
    assert props["text"]["type"] == "text"
    assert got["documents"]["mappings"] == es_mapping_for_schema(
        spark.table("documents").schema
    )
    with pytest.raises(ParamsNullError):
        es_mapping(spark, None)


def test_es_count_gateway(spark, tables, sf_dir):
    from golang_db_query_engine_elasticsearch_indexer_spark import es_count
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        ParamsNullError,
    )

    n_en = es_count(spark, "documents", {"query": {"term": {"lang": "en"}}})
    n_all = es_count(spark, "documents")
    assert 0 < n_en < n_all
    with pytest.raises(ParamsNullError):
        es_count(spark, None, {})


def test_match_phrase_prefix(tiny):
    """Adjacency with the last term as a prefix: 'beta al' hits 'beta
    alpha' (docs 4, 5) but not 'alpha beta' (doc 1)."""
    body = {"query": {"match_phrase_prefix": {"text": "Beta AL"}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(body)) == [4, 5]
    # single term = plain prefix on a token boundary
    body = {"query": {"match_phrase_prefix": {"text": "eps"}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(body)) == [3, 7]
    with pytest.raises(ValueError, match="empty query string"):
        compile_search("docs", {"query": {"match_phrase_prefix": {
            "text": "  "}}}, "duck")


def test_terms_order_param(tiny):
    """ES terms order: _key, _count direction, or a sibling metric."""
    by_key = {"aggs": {"t": {"terms": {
        "field": "lang", "size": 10, "order": {"_key": "asc"}}}}}
    rows = tiny.execute(compile_search("docs", by_key, "duck")).fetchall()
    assert [r[0] for r in rows] == ["de", "en", "fr"]  # NULL lang excluded
    by_metric = {"aggs": {"t": {
        "terms": {"field": "lang", "size": 10, "order": {"nmax": "desc"}},
        "aggs": {"nmax": {"max": {"field": "n"}}},
    }}}
    rows = tiny.execute(compile_search("docs", by_metric, "duck")).fetchall()
    # max n per lang: en 80, fr 60, de 40 (doc 7's NULL lang excluded)
    assert [r[0] for r in rows] == ["en", "fr", "de"]
    with pytest.raises(ValueError, match="neither _key, _count"):
        compile_search("docs", {"aggs": {"t": {"terms": {
            "field": "lang", "order": {"nope": "desc"}}}}}, "duck")
    with pytest.raises(ValueError, match="unsupported terms keys"):
        compile_search("docs", {"aggs": {"t": {"terms": {
            "field": "lang", "shard_size": 100}}}}, "duck")
    # min_doc_count prunes buckets below the floor
    mdc = {"aggs": {"t": {"terms": {
        "field": "lang", "size": 10, "min_doc_count": 3}}}}
    rows = tiny.execute(compile_search("docs", mdc, "duck")).fetchall()
    assert rows == [("en", 3)]  # de 2, fr 2, NULL 1 all pruned


def test_fixed_interval_buckets(tiny):
    """date_histogram fixed_interval: ES epoch-millis bucket keys via
    integer epoch arithmetic; min_doc_count composes."""
    tiny.execute(
        "CREATE TABLE tline AS SELECT * FROM (VALUES"
        " (1, TIMESTAMP '2024-01-01 00:10:00'),"
        " (2, TIMESTAMP '2024-01-01 05:59:00'),"
        " (3, TIMESTAMP '2024-01-01 06:10:00'),"
        " (4, TIMESTAMP '2024-01-01 23:50:00')) AS t(doc_id, ts)"
    )
    body = {"aggs": {"h6": {"date_histogram": {
        "field": "ts", "fixed_interval": "6h"}}}}
    rows = tiny.execute(compile_search("tline", body, "duck")).fetchall()
    base = 1704067200000  # 2024-01-01T00:00Z epoch millis
    assert rows == [(base, 2), (base + 6 * 3600 * 1000, 1),
                    (base + 18 * 3600 * 1000, 1)]
    floor2 = {"aggs": {"h6": {"date_histogram": {
        "field": "ts", "fixed_interval": "6h", "min_doc_count": 2}}}}
    assert tiny.execute(compile_search("tline", floor2, "duck")).fetchall() == [
        (base, 2)]
    with pytest.raises(ValueError, match="bad fixed_interval"):
        compile_search("tline", {"aggs": {"h": {"date_histogram": {
            "field": "ts", "fixed_interval": "6 fortnights"}}}}, "duck")
    with pytest.raises(ValueError, match="mutually exclusive"):
        compile_search("tline", {"aggs": {"h": {"date_histogram": {
            "field": "ts", "fixed_interval": "6h",
            "calendar_interval": "day"}}}}, "duck")
    with pytest.raises(ValueError, match="top-level buckets only"):
        compile_search("docs", {"aggs": {"a": {
            "terms": {"field": "lang"},
            "aggs": {"b": {"histogram": {"field": "n", "interval": 10,
                                         "min_doc_count": 2}}},
        }}}, "duck")


def test_terms_missing_and_missing_agg(tiny):
    """terms `missing` buckets NULL under the stand-in key; the
    `missing` agg counts docs lacking the field."""
    body = {"aggs": {"t": {"terms": {
        "field": "lang", "size": 10, "missing": "unknown"}}}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    assert ("unknown", 1) in rows and not any(r[0] is None for r in rows)
    miss = {"aggs": {"m": {"missing": {"field": "source"},
                           "aggs": {"navg": {"avg": {"field": "n"}}}}}}
    rows = tiny.execute(compile_search("docs", miss, "duck")).fetchall()
    assert rows == [(1, 40.0)]  # doc 4: source NULL, n=40
    with pytest.raises(ValueError, match="missing takes only"):
        compile_search("docs", {"aggs": {"m": {"missing": {
            "field": "source", "size": 2}}}}, "duck")


def test_extended_stats_semantics(tiny):
    """Population variance/std from exact decimal sums, hand-checked."""
    body = {"aggs": {"t": {
        "terms": {"field": "lang", "size": 1},
        "aggs": {"es": {"extended_stats": {"field": "n"}}},
    }}}
    row = tiny.execute(compile_search("docs", body, "duck")).fetchall()[0]
    # top lang en: n = 10, 20, 80
    key, dc, cnt, mn, mx, avg, total, ss, var, std = row
    assert (key, dc, cnt, mn, mx) == ("en", 3, 3, 10, 80)
    assert total == 110.0 and ss == 100 + 400 + 6400
    mean = 110 / 3
    want_var = (6900 - 110 * 110 / 3) / 3
    assert var == want_var and avg == mean
    assert std == want_var ** 0.5


def test_es_msearch_gateway(spark, tables, sf_dir):
    """_msearch: a batch of lazy searches, all-or-nothing validation."""
    from golang_db_query_engine_elasticsearch_indexer_spark import es_msearch
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        ParamsNullError,
    )

    dfs = es_msearch(spark, [
        ("documents", {"query": {"term": {"lang": "en"}}, "size": 5,
                       "_source": ["doc_id"]}),
        ("events", {"aggs": {"t": {"terms": {"field": "event_type",
                                             "size": 3}}}}),
    ])
    assert len(dfs) == 2
    assert len(dfs[0].collect()) == 5
    assert len(dfs[1].collect()) == 3
    # one bad body fails the WHOLE batch before anything executes
    with pytest.raises(ValueError, match="unsupported query clause"):
        es_msearch(spark, [
            ("documents", {"query": {"term": {"lang": "en"}}}),
            ("documents", {"query": {"span_first": {}}}),
        ])
    with pytest.raises(ParamsNullError):
        es_msearch(spark, [("documents", None)])


def test_percentiles_metric(tiny):
    """Exact interpolated quantiles, hand-checked: n values sorted,
    rank = q*(n-1), linear interpolation between neighbors."""
    body = {"aggs": {"all": {
        "histogram": {"field": "n", "interval": 1000},
        "aggs": {"p": {"percentiles": {
            "field": "n", "percents": [0, 50, 75, 100],
        }}},
    }}}
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    # n = 10..80: p0=10, p50=45, p75=62.5, p100=80
    assert rows[0][2:] == (10.0, 45.0, 62.5, 80.0)
    # default percents emit 7 columns; bad percents raise
    dflt = {"aggs": {"all": {
        "histogram": {"field": "n", "interval": 1000},
        "aggs": {"p": {"percentiles": {"field": "n"}}},
    }}}
    assert len(tiny.execute(compile_search("docs", dflt, "duck"))
               .fetchall()[0]) == 2 + 7
    with pytest.raises(ValueError, match="percents must be"):
        compile_search("docs", {"aggs": {"a": {
            "histogram": {"field": "n", "interval": 10},
            "aggs": {"p": {"percentiles": {"field": "n",
                                           "percents": [150]}}},
        }}}, "duck")


def test_percentile_ranks_and_weighted_avg(tiny):
    """percentile_ranks = exact %-of-values-<=-v; weighted_avg =
    sum(v*w)/sum(w) — both hand-checked."""
    body = {"aggs": {"all": {
        "histogram": {"field": "n", "interval": 1000},
        "aggs": {
            "r": {"percentile_ranks": {"field": "n", "values": [30, 75]}},
            "w": {"weighted_avg": {"value": {"field": "n"},
                                   "weight": {"field": "doc_id"}}},
        },
    }}}
    row = tiny.execute(compile_search("docs", body, "duck")).fetchall()[0]
    # n = 10..80 (8 values): <=30 is 3/8, <=75 is 7/8
    assert row[2] == 100 * 3 / 8 and row[3] == 100 * 7 / 8
    # weighted avg: sum(n*doc_id)/sum(doc_id) over docs 1..8, n=10i
    num = sum(10 * i * i for i in range(1, 9))
    den = sum(range(1, 9))
    assert row[4] == num / den
    with pytest.raises(ValueError, match="wants a values list"):
        compile_search("docs", {"aggs": {"a": {
            "histogram": {"field": "n", "interval": 10},
            "aggs": {"r": {"percentile_ranks": {"field": "n"}}},
        }}}, "duck")
    with pytest.raises(ValueError, match="requires a field"):
        compile_search("docs", {"aggs": {"a": {
            "histogram": {"field": "n", "interval": 10},
            "aggs": {"r": {"avg": {}}},
        }}}, "duck")


def test_filter_and_global_aggs(tiny):
    """filter agg = one bucket under query AND extra clause; global
    agg = one bucket over the whole index, ignoring the query."""
    body = {"query": {"term": {"lang": "en"}},
            "aggs": {"news_docs": {
                "filter": {"term": {"source": "news"}},
                "aggs": {"nsum": {"sum": {"field": "n"}}},
            }}}
    # en docs: 1, 2, 8; of those source=news: doc 1 only
    assert tiny.execute(compile_search("docs", body, "duck")).fetchall() == [
        (1, 10.0)]
    gbody = {"query": {"term": {"lang": "en"}},
             "aggs": {"everything": {
                 "global": {},
                 "aggs": {"navg": {"avg": {"field": "n"}}},
             }}}
    # global ignores lang=en: all 8 docs, avg n = 45
    assert tiny.execute(compile_search("docs", gbody, "duck")).fetchall() == [
        (8, 45.0)]
    with pytest.raises(ValueError, match="global takes an empty body"):
        compile_search("docs", {"aggs": {"g": {
            "global": {"field": "n"}}}}, "duck")


def test_dis_max_and_boosting_membership(tiny):
    """dis_max membership = union of sub-queries; boosting membership
    = the positive clause alone (the negative clause demotes, never
    excludes — ES semantics the filter context must preserve)."""
    dm = {"query": {"dis_max": {"queries": [
        {"term": {"lang": "de"}}, {"match": {"text": "zeta"}},
    ], "tie_breaker": 0.5}}, "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(dm)) == [3, 4, 6, 7]
    bo = {"query": {"boosting": {
        "positive": {"range": {"n": {"gte": 50}}},
        "negative": {"term": {"lang": "fr"}},  # demotes, must NOT drop
        "negative_boost": 0.1,
    }}, "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(bo)) == [5, 6, 7, 8]
    with pytest.raises(ValueError, match="non-empty queries list"):
        compile_search("docs", {"query": {"dis_max": {"queries": []}}},
                       "duck")
    with pytest.raises(ValueError, match="requires a positive"):
        compile_search("docs", {"query": {"boosting": {
            "negative": {"term": {"lang": "fr"}}}}}, "duck")


def test_constant_score_and_keyed_ranges(tiny):
    """constant_score unwraps to its filter; range buckets honor the
    ES per-range \"key\" label."""
    body = {"query": {"constant_score": {
        "filter": {"term": {"lang": "de"}}, "boost": 1.2}},
        "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(body)) == [3, 4]
    keyed = {"aggs": {"b": {"range": {"field": "n", "ranges": [
        {"to": 30, "key": "small"},
        {"from": 30, "to": 60, "key": "mid"},
        {"from": 60, "key": "big"},
    ]}}}}
    rows = tiny.execute(compile_search("docs", keyed, "duck")).fetchall()
    assert rows == [("small", 2), ("mid", 3), ("big", 3)]


def test_search_after_equals_from_size_property(tiny):
    """PROPERTY: for any page size, walking with search_after yields
    exactly the same hit sequence as deep from/size offsets — the two
    pagination idioms must agree on every page boundary."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @given(psize=st.integers(1, 8),
           order=st.sampled_from(["asc", "desc"]),
           qsize=st.integers(0, 3))
    @settings(
        max_examples=25, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def prop(psize, order, qsize):
        q = ({"range": {"n": {"gte": 10 * qsize}}} if qsize
             else {"match_all": {}})
        base = {"query": q, "sort": [{"n": {"order": order}}],
                "_source": ["doc_id", "n"], "size": psize}
        # from/size walk
        offset_pages = []
        for off in range(0, 12, psize):
            page = tiny.execute(_search({**base, "from": off})).fetchall()
            offset_pages += page
            if len(page) < psize:
                break
        # search_after walk
        sa_pages, after = [], None
        while True:
            b = dict(base)
            if after:
                b["search_after"] = after
            page = tiny.execute(_search(b)).fetchall()
            if not page:
                break
            sa_pages += page
            after = [page[-1][1], page[-1][0]]
            if len(page) < psize:
                break
        assert sa_pages == offset_pages

    prop()


def test_agg_body_fuzz_compiles_and_runs(tiny):
    """PROPERTY: any grammar-generated aggregation body compiles in
    both dialects (pure function of the body) and the duck text
    executes; bucket doc_counts are positive and sum to at most the
    corpus size per single-membership bucket kind."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    bucket = st.sampled_from([
        {"terms": {"field": "lang", "size": 5}},
        {"terms": {"field": "lang", "size": 3, "order": {"_key": "asc"}}},
        {"terms": {"field": "source", "missing": "none"}},
        {"histogram": {"field": "n", "interval": 25}},
        {"range": {"field": "n",
                   "ranges": [{"to": 40}, {"from": 40, "key": "hi"}]}},
        {"missing": {"field": "source"}},
        {"filter": {"term": {"lang": "en"}}},
        {"global": {}},
    ])
    metric = st.sampled_from([
        {}, {"m": {"avg": {"field": "n"}}},
        {"m": {"sum": {"field": "n"}}, "c": {"cardinality": {"field": "lang"}}},
        {"m": {"extended_stats": {"field": "n"}}},
    ])
    query = st.sampled_from([
        {"match_all": {}}, {"term": {"lang": "en"}},
        {"range": {"n": {"gte": 20}}},
    ])

    @given(b=bucket, m=metric, q=query)
    @settings(
        max_examples=40, deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def prop(b, m, q):
        spec = dict(b)
        if m:
            spec = {**b, "aggs": m}
        body = {"query": q, "aggs": {"a": spec}}
        d1 = compile_search("docs", body, "duck")
        assert d1 == compile_search("docs", body, "duck")
        compile_search("docs", body, "spark")  # both dialects compile
        rows = tiny.execute(d1).fetchall()
        kind = next(iter(b))
        counts = [r[1] if kind not in ("missing", "filter", "global")
                  else r[0] for r in rows]
        assert all(c >= 0 for c in counts)
        if kind != "global":
            assert sum(counts) <= 8  # single-membership buckets

    prop()


# --- differential fuzz: the two dialects must agree for ANY body -------------


def _body_strategy():
    """A grammar of valid search bodies over the tiny docs corpus."""
    from hypothesis import strategies as st

    term = st.sampled_from([
        {"term": {"lang": "en"}}, {"term": {"lang": "de"}},
        {"term": {"source": "news"}}, {"terms": {"lang": ["de", "fr"]}},
        {"exists": {"field": "source"}}, {"ids": {"values": [1, 3, 5, 7]}},
        {"prefix": {"source": "ne"}}, {"wildcard": {"source": "*e*"}},
        {"match": {"text": "alpha delta"}},
        {"match": {"text": {"query": "beta gamma", "operator": "and"}}},
        {"match_phrase": {"text": "beta alpha"}},
        {"fuzzy": {"text": "alpa"}},
        {"fuzzy": {"text": {"value": "gama", "fuzziness": 1}}},
        {"range": {"n": {"gte": 20, "lt": 70}}},
        {"range": {"n": {"gt": 40}}},
        {"match_all": {}},
    ])
    clause = st.deferred(
        lambda: st.one_of(
            term,
            st.fixed_dictionaries({"bool": st.fixed_dictionaries({
                "must": st.lists(term, max_size=2),
                "should": st.lists(term, max_size=2),
                "must_not": st.lists(term, max_size=1),
            })}),
        )
    )
    return st.fixed_dictionaries({
        "query": clause,
        "sort": st.sampled_from(
            [[{"n": {"order": "desc"}}], [{"lang": "asc"}], []]
        ),
        "size": st.integers(1, 10),
        "from": st.integers(0, 3),
    })


def test_dialect_differential_fuzz(tiny):
    """For ANY grammar-generated body, the Spark-dialect and
    DuckDB-dialect compilations must be accepted by their engines and
    agree row-for-row — here both run on DuckDB-compatible shared
    corpus via a Spark session would be slow, so the property uses
    DuckDB for the duck text and pins the spark text separately in
    test_registered_entries_match_duckdb; what THIS property checks is
    totality + determinism of the compiler itself: same body -> same
    SQL (pure function), every generated body compiles in both
    dialects without error, and the duck execution succeeds."""
    from hypothesis import HealthCheck, given, settings

    @given(body=_body_strategy())
    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def prop(body):
        d1 = compile_search("docs", body, "duck")
        d2 = compile_search("docs", body, "duck")
        assert d1 == d2  # pure function of the body
        s1 = compile_search("docs", body, "spark")
        assert "  " or s1  # spark text compiles too (syntax checked below)
        rows = tiny.execute(d1).fetchall()
        assert len(rows) <= body["size"]

    prop()


def test_cross_engine_agg_grid(spark, tiny):
    """True cross-dialect differential for the AGGREGATION surface: a
    deterministic grid of agg shapes (bucket kinds x metrics x
    queries, plus pagination/pipeline/sibling combos) runs on the SAME
    tiny corpus in Spark (spark dialect) and DuckDB (duck dialect);
    rows must agree exactly. Catches dialect-translation bugs on
    shapes no registered entry exercises."""
    rows = [
        (1, "Alpha Beta Gamma", "en", "news", 10),
        (2, "beta gamma delta", "en", "blog", 20),
        (3, "delta epsilon", "de", "news", 30),
        (4, "beta alpha", "de", None, 40),
        (5, "gamma beta alpha", "fr", "a_c", 50),
        (6, "zeta", "fr", "abc", 60),
        (7, "epsilon zeta", None, "10%x", 70),
        (8, "alpha", "en", "105x", 80),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n long"
    ).createOrReplaceTempView("agg_docs")
    tiny.execute("CREATE TABLE agg_docs AS SELECT * FROM docs")

    metrics = [
        {},
        {"m": {"avg": {"field": "n"}}},
        {"m": {"extended_stats": {"field": "n"}}},
        {"m": {"percentiles": {"field": "n", "percents": [50, 90]}}},
        {"m": {"percentile_ranks": {"field": "n", "values": [35]}}},
        {"m": {"weighted_avg": {"value": {"field": "n"},
                                "weight": {"field": "doc_id"}}}},
    ]
    buckets = [
        {"terms": {"field": "lang", "size": 3}},
        {"terms": {"field": "lang", "size": 10, "order": {"_key": "asc"},
                   "missing": "xx"}},
        {"histogram": {"field": "n", "interval": 25}},
        {"range": {"field": "n", "ranges": [{"to": 45, "key": "lo"},
                                            {"from": 45}]}},
        {"filter": {"term": {"lang": "en"}}},
        {"missing": {"field": "source"}},
        {"global": {}},
    ]
    bodies = []
    for i, b in enumerate(buckets):
        m = metrics[i % len(metrics)]
        spec = {**b, "aggs": m} if m else dict(b)
        bodies.append({"aggs": {"a": spec}})
        bodies.append({"query": {"range": {"n": {"gte": 25}}},
                       "aggs": {"a": spec}})
    # pipeline + sibling combos over a histogram parent
    bodies.append({"aggs": {
        "h": {"histogram": {"field": "n", "interval": 25},
              "aggs": {"s": {"sum": {"field": "n"}},
                       "c": {"cumulative_sum": {"buckets_path": "s"}},
                       "d": {"derivative": {"buckets_path": "_count"}}}},
        "avg_h": {"avg_bucket": {"buckets_path": "h>s"}},
    }})
    # composite with and without after
    comp = {"sources": [{"lg": {"terms": {"field": "lang"}}},
                        {"band": {"histogram": {"field": "n",
                                                "interval": 40}}}],
            "size": 10}
    bodies.append({"aggs": {"p": {"composite": dict(comp)}}})
    bodies.append({"aggs": {"p": {"composite": dict(
        comp, after={"lg": "de", "band": 40.0})}}})
    for body in bodies:
        got = [tuple(r) for r in spark.sql(
            compile_search("agg_docs", body, "spark")).collect()]
        want = tiny.execute(
            compile_search("agg_docs", body, "duck")).fetchall()
        assert got == want, (body, got, want)


def test_cross_engine_differential_grid(spark, tiny):
    """True cross-dialect differential beyond the registered bodies: a
    deterministic grid of clause combinations runs on the SAME tiny
    corpus in Spark (spark dialect) and DuckDB (duck dialect); rows
    must agree exactly. Catches dialect-translation bugs (escaping,
    NULL handling, msm arithmetic) on shapes no registered entry
    exercises."""
    rows = [
        (1, "Alpha Beta Gamma", "en", "news", 10),
        (2, "beta gamma delta", "en", "blog", 20),
        (3, "delta epsilon", "de", "news", 30),
        (4, "beta alpha", "de", None, 40),
        (5, "gamma beta alpha", "fr", "a_c", 50),
        (6, "zeta", "fr", "abc", 60),
        (7, "epsilon zeta", None, "10%x", 70),
        (8, "alpha", "en", "105x", 80),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n long"
    ).createOrReplaceTempView("fuzz_docs")

    terms = [
        {"term": {"lang": "en"}},
        {"terms": {"lang": ["de", "fr"]}},
        {"exists": {"field": "source"}},
        {"prefix": {"source": "ne"}},
        {"wildcard": {"source": "*e*"}},
        {"match": {"text": "alpha delta"}},
        {"match_phrase": {"text": "beta alpha"}},
        {"range": {"n": {"gte": 20, "lt": 70}}},
        {"match": {"text": {"query": "beta gamma", "operator": "and"}}},
        {"fuzzy": {"text": "alpa"}},
        {"match_phrase_prefix": {"text": "beta al"}},
        {"match_phrase_prefix": {"text": "eps"}},
        {"dis_max": {"queries": [{"term": {"lang": "de"}},
                                 {"match": {"text": "zeta"}}]}},
        {"boosting": {"positive": {"range": {"n": {"gte": 50}}},
                      "negative": {"term": {"lang": "fr"}},
                      "negative_boost": 0.1}},
        {"constant_score": {"filter": {"exists": {"field": "source"}}}},
    ]
    bodies = [{"query": t, "size": 8} for t in terms]
    for i, a in enumerate(terms[:4]):
        b = terms[i + 4]
        bodies.append({"query": {"bool": {"must": [a], "must_not": [b]}},
                       "size": 8})
        bodies.append({"query": {"bool": {"should": [a, b],
                                          "minimum_should_match": 1}},
                       "sort": [{"n": {"order": "desc"}}], "size": 8})
        bodies.append({"query": {"bool": {"should": [a, b],
                                          "minimum_should_match": 2}},
                       "size": 8})
    tiny.execute(
        "CREATE TABLE fuzz_docs AS SELECT * FROM docs"
    )
    for body in bodies:
        got = [
            tuple(r)
            for r in spark.sql(
                compile_search("fuzz_docs", body, "spark")
            ).collect()
        ]
        want = tiny.execute(compile_search("fuzz_docs", body, "duck")).fetchall()
        assert got == want, (body, got, want)


# --- r10: bucket_script / bucket_selector (row-local pipeline aggs) ----------


def test_bucket_selector_filters_buckets(tiny):
    """The Kibana HAVING idiom: selector keeps buckets whose metrics
    pass the script predicate, applied AFTER the terms top-N (ES runs
    pipelines on the returned buckets). Hand-derivation: en avg(n) =
    (10+20+80)/3 = 36.67, de = (30+40)/2 = 35, fr = (50+60)/2 = 55 —
    the `< 40` cut drops fr."""
    body = {"aggs": {"t": {
        "terms": {"field": "lang", "size": 10},
        "aggs": {
            "avg_n": {"avg": {"field": "n"}},
            "keep": {"bucket_selector": {
                "buckets_path": {"c": "_count", "a": "avg_n"},
                "script": "params.c >= 2 && params.a < 40",
            }},
        },
    }}}
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    assert [(r[0], r[1]) for r in rows] == [("en", 3), ("de", 2)]


def test_bucket_script_derived_metric(tiny):
    """Derived per-bucket metric: sum/count*2 over histogram buckets.
    Buckets of n with interval 40: [0,40)={10,20,30}, [40,80)=
    {40,50,60,70}, [80,∞)={80}."""
    body = {"aggs": {"h": {
        "histogram": {"field": "n", "interval": 40},
        "aggs": {
            "s": {"sum": {"field": "n"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"s": "s", "c": "_count"},
                "script": "params.s / params.c * 2",
            }},
        },
    }}}
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    assert rows == [
        (0.0, 3, 60.0, 40.0),
        (40.0, 4, 220.0, 110.0),
        (80.0, 1, 80.0, 160.0),
    ]


def test_bucket_script_composes_with_window_pipelines(tiny):
    """Scripts layer OVER the window-pipeline wrap: cumulative_sum and
    a bucket_script coexist on one histogram parent, and a
    bucket_selector may reference the script's output (ES allows a
    buckets_path onto any sibling, including another pipeline)."""
    body = {"aggs": {"h": {
        "histogram": {"field": "n", "interval": 40},
        "aggs": {
            "s": {"sum": {"field": "n"}},
            "running": {"cumulative_sum": {"buckets_path": "s"}},
            "per_doc": {"bucket_script": {
                "buckets_path": {"s": "s", "c": "_count"},
                "script": "params.s / params.c",
            }},
            "keep": {"bucket_selector": {
                "buckets_path": {"p": "per_doc"},
                "script": "params.p > 25",
            }},
        },
    }}}
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    # per_doc: 20, 55, 80 -> the >25 cut drops the first bucket;
    # running (computed BEFORE the selector, over all buckets): 60, 280, 360
    assert rows == [(40.0, 4, 220.0, 280.0, 55.0), (80.0, 1, 80.0, 360.0, 80.0)]


def test_rowlocal_pipeline_rejections(tiny):
    """Every unsupported shape is a compile-time ValueError."""
    def terms_with(spec):
        return {"aggs": {"t": {
            "terms": {"field": "lang"},
            "aggs": {"m": {"avg": {"field": "n"}}, "x": spec},
        }}}

    for spec, msg in [
        ({"bucket_selector": {"buckets_path": {"a": "m"},
                              "script": "params.a > 1",
                              "gap_policy": "insert_zeros"}},
         "unsupported gap_policy"),
        ({"bucket_script": {"buckets_path": {"a": "m"},
                            "script": "params.a.floor()"}},
         "unsupported syntax"),
        ({"bucket_script": {"buckets_path": {"a": "m"},
                            "script": "params.b + 1"}},
         "not a buckets_path key"),
        ({"bucket_script": {"buckets_path": "m", "script": "1"}},
         "non-empty map"),
        ({"bucket_script": {"buckets_path": {"a": "nope"},
                            "script": "params.a"}},
         "single-value sibling"),
        ({"bucket_script": {"buckets_path": {"a": "m"},
                            "script": "params.a > 1)"}},
         "trailing tokens"),
        ({"bucket_script": {"buckets_path": {"a": "m"},
                            "script": "(params.a > 1"}},
         "unbalanced parens"),
        ({"bucket_script": {"buckets_path": {"a": "m"}, "script": "  "}},
         "non-empty script"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("docs", terms_with(spec), "duck")
    # wrong parent kind
    with pytest.raises(ValueError, match="histogram-family parent"):
        compile_aggs("docs", {"aggs": {"r": {
            "range": {"field": "n", "ranges": [{"to": 50}, {"from": 50}]},
            "aggs": {"x": {"bucket_selector": {
                "buckets_path": {"c": "_count"}, "script": "params.c > 1",
            }}},
        }}}, "duck")


def test_script_translation_semantics(tiny):
    """Painless-lite operator semantics: precedence, unary minus,
    parens, ==/!= -> =/<>, float division on integer operands."""
    got = tiny.execute(
        "SELECT " + __import__(
            "golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl",
            fromlist=["_compile_script"],
        )._compile_script(
            "params.a + 2 * 3 - (-params.a) / 4",
            {"a": "8"}, "t",
        )
    ).fetchone()[0]
    assert got == 8 + 6 + 2  # 8 + 2*3 - (-8)/4 = 8 + 6 + 2 = 16
    es = __import__(
        "golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl",
        fromlist=["_compile_script"],
    )
    assert tiny.execute(
        "SELECT " + es._compile_script("params.c / 2", {"c": "5"}, "t")
    ).fetchone()[0] == 2.5  # float division, Painless doubles
    assert tiny.execute(
        "SELECT " + es._compile_script(
            "params.a == 3 || !(params.a != 3) && params.a > 99",
            {"a": "3"}, "t")
    ).fetchone()[0] is True


# --- r10: multi_terms ---------------------------------------------------------


def test_multi_terms_excludes_docs_missing_any_key(tiny):
    """ES: a doc missing ANY key field is excluded (doc 4 has NULL
    source, doc 7 NULL lang). Default order doc_count DESC then the
    key tuple."""
    body = {"aggs": {"mt": {"multi_terms": {
        "terms": [{"field": "lang"}, {"field": "source"}], "size": 10,
    }}}}
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    assert rows == [
        ("de", "news", 1), ("en", "105x", 1), ("en", "blog", 1),
        ("en", "news", 1), ("fr", "a_c", 1), ("fr", "abc", 1),
    ]


def test_multi_terms_order_and_metrics(tiny):
    body = {"aggs": {"mt": {
        "multi_terms": {
            "terms": [{"field": "lang"}, {"field": "source"}],
            "size": 3, "order": {"_key": "desc"},
        },
        "aggs": {"avg_n": {"avg": {"field": "n"}}},
    }}}
    rows = tiny.execute(compile_aggs("docs", body, "duck")).fetchall()
    assert [(r[0], r[1]) for r in rows] == [
        ("fr", "abc"), ("fr", "a_c"), ("en", "news"),
    ]
    assert rows[0][3] == 60.0
    for body, msg in [
        ({"aggs": {"m": {"multi_terms": {"terms": [{"field": "lang"}]}}}},
         ">= 2 term sources"),
        ({"aggs": {"m": {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "source", "missing": "x"}],
        }}}}, "only a field"),
        ({"aggs": {"m": {"multi_terms": {
            "terms": [{"field": "lang"}, {"field": "source"}],
            "order": {"nope": "desc"},
        }}}}, "multi_terms order target"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("docs", body, "duck")


# --- r10: auto_date_histogram -------------------------------------------------


@pytest.fixture()
def tiny_ts():
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE ev AS SELECT * FROM (VALUES
          (1, TIMESTAMP '2024-01-01 00:00:00', 'a'),
          (2, TIMESTAMP '2024-01-01 06:30:00', 'a'),
          (3, TIMESTAMP '2024-01-02 12:00:00', 'b'),
          (4, TIMESTAMP '2024-01-05 23:59:59', 'b'),
          (5, TIMESTAMP '2024-01-09 01:00:00', 'c')
        ) AS t(event_id, ts, event_type)
    """)
    return con


def test_auto_date_histogram_picks_ladder_interval(tiny_ts):
    """8-day span under a 10-bucket target resolves to 1-day buckets
    (the smallest ladder width i with span < (buckets-1)*i); the
    chosen interval is emitted as interval_secs, parity with the ES
    response's `interval` field. Keys are epoch-millis bucket starts
    (the fixed_interval discipline)."""
    body = {"aggs": {"auto": {
        "auto_date_histogram": {"field": "ts", "buckets": 10},
    }}}
    rows = tiny_ts.execute(
        compile_aggs("ev", body, "duck", "event_id")
    ).fetchall()
    assert [r[1] for r in rows] == [86400] * 4
    assert [r[2] for r in rows] == [2, 1, 1, 1]
    assert rows[0][0] == 1704067200000  # 2024-01-01T00:00:00Z
    # a tighter target coarsens the interval: 3 buckets -> weekly
    body = {"aggs": {"auto": {
        "auto_date_histogram": {"field": "ts", "buckets": 3},
    }}}
    rows = tiny_ts.execute(
        compile_aggs("ev", body, "duck", "event_id")
    ).fetchall()
    assert [r[1] for r in rows] == [604800, 604800]
    assert sum(r[2] for r in rows) == 5


def test_auto_date_histogram_rejections(tiny_ts):
    for body, msg in [
        ({"aggs": {"a": {"auto_date_histogram": {
            "field": "ts", "buckets": 1}}}}, r"\[2, 1000\]"),
        ({"aggs": {"a": {"auto_date_histogram": {
            "field": "ts", "minimum_interval": "day"}}}},
         "unsupported auto_date_histogram keys"),
        ({"aggs": {"a": {
            "auto_date_histogram": {"field": "ts"},
            "aggs": {"c": {"cumulative_sum": {"buckets_path": "_count"}}},
        }}}, "auto_date_histogram are"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("ev", body, "duck", "event_id")


# --- r10: highlight inside the _search body ----------------------------------


def test_highlight_constants_match_search():
    """The in-body highlight and the standalone kernel must emit
    byte-identical snippets: pin the geometry constants."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        es_dsl,
        search,
    )

    assert es_dsl._HL_PRE == search.HIGHLIGHT_PRE
    assert es_dsl._HL_SUF == search.HIGHLIGHT_SUF


def test_match_highlight_snippets(tiny):
    """hits + highlights from one body: per hit, the query term with
    the smallest first-occurrence position wins; a field with no term
    occurrence highlights NULL (ES omits it)."""
    body = {
        "query": {"match": {"text": "alpha delta"}},
        "_source": ["doc_id", "lang"],
        "size": 10,
        "highlight": {"fields": {"text": {}}},
    }
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    by_id = {r[0]: r[3] for r in rows}
    # doc 1 'Alpha Beta Gamma': the analyzer lowercased the match
    # token, so the occurrence search is case-insensitive and the
    # snippet keeps the ORIGINAL casing (ES parity)
    assert by_id[1] == "<em>Alpha</em> Beta Gamma"
    # doc 2 'beta gamma delta': delta at pos 12 -> left context kept
    assert by_id[2] == "beta gamma <em>delta</em>"
    # doc 8 'alpha': whole text wrapped
    assert by_id[8] == "<em>alpha</em>"
    # scores descend and every returned row has a snippet (a scored
    # single-field match guarantees >= 1 term occurrence)
    assert all(s is not None for s in by_id.values())
    scores = [r[2] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_highlight_rejections(tiny):
    for body, msg in [
        ({"query": {"term": {"lang": "en"}},
          "highlight": {"fields": {"text": {}}}},
         "highlight requires a scored"),
        ({"query": {"match": {"text": "alpha"}},
          "sort": [{"n": "asc"}],
          "highlight": {"fields": {"text": {}}}},
         "highlight requires a scored"),
        ({"query": {"match": {"text": "alpha"}},
          "highlight": {"fields": {"text": {}}}},
         "highlight requires an explicit _source"),
        ({"query": {"match": {"text": "alpha"}},
          "_source": ["doc_id"],
          "highlight": {"fields": {"text": {"fragment_size": 10}}}},
         "options are unsupported"),
        ({"query": {"match": {"text": "alpha"}},
          "_source": ["doc_id"],
          "highlight": {"require_field_match": False,
                        "fields": {"text": {}}}},
         "unsupported highlight keys"),
        ({"size": 0,
          "aggs": {"t": {"terms": {"field": "lang"}}},
          "highlight": {"fields": {"text": {}}}},
         "cannot combine with aggs"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")


# --- r10 batch 2: rare_terms / date_range / serial_diff / moving_fn /
# --- stats_bucket


def test_rare_terms_long_tail(tiny):
    """Buckets with doc_count <= max_doc_count, rarest first; 'news'
    (2 docs) survives only when the cap admits it."""
    b = {"aggs": {"rare": {"rare_terms": {"field": "source"}}}}
    rows = tiny.execute(compile_aggs("docs", b, "duck")).fetchall()
    assert rows == [("10%x", 1), ("105x", 1), ("a_c", 1),
                    ("abc", 1), ("blog", 1)]
    b = {"aggs": {"rare": {"rare_terms": {
        "field": "source", "max_doc_count": 2}}}}
    rows = tiny.execute(compile_aggs("docs", b, "duck")).fetchall()
    assert ("news", 2) in rows and len(rows) == 6
    for body, msg in [
        ({"aggs": {"r": {"rare_terms": {"field": "source",
                                        "max_doc_count": 0}}}},
         r"\[1, 100\]"),
        ({"aggs": {"r": {"rare_terms": {"field": "source",
                                        "size": 5}}}},
         "unsupported rare_terms keys"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("docs", body, "duck")


@pytest.fixture()
def tiny_val():
    con = duckdb.connect()
    con.execute("""
        CREATE TABLE ev AS SELECT * FROM (VALUES
          (1, TIMESTAMP '2024-01-01 00:00:00', 10.0),
          (2, TIMESTAMP '2024-01-02 06:30:00', 20.0),
          (3, TIMESTAMP '2024-01-03 12:00:00', 30.0),
          (4, TIMESTAMP '2024-01-05 23:59:59', 40.0),
          (5, TIMESTAMP '2024-01-09 01:00:00', 50.0)
        ) AS t(event_id, ts, value)
    """)
    return con


def test_date_range_buckets(tiny_val):
    """from inclusive / to exclusive on ISO date strings; declaration
    order kept; explicit key labels honored; doc missing the field
    would be in no bucket (same CASE rendering as numeric range)."""
    b = {"aggs": {"dr": {
        "date_range": {"field": "ts", "ranges": [
            {"to": "2024-01-03"},
            {"from": "2024-01-03", "to": "2024-01-06"},
            {"from": "2024-01-06", "key": "late"},
        ]},
        "aggs": {"v": {"avg": {"field": "value"}}},
    }}}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")
    ).fetchall()
    assert rows == [
        ("*-2024-01-03", 2, 15.0),
        ("2024-01-03-2024-01-06", 2, 35.0),
        ("late", 1, 50.0),
    ]
    with pytest.raises(ValueError, match="overlapping range buckets"):
        compile_aggs("ev", {"aggs": {"d": {"date_range": {
            "field": "ts", "ranges": [
                {"to": "2024-01-05"}, {"from": "2024-01-03"},
            ]}}}}, "duck", "event_id")
    with pytest.raises(ValueError, match="all-numeric or all-string"):
        compile_aggs("ev", {"aggs": {"d": {"date_range": {
            "field": "ts", "ranges": [
                {"to": "2024-01-05"}, {"from": 5},
            ]}}}}, "duck", "event_id")


def test_serial_diff_and_moving_fn(tiny_val):
    """serial_diff = value minus the lag-n bucket (NULL while the lag
    window is unfilled); moving_fn shift=0 windows EXCLUDE the current
    bucket, shift=1 include it; MovingFunctions.sum of an empty window
    is 0.0, unweightedAvg of an empty window is NULL (ES NaN)."""
    b = {"aggs": {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {
            "s": {"sum": {"field": "value"}},
            "d2": {"serial_diff": {"buckets_path": "s", "lag": 2}},
            "ma2": {"moving_fn": {
                "buckets_path": "s", "window": 2,
                "script": "MovingFunctions.unweightedAvg(values)"}},
            "sm2": {"moving_fn": {
                "buckets_path": "s", "window": 2, "shift": 1,
                "script": "MovingFunctions.sum(values)"}},
        },
    }}}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")
    ).fetchall()
    # (key, doc_count, s, d2, ma2, sm2) over buckets 1,2,3,5,9 Jan
    assert [r[3] for r in rows] == [None, None, 20.0, 20.0, 20.0]
    assert [r[4] for r in rows] == [None, 10.0, 15.0, 25.0, 35.0]
    assert [r[5] for r in rows] == [10.0, 30.0, 50.0, 70.0, 90.0]
    for spec, msg in [
        ({"moving_fn": {"buckets_path": "s", "window": 0,
                        "script": "MovingFunctions.sum(values)"}},
         "window must be >= 1"),
        ({"moving_fn": {"buckets_path": "s", "window": 3,
                        "script": "MovingFunctions.stdDev(values)"}},
         "stock MovingFunctions"),
        ({"moving_fn": {"buckets_path": "s", "window": 3, "shift": 2,
                        "script": "MovingFunctions.sum(values)"}},
         "unsupported moving_fn shift"),
        ({"serial_diff": {"buckets_path": "s", "lag": 0}},
         "lag must be >= 1"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("ev", {"aggs": {"daily": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {"s": {"sum": {"field": "value"}}, "x": spec},
            }}}, "duck", "event_id")


def test_stats_bucket_sibling(tiny_val):
    """stats_bucket emits count/min/max/avg/sum of the parent's bucket
    metric as five constant columns; _count paths keep integer types."""
    b = {"aggs": {
        "daily": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"v": {"avg": {"field": "value"}}},
        },
        "st": {"stats_bucket": {"buckets_path": "daily>v"}},
        "dc": {"stats_bucket": {"buckets_path": "daily>_count"}},
    }}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")
    ).fetchall()
    # columns: key, doc_count, v, st_count..st_sum, dc_count..dc_sum
    assert len(rows) == 5
    st = rows[0][3:8]
    assert st == (5, 10.0, 50.0, 30.0, 150.0)
    dc = rows[0][8:13]
    assert dc == (5, 1, 1, 1.0, 5)
    # a bucket_selector cannot address the multi-column stats_bucket
    with pytest.raises(ValueError, match="single-value sibling"):
        compile_aggs("ev", {"aggs": {
            "daily": {
                "date_histogram": {"field": "ts",
                                   "calendar_interval": "day"},
                "aggs": {
                    "v": {"avg": {"field": "value"}},
                    "keep": {"bucket_selector": {
                        "buckets_path": {"x": "st"},
                        "script": "params.x > 1"}},
                },
            },
            "st": {"stats_bucket": {"buckets_path": "daily>v"}},
        }}, "duck", "event_id")


# --- r10 batch 3: _score sort routing and _source booleans --------------------


def test_score_sort_routes_to_scored_context(tiny):
    """`sort: ["_score"]` (or the dict forms) is the DEFAULT relevance
    order spelled out: it must route to the BM25 scored path, never
    emit ORDER BY on a nonexistent _score column."""
    plain = compile_search(
        "docs", {"query": {"match": {"text": "alpha delta"}}}, "duck")
    for s in (["_score"], [{"_score": "desc"}],
              [{"_score": {"order": "desc"}}]):
        assert compile_search(
            "docs", {"query": {"match": {"text": "alpha delta"}},
                     "sort": s}, "duck") == plain
    with pytest.raises(ValueError, match="_score asc is unsupported"):
        compile_search("docs", {"query": {"match": {"text": "a"}},
                                "sort": [{"_score": "asc"}]}, "duck")
    with pytest.raises(ValueError, match="mixing _score with field"):
        compile_search("docs", {"query": {"match": {"text": "a"}},
                                "sort": ["_score", {"n": "desc"}]}, "duck")
    # filter context: every hit scores identically, _score is a no-op
    # and is dropped; the id tiebreak keeps the order total
    rows = tiny.execute(compile_search(
        "docs", {"query": {"term": {"lang": "en"}},
                 "sort": ["_score"], "_source": ["doc_id"]}, "duck"
    )).fetchall()
    assert [r[0] for r in rows] == [1, 2, 8]


def test_source_boolean_forms(tiny):
    """_source: false = id only; true/absent = full source; anything
    but a boolean or non-empty string list raises."""
    rows = tiny.execute(compile_search(
        "docs", {"query": {"term": {"lang": "en"}}, "_source": False},
        "duck")).fetchall()
    assert rows == [(1,), (2,), (8,)]
    full = tiny.execute(compile_search(
        "docs", {"query": {"term": {"lang": "en"}}, "_source": True},
        "duck")).fetchall()
    assert len(full[0]) == 5  # every column
    # scored context: true = full source + _score via the join-back
    scored = tiny.execute(compile_search(
        "docs", {"query": {"match": {"text": "alpha"}}, "_source": True},
        "duck")).fetchall()
    assert len(scored[0]) == 6  # 5 columns + _score
    assert scored[0][-1] >= scored[-1][-1]
    # the object form {"includes": ...} is VALID since r12
    # (test_source_object_form); plain-list/boolean misuse stays loud
    for bad in ("text", [], [1, 2]):
        with pytest.raises(ValueError, match="_source for"):
            compile_search("docs", {"query": {"term": {"lang": "en"}},
                                    "_source": bad}, "duck")


def test_zero_filled_date_histogram(tiny_val):
    """min_doc_count 0 (the explicit Kibana default): contiguous day
    axis, empty buckets with doc_count 0 and ES's empty-bucket metric
    values (sum 0, value_count 0, avg NULL); pipeline aggs then run
    over the FILLED axis (the derivative sees the gap days)."""
    b = {"aggs": {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day",
                           "min_doc_count": 0},
        "aggs": {
            "s": {"sum": {"field": "value"}},
            "vc": {"value_count": {"field": "value"}},
            "a": {"avg": {"field": "value"}},
            "d": {"derivative": {"buckets_path": "s"}},
        },
    }}}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")
    ).fetchall()
    # Jan 1..9 contiguous: 9 buckets, 4 empty
    assert len(rows) == 9
    assert [r[1] for r in rows] == [1, 1, 1, 0, 1, 0, 0, 0, 1]
    empty = rows[3]
    assert (empty[2], empty[3], empty[4]) == (0.0, 0, None)
    # derivative across the gap: Jan 4 bucket = 0 - 30
    assert empty[5] == -30.0


def test_zero_fill_extended_bounds_and_rejections(tiny_val):
    b = {"aggs": {"daily": {
        "date_histogram": {
            "field": "ts", "calendar_interval": "day",
            "min_doc_count": 0,
            "extended_bounds": {"min": "2023-12-30", "max": "2024-01-11"},
        },
    }}}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")
    ).fetchall()
    assert len(rows) == 13  # bounds only EXTEND the data span
    assert rows[0][1] == 0 and rows[-1][1] == 0
    for body, msg in [
        # (numeric histogram zero-fill is SUPPORTED since batch 15 —
        # test_histogram_zero_fill_numeric_axis covers the positive
        # path)
        ({"aggs": {"d": {
            "date_histogram": {"field": "ts", "calendar_interval": "day",
                               "min_doc_count": 0},
            "aggs": {"st": {"stats": {"field": "value"}}},
        }}}, "single-value metrics only"),
        ({"aggs": {"d": {"date_histogram": {
            "field": "ts", "calendar_interval": "day",
            "min_doc_count": 0,
            "extended_bounds": {"min": "2024-01-01"},
        }}}}, "extended_bounds wants"),
        ({"aggs": {"d": {"date_histogram": {
            "field": "ts", "fixed_interval": "6h", "min_doc_count": 0,
            "extended_bounds": {"min": "2024-01-01", "max": "2024-01-02"},
        }}}}, "calendar intervals only"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("ev", body, "duck", "event_id")


def test_zero_fill_fixed_interval(tiny_val):
    b = {"aggs": {"h12": {
        "date_histogram": {"field": "ts", "fixed_interval": "12h",
                           "min_doc_count": 0},
    }}}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")
    ).fetchall()
    # Jan 1 00:00 .. Jan 9 00:00 at 12h = 17 contiguous buckets
    assert len(rows) == 17
    assert rows[0][0] == 1704067200000
    assert rows[1][1] == 0
    assert sum(r[1] for r in rows) == 5


# --- r10 batch 4: function_score + top_metrics ---------------------------------


def test_function_score_field_value_factor(tiny):
    """BM25 x field factor reorders by popularity: doc 8 ('alpha', 80
    chars-ish n=80) outranks higher-tf docs once n boosts multiply in;
    modifier applies AFTER factor (ES order)."""
    plain = {"query": {"match": {"text": "alpha"}},
             "_source": ["doc_id", "n"], "size": 10}
    boosted = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "field_value_factor": {"field": "n", "modifier": "none"},
    }}, "_source": ["doc_id", "n"], "size": 10}
    p = tiny.execute(compile_search("docs", plain, "duck")).fetchall()
    b = tiny.execute(compile_search("docs", boosted, "duck")).fetchall()
    assert {r[0] for r in p} == {r[0] for r in b}  # same hit set
    assert [r[0] for r in p] != [r[0] for r in b]  # different order
    # multiply semantics: boosted score = raw plain score * n (the
    # plain score we read back is already display-rounded to 4 dp, so
    # the recomputation tolerance is that rounding error scaled by n)
    ps = {r[0]: r[2] for r in p}
    for doc_id, n, s in b:
        assert abs(s - ps[doc_id] * n) <= n * 6e-5
    for body, msg in [
        ({"query": {"function_score": {
            "query": {"term": {"lang": "en"}},
            "field_value_factor": {"field": "n"}}}},
         "needs a match/multi_match"),
        # the generalized compiler (batch 17) asks for any function,
        # not field_value_factor specifically
        ({"query": {"function_score": {
            "query": {"match": {"text": "alpha"}}}}},
         "needs a score function or a weight"),
        ({"query": {"function_score": {
            "query": {"match": {"text": "alpha"}},
            "field_value_factor": {"field": "n"},
            "boost_mode": "avg"}}},
         "unsupported boost_mode"),
        ({"query": {"function_score": {
            "query": {"match": {"text": "alpha"}},
            "field_value_factor": {"field": "n", "modifier": "square"}}}},
         "unsupported field_value_factor modifier"),
        ({"query": {"function_score": {
            "query": {"match": {"text": "alpha"}},
            "field_value_factor": {"field": "n"}}},
          "highlight": {"fields": {"text": {}}},
          "_source": ["doc_id"]},
         "function_score with highlight"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")


# --- r10 batch 17: function_score generalization ------------------------------


def test_function_score_decay_curves(tiny):
    """gauss/exp/linear all score 1.0 at the origin and EXACTLY
    `decay` at distance = scale (the defining property of the ES decay
    parameterization), monotone non-increasing in distance."""
    for kind in ("gauss", "exp", "linear"):
        body = {"query": {"function_score": {
            "query": {"match": {"text": "alpha"}},
            kind: {"n": {"origin": 10, "scale": 30, "decay": 0.5}},
            "boost_mode": "replace",
        }}, "_source": ["doc_id", "n"], "size": 10}
        rows = tiny.execute(_search(body)).fetchall()
        scores = {n: s for _, n, s in rows}
        assert set(scores) == {10, 40, 50, 80}  # match 'alpha' hit set
        assert scores[10] == 1.0, kind          # at the origin
        assert abs(scores[40] - 0.5) <= 5e-5, kind  # at distance=scale
        ns = sorted(scores)
        assert all(
            scores[a] >= scores[b] for a, b in zip(ns, ns[1:])
        ), kind


def test_function_score_decay_offset(tiny):
    """offset widens the flat top: every point within origin±offset
    scores 1.0; decay starts beyond it."""
    body = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "gauss": {"n": {"origin": 10, "scale": 30, "offset": 30,
                        "decay": 0.5}},
        "boost_mode": "replace",
    }}, "_source": ["doc_id", "n"], "size": 10}
    scores = {n: s for _, n, s in tiny.execute(_search(body)).fetchall()}
    assert scores[10] == 1.0 and scores[40] == 1.0  # inside the top
    assert scores[50] < 1.0                          # dist 40 > offset


def test_function_score_functions_array(tiny):
    """functions array: per-entry filter gating (non-matching entries
    contribute nothing), score_mode sum, the no-entry-matches -> 1
    semantics, and the max_boost cap."""
    body = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "functions": [
            {"filter": {"term": {"lang": "en"}}, "weight": 3},
            {"filter": {"term": {"lang": "fr"}}, "weight": 5},
        ],
        "score_mode": "sum",
        "boost_mode": "replace",
        "max_boost": 4,
    }}, "_source": ["doc_id", "lang"], "size": 10}
    rows = tiny.execute(_search(body)).fetchall()
    by_id = {r[0]: r[2] for r in rows}
    assert by_id[1] == 3.0 and by_id[8] == 3.0   # en entry applies
    assert by_id[5] == 4.0                        # fr 5 capped at 4
    assert by_id[4] == 1.0                        # de: none match -> 1


def test_function_score_script_and_random(tiny):
    """script_score reads doc fields + params + _score through the
    Painless-lite grammar; random_score is the seeded md5-uniform
    permutation, recomputable bit-for-bit outside the engine."""
    import hashlib

    body = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "script_score": {"script": {
            "source": "doc['n'].value / params.d + 0 * _score",
            "params": {"d": 20},
        }},
        "boost_mode": "replace",
    }}, "_source": ["doc_id", "n"], "size": 10}
    rows = tiny.execute(_search(body)).fetchall()
    for _, n, s in rows:
        assert s == round(n / 20, 4)
    body = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "random_score": {"seed": 42, "field": "doc_id"},
        "boost_mode": "replace",
    }}, "_source": ["doc_id"], "size": 10}
    rows = tiny.execute(_search(body)).fetchall()
    assert rows == tiny.execute(_search(body)).fetchall()  # deterministic
    for doc_id, s in rows:
        h = hashlib.md5(f"42:{doc_id}".encode()).hexdigest()
        assert s == round(int(h[:4], 16) / 65536, 4)
        assert 0 <= s < 1


def test_function_score_min_score(tiny):
    """min_score drops hits below the final (post-function) score."""
    base = {"query": {"function_score": {
        "query": {"match": {"text": "alpha"}},
        "field_value_factor": {"field": "n"},
        "boost_mode": "replace",
    }}, "_source": ["doc_id", "n"], "size": 10}
    all_rows = tiny.execute(_search(base)).fetchall()
    base["query"]["function_score"]["min_score"] = 45
    kept = tiny.execute(_search(base)).fetchall()
    assert {r[0] for r in kept} == {
        r[0] for r in all_rows if r[2] >= 45
    } and len(kept) < len(all_rows)


def test_function_score_generalized_rejections(tiny):
    q = {"match": {"text": "alpha"}}
    for body, msg in [
        ({"query": {"function_score": {"query": q,
            "gauss": {"n": {"origin": 1, "scale": 2, "pivot": 3}}}}},
         r"unsupported gauss decay keys \['pivot'\]"),
        ({"query": {"function_score": {"query": q,
            "exp": {"n": {"origin": 1, "scale": 2, "decay": 1.5}}}}},
         r"decay must be a number in \(0, 1\)"),
        ({"query": {"function_score": {"query": q,
            "linear": {"n": {"origin": 1}}}}},
         r"linear decay requires \['scale'\]"),
        ({"query": {"function_score": {"query": q,
            "gauss": {"ts": {"origin": "now-7d", "scale": "7d"}}}}},
         "bad decay origin"),
        ({"query": {"function_score": {"query": q,
            "gauss": {"ts": {"origin": "2024-01-01", "scale": "7x"}}}}},
         "wants a duration"),
        ({"query": {"function_score": {"query": q,
            "weight": 2, "score_mode": "sum"}}},
         "score_mode needs a functions array"),
        ({"query": {"function_score": {"query": q, "weight": 2,
            "functions": [{"weight": 3}]}}},
         "functions OR a shorthand"),
        ({"query": {"function_score": {"query": q,
            "functions": [{"filter": {"term": {"lang": "en"}}}]}}},
         "needs a score function or a weight"),
        ({"query": {"function_score": {"query": q,
            "functions": [{"weight": 1, "gauss": {"n": {
                "origin": 1, "scale": 2}}, "exp": {"n": {
                "origin": 1, "scale": 2}}}]}}},
         "multiple score functions"),
        ({"query": {"function_score": {"query": q,
            "functions": [{"weight": 1}], "score_mode": "avg"}}},
         "unsupported score_mode"),
        ({"query": {"function_score": {"query": q,
            "functions": [{"weight": 1, "boost": 2}]}}},
         r"unsupported functions\[0\] keys"),
        ({"query": {"function_score": {"query": q,
            "random_score": {"seed": "x"}}}},
         "seed must be an int"),
        ({"query": {"function_score": {"query": q,
            "script_score": {"script": {
                "source": "Math.log(doc['n'].value)"}}}}},
         "unsupported syntax"),
        ({"query": {"function_score": {"query": q,
            "script_score": {"script": {
                "source": "params.a", "params": {"a": "s"}}}}}},
         "must be numeric"),
        ({"query": {"function_score": {"query": q,
            "weight": 2, "min_score": "x"}}},
         "min_score must be numeric"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    # both dialects compile every registered batch-17 body
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        FS_DECAY_BODY, FS_FUNCTIONS_BODY, SCRIPT_SCORE_BODY,
        RANDOM_SCORE_BODY,
    )
    for tbl, idf, b in [
        ("events", "event_id", FS_DECAY_BODY),
        ("docs", "doc_id", FS_FUNCTIONS_BODY),
        ("docs", "doc_id", SCRIPT_SCORE_BODY),
        ("docs", "doc_id", RANDOM_SCORE_BODY),
    ]:
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search(tbl, b, dialect, idf)


# --- r10 batch 19: rank_feature / distance_feature / combined_fields ---------


def test_rank_feature_functions(tiny):
    """saturation = x/(x+pivot), log = ln(sf+x), sigmoid =
    x^e/(x^e+p^e), linear = x — each boost-scaled, hits = rows where
    the feature exists, ordered by score."""
    import math

    for spec, fn in [
        ({"saturation": {"pivot": 40}}, lambda x: x / (x + 40)),
        ({"log": {"scaling_factor": 1}}, lambda x: math.log(1 + x)),
        ({"sigmoid": {"pivot": 40, "exponent": 2}},
         lambda x: x * x / (x * x + 1600)),
        ({"linear": {}}, lambda x: x),
    ]:
        body = {"query": {"rank_feature": {
            "field": "n", "boost": 2, **spec,
        }}, "_source": ["doc_id", "n"], "size": 10}
        rows = tiny.execute(_search(body)).fetchall()
        assert len(rows) == 8
        for _, n, s in rows:
            assert abs(s - 2 * fn(n)) <= 1e-6
        # descending by score
        assert [r[2] for r in rows] == sorted(
            (r[2] for r in rows), reverse=True
        )


def test_distance_feature_numeric(tiny):
    """pivot/(pivot+|x-origin|): the closest doc to the origin wins,
    score 1.0 at the origin exactly."""
    body = {"query": {"distance_feature": {
        "field": "n", "origin": 30, "pivot": 10,
    }}, "_source": ["doc_id", "n"], "size": 10}
    rows = tiny.execute(_search(body)).fetchall()
    by_n = {n: s for _, n, s in rows}
    assert by_n[30] == 1.0
    assert abs(by_n[40] - 0.5) <= 1e-6      # dist 10 = pivot -> 1/2
    assert abs(by_n[10] - 1 / 3) <= 1e-6    # dist 20 -> 10/30
    assert rows[0][1] == 30


def test_combined_fields_merges_tf_and_length(tiny):
    """combined_fields sums tf and length across fields BEFORE
    scoring: a term split across text and source scores as one
    merged field (doc 5 'gamma beta alpha'+'a_c' vs multi_match which
    would score the fields separately)."""
    body = {"query": {"combined_fields": {
        "query": "alpha beta", "fields": ["text", "source"],
    }}, "_source": ["doc_id"], "size": 10}
    rows = tiny.execute(_search(body)).fetchall()
    ids = {r[0] for r in rows}
    assert ids == {1, 2, 4, 5, 8}  # docs with alpha or beta in either
    # equivalent by construction: match over the concatenation
    concat = tiny.execute(
        """
        SELECT doc_id FROM docs
        WHERE list_contains(string_split_regex(
                lower(trim(concat_ws(' ', coalesce(text, ''),
                                     coalesce(source, '')))), '\\s+'),
              'alpha')
           OR list_contains(string_split_regex(
                lower(trim(concat_ws(' ', coalesce(text, ''),
                                     coalesce(source, '')))), '\\s+'),
              'beta')
        """
    ).fetchall()
    assert ids == {r[0] for r in concat}


def test_feature_query_rejections(tiny):
    for body, msg in [
        ({"query": {"rank_feature": {"field": "n"}}},
         "exactly one of saturation"),
        ({"query": {"rank_feature": {"field": "n",
            "saturation": {}}}}, "explicit.*pivot|requires an explicit"),
        ({"query": {"rank_feature": {"field": "n",
            "saturation": {"pivot": -1}}}}, "positive number"),
        ({"query": {"rank_feature": {"field": "n",
            "saturation": {"pivot": 5}, "log": {"scaling_factor": 1}}}},
         "exactly one of"),
        ({"query": {"rank_feature": {"field": "n",
            "saturation": {"pivot": 5}}},
          "sort": [{"n": "asc"}]}, "scored context only"),
        ({"query": {"distance_feature": {"field": "n", "origin": 1}}},
         r"distance_feature requires \['pivot'\]"),
        ({"query": {"distance_feature": {"field": "ts",
            "origin": "now", "pivot": "1d"}}}, "bad distance_feature origin"),
        ({"query": {"distance_feature": {"field": "n",
            "origin": 1, "pivot": 0}}}, "positive number"),
        ({"query": {"combined_fields": {"query": "x"}}},
         r"combined_fields requires \['fields'\]"),
        ({"query": {"combined_fields": {"query": "x",
            "fields": ["text"]}}}, "requires an explicit _source list"),
        ({"query": {"combined_fields": {"query": "x", "fields": ["text"],
            "operator": "xor"}}, "_source": ["doc_id"]},
         "bad combined_fields operator"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    # both dialects compile every registered batch-19 body
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        RANK_FEATURE_BODY, DISTANCE_FEATURE_BODY, COMBINED_FIELDS_BODY,
    )
    for tbl, idf, b in [
        ("docs", "doc_id", RANK_FEATURE_BODY),
        ("events", "event_id", DISTANCE_FEATURE_BODY),
        ("docs", "doc_id", COMBINED_FIELDS_BODY),
    ]:
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search(tbl, b, dialect, idf)


# --- r10 batch 20: intervals / span_near proximity ---------------------------


def test_intervals_gap_semantics(tiny):
    """max_gaps counts tokens BETWEEN the two terms: 'Alpha Beta
    Gamma' has alpha->gamma gap 1; ordered requires direction."""
    def hits(gaps, ordered, q="alpha gamma"):
        return set(_ids(tiny, _search({
            "query": {"intervals": {"text": {"match": {
                "query": q, "max_gaps": gaps, "ordered": ordered,
            }}}},
            "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
        })))

    assert hits(0, True) == set()          # never adjacent in order
    assert hits(1, True) == {1}            # alpha _ gamma (doc 1)
    # unordered adds doc 5 'gamma beta alpha' (gap 1, reversed)
    assert hits(1, False) == {1, 5}
    assert hits(0, False) == set()
    # unbounded ordered subsequence, three terms
    three = set(_ids(tiny, _search({
        "query": {"intervals": {"text": {"match": {
            "query": "alpha beta gamma", "ordered": True,
        }}}},
        "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
    })))
    assert three == {1}                    # only doc 1 has the order
    # unbounded unordered = all-terms containment
    anyorder = set(_ids(tiny, _search({
        "query": {"intervals": {"text": {"match": {
            "query": "alpha beta gamma", "ordered": False,
        }}}},
        "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
    })))
    assert anyorder == {1, 5}


def test_span_near_slop_and_composition(tiny):
    """slop 0 = adjacency; spans compose as ordinary predicates
    inside bool."""
    adjacent = set(_ids(tiny, _search({
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "beta"}},
                        {"span_term": {"text": "gamma"}}],
            "slop": 0, "in_order": True,
        }},
        "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
    })))
    assert adjacent == {1, 2}  # 'Alpha Beta Gamma', 'beta gamma delta'
    composed = set(_ids(tiny, _search({
        "query": {"bool": {"filter": [
            {"term": {"lang": "en"}},
            {"span_near": {
                "clauses": [{"span_term": {"text": "beta"}},
                            {"span_term": {"text": "gamma"}}],
                "slop": 0,
            }},
        ]}},
        "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
    })))
    assert composed == {1, 2}  # both already en
    reversed_only = set(_ids(tiny, _search({
        "query": {"span_near": {
            "clauses": [{"span_term": {"text": "gamma"}},
                        {"span_term": {"text": "beta"}}],
            "slop": 0, "in_order": True,
        }},
        "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
    })))
    assert reversed_only == {5}  # 'gamma beta alpha'


def test_proximity_rejections(tiny):
    for body, msg in [
        ({"query": {"intervals": {"text": {"all_of": {}}}}},
         "unsupported intervals rule"),
        ({"query": {"intervals": {"text": {"match": {
            "query": "a b c", "max_gaps": 2}}}}},
         "supports exactly 2 terms"),
        ({"query": {"intervals": {"text": {"match": {
            "query": "solo"}}}}}, "wants >= 2 terms"),
        ({"query": {"intervals": {"text": {"match": {
            "query": "a .*", "max_gaps": 1}}}}},
         r"must analyze to a plain \[a-z0-9\]\+ token"),
        ({"query": {"intervals": {"text": {"match": {
            "query": "a b", "max_gaps": -2}}}}},
         "max_gaps must be an int >= -1"),
        ({"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}}]}}}, "wants >= 2 clauses"),
        ({"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}},
            {"span_term": {"lang": "b"}}]}}},
         "share one field"),
        ({"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}},
            {"span_first": {"text": "b"}}], "slop": 1}}},
         "span_term only"),
        ({"query": {"span_near": {"clauses": [
            {"span_term": {"text": "a"}},
            {"span_term": {"text": "b"}}], "slop": -1}}},
         "slop must be an int >= 0"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        INTERVALS_BODY, SPAN_NEAR_BODY,
    )
    for b in (INTERVALS_BODY, SPAN_NEAR_BODY):
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search("docs", b, dialect)


# --- r10 batch 21: geo ---------------------------------------------------------


@pytest.fixture()
def geo():
    """Four hand-placed points: equator/prime-meridian, 1 degree
    north, Paris-ish, Sydney-ish."""
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE pts AS SELECT * FROM (VALUES
          (1, 0.0,    0.0,    'a'),
          (2, 1.0,    0.0,    'a'),
          (3, 48.85,  2.35,   'b'),
          (4, -33.87, 151.21, 'b')
        ) AS t(pid, loc_lat, loc_lon, tag)
        """
    )
    return con


def test_geo_distance_haversine(geo):
    """1 degree of latitude is ~111.2 km on the ES mean-radius sphere:
    a 112 km circle around the origin catches points 1+2, a 110 km
    circle only point 1."""
    def hits(dist):
        return set(r[0] for r in geo.execute(compile_search("pts", {
            "query": {"geo_distance": {
                "distance": dist, "loc": {"lat": 0, "lon": 0}}},
            "sort": [{"pid": "asc"}], "size": 10, "_source": ["pid"],
        }, "duck", "pid")).fetchall())

    assert hits("112km") == {1, 2}
    assert hits("110km") == {1}
    assert hits("20000km") == {1, 2, 3, 4}  # half circumference + slack


def test_geo_bounding_box(geo):
    body = {"query": {"geo_bounding_box": {"loc": {
        "top_left": {"lat": 50, "lon": -1},
        "bottom_right": {"lat": 0, "lon": 3},
    }}}, "sort": [{"pid": "asc"}], "size": 10, "_source": ["pid"]}
    ids = [r[0] for r in geo.execute(
        compile_search("pts", body, "duck", "pid")).fetchall()]
    assert ids == [1, 2, 3]


def test_geotile_grid_keys(geo):
    """Tile indices follow the slippy-map formulas: at z=1, lon >= 0
    gives x=1; lat > 0 gives y=0, and the EQUATOR itself floors to
    y=1 (the boundary row belongs to the southern tile — the same
    convention ES's GeoTileUtils applies)."""
    body = {"aggs": {"tiles": {
        "geotile_grid": {"field": "loc", "precision": 1},
        "aggs": {"c": {"geo_centroid": {"field": "loc"}}},
    }}, "size": 0}
    rows = geo.execute(compile_search("pts", body, "duck", "pid")).fetchall()
    by_key = {r[0]: r for r in rows}
    # strictly-north points 2 (lat 1) and 3 (Paris) -> tile 1/1/0
    assert by_key["1/1/0"][1] == 2
    # the origin (lat 0, boundary -> south) and Sydney -> tile 1/1/1
    assert by_key["1/1/1"][1] == 2
    # centroid of points 2, 3: lat (1+48.85)/2, lon (0+2.35)/2
    assert abs(by_key["1/1/0"][2] - 24.925) <= 1e-6
    assert abs(by_key["1/1/0"][3] - 1.175) <= 1e-6


def test_geo_centroid_tie_cross_engine(spark):
    """Regression (r13): geo_centroid rendered round(avg(DECIMAL), 6)
    — Spark's avg over DECIMAL stays exact DECIMAL and rounds the tie
    HALF_UP while DuckDB's returns DOUBLE and rounds the binary value;
    avg(1.000003, 1.000002) = exactly 1.0000025 split the engines
    (spark 1.000003, duck 1.000002). The exact-sum + decimal-space
    round form must agree on the HALF_UP answer in both."""
    body = {"aggs": {"tiles": {
        "geotile_grid": {"field": "loc", "precision": 0},
        "aggs": {"c": {"geo_centroid": {"field": "loc"}}},
    }}, "size": 0}
    mk = (
        "CREATE OR REPLACE {} pts AS SELECT * FROM (VALUES"
        " (1, 1.000003, 7.000001, 'a'),"
        " (2, 1.000002, 7.000002, 'a')"
        ") AS t(pid, loc_lat, loc_lon, tag)"
    )
    con = duckdb.connect()
    con.execute(mk.format("TABLE"))
    duck = con.execute(
        compile_search("pts", body, "duck", "pid")
    ).fetchall()
    spark.sql(mk.format("TEMP VIEW")).collect()
    srows = [tuple(r) for r in spark.sql(
        compile_search("pts", body, "spark", "pid")
    ).collect()]
    assert duck == srows
    # HALF_UP resolution of both scale-7 ties
    assert duck[0][2] == 1.000003 and duck[0][3] == 7.000002


def test_geo_rejections(geo):
    for body, msg in [
        ({"query": {"geo_distance": {"distance": "12parsec",
            "loc": {"lat": 0, "lon": 0}}}}, "bad distance"),
        ({"query": {"geo_distance": {"loc": {"lat": 0, "lon": 0}}}},
         "geo_distance wants"),
        ({"query": {"geo_bounding_box": {"loc": {
            "top_left": {"lat": 0, "lon": 0},
            "bottom_right": {"lat": 10, "lon": 10}}}}},
         "top_left.lat must be >="),
        ({"query": {"geo_bounding_box": {"loc": {
            "top_left": {"lat": 10, "lon": 20},
            "bottom_right": {"lat": 0, "lon": -10}}}}},
         "antimeridian"),
        ({"query": {"geo_distance": {"distance": "1km",
            "loc": {"lat": 91, "lon": 0}}}}, "out of range"),
        ({"aggs": {"t": {"geotile_grid": {"field": "loc",
            "precision": 30}}}, "size": 0},
         r"precision must be an int in \[0, 29\]"),
        ({"aggs": {"t": {"geotile_grid": {"field": "loc"},
            "aggs": {"c": {"geo_centroid": {"field": "loc",
                                            "wrap": 1}}}}}, "size": 0},
         r"geo_centroid wants \{field\} only"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("pts", body, "duck", "pid")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        GEO_DISTANCE_BODY, GEOTILE_GRID_BODY,
    )
    for b in (GEO_DISTANCE_BODY, GEOTILE_GRID_BODY):
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search("events", b, dialect, "event_id")


def test_script_grammar_modulo(tiny):
    """% joined the Painless-lite grammar (geo point derivation uses
    it): doc-value modulo in a runtime field round-trips."""
    body = {
        "runtime_mappings": {"bucket5": {
            "type": "long",
            "script": {"source": "emit(doc['n'].value % 50)"},
        }},
        "query": {"range": {"bucket5": {"gte": 10}}},
        "sort": [{"doc_id": "asc"}], "size": 10,
        "_source": ["doc_id", "bucket5"],
    }
    rows = tiny.execute(compile_search("docs", body, "duck")).fetchall()
    assert {(r[0], r[1]) for r in rows} == {
        (1, 10), (2, 20), (3, 30), (4, 40), (6, 10), (7, 20), (8, 30),
    }


# --- r10 batch 22: parent-child (has_child / has_parent) ----------------------


@pytest.fixture()
def family():
    """Two tables related by a declared key pair: 3 parents, 5 kids."""
    con = duckdb.connect()
    con.execute(
        """
        CREATE TABLE parents AS SELECT * FROM (VALUES
          (1, 'open'), (2, 'open'), (3, 'closed')
        ) AS t(pid, status);
        CREATE TABLE kids AS SELECT * FROM (VALUES
          (10, 1, 5), (11, 1, 50), (12, 2, 60), (13, 2, 70), (14, 3, 5)
        ) AS t(kid, pid, qty)
        """
    )
    return con


_FAM_RELS = {
    "kids": {"table": "kids", "parent_key": "pid", "child_key": "pid",
             "id_field": "kid"},
    "parents": {"table": "parents", "parent_key": "pid",
                "child_key": "pid", "id_field": "pid"},
}


def test_has_child_min_max_children(family):
    def parents_with(body):
        return [r[0] for r in family.execute(compile_search(
            "parents", {"query": body, "sort": [{"pid": "asc"}],
                        "size": 10, "_source": ["pid"]},
            "duck", "pid", relations=_FAM_RELS)).fetchall()]

    heavy = {"has_child": {"type": "kids",
                           "query": {"range": {"qty": {"gte": 50}}}}}
    assert parents_with(heavy) == [1, 2]
    heavy["has_child"]["min_children"] = 2
    assert parents_with(heavy) == [2]
    # max_children: parents with exactly one heavy kid
    assert parents_with({"has_child": {
        "type": "kids", "query": {"range": {"qty": {"gte": 50}}},
        "max_children": 1}}) == [1]
    anykid = {"has_child": {"type": "kids",
                            "query": {"match_all": {}}}}
    assert parents_with(anykid) == [1, 2, 3]


def test_has_parent_composes_in_bool(family):
    body = {"query": {"bool": {"filter": [
        {"range": {"qty": {"lte": 10}}},
        {"has_parent": {"parent_type": "parents",
                        "query": {"term": {"status": "open"}}}},
    ]}}, "sort": [{"kid": "asc"}], "size": 10, "_source": ["kid"]}
    kids = [r[0] for r in family.execute(compile_search(
        "kids", body, "duck", "kid", relations=_FAM_RELS)).fetchall()]
    assert kids == [10]  # kid 14's parent is closed


def test_parent_child_rejections(family):
    for body, msg in [
        ({"query": {"has_child": {"type": "kids",
            "query": {"match_all": {}}, "score_mode": "sum"}}},
         "score_mode none only"),
        ({"query": {"has_child": {"type": "ghosts",
            "query": {"match_all": {}}}}}, "no declared relation"),
        ({"query": {"has_parent": {"parent_type": "ghosts",
            "query": {"match_all": {}}}}}, "no declared relation"),
        ({"query": {"has_child": {"type": "kids",
            "query": {"match_all": {}}, "min_children": 0}}},
         "min_children must be an int >= 1"),
        ({"query": {"has_child": {"type": "kids",
            "query": {"match_all": {}}, "inner_hits": {}}}},
         "unsupported has_child keys"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("parents", body, "duck", "pid",
                           relations=_FAM_RELS)
    # without a relations declaration the clause raises, never guesses
    with pytest.raises(ValueError, match="no declared relation"):
        compile_search("parents", {"query": {"has_child": {
            "type": "kids", "query": {"match_all": {}}}}}, "duck", "pid")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        HAS_CHILD_BODY, HAS_PARENT_BODY, PARENT_CHILD_RELATIONS,
    )
    for tbl, idf, b in [("orders", "o_orderkey", HAS_CHILD_BODY),
                        ("lineitem", "l_orderkey", HAS_PARENT_BODY)]:
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search(
                tbl, b, dialect, idf, PARENT_CHILD_RELATIONS
            )


# --- r10 batch 23: rescore / min_score / slice / matrix_stats -----------------


def test_rescore_window_semantics(tiny):
    """Only hits INSIDE the window get the rescore contribution; the
    combined score is w1*s1 + w2*s2 with s2=0 for window hits the
    rescore query misses."""
    plain = {"query": {"match": {"text": "beta"}},
             "_source": ["doc_id"], "size": 10}
    p = {r[0]: r[1] for r in tiny.execute(_search(plain)).fetchall()}
    resc = {"query": {"match": {"text": "beta"}},
            "rescore": {"window_size": 10, "query": {
                "rescore_query": {"match": {"text": "alpha"}},
                "query_weight": 1, "rescore_query_weight": 10}},
            "_source": ["doc_id"], "size": 10}
    r = {x[0]: x[1] for x in tiny.execute(_search(resc)).fetchall()}
    assert set(r) == set(p)  # window covers all 4 beta hits
    alpha = {x[0]: x[1] for x in tiny.execute(_search(
        {"query": {"match": {"text": "alpha"}},
         "_source": ["doc_id"], "size": 10})).fetchall()}
    for doc_id in r:
        expect = p[doc_id] + 10 * alpha.get(doc_id, 0)
        assert abs(r[doc_id] - expect) <= 2e-3  # 4-dp display rounds
    # beta-only doc 2 must now rank below any alpha+beta doc
    assert r[2] == min(r.values())


def test_min_score_threshold(tiny):
    body = {"query": {"match": {"text": "beta"}},
            "_source": ["doc_id"], "size": 10}
    allhits = tiny.execute(_search(body)).fetchall()
    scores = [r[1] for r in allhits]
    # midpoint threshold: keeps only the strictly-higher scorers (doc
    # 4 — shortest doc, highest BM25; the other three tie below)
    body["min_score"] = (max(scores) + min(scores)) / 2
    kept = tiny.execute(_search(body)).fetchall()
    assert 1 <= len(kept) < len(allhits)
    assert all(r[1] >= body["min_score"] for r in kept)
    assert {r[0] for r in kept} == {
        r[0] for r in allhits if r[1] >= body["min_score"]
    }


def test_slice_partitions_hit_set(tiny):
    base = {"query": {"match_all": {}}, "sort": [{"doc_id": "asc"}],
            "size": 100, "_source": ["doc_id"]}
    whole = set(_ids(tiny, _search(base)))
    parts = []
    for i in range(3):
        parts.append(set(_ids(tiny, _search(
            {**base, "slice": {"id": i, "max": 3}}))))
    assert set().union(*parts) == whole
    assert sum(len(p) for p in parts) == len(whole)  # disjoint


def test_matrix_stats_pairwise(tiny):
    """Covariance/correlation against DuckDB's own covar_samp/corr."""
    body = {"aggs": {"m": {"matrix_stats": {
        "fields": ["doc_id", "n"]}}}, "size": 0}
    rows = tiny.execute(_search(body)).fetchall()
    by_pair = {(r[0], r[1]): r for r in rows}
    ref_cov, ref_corr = tiny.execute(
        "SELECT covar_samp(doc_id, n), corr(doc_id, n) FROM docs"
    ).fetchone()
    pair = by_pair[("doc_id", "n")]
    assert pair[2] == 8
    assert abs(pair[3] - ref_cov) <= 1e-4
    assert abs(pair[4] - ref_corr) <= 1e-6
    assert by_pair[("n", "n")][4] == 1.0  # diagonal correlation


def test_matrix_stats_high_precision_cross_engine(spark, tiny):
    """Fields with 6 decimal places: the product operands must
    quantize to DECIMAL(18,6) so (18,6)x(18,6) -> (37,12) stays exact
    in both engines. At the module _DEC(28,6) the product's precision
    (57) overflows the 38-digit cap and Spark silently ROUNDS each
    product to 6dp while DuckDB keeps 12 — a hash mismatch on any
    >3dp data (ADVICE r10)."""
    vals = [(1.234567, 1.000001), (2.000003, 0.333333),
            (0.000007, 9.999999), (5.123456, 2.718281)]
    tiny.execute(
        "CREATE TABLE hp AS SELECT * FROM (VALUES "
        + ", ".join(f"({a!r}, {b!r})" for a, b in vals)
        + ") AS t(x, y)"
    )
    spark.createDataFrame(vals, "x double, y double") \
        .createOrReplaceTempView("hp")
    body = {"aggs": {"m": {"matrix_stats": {"fields": ["x", "y"]}}},
            "size": 0}
    duck_rows = sorted(tiny.execute(
        compile_search("hp", body, "duck")).fetchall())
    spark_rows = sorted(
        tuple(r) for r in
        spark.sql(compile_search("hp", body, "spark")).collect()
    )
    assert duck_rows == spark_rows
    spark.catalog.dropTempView("hp")


def test_batch23_rejections(tiny):
    for body, msg in [
        ({"query": {"term": {"lang": "en"}},
          "rescore": {"query": {"rescore_query": {
              "match": {"text": "a"}}}}},
         "rescore needs a scored"),
        ({"query": {"match": {"text": "a"}},
          "rescore": {"query": {"rescore_query": {"match": {"text": "b"}},
                                "score_mode": "avg"}}},
         "unsupported rescore score_mode"),
        ({"query": {"match": {"text": "a"}}, "min_score": 0.1,
          "rescore": {"query": {"rescore_query": {
              "match": {"text": "b"}}}}},
         "rescore combines only"),
        ({"query": {"term": {"lang": "en"}}, "min_score": 1},
         "min_score needs a scored query"),
        ({"query": {"term": {"lang": "en"}},
          "slice": {"id": 3, "max": 3}},
         "slice wants ints"),
        ({"query": {"term": {"lang": "en"}},
          "slice": {"id": 0}}, r"slice wants \{id, max\}"),
        ({"aggs": {"m": {"matrix_stats": {"fields": ["n"]}}},
          "size": 0}, "2-6 distinct fields"),
        ({"aggs": {"m": {"matrix_stats": {"fields": ["n", "doc_id"]},
                         "aggs": {"x": {"avg": {"field": "n"}}}}},
          "size": 0}, "matrix_stats takes no sub-aggs"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        RESCORE_BODY, MIN_SCORE_BODY, SLICED_SCROLL_BODY,
        MATRIX_STATS_BODY,
    )
    for tbl, idf, b in [("docs", "doc_id", RESCORE_BODY),
                        ("docs", "doc_id", MIN_SCORE_BODY),
                        ("docs", "doc_id", SLICED_SCROLL_BODY),
                        ("lineitem", "l_orderkey", MATRIX_STATS_BODY)]:
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search(tbl, b, dialect, idf)


# --- r10 batch 25: dotted object fields (JSON extraction) ---------------------


def test_object_fields_json_extraction(tiny):
    """Dotted field names reach inside a JSON string column, typed by
    the comparison value; absent keys and malformed docs fail the
    predicate (never error)."""
    tiny.execute("ALTER TABLE docs ADD COLUMN meta VARCHAR")
    tiny.execute("""UPDATE docs SET meta = CASE doc_id
        WHEN 1 THEN '{"k": 5, "tag": "hot"}'
        WHEN 2 THEN '{"k": 50}'
        WHEN 3 THEN '{"tag": "cold"}'
        WHEN 4 THEN 'not json'
        ELSE NULL END""")
    def ids(q):
        return _ids(tiny, _search({
            "query": q, "sort": [{"doc_id": "asc"}],
            "size": 10, "_source": ["doc_id"]}))

    assert ids({"range": {"meta.k": {"gte": 10}}}) == [2]
    assert ids({"term": {"meta.tag": "hot"}}) == [1]
    assert ids({"exists": {"field": "meta.k"}}) == [1, 2]
    assert ids({"terms": {"meta.tag": ["hot", "cold"]}}) == [1, 3]
    assert ids({"bool": {"must_not": [{"exists": {"field": "meta.k"}}]}}) \
        == [3, 4, 5, 6, 7, 8]
    for f in ("meta.", ".k", "meta.k;drop", "meta..k"):
        with pytest.raises(ValueError, match="bad field name"):
            compile_search("docs", {"query": {"term": {f: 1}}}, "duck")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        OBJECT_FIELDS_BODY,
    )
    for dialect in ("spark", "duck"):
        assert "SELECT" in compile_search(
            "events", OBJECT_FIELDS_BODY, dialect, "event_id"
        )


# --- r10 batch 26: terms lookup / docvalue_fields / script_fields -------------


def test_terms_lookup_subquery(tiny):
    """The allowed values come from another document's column — doc 3
    is 'de', so the lookup keeps the de docs."""
    body = {"query": {"terms": {"lang": {
        "index": "docs", "id": 3, "path": "lang",
    }}}, "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"]}
    assert _ids(tiny, _search(body)) == [3, 4]
    for bad, msg in [
        ({"index": "docs", "id": 3}, r"lookup requires \['path'\]"),
        ({"index": "docs", "id": 3, "path": "lang", "cache": 1},
         "unsupported terms lookup keys"),
        ({"index": "docs", "id": None, "path": "lang"},
         "id must be str/int"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", {"query": {"terms": {"lang": bad}}},
                           "duck")


def test_terms_lookup_qualifies_id_column(tiny):
    """The lookup subquery aliases its table and qualifies the id
    column: a lookup table LACKING the id column must raise a binder
    error, not silently resolve the id as a correlated reference to
    the outer table (which turns the point lookup into per-row
    correlation with wrong matches)."""
    sql = _search({"query": {"terms": {"lang": {
        "index": "docs", "id": 3, "path": "lang"}}}, "size": 10})
    assert "FROM docs AS lk" in sql and "lk.doc_id =" in sql
    tiny.execute("CREATE TABLE lkup AS SELECT 'de' AS lang")
    body = {"query": {"terms": {"lang": {
        "index": "lkup", "id": 1, "path": "lang"}}}, "size": 10}
    with pytest.raises(Exception, match="doc_id"):
        tiny.execute(_search(body)).fetchall()


def test_docvalue_and_script_fields(tiny):
    """docvalue_fields projects like _source; script_fields derive a
    per-hit numeric column that auto-joins the explicit _source."""
    dv = {"query": {"term": {"lang": "en"}},
          "docvalue_fields": ["doc_id", {"field": "n"}],
          "sort": [{"doc_id": "asc"}], "size": 10}
    rows = tiny.execute(_search(dv)).fetchall()
    assert rows == [(1, 10), (2, 20), (8, 80)]
    sf = {"query": {"term": {"lang": "en"}},
          "script_fields": {"half": {"script": {
              "source": "doc['n'].value / 2"}}},
          "sort": [{"doc_id": "asc"}], "size": 10,
          "_source": ["doc_id", "n"]}
    rows = tiny.execute(_search(sf)).fetchall()
    assert rows == [(1, 10, 5.0), (2, 20, 10.0), (8, 80, 40.0)]
    for body, msg in [
        ({"query": {"match_all": {}}, "docvalue_fields": ["n"],
          "_source": ["doc_id"]}, "docvalue_fields and _source"),
        ({"query": {"match_all": {}},
          "script_fields": {"x": {"script": {"source": "emit(1)"}}}},
         "unsupported syntax"),
        ({"query": {"match_all": {}}, "script_fields": {}},
         "non-empty object"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        TERMS_LOOKUP_BODY, SCRIPT_FIELDS_BODY,
    )
    for b in (TERMS_LOOKUP_BODY, SCRIPT_FIELDS_BODY):
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search("docs", b, dialect)


# --- r10 batch 27: phrase slop / caret boosts / metric missing / geo rings ----


def test_match_phrase_slop(tiny):
    """slop 0 = adjacency (the plain phrase); slop 1 allows one
    intervening token; slop >= 2 additionally admits the transposed
    order with the residual budget."""
    def hits(q, slop):
        return set(_ids(tiny, _search({
            "query": {"match_phrase": {"text": {"query": q, "slop": slop}}},
            "sort": [{"doc_id": "asc"}], "size": 10, "_source": ["doc_id"],
        })))

    # 'alpha ... gamma': adjacent nowhere; doc 1 has gap 1; doc 5 has
    # the reversed pair at gap 1 (cost 2 transpose + 1 gap = slop 3)
    assert hits("alpha gamma", 0) == set()
    assert hits("alpha gamma", 1) == {1}
    # slop 2 admits reversed ADJACENT pairs only — doc 5 is
    # 'gamma beta alpha' (reversed, gap 1), so it needs slop 3
    assert hits("alpha gamma", 2) == {1}
    assert hits("alpha gamma", 3) == {1, 5}
    with pytest.raises(ValueError, match="slop supports exactly 2"):
        compile_search("docs", {"query": {"match_phrase": {"text": {
            "query": "a b c", "slop": 1}}}}, "duck")


def test_multi_match_caret_boosts(tiny):
    """text^N scales the text field's score N-fold before the
    most_fields sum; boost on a bare match scales the whole score."""
    plain = {"query": {"multi_match": {
        "query": "alpha", "fields": ["text"], "type": "most_fields"}},
        "_source": ["doc_id"], "size": 10}
    p = {r[0]: r[1] for r in tiny.execute(_search(plain)).fetchall()}
    boosted = {"query": {"multi_match": {
        "query": "alpha", "fields": ["text^3"], "type": "most_fields"}},
        "_source": ["doc_id"], "size": 10}
    b = {r[0]: r[1] for r in tiny.execute(_search(boosted)).fetchall()}
    for doc_id in p:
        assert abs(b[doc_id] - 3 * p[doc_id]) <= 2e-4
    mb = {"query": {"match": {"text": {"query": "alpha", "boost": 2}}},
          "_source": ["doc_id"], "size": 10}
    m = {r[0]: r[1] for r in tiny.execute(_search(mb)).fetchall()}
    for doc_id in p:
        assert abs(m[doc_id] - 2 * p[doc_id]) <= 2e-4
    for body, msg in [
        ({"query": {"multi_match": {"query": "a",
            "fields": ["text^0"]}}}, "boost must be positive"),
        ({"query": {"multi_match": {"query": "a",
            "fields": ["text^x"]}}}, "bad field boost"),
        ({"query": {"match": {"text": {"query": "a", "boost": -1}}}},
         "match boost must be positive"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")


def test_metric_missing_substitution(tiny):
    """avg with `missing`: docs lacking the field contribute the
    stand-in instead of being skipped."""
    tiny.execute("ALTER TABLE docs ADD COLUMN score DOUBLE")
    tiny.execute(
        "UPDATE docs SET score = CASE WHEN doc_id <= 4 THEN doc_id END"
    )
    body = {"aggs": {"all": {"filter": {"match_all": {}},
        "aggs": {"s_avg": {"avg": {"field": "score", "missing": 10}}}}},
        "size": 0}
    (_, avg), = tiny.execute(_search(body)).fetchall()
    # (1+2+3+4 + 10*4) / 8
    assert abs(avg - 6.25) <= 1e-9
    with pytest.raises(ValueError, match="missing must be numeric"):
        compile_search("docs", {"aggs": {"a": {"filter": {"match_all": {}},
            "aggs": {"x": {"avg": {"field": "n", "missing": "x"}}}}},
            "size": 0}, "duck")


def test_geo_distance_rings(geo):
    """Distance rings: from-inclusive/to-exclusive over the haversine,
    declaration order preserved."""
    body = {"aggs": {"rings": {"geo_distance": {
        "field": "loc", "origin": {"lat": 0, "lon": 0}, "unit": "km",
        "ranges": [{"to": 150}, {"from": 150, "to": 10000},
                   {"from": 10000}],
    }}}, "size": 0}
    rows = geo.execute(compile_search("pts", body, "duck", "pid")).fetchall()
    by_key = {r[0]: r[1] for r in rows}
    # origin + 1-degree point inside 150 km; Paris in the middle ring;
    # Sydney beyond 10000 km
    assert by_key["*-150"] == 2
    assert by_key["150-10000"] == 1
    assert by_key["10000-*"] == 1
    with pytest.raises(ValueError, match="bad geo_distance unit"):
        compile_search("pts", {"aggs": {"r": {"geo_distance": {
            "field": "loc", "origin": {"lat": 0, "lon": 0},
            "unit": "parsec", "ranges": [{"to": 1}]}}}, "size": 0},
            "duck", "pid")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        GEO_RINGS_BODY, PHRASE_SLOP_BODY, FIELD_BOOSTS_BODY,
    )
    for tbl, idf, b in [("events", "event_id", GEO_RINGS_BODY),
                        ("docs", "doc_id", PHRASE_SLOP_BODY),
                        ("docs", "doc_id", FIELD_BOOSTS_BODY)]:
        for dialect in ("spark", "duck"):
            assert "SELECT" in compile_search(tbl, b, dialect, idf)


def test_top_metrics_latest_per_bucket(tiny_val):
    """top_metrics = the metric value on the bucket's sort-extremum
    row, composable with ordinary metrics (one column per metric,
    named <agg>_<field>)."""
    con = tiny_val
    con.execute("ALTER TABLE ev ADD COLUMN grp VARCHAR")
    con.execute("UPDATE ev SET grp = CASE WHEN event_id <= 3 THEN 'a' ELSE 'b' END")
    b = {"aggs": {"t": {
        "terms": {"field": "grp", "size": 5},
        "aggs": {
            "s": {"sum": {"field": "value"}},
            "latest": {"top_metrics": {"metrics": {"field": "value"},
                                       "sort": {"ts": "desc"}}},
            "first": {"top_metrics": {"metrics": [{"field": "value"}],
                                      "sort": {"ts": "asc"}}},
        },
    }}}
    rows = con.execute(compile_aggs("ev", b, "duck", "event_id")).fetchall()
    by = {r[0]: r for r in rows}
    # a: events 1..3 (Jan 1,2,3) -> latest value 30 (Jan 3), first 10
    assert (by["a"][3], by["a"][4]) == (30.0, 10.0)
    # b: events 4,5 (Jan 5, Jan 9) -> latest 50, first 40
    assert (by["b"][3], by["b"][4]) == (50.0, 40.0)
    for spec, msg in [
        ({"top_metrics": {"metrics": {"field": "value"},
                          "sort": {"ts": "desc"}, "size": 3}},
         "size > 1 is unsupported"),
        ({"top_metrics": {"metrics": "value", "sort": {"ts": "desc"}}},
         "metrics wants"),
        ({"top_metrics": {"metrics": {"field": "value"},
                          "sort": {"ts": "sideways"}}},
         "bad top_metrics sort order"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("ev", {"aggs": {"t": {
                "terms": {"field": "grp"}, "aggs": {"x": spec},
            }}}, "duck", "event_id")
    # not addressable as a terms order target (column is <agg>_<field>)
    with pytest.raises(ValueError, match="neither _key, _count"):
        compile_aggs("ev", {"aggs": {"t": {
            "terms": {"field": "grp", "order": {"x": "desc"}},
            "aggs": {"x": {"top_metrics": {
                "metrics": {"field": "value"}, "sort": {"ts": "desc"}}}},
        }}}, "duck", "event_id")


# --- r10 batch 5: terms include/exclude, histogram offset, plan shapes --------


def test_terms_include_exclude(tiny):
    """include = Lucene FULL-match regex or value list; exclude the
    complement; both push into the WHERE so excluded keys never
    aggregate. 'e' alone must NOT full-match 'en'/'de'."""
    base = {"field": "lang", "size": 10}
    b = {"aggs": {"t": {"terms": {**base, "include": "e."}}}}
    rows = tiny.execute(compile_aggs("docs", b, "duck")).fetchall()
    assert [r[0] for r in rows] == ["en"]  # not 'de' (full match)
    b = {"aggs": {"t": {"terms": {**base, "include": "(en|de|fr)",
                                  "exclude": ["de"]}}}}
    rows = tiny.execute(compile_aggs("docs", b, "duck")).fetchall()
    assert [r[0] for r in rows] == ["en", "fr"]
    b = {"aggs": {"t": {"terms": {**base, "exclude": "e."}}}}
    rows = tiny.execute(compile_aggs("docs", b, "duck")).fetchall()
    assert [r[0] for r in rows] == ["de", "fr"]
    for bad, msg in [
        ({"include": "it's"}, "quotes or backslashes"),
        ({"include": {"partition": 0}}, "regex string or a value list"),
        ({"exclude": []}, "regex string or a value list"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_aggs("docs", {"aggs": {"t": {"terms": {
                **base, **bad}}}}, "duck")


def test_histogram_offset(tiny):
    """Bucket keys shift by offset: floor((x-off)/step)*step + off."""
    b = {"aggs": {"h": {"histogram": {"field": "n", "interval": 40,
                                      "offset": 15}}}}
    rows = tiny.execute(compile_aggs("docs", b, "duck")).fetchall()
    # n = 10..80: buckets [-25,15)={10}, [15,55)={20,30,40,50},
    # [55,95)={60,70,80}
    assert rows == [(-25.0, 1), (15.0, 4), (55.0, 3)]
    with pytest.raises(ValueError, match="0 <= offset < "):
        compile_aggs("docs", {"aggs": {"h": {"histogram": {
            "field": "n", "interval": 40, "offset": 40}}}}, "duck")


def test_compiled_plan_shapes(spark, tables):
    """The scale claims, checked on the EXECUTED plans: the zero-fill
    axis join broadcasts (the axis is span/interval rows, the buckets
    relation is aggregated — neither side shuffles a corpus), and the
    in-body highlight plan is top-k-first (TakeOrderedAndProject bounds
    the relation BEFORE snippet extraction — O(top-k), never
    O(corpus))."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        MATCH_HIGHLIGHT_BODY,
        ZERO_FILL_BODY,
    )

    zf = spark.sql(compile_search("events", ZERO_FILL_BODY, "spark",
                                  "event_id"))
    plan = zf._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    hl = spark.sql(compile_search("documents", MATCH_HIGHLIGHT_BODY,
                                  "spark"))
    plan = hl._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


# --- batch 7 metrics: string_stats / boxplot / rate / MAD ---------------------


def test_string_stats_lengths(tiny):
    # en sources: 'news'(4), 'blog'(4), '105x'(4) -> min 4 max 4 avg 4
    b = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
         "aggs": {"ss": {"string_stats": {"field": "source"}}}}},
         "size": 0}
    rows = {r[0]: r for r in tiny.execute(
        compile_search("docs", b, "duck")).fetchall()}
    # (key, doc_count, count, min_len, max_len, avg_len)
    assert rows["en"] == ("en", 3, 3, 4, 4, 4.0)
    # de: 'news'(4), NULL -> count 2 of docs 3; doc 4 source NULL
    assert rows["de"][1] == 2 and rows["de"][2] == 1
    with pytest.raises(ValueError, match="show_distribution"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"s": {"string_stats": {
                "field": "source", "show_distribution": True}}}}},
            "size": 0}, "duck")


def test_boxplot_five_number_summary(tiny):
    # en n values: 10, 20, 80 -> q1 15, q2 20, q3 50
    b = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
         "aggs": {"bp": {"boxplot": {"field": "n"}}}}}, "size": 0}
    rows = {r[0]: r for r in tiny.execute(
        compile_search("docs", b, "duck")).fetchall()}
    assert rows["en"] == ("en", 3, 10.0, 15.0, 20.0, 50.0, 80.0)
    with pytest.raises(ValueError, match="unsupported boxplot keys"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"b": {"boxplot": {"field": "n", "missing": 0}}}}},
            "size": 0}, "duck")


def test_rate_rescales_to_unit(tiny_val):
    # daily buckets, per-hour rate: value/24 and docs/24
    b = {"aggs": {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"vph": {"rate": {"field": "value", "unit": "hour"}},
                 "dph": {"rate": {"unit": "hour"}}}}}, "size": 0}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")).fetchall()
    # first day: one event value 10 -> 10/24 per hour, 1/24 docs
    assert rows[0][2] == pytest.approx(10.0 / 24)
    assert rows[0][3] == pytest.approx(1.0 / 24)


def test_rate_rejections(tiny_val):
    with pytest.raises(ValueError, match="date_histogram parent"):
        compile_aggs("ev", {"aggs": {"x": {
            "terms": {"field": "value"},
            "aggs": {"r": {"rate": {"unit": "day"}}}}}},
            "duck", "event_id")
    with pytest.raises(ValueError, match="variable bucket length"):
        compile_aggs("ev", {"aggs": {"x": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "month"},
            "aggs": {"r": {"rate": {"unit": "day"}}}}}},
            "duck", "event_id")
    with pytest.raises(ValueError, match="bad rate unit"):
        compile_aggs("ev", {"aggs": {"x": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"r": {"rate": {"unit": "fortnight"}}}}}},
            "duck", "event_id")


def test_mad_exact_two_pass(tiny):
    # en n: 10,20,80 median 20 -> |dev| 10,0,60 -> MAD 10
    # de n: 30,40 median 35 -> |dev| 5,5 -> MAD 5
    b = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
         "aggs": {"mad_n": {
             "median_absolute_deviation": {"field": "n"}}}}},
         "size": 0}
    rows = {r[0]: r for r in tiny.execute(
        compile_search("docs", b, "duck")).fetchall()}
    assert rows["en"] == ("en", 3, 10.0)
    assert rows["de"] == ("de", 2, 5.0)


def test_mad_rejections(tiny):
    with pytest.raises(ValueError, match="only\\s+sub-agg"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"m": {"median_absolute_deviation": {"field": "n"}},
                     "a": {"avg": {"field": "n"}}}}}, "size": 0},
            "duck")
    with pytest.raises(ValueError, match="only\\s+sub-agg"):
        compile_search("docs", {"aggs": {"x": {
            "histogram": {"field": "n", "interval": 10},
            "aggs": {"m": {
                "median_absolute_deviation": {"field": "n"}}}}},
            "size": 0}, "duck")


# --- batch 8: normalize / bucket_sort / percentiles_bucket --------------------


def test_normalize_percent_and_rescale(tiny):
    # n sums: en 110 (10+20+80), de 70, fr 110, NULL-lang excluded
    b = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
         "aggs": {"total": {"sum": {"field": "n"}},
                  "pct": {"normalize": {"buckets_path": "total",
                                        "method": "percent_of_sum"}},
                  "docs01": {"normalize": {"buckets_path": "_count",
                                           "method": "rescale_0_1"}}}}},
         "size": 0}
    rows = {r[0]: r for r in tiny.execute(
        compile_search("docs", b, "duck")).fetchall()}
    assert rows["en"][3] == pytest.approx(100 * 110 / 290)
    assert rows["de"][3] == pytest.approx(100 * 70 / 290)
    # doc counts en 3, de 2, fr 2 -> rescale_0_1: en 1.0, de/fr 0.0
    assert rows["en"][4] == 1.0 and rows["de"][4] == 0.0


def test_normalize_rejections(tiny):
    with pytest.raises(ValueError, match="unsupported normalize method"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"n2": {"normalize": {"buckets_path": "_count",
                                          "method": "softmax"}}}}},
            "size": 0}, "duck")
    with pytest.raises(ValueError, match="names no single-value"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"n2": {"normalize": {"buckets_path": "ghost",
                                          "method": "percent_of_sum"}}}}},
            "size": 0}, "duck")
    with pytest.raises(ValueError, match="terms or\\s+histogram-family"):
        compile_search("docs", {"aggs": {"x": {
            "range": {"field": "n", "ranges": [{"to": 50}, {"from": 50}]},
            "aggs": {"n2": {"normalize": {"buckets_path": "_count",
                                          "method": "percent_of_sum"}}}}},
            "size": 0}, "duck")


def test_bucket_sort_truncates_and_offsets(tiny):
    # avg n: en 36.67, de 35, fr 55 -> desc [fr, en, de];
    # from 1, size 2 -> [en, de]
    b = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
         "aggs": {"v": {"avg": {"field": "n"}},
                  "bs": {"bucket_sort": {
                      "sort": [{"v": {"order": "desc"}}],
                      "from": 1, "size": 2}}}}}, "size": 0}
    rows = tiny.execute(compile_search("docs", b, "duck")).fetchall()
    assert [r[0] for r in rows] == ["en", "de"]
    # sort by _key desc, size 2 -> [fr, en]
    b2 = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
          "aggs": {"bs": {"bucket_sort": {
              "sort": [{"_key": {"order": "desc"}}], "size": 2}}}}},
          "size": 0}
    rows2 = tiny.execute(compile_search("docs", b2, "duck")).fetchall()
    assert [r[0] for r in rows2] == ["fr", "en"]


def test_bucket_sort_sees_normalize_output(tiny):
    # dependency order: bucket_sort runs outermost, so it can sort by
    # a normalize column
    b = {"aggs": {"by_lang": {"terms": {"field": "lang", "size": 10},
         "aggs": {"total": {"sum": {"field": "n"}},
                  "pct": {"normalize": {"buckets_path": "total",
                                        "method": "percent_of_sum"}},
                  "bs": {"bucket_sort": {
                      "sort": [{"pct": {"order": "asc"}}], "size": 1}}}}},
         "size": 0}
    rows = tiny.execute(compile_search("docs", b, "duck")).fetchall()
    assert [r[0] for r in rows] == ["de"]


def test_bucket_sort_rejections(tiny):
    with pytest.raises(ValueError, match="gap_policy skip"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"bs": {"bucket_sort": {
                "sort": [{"_count": "desc"}],
                "gap_policy": "insert_zeros"}}}}}, "size": 0}, "duck")
    with pytest.raises(ValueError, match="from without size"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"bs": {"bucket_sort": {"from": 2}}}}}, "size": 0},
            "duck")
    with pytest.raises(ValueError, match="at most one bucket_sort"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"a": {"bucket_sort": {"size": 1}},
                     "b": {"bucket_sort": {"size": 2}}}}}, "size": 0},
            "duck")


def test_percentiles_bucket_sibling(tiny_val):
    # daily sums 10,20,30,40,50 over 5 buckets -> p50 = 30
    b = {"aggs": {
        "daily": {"date_histogram": {"field": "ts",
                                     "calendar_interval": "day"},
                  "aggs": {"v": {"sum": {"field": "value"}}}},
        "v_pct": {"percentiles_bucket": {"buckets_path": "daily>v",
                                         "percents": [50, 100]}},
    }, "size": 0}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")).fetchall()
    assert rows[0][-2] == 30.0 and rows[0][-1] == 50.0


# --- batch 9: adjacency_matrix / sampler / significant_text -------------------


def test_adjacency_matrix_pairwise_counts(tiny):
    b = {"aggs": {"adj": {"adjacency_matrix": {"filters": {
        "en": {"term": {"lang": "en"}},
        "news": {"term": {"source": "news"}},
        "big": {"range": {"n": {"gte": 50}}},
    }}}}, "size": 0}
    rows = dict(tiny.execute(compile_search("docs", b, "duck")).fetchall())
    # en: docs 1,2,8; news: 1,3; big: 5,6,7,8
    assert rows == {"en": 3, "news": 2, "big": 4,
                    "big&en": 1, "en&news": 1}
    # empty intersections (big&news) are absent, as in ES
    assert "big&news" not in rows


def test_adjacency_matrix_custom_separator_and_rejections(tiny):
    b = {"aggs": {"adj": {"adjacency_matrix": {
        "separator": "|",
        "filters": {"en": {"term": {"lang": "en"}},
                    "news": {"term": {"source": "news"}}},
    }}}, "size": 0}
    rows = dict(tiny.execute(compile_search("docs", b, "duck")).fetchall())
    assert "en|news" in rows
    with pytest.raises(ValueError, match=">= 2 named filters"):
        compile_search("docs", {"aggs": {"a": {"adjacency_matrix": {
            "filters": {"solo": {"term": {"lang": "en"}}}}}},
            "size": 0}, "duck")
    with pytest.raises(ValueError, match="sub-aggs are unsupported"):
        compile_search("docs", {"aggs": {"a": {
            "adjacency_matrix": {"filters": {
                "x": {"term": {"lang": "en"}},
                "y": {"term": {"lang": "de"}}}},
            "aggs": {"m": {"avg": {"field": "n"}}}}}, "size": 0}, "duck")


def test_sampler_bounds_the_sample(tiny):
    # first 3 docs by id: n = 10, 20, 30 -> avg 20
    b = {"aggs": {"s": {"sampler": {"shard_size": 3},
         "aggs": {"a": {"avg": {"field": "n"}}}}}, "size": 0}
    assert tiny.execute(
        compile_search("docs", b, "duck")).fetchall() == [(3, 20.0)]


def test_diversified_sampler_caps_per_value(tiny):
    # one doc per lang by lowest id: 1 (en, 10), 3 (de, 30), 5 (fr, 50)
    # -> doc 7 (NULL lang) excluded, avg 30
    b = {"aggs": {"s": {"diversified_sampler": {
        "field": "lang", "max_docs_per_value": 1, "shard_size": 10},
        "aggs": {"a": {"avg": {"field": "n"}}}}}, "size": 0}
    assert tiny.execute(
        compile_search("docs", b, "duck")).fetchall() == [(3, 30.0)]
    with pytest.raises(ValueError, match="max_docs_per_value"):
        compile_search("docs", {"aggs": {"s": {"diversified_sampler": {
            "field": "lang", "max_docs_per_value": 0}}}, "size": 0},
            "duck")


def test_significant_text_is_the_tokenizing_alias(tiny):
    st = {"query": {"term": {"lang": "en"}},
          "aggs": {"sig": {"significant_text": {
              "field": "text", "min_doc_count": 1, "size": 5}}},
          "size": 0}
    terms = {"query": {"term": {"lang": "en"}},
             "aggs": {"sig": {"significant_terms": {
                 "field": "text", "min_doc_count": 1, "size": 5}}},
             "size": 0}
    assert (tiny.execute(compile_search("docs", st, "duck")).fetchall()
            == tiny.execute(
                compile_search("docs", terms, "duck")).fetchall())
    with pytest.raises(ValueError, match="filter_duplicate_text"):
        compile_search("docs", {"aggs": {"s": {"significant_text": {
            "field": "text", "filter_duplicate_text": True}}},
            "size": 0}, "duck")


# --- batch 12: cumulative_cardinality / more_like_this ------------------------


def test_cumulative_cardinality_exact(tiny_val):
    tiny_val.execute("""
        CREATE TABLE cc AS SELECT * FROM (VALUES
          (1, TIMESTAMP '2024-01-01 01:00:00', 100),
          (2, TIMESTAMP '2024-01-01 02:00:00', 200),
          (3, TIMESTAMP '2024-01-02 01:00:00', 100),
          (4, TIMESTAMP '2024-01-03 01:00:00', 300),
          (5, TIMESTAMP '2024-01-03 02:00:00', 100),
          (6, TIMESTAMP '2024-01-04 01:00:00', 200)
        ) AS t(event_id, ts, user_id)
    """)
    b = {"aggs": {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"users": {"cardinality": {"field": "user_id"}},
                 "total": {"cumulative_cardinality": {
                     "buckets_path": "users"}}}}}, "size": 0}
    rows = tiny_val.execute(
        compile_aggs("cc", b, "duck", "event_id")).fetchall()
    # per-day distinct: 2,1,2,1 — cumulative DISTINCT: 2,2,3,3 (the
    # revisits on days 2-4 add nothing)
    assert [(r[2], r[3]) for r in rows] == [(2, 2), (1, 2), (2, 3), (1, 3)]


def test_cumulative_cardinality_rejections(tiny_val):
    with pytest.raises(ValueError, match="histogram-\\s*family parent"):
        compile_aggs("ev", {"aggs": {"x": {
            "terms": {"field": "value"},
            "aggs": {"c": {"cardinality": {"field": "value"}},
                     "t": {"cumulative_cardinality": {
                         "buckets_path": "c"}}}}}}, "duck", "event_id")
    with pytest.raises(ValueError, match="sibling cardinality"):
        compile_aggs("ev", {"aggs": {"x": {
            "date_histogram": {"field": "ts", "calendar_interval": "day"},
            "aggs": {"c": {"sum": {"field": "value"}},
                     "t": {"cumulative_cardinality": {
                         "buckets_path": "c"}}}}}}, "duck", "event_id")


def test_more_like_this_ranks_by_shared_rare_terms(tiny):
    tiny.execute("""
        CREATE TABLE mlt AS SELECT * FROM (VALUES
          (1, 'apple banana cherry apple'),
          (2, 'apple banana date'),
          (3, 'cherry date elderberry'),
          (4, 'fig grape apple'),
          (5, 'banana cherry apple banana'),
          (6, 'unrelated words entirely here')
        ) AS t(doc_id, text)
    """)
    body = {"query": {"more_like_this": {
        "fields": ["text"], "like": [{"_id": 1}],
        "max_query_terms": 5, "min_term_freq": 1, "min_doc_freq": 1,
        "minimum_should_match": 1}},
        "_source": ["doc_id"], "size": 10}
    rows = tiny.execute(compile_search("mlt", body, "duck")).fetchall()
    # self excluded; 5 shares all three terms, 2 two, 3/4 one; 6 none
    assert [r[0] for r in rows] == [5, 2, 3, 4]
    # free-text like + percentage coordination
    body2 = {"query": {"more_like_this": {
        "fields": ["text"], "like": "cherry date cherry",
        "max_query_terms": 5, "min_term_freq": 1, "min_doc_freq": 1,
        "minimum_should_match": "100%"}},
        "_source": ["doc_id"], "size": 10}
    rows2 = tiny.execute(compile_search("mlt", body2, "duck")).fetchall()
    # 100% of the 2 selected terms -> only docs with cherry AND date
    assert [r[0] for r in rows2] == [3]


def test_more_like_this_rejections(tiny):
    with pytest.raises(ValueError, match="exactly one field"):
        compile_search("docs", {"query": {"more_like_this": {
            "fields": ["text", "source"], "like": "x"}}}, "duck")
    with pytest.raises(ValueError, match="scored context only"):
        compile_search("docs", {"query": {"more_like_this": {
            "fields": ["text"], "like": "x"}},
            "sort": [{"doc_id": "asc"}]}, "duck")
    with pytest.raises(ValueError, match="free text or"):
        compile_search("docs", {"query": {"more_like_this": {
            "fields": ["text"], "like": [{"_index": "a", "_id": 1}]}}},
            "duck")
    with pytest.raises(ValueError, match="int or 'N%'"):
        compile_search("docs", {"query": {"more_like_this": {
            "fields": ["text"], "like": "x",
            "minimum_should_match": "30%%"}}}, "duck")


# --- batch 13: runtime_mappings / moving_percentiles --------------------------


def test_runtime_fields_everywhere(tiny):
    tiny.execute("""
        CREATE TABLE rt AS SELECT * FROM (VALUES
          (1, 100, 4), (2, 300, 2), (3, 250, 5), (4, 90, 1)
        ) AS t(doc_id, n_chars, pages)
    """)
    body = {
        "runtime_mappings": {
            "cpp": {"type": "double", "script": {
                "source": "emit(doc['n_chars'].value / doc['pages'].value)"}},
        },
        "query": {"range": {"cpp": {"gte": 50}}},
        "sort": [{"cpp": "desc"}],
        "size": 10,
        "_source": ["doc_id", "cpp"],
    }
    rows = tiny.execute(compile_search("rt", body, "duck")).fetchall()
    # chars/page: 25, 150, 50, 90 -> filtered + ranked
    assert rows == [(2, 150.0), (4, 90.0), (3, 50.0)]
    # runtime field as a bucket key
    agg = {
        "runtime_mappings": {"is_long": {"type": "boolean", "script": {
            "source": "emit(doc['n_chars'].value >= 200)"}}},
        "aggs": {"by": {"terms": {"field": "is_long"},
                 "aggs": {"p": {"avg": {"field": "pages"}}}}},
        "size": 0,
    }
    rows2 = tiny.execute(compile_search("rt", agg, "duck")).fetchall()
    assert dict((r[0], r[2]) for r in rows2) == {False: 2.5, True: 3.5}


def test_runtime_fields_rejections(tiny):
    with pytest.raises(ValueError, match="emit"):
        compile_search("docs", {"runtime_mappings": {"x": {
            "type": "double", "script": {"source": "doc['n'].value"}}},
            "size": 0, "aggs": {"a": {"terms": {"field": "x"}}}}, "duck")
    with pytest.raises(ValueError, match="unsupported runtime field type"):
        compile_search("docs", {"runtime_mappings": {"x": {
            "type": "keyword",
            "script": {"source": "emit(doc['n'].value)"}}},
            "size": 0, "aggs": {"a": {"terms": {"field": "x"}}}}, "duck")
    # doc[...] refs stay OUT of bucket scripts
    with pytest.raises(ValueError, match="doc\\[\\.\\.\\.\\] refs"):
        compile_search("docs", {"aggs": {"x": {
            "terms": {"field": "lang"},
            "aggs": {"s": {"bucket_script": {
                "buckets_path": {"c": "_count"},
                "script": "doc['n'].value * params.c"}}}}},
            "size": 0}, "duck")


def test_moving_percentiles_sliding_frame(tiny_val):
    b = {"aggs": {"daily": {
        "date_histogram": {"field": "ts", "calendar_interval": "day"},
        "aggs": {"v": {"sum": {"field": "value"}},
                 "mp": {"moving_percentiles": {
                     "buckets_path": "v", "window": 3, "shift": 1,
                     "percents": [50]}}}}}, "size": 0}
    rows = tiny_val.execute(
        compile_aggs("ev", b, "duck", "event_id")).fetchall()
    # daily sums 10,20,30,40,50 (gappy axis, existing buckets only);
    # trailing-3 medians: 10, 15, 20, 30, 40
    assert [r[-1] for r in rows] == [10.0, 15.0, 20.0, 30.0, 40.0]
    # multi-column: not addressable as a selector/sort target
    with pytest.raises(ValueError, match="names no single-value"):
        compile_aggs("ev", {"aggs": {"daily": {
            "date_histogram": {"field": "ts",
                               "calendar_interval": "day"},
            "aggs": {"v": {"sum": {"field": "value"}},
                     "mp": {"moving_percentiles": {
                         "buckets_path": "v", "window": 3}},
                     "sel": {"bucket_selector": {
                         "buckets_path": {"m": "mp"},
                         "script": "params.m > 1"}}}}}, "size": 0},
            "duck", "event_id")


# --- batch 14: match_bool_prefix / pinned --------------------------------------


def test_match_bool_prefix_terms_plus_prefix(tiny):
    # "delta ep": term delta AND token-prefix ep — no adjacency needed
    b = {"query": {"match_bool_prefix": {"text": {
        "query": "delta ep", "operator": "and"}}},
        "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(b)) == [3]
    # default operator or: any clause
    b2 = {"query": {"match_bool_prefix": {"text": "delta ep"}},
          "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(b2)) == [2, 3, 7]


def test_pinned_promotes_then_organic(tiny):
    p = {"query": {"pinned": {
        "ids": [6, 4], "organic": {"match": {"text": "beta"}}}},
        "_source": ["doc_id"], "size": 10}
    rows = tiny.execute(_search(p)).fetchall()
    # pinned in given order (synthetic 1e9-position scores), then
    # organic BM25 hits excluding the pinned ones
    assert [r[0] for r in rows][:2] == [6, 4]
    assert rows[0][1] == 1000000000.0 and rows[1][1] == 999999999.0
    organic = [r[0] for r in rows[2:]]
    assert 4 not in organic and 6 not in organic and organic


def test_pinned_rejections(tiny):
    with pytest.raises(ValueError, match="containing the id field"):
        _search({"query": {"pinned": {
            "ids": [1], "organic": {"match": {"text": "beta"}}}},
            "_source": ["text"], "size": 5})
    with pytest.raises(ValueError, match="match/multi_match"):
        _search({"query": {"pinned": {
            "ids": [1], "organic": {"term": {"lang": "en"}}}},
            "_source": ["doc_id"], "size": 5})
    with pytest.raises(ValueError, match="scored context only"):
        _search({"query": {"pinned": {
            "ids": [1], "organic": {"match": {"text": "beta"}}}},
            "_source": ["doc_id"], "sort": [{"doc_id": "asc"}]})


def test_r10_plan_shapes(spark, tables):
    """Scale claims of the r10 batches, checked on executed plans:
    a scroll continuation's search_after cursor prunes AT THE SCAN
    (PushedFilters on the sort column); runtime-field statements keep
    pushing REAL-column filters below the projection CTE; MAD's
    bucket-median join-back broadcasts (bucket-cardinality side)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        MAD_BODY,
        SCROLL_BODY,
    )

    # scroll page 2: the cursor appears in PushedFilters
    page2 = {**SCROLL_BODY, "search_after": [250, 120]}
    df = spark.sql(compile_search("documents", page2, "spark"))
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in scan
    assert "GreaterThan(n_chars,250)" in scan.replace(" ", "")

    # runtime fields: a filter on a REAL column still reaches the scan
    body = {
        "runtime_mappings": {"cpp": {"type": "double", "script": {
            "source": "emit(doc['n_chars'].value / 25)"}}},
        "query": {"bool": {"filter": [
            {"term": {"lang": "en"}},          # real column
            {"range": {"cpp": {"gte": 4}}},    # runtime column
        ]}},
        "sort": [{"doc_id": "asc"}], "size": 5,
        "_source": ["doc_id", "cpp"],
    }
    df = spark.sql(compile_search("documents", body, "spark"))
    scan = df._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(lang,en)" in scan.replace(" ", "")

    # MAD: the med relation joins back as a broadcast
    df = spark.sql(compile_search("documents", MAD_BODY, "spark"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# --- batch 15: numeric zero-fill / t_test / fields ----------------------------


def test_histogram_zero_fill_numeric_axis(tiny):
    tiny.execute("""
        CREATE TABLE hv AS SELECT * FROM (VALUES
          (1, 5.0), (2, 7.0), (3, 31.0), (4, 33.0), (5, 34.0)
        ) AS t(doc_id, v)
    """)
    b = {"aggs": {"h": {"histogram": {
        "field": "v", "interval": 10, "min_doc_count": 0},
        "aggs": {"s": {"sum": {"field": "v"}},
                 "a": {"avg": {"field": "v"}}}}}, "size": 0}
    rows = tiny.execute(compile_search("hv", b, "duck")).fetchall()
    # contiguous axis with ES empty-bucket values: sum 0, avg NULL
    assert rows == [(0.0, 2, 12.0, 6.0), (10.0, 0, 0.0, None),
                    (20.0, 0, 0.0, None), (30.0, 3, 98.0,
                                           pytest.approx(98 / 3))]
    # numeric extended_bounds only EXTEND
    b2 = {"aggs": {"h": {"histogram": {
        "field": "v", "interval": 10, "min_doc_count": 0,
        "extended_bounds": {"min": -10, "max": 55}}}}, "size": 0}
    keys = [r[0] for r in tiny.execute(
        compile_search("hv", b2, "duck")).fetchall()]
    assert keys == [-10.0, 0.0, 10.0, 20.0, 30.0, 40.0, 50.0]
    with pytest.raises(ValueError, match="numeric"):
        compile_search("hv", {"aggs": {"h": {"histogram": {
            "field": "v", "interval": 10, "min_doc_count": 0,
            "extended_bounds": {"min": "a", "max": "b"}}}},
            "size": 0}, "duck")


def test_t_test_welch_statistic(tiny):
    tiny.execute("""
        CREATE TABLE ab AS SELECT * FROM (VALUES
          (1,'a',10.0),(2,'a',12.0),(3,'a',11.0),(4,'a',13.0),
          (5,'b',20.0),(6,'b',22.0),(7,'b',21.0),(8,'b',25.0)
        ) AS t(doc_id, grp, v)
    """)
    b = {"aggs": {"all": {"filter": {"match_all": {}},
         "aggs": {"tt": {"t_test": {
             "a": {"field": "v", "filter": {"term": {"grp": "a"}}},
             "b": {"field": "v", "filter": {"term": {"grp": "b"}}}}}}}},
         "size": 0}
    rows = tiny.execute(compile_search("ab", b, "duck")).fetchall()
    # hand Welch: means 11.5/22, sample vars 5/3 and 14/3 -> t = -8.3446
    assert rows == [(8, -8.3446)]
    with pytest.raises(ValueError, match="heteroscedastic"):
        compile_search("ab", {"aggs": {"all": {
            "filter": {"match_all": {}},
            "aggs": {"tt": {"t_test": {
                "a": {"field": "v"}, "b": {"field": "v"},
                "type": "paired"}}}}}, "size": 0}, "duck")


def test_fields_projection_and_track_total_hits(tiny):
    b = {"query": {"term": {"lang": "en"}},
         "fields": ["doc_id", {"field": "lang"}],
         "sort": [{"doc_id": "asc"}], "size": 10,
         "track_total_hits": True}
    rows = tiny.execute(_search(b)).fetchall()
    assert rows == [(1, 'en'), (2, 'en'), (8, 'en')]
    with pytest.raises(ValueError, match="one projection per body"):
        _search({"fields": ["doc_id"], "_source": ["lang"]})
    with pytest.raises(ValueError, match="wildcards"):
        _search({"fields": ["lang*"]})


# --- batch 16: suggesters / wrapper --------------------------------------------


@pytest.fixture()
def sugg(tiny):
    tiny.execute("""
        CREATE TABLE sg AS SELECT * FROM (VALUES
          (1, 'table scan merge'), (2, 'table scan join'),
          (3, 'merge sort table'), (4, 'vector scan'), (5, 'table vector')
        ) AS t(doc_id, text)
    """)
    return tiny


def test_term_suggester_missing_mode(sugg):
    b = {"suggest": {"fix": {"text": "tabel scna table",
         "term": {"field": "text", "size": 2, "max_edits": 2}}},
         "size": 0}
    rows = sugg.execute(compile_search("sg", b, "duck")).fetchall()
    # 'table' is in-vocabulary -> skipped (missing mode); corrections
    # rank by (distance, corpus doc-freq, word)
    assert rows == [("scna", "scan", 2, 3), ("tabel", "table", 2, 4)]
    always = {"suggest": {"fix": {"text": "tabel",
              "term": {"field": "text", "suggest_mode": "always",
                       "size": 1}}}, "size": 0}
    assert sugg.execute(compile_search("sg", always, "duck")).fetchall() \
        == [("tabel", "table", 2, 4)]


def test_completion_suggester_prefix_by_freq(sugg):
    b = {"suggest": {"s": {"prefix": "TA",
         "completion": {"field": "text", "size": 3}}}, "size": 0}
    assert sugg.execute(compile_search("sg", b, "duck")).fetchall() \
        == [("table", 4)]


def test_suggest_rejections(sugg):
    with pytest.raises(ValueError, match="size: 0 idiom"):
        compile_search("sg", {"suggest": {"s": {"prefix": "t",
            "completion": {"field": "text"}}},
            "query": {"match_all": {}}}, "duck")
    # phrase is SUPPORTED since batch 33 — a still-unknown suggester
    # kind fails loudly
    with pytest.raises(ValueError, match="term/phrase/completion only"):
        compile_search("sg", {"suggest": {"s": {"text": "x",
            "regex": {"field": "text"}}}, "size": 0}, "duck")
    with pytest.raises(ValueError, match="max_edits"):
        compile_search("sg", {"suggest": {"s": {"text": "x",
            "term": {"field": "text", "max_edits": 3}}}, "size": 0},
            "duck")


def test_wrapper_query_decodes(tiny):
    import base64
    import json as j
    inner = {"term": {"lang": "en"}}
    b64 = base64.b64encode(j.dumps(inner).encode()).decode()
    body = {"query": {"wrapper": {"query": b64}},
            "sort": [{"doc_id": "asc"}], "size": 10}
    assert _ids(tiny, _search(body)) == [1, 2, 8]
    with pytest.raises(ValueError, match="does not decode"):
        _search({"query": {"wrapper": {"query": "!!not-base64!!"}}})


def test_batch18_29_plan_shapes(spark, tables):
    """Scale claims of the late-r10 batches, checked on executed
    plans: rescore's second pass joins onto a LIMIT-bounded window
    (never the corpus ordering); has_child aggregates the child side
    below a broadcastable semi-join; the geo_distance query's
    haversine predicate stays scan-local (no join, no shuffle below
    the top-k); terms lookup broadcasts its one-row subquery."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        GEO_DISTANCE_BODY,
        HAS_CHILD_BODY,
        PARENT_CHILD_RELATIONS,
        RESCORE_BODY,
        TERMS_LOOKUP_BODY,
        compile_search,
    )

    df = spark.sql(compile_search("documents", RESCORE_BODY, "spark"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the first pass is a TakeOrdered/window LIMIT feeding the join
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Join") >= 2  # rescore join-back + source join

    df = spark.sql(compile_search(
        "orders", HAS_CHILD_BODY, "spark", "o_orderkey",
        PARENT_CHILD_RELATIONS,
    ))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Semi" in plan  # IN-subquery planned as a semi join
    assert "HashAggregate" in plan  # min_children aggregates child side

    df = spark.sql(compile_search(
        "events", GEO_DISTANCE_BODY, "spark", "event_id"
    ))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # pure scan-local predicate + top-k

    df = spark.sql(compile_search("documents", TERMS_LOOKUP_BODY, "spark"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


# --- r10 batch 31: _rank_eval --------------------------------------------------


def test_rank_eval_metrics(tiny):
    """precision@k / MRR / DCG on a hand-checkable rating set: the
    'alpha' query ranks doc 8 (shortest) first."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_rank_eval,
    )
    import math

    def score(metric):
        body = {"requests": [
            {"id": "alpha",
             "request": {"query": {"match": {"text": "alpha"}}},
             "ratings": [{"_id": 8, "rating": 2}, {"_id": 1, "rating": 1}]},
        ], "metric": metric}
        (_, v), = tiny.execute(
            compile_rank_eval("docs", body, "duck")).fetchall()
        return v

    # hits ranked 8, 4, 1, 5 (BM25 by doc length); rated: 8 (rank 1,
    # rating 2) and 1 (rank 3, rating 1)
    assert score({"mean_reciprocal_rank": {"k": 10}}) == 1.0
    assert score({"precision": {"k": 4}}) == 0.5
    assert score({"precision": {
        "k": 4, "relevant_rating_threshold": 2}}) == 0.25
    dcg = (2 ** 2 - 1) / math.log2(2) + (2 ** 1 - 1) / math.log2(4)
    assert abs(score({"dcg": {"k": 10}}) - dcg) <= 1e-6
    for body, msg in [
        ({"requests": [], "metric": {"dcg": {}}},
         "wants a requests list"),
        ({"requests": [{"id": "a", "request": {"query": {"match": {
            "text": "x"}}}, "ratings": []}],
          "metric": {"dcg": {}}}, "ratings must be non-empty"),
        ({"requests": [{"id": "a", "request": {"query": {"match": {
            "text": "x"}}}, "ratings": [{"_id": 1, "rating": 1}]}],
          "metric": {"expected_reciprocal_rank": {}}},
         "unsupported rank_eval metric"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_rank_eval("docs", body, "duck")


# --- r10 batch 32: scored bool context ------------------------------------------


def test_scored_bool_sums_and_gates(tiny):
    """_score = sum of must scores + matching should scores; filters
    and must_not gate membership without scoring; a hit must match
    EVERY must."""
    body = {"query": {"bool": {
        "must": [{"match": {"text": "beta"}}],
        "should": [{"match": {"text": "alpha"}}],
    }}, "_source": ["doc_id"], "size": 10}
    rows = {r[0]: r[1] for r in tiny.execute(_search(body)).fetchall()}
    assert set(rows) == {1, 2, 4, 5}  # the beta docs
    beta = {r[0]: r[1] for r in tiny.execute(_search(
        {"query": {"match": {"text": "beta"}},
         "_source": ["doc_id"], "size": 10})).fetchall()}
    alpha = {r[0]: r[1] for r in tiny.execute(_search(
        {"query": {"match": {"text": "alpha"}},
         "_source": ["doc_id"], "size": 10})).fetchall()}
    for d, s in rows.items():
        expect = beta[d] + alpha.get(d, 0)
        assert abs(s - expect) <= 2e-4, d
    # two musts intersect; filter gates
    both = {"query": {"bool": {
        "must": [{"match": {"text": "beta"}}, {"match": {"text": "alpha"}}],
        "filter": [{"term": {"lang": "en"}}],
    }}, "_source": ["doc_id"], "size": 10}
    ids = {r[0] for r in tiny.execute(_search(both)).fetchall()}
    assert ids == {1}  # docs 4,5 fail the lang filter; 2 lacks alpha
    # a bool of PURE filters without sort still routes filter-context
    pure = {"query": {"bool": {"filter": [{"term": {"lang": "en"}}]}},
            "_source": ["doc_id"], "size": 10}
    assert "ORDER BY doc_id" in _search(pure)
    # a bool with a TERM-level must keeps the filter-context path
    # (membership only) — never a silent constant score in query
    # context; same for minimum_should_match vote counting
    mixed = {"query": {"bool": {
        "must": [{"term": {"lang": "en"}}],
        "should": [{"match": {"text": "beta"}}]}},
        "_source": ["doc_id"], "size": 10}
    assert "ORDER BY doc_id" in _search(mixed)
    for body, msg in [
        ({"query": {"bool": {"must": [{"match": {"text": "beta"}}]}},
          "min_score": 1}, "scored bool combines only"),
        ({"query": {"bool": {"must": [{"match": {"text": "beta"}}]}},
          "highlight": {"fields": {"text": {}}}},
         "scored bool combines only"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", body, "duck")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        SCORED_BOOL_BODY,
    )
    for dialect in ("spark", "duck"):
        assert "SELECT" in compile_search("docs", SCORED_BOOL_BODY, dialect)


def test_scored_bool_plan_shape(spark, tables):
    """The scored-bool plan: BM25 chains join id-keyed over hit-sized
    relations (no cartesian anywhere), the filter sits at the source
    join-back, and the final order is a TakeOrdered."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        SCORED_BOOL_BODY,
        compile_search,
    )

    df = spark.sql(compile_search("documents", SCORED_BOOL_BODY, "spark"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan


def test_term_wildcard_case_insensitive(tiny):
    """case_insensitive on term/wildcard: lower() both sides; boost is
    accepted-and-ignored in filter context (ES ignores scores there
    too)."""
    body = {"query": {"term": {"text": {
        "value": "ALPHA BETA GAMMA", "case_insensitive": True,
    }}}, "size": 10, "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}
    assert _ids(tiny, _search(body)) == [1]
    body = {"query": {"wildcard": {"text": {
        "value": "ALPHA*", "case_insensitive": True, "boost": 2,
    }}}, "size": 10, "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}
    assert _ids(tiny, _search(body)) == [1, 8]
    # sensitive by default: the original casing doesn't match lowercase
    body = {"query": {"term": {"text": {"value": "alpha beta gamma"}}},
            "size": 10, "sort": [{"doc_id": "asc"}], "_source": ["doc_id"]}
    assert _ids(tiny, _search(body)) == []
    with pytest.raises(ValueError, match="unsupported term keys"):
        compile_search("docs", {"query": {"term": {"text": {
            "value": "x", "fuzzy": 1}}}}, "duck")


def test_phrase_suggester_lattice(sugg):
    """The phrase lattice ranks whole corrected queries: both tokens
    misspelled -> the common phrase wins; an in-vocabulary token keeps
    itself as the distance-0 candidate."""
    body = {"suggest": {"fix": {
        "text": "tabel scna",
        "phrase": {"field": "text", "size": 3, "candidates_per_term": 3},
    }}, "size": 0}
    rows = sugg.execute(compile_search("sg", body, "duck")).fetchall()
    assert rows and rows[0][0] == "table scan"
    body = {"suggest": {"fix": {
        "text": "table scna",
        "phrase": {"field": "text", "size": 1, "candidates_per_term": 2},
    }}, "size": 0}
    rows = sugg.execute(compile_search("sg", body, "duck")).fetchall()
    assert rows[0][0] == "table scan" and rows[0][2] == 2  # 0 + 2 edits
    for body, msg in [
        ({"suggest": {"f": {"text": "a b c d e",
            "phrase": {"field": "text"}}}, "size": 0},
         "1-4 analyzed tokens"),
        ({"suggest": {"f": {"text": "a",
            "phrase": {"field": "text", "candidates_per_term": 9}}},
          "size": 0}, r"candidates_per_term must be in \[1, 5\]"),
        ({"suggest": {"f": {"text": "a",
            "phrase": {"field": "text", "mode": "x"}}}, "size": 0},
         "unsupported phrase suggester keys"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("sg", body, "duck")


def test_function_score_over_scored_bool(tiny):
    """function_score composes over the scored-bool shape: the factor
    multiplies the Lucene sum; routing rejects non-full-text musts."""
    plain = {"query": {"bool": {
        "must": [{"match": {"text": "beta"}}],
        "should": [{"match": {"text": "alpha"}}],
    }}, "_source": ["doc_id", "n"], "size": 10}
    p = {r[0]: r[2] for r in tiny.execute(_search(plain)).fetchall()}
    fs = {"query": {"function_score": {
        "query": plain["query"],
        "field_value_factor": {"field": "n"},
        "boost_mode": "multiply",
    }}, "_source": ["doc_id", "n"], "size": 10}
    rows = tiny.execute(_search(fs)).fetchall()
    for doc_id, n, s in rows:
        assert abs(s - p[doc_id] * n) <= n * 6e-5
    with pytest.raises(ValueError, match="full-text\n*.?musts|full-text "):
        compile_search("docs", {"query": {"function_score": {
            "query": {"bool": {"must": [{"term": {"lang": "en"}}]}},
            "weight": 2}}}, "duck")
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        FS_OVER_BOOL_BODY,
    )
    for dialect in ("spark", "duck"):
        assert "SELECT" in compile_search("docs", FS_OVER_BOOL_BODY, dialect)


def test_compiler_modules_stay_under_split_budget():
    """The r11 split's invariant: no compiler module grows past 3k
    lines again (es_dsl.py facade, query tier, aggregation tier)."""
    import os

    base = os.path.join(
        os.path.dirname(__file__), "..",
        "golang_db_query_engine_elasticsearch_indexer_spark", "operators",
    )
    for mod in ("es_dsl.py", "es_dsl_query.py", "es_dsl_aggs.py",
                "es_dsl_bodies.py"):
        n = len(open(os.path.join(base, mod)).read().split("\n"))
        assert n < 3000, (mod, n)


def test_sort_missing_semantics(tiny):
    """ES sorts missing values LAST by default regardless of
    direction (`missing: "_first"` flips it) — rendered as explicit
    NULLS because Spark and DuckDB bare-sort defaults are OPPOSITE,
    so an implicit sort under LIMIT would pick different hits per
    engine. doc 4's source is NULL."""
    base = {"size": 3, "_source": ["doc_id"]}
    ids = _ids(tiny, _search({**base, "sort": [{"source": "asc"}]}))
    assert ids == [7, 8, 5]  # '10%x' < '105x' < 'a_c'; NULL last
    ids = _ids(tiny, _search({**base, "sort": [{"source": "desc"}]}))
    assert ids == [1, 3, 2]  # news, news, blog; NULL still last
    ids = _ids(tiny, _search({**base, "sort": [
        {"source": {"order": "asc", "missing": "_first"}}]}))
    assert ids == [4, 7, 8]  # the NULL doc leads under _first
    for bad, msg in [
        ({"sort": [{"source": {"order": "asc", "missing": "0"}}]},
         "missing wants _first/_last"),
        ({"sort": [{"source": {"order": "asc", "mode": "min"}}]},
         "unsupported sort keys"),
    ]:
        with pytest.raises(ValueError, match=msg):
            compile_search("docs", {**base, **bad}, "duck")


def test_search_after_reaches_null_keyed_rows(tiny):
    """Nulls sort last, so 'strictly after the cursor' must INCLUDE
    the null group — without the IS NULL branch, null-keyed rows
    would be silently unreachable by pagination."""
    body = {"sort": [{"source": "asc"}], "size": 10,
            "_source": ["doc_id"]}
    page1 = _ids(tiny, _search({**body, "size": 4}))
    assert page1 == [7, 8, 5, 6]
    page2 = _ids(tiny, _search({**body, "search_after": ["abc", 6]}))
    assert page2 == [2, 1, 3, 4]  # doc 4 (NULL source) is reachable
    # resume from INSIDE the null group: the null after-value pins it
    page3 = _ids(tiny, _search({**body, "search_after": [None, 3]}))
    assert page3 == [4]
    # after the last null-group row: an honest empty page
    page4 = _ids(tiny, _search({**body, "search_after": [None, 4]}))
    assert page4 == []
