"""HTTP API tests: route/status/envelope parity with the reference.

Reference behaviors under test (SURVEY.md §2.A, §3):
- GET /            -> 200 welcome (home_controller.go:9-11)
- GET /query/      -> 200 rows; 400 bad driver / null params / syntax;
                      401 non-SELECT (query_controller.go:61-93)
- POST /elastic/save/ -> 201 + accounting (elastic_controller.go:299),
                      positional doc IDs (elastic_controller.go:204)
- error envelope {"error": msg} (responses.go:17-27)
"""

from __future__ import annotations

import json

import pytest

from golang_db_query_engine_elasticsearch_indexer_spark.api import WELCOME, create_app
from golang_db_query_engine_elasticsearch_indexer_spark.indexer import JsonlIndexSink
from golang_db_query_engine_elasticsearch_indexer_spark.session import SourceRegistry

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def client(spark, tables, tmp_path_factory):
    reg = SourceRegistry()
    reg.register_source("parquet", "testdb", SF_DIR)
    sink = JsonlIndexSink(str(tmp_path_factory.mktemp("indexes")))
    app = create_app(spark=spark, registry=reg, sink=sink)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def _q(client, **params):
    return client.get("/query/", query_string=params)


def test_home_route(client):
    r = client.get("/")
    assert r.status_code == 200
    assert json.loads(r.data) == WELCOME


def test_query_route_ok(client):
    r = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query="SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
    )
    assert r.status_code == 200
    body = json.loads(r.data)
    assert body["count"] == 5
    assert body["data"][0]["r_name"] == "AFRICA"
    assert {"name": "r_regionkey", "type": "int", "nullable": True} in body["schema"]


def test_query_route_bad_driver_400(client):
    r = _q(client, dbDriver="oracle", dbName="testdb", query="SELECT 1")
    assert r.status_code == 400
    assert "error" in json.loads(r.data)


def test_query_route_null_params_400(client):
    r = _q(client, dbDriver="parquet", dbName="testdb", query="")
    assert r.status_code == 400
    assert "error" in json.loads(r.data)


def test_query_route_non_select_401(client):
    r = _q(client, dbDriver="parquet", dbName="testdb", query="DROP TABLE region")
    assert r.status_code == 401
    body = json.loads(r.data)
    assert "not authorized" in body["error"]


def test_query_route_syntax_400(client):
    r = _q(client, dbDriver="parquet", dbName="testdb", query="SELECT * FROM (((")
    assert r.status_code == 400
    assert "error" in json.loads(r.data)


def test_query_route_unknown_table_400(client):
    r = _q(client, dbDriver="parquet", dbName="testdb", query="SELECT * FROM nope_table")
    assert r.status_code == 400
    assert "nope_table" in json.loads(r.data)["error"]


def test_query_route_explain(client):
    r = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query="SELECT r_name FROM region WHERE r_regionkey = 2",
        explain="true",
    )
    assert r.status_code == 200
    plan = json.loads(r.data)["plan"]
    assert "PushedFilters" in plan and "r_regionkey" in plan


def test_save_route_201_and_docs(client, spark):
    r = client.post(
        "/elastic/save/",
        data={
            "dbDriver": "parquet",
            "dbName": "testdb",
            "query": "SELECT n_nationkey, n_name FROM nation",
            "indexName": "nations",
        },
    )
    assert r.status_code == 201
    body = json.loads(r.data)
    assert body["num_flushed"] == 25
    assert body["num_failed"] == 0
    # docs are readable back with 1-based positional ids (A14 parity)
    r2 = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query="SELECT 1",
    )
    assert r2.status_code == 200


def test_query_route_complex_types_envelope(client):
    r = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query=(
            "SELECT vec_id, slice(embedding, 1, 2) AS emb2, "
            "named_struct('k', vec_id, 'l', label) AS st, "
            "map('label', label) AS m "
            "FROM embeddings ORDER BY vec_id LIMIT 2"
        ),
    )
    assert r.status_code == 200
    body = json.loads(r.data)
    row = body["data"][0]
    assert isinstance(row["emb2"], list) and len(row["emb2"]) == 2
    assert row["st"]["k"] == row["vec_id"]
    assert row["m"]["label"] == row["st"]["l"]
    types = {c["name"]: c["type"] for c in body["schema"]}
    assert types["emb2"] == "array<float>"
    assert types["m"].startswith("map<")


def test_save_route_missing_index_400(client):
    r = client.post(
        "/elastic/save/",
        data={"dbDriver": "parquet", "dbName": "testdb", "query": "SELECT 1"},
    )
    assert r.status_code == 400


def test_save_route_non_select_401(client):
    r = client.post(
        "/elastic/save/",
        data={
            "dbDriver": "parquet",
            "dbName": "testdb",
            "query": "DELETE FROM nation",
            "indexName": "oops",
        },
    )
    assert r.status_code == 401


def test_env_config_selects_http_sink_and_sources(spark, tables, tmp_path):
    """base.go:25-35 godotenv parity: sink kind, ES endpoint, and extra
    registry sources come from .env + environment — no code injection.
    The save route then bulk-writes over the real wire protocol to a
    stub ES server."""
    from es_stub import StubES

    stub = StubES()
    stub.start()
    try:
        dotenv = tmp_path / ".env"
        # .env supplies the sink kind; env overlay supplies the endpoint
        # (process env wins over the file, godotenv no-override parity).
        dotenv.write_text(
            "SPARK_GRAFT_SINK=http\n"
            "ELASTICSEARCH_HOST=http://file-loses:1\n"
            f"SPARK_GRAFT_SOURCES=envdb={SF_DIR}\n"
        )
        app = create_app(
            spark=spark,
            env={"ELASTICSEARCH_HOST": stub.base_url},
            dotenv_path=str(dotenv),
        )
        app.config["TESTING"] = True
        with app.test_client() as c:
            r = c.post(
                "/elastic/save/",
                data={
                    "dbDriver": "parquet",
                    "dbName": "envdb",  # registered purely via .env
                    "query": "SELECT r_regionkey, r_name FROM region",
                    "indexName": "env_idx",
                },
            )
        assert r.status_code == 201, r.data
        body = json.loads(r.data)
        assert body["num_flushed"] == 5 and body["num_failed"] == 0
        assert len(stub.docs("env_idx")) == 5
    finally:
        stub.stop()


def test_es_sink_kind_falls_back_to_http(spark, tables, tmp_path):
    """SPARK_GRAFT_SINK=es with no connector jar on the classpath must
    select the executable HTTP _bulk path against the same endpoint —
    the configured production sink always works (VERDICT r03 #9)."""
    from es_stub import StubES

    stub = StubES()
    stub.start()
    try:
        app = create_app(
            spark=spark,
            env={"SPARK_GRAFT_SINK": "es", "ELASTICSEARCH_HOST": stub.base_url},
            dotenv_path=str(tmp_path / ".env"),
        )
        app.config["TESTING"] = True
        with app.test_client() as c:
            r = c.post(
                "/elastic/save/",
                data={
                    "dbDriver": "parquet",
                    "dbName": "sf0.001",
                    "query": "SELECT r_regionkey, r_name FROM region",
                    "indexName": "es_fallback_idx",
                },
            )
        assert r.status_code == 201, r.data
        body = json.loads(r.data)
        assert body["num_flushed"] == 5 and body["num_failed"] == 0
        assert len(stub.docs("es_fallback_idx")) == 5
    finally:
        stub.stop()


def test_parameterized_query_binds_literals(spark, tables):
    """Named-parameter binding: values bind as typed literals (the
    injection-safe improvement over the reference's raw string
    interpolation) and the SELECT-only gate still vets the template."""
    import pytest as _pytest

    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        UnauthorizedOperationError,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import query_df

    sql = "SELECT count(*) AS n FROM orders WHERE o_orderstatus = :status"
    n_f = query_df(spark, sql, params={"status": "F"}).collect()[0].n
    assert n_f > 0
    # a hostile value stays ONE string literal — no predicate rewrite
    hostile = query_df(spark, sql, params={"status": "F' OR '1'='1"}).collect()[0].n
    assert hostile == 0
    # binding cannot smuggle a command past the gate: the TEMPLATE is vetted
    with _pytest.raises(UnauthorizedOperationError):
        query_df(spark, "DROP TABLE orders", params={"x": 1})


def test_query_route_params_binding(client):
    r = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query="SELECT count(*) AS n FROM region WHERE r_name = :name",
        params=json.dumps({"name": "AFRICA"}),
    )
    assert r.status_code == 200
    assert json.loads(r.data)["data"][0]["n"] == 1
    # hostile value binds as ONE literal -> zero rows, still 200
    r2 = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query="SELECT count(*) AS n FROM region WHERE r_name = :name",
        params=json.dumps({"name": "AFRICA' OR '1'='1"}),
    )
    assert r2.status_code == 200
    assert json.loads(r2.data)["data"][0]["n"] == 0
    # malformed params JSON -> 400
    r3 = _q(
        client,
        dbDriver="parquet",
        dbName="testdb",
        query="SELECT 1 AS x",
        params="{not json",
    )
    assert r3.status_code == 400


def test_exactly_one_executable_form_per_query_name():
    """inventory.SQL_QUERIES and the operator registry must be
    disjoint: a name defined in both would let the queries() merge
    silently shadow one form and the dead SQL drift unnoticed
    (VERDICT r05 ask #2 — staged-materialization entries live in
    inventory.STAGED_QUERIES, oracle-only)."""
    from golang_db_query_engine_elasticsearch_indexer_spark import inventory
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        registry,
    )

    ops = set(registry())
    assert not (set(inventory.SQL_QUERIES) & ops)
    # staged entries: oracle here, executable form in the registry
    assert set(inventory.STAGED_QUERIES) <= ops


def test_rotation_schedule_invariants():
    """The driver's window (rotation.window) leads queries() in order:
    50 distinct registered names, and every never-checked entry holds a
    slot unless the window is already full of due or never-checked
    entries (the backlog can shrink but never silently grow)."""
    import __spark_entry__ as entrymod
    from golang_db_query_engine_elasticsearch_indexer_spark.rotation import (
        CHANGED,
        evidence,
        window,
    )

    qs = entrymod.queries()
    ev = evidence()
    w = window(qs, ev, CHANGED)
    assert len(set(w)) == 50
    assert set(w) <= set(qs)
    assert list(qs)[:50] == w
    never = {n for n in qs if n not in ev.green and n not in ev.failed}
    if not never <= set(w):
        assert all(
            n in never or n in ev.failed or ev.green[n] < CHANGED.get(n, 0)
            for n in w
        )


# --- the ES API routes (r09): the engine serves the DSL it compiles ----------


def test_es_search_route(client):
    body = {"query": {"term": {"lang": "en"}},
            "_source": ["doc_id", "lang"], "size": 5}
    r = client.post("/documents/_search", json=body)
    assert r.status_code == 200
    payload = json.loads(r.data)
    assert payload["count"] == 5
    assert all(row["lang"] == "en" for row in payload["data"])
    assert "took" in payload
    # aggs body through the same route
    r = client.post("/events/_search", json={
        "aggs": {"t": {"terms": {"field": "event_type", "size": 3}}}})
    assert r.status_code == 200
    assert json.loads(r.data)["count"] == 3
    # unsupported DSL -> 400 with the error envelope, before execution
    r = client.post("/documents/_search",
                    json={"query": {"more_like_this": {}}})
    assert r.status_code == 400
    assert "es_dsl" in json.loads(r.data)["error"]


def test_es_count_route(client):
    r = client.post("/documents/_count",
                    json={"query": {"term": {"lang": "en"}}})
    assert r.status_code == 200
    n_en = json.loads(r.data)["count"]
    r = client.get("/documents/_count")
    n_all = json.loads(r.data)["count"]
    assert 0 < n_en < n_all


def test_es_routes_reject_malformed_json_body(client):
    """A PRESENT but unparseable body is a 400, as in Elasticsearch —
    it must never silently degrade to match_all and return 200 with
    default hits (ADVICE r09 #2). An absent/empty body IS match_all."""
    for path in ("/documents/_search", "/documents/_count"):
        r = client.post(path, data="{not json", content_type="application/json")
        assert r.status_code == 400, path
        assert "not valid JSON" in json.loads(r.data)["error"]
        # a JSON body that is not an object is equally malformed
        r = client.post(path, data='["match_all"]',
                        content_type="application/json")
        assert r.status_code == 400, path
    # empty body stays the ES default (match_all), not an error
    r = client.post("/documents/_count", data="",
                    content_type="application/json")
    assert r.status_code == 200
    assert json.loads(r.data)["count"] > 0


def test_es_get_and_exists_routes(client):
    # HEAD /{index}: bare 200/404
    assert client.head("/documents").status_code == 200
    assert client.head("/no_such_index").status_code == 404
    # GET /{index}/_doc/{id}: the ES get envelope
    r = client.get("/documents/_doc/1")
    assert r.status_code == 200
    payload = json.loads(r.data)
    assert payload["found"] is True and payload["_id"] == "1"
    assert payload["_source"]["doc_id"] == 1
    assert "text" in payload["_source"]
    # a missing id is found: false with 404, as in ES
    r = client.get("/documents/_doc/999999999")
    assert r.status_code == 404
    assert json.loads(r.data)["found"] is False
    # explicit id_field override
    r = client.get("/events/_doc/1?id_field=event_id")
    assert r.status_code == 200
    assert json.loads(r.data)["_source"]["event_id"] == 1


def test_es_cat_indices_route(client):
    r = client.get("/_cat/indices")
    assert r.status_code == 200
    payload = json.loads(r.data)
    names = [row["index"] for row in payload]
    assert names == sorted(names)
    assert "documents" in names and "events" in names
    for row in payload:
        assert row["health"] == "green" and row["status"] == "open"
        assert row["docs.count"] > 0


def test_es_mapping_route(client):
    r = client.get("/documents/_mapping")
    assert r.status_code == 200
    payload = json.loads(r.data)
    assert payload["documents"]["mappings"]["properties"]["doc_id"] == {
        "type": "long"
    }


def test_es_msearch_route(client):
    nd = (
        json.dumps({"index": "documents"}) + "\n"
        + json.dumps({"query": {"term": {"lang": "en"}},
                      "_source": ["doc_id"], "size": 3}) + "\n"
        + json.dumps({"index": "events"}) + "\n"
        + json.dumps({"aggs": {"t": {"terms": {"field": "event_type",
                                               "size": 2}}}}) + "\n"
    )
    r = client.post("/_msearch", data=nd,
                    content_type="application/x-ndjson")
    assert r.status_code == 200
    payload = json.loads(r.data)
    assert len(payload["responses"]) == 2
    assert payload["responses"][0]["count"] == 3
    assert payload["responses"][1]["count"] == 2
    # odd line count = malformed NDJSON -> 400
    r = client.post("/_msearch", data=json.dumps({"index": "documents"}),
                    content_type="application/x-ndjson")
    assert r.status_code == 400
    # an unparseable line is a 400 client error too, never a 500
    r = client.post("/_msearch",
                    data='{"index": "documents"}\n{not json\n',
                    content_type="application/x-ndjson")
    assert r.status_code == 400
    assert "not valid JSON" in json.loads(r.data)["error"]
    # a JSON line that is not an object is equally malformed
    r = client.post("/_msearch",
                    data='{"index": "documents"}\n[1, 2]\n',
                    content_type="application/x-ndjson")
    assert r.status_code == 400


def test_es_analyze_route(client):
    r = client.post("/_analyze", json={"text": "Quick  Brown FOX"})
    assert r.status_code == 200
    toks = json.loads(r.data)["tokens"]
    assert [t["token"] for t in toks] == ["quick", "brown", "fox"]
    assert toks[1] == {"token": "brown", "start_offset": 7,
                       "end_offset": 12, "position": 1,
                       "type": "<ALPHANUM>"}
    # the engine serves its ONE analyzer; other names raise 400
    r = client.post("/_analyze", json={"text": "x", "analyzer": "french"})
    assert r.status_code == 400
    r = client.post("/_analyze", json={})
    assert r.status_code == 400


def test_es_sql_route(client):
    r = client.post("/_sql", json={
        "query": "SELECT lang, count(*) AS n FROM documents "
                 "GROUP BY lang ORDER BY n DESC, lang",
        "fetch_size": 3,
    })
    assert r.status_code == 200
    out = json.loads(r.data)
    assert out["columns"][0] == {"name": "lang", "type": "text"}
    assert out["columns"][1] == {"name": "n", "type": "long"}
    assert len(out["rows"]) == 3
    assert all(len(row) == 2 for row in out["rows"])
    # same gate as /query/: DML is 401, parse failure 400
    r = client.post("/_sql", json={"query": "DROP TABLE documents"})
    assert r.status_code == 401
    r = client.post("/_sql", json={"query": "SELECT * FROM ((("})
    assert r.status_code == 400
    r = client.post("/_sql", json={})
    assert r.status_code == 400


def test_es_validate_query_route(client):
    r = client.post("/documents/_validate/query",
                    json={"query": {"term": {"lang": "en"}}})
    assert r.status_code == 200 and json.loads(r.data) == {"valid": True}
    # a compiler rejection invalidates (never 500s)
    r = client.post("/documents/_validate/query",
                    json={"query": {"more_like_this": {}}})
    out = json.loads(r.data)
    assert r.status_code == 200 and out["valid"] is False
    assert "es_dsl" in out["error"]
    # an unknown FIELD invalidates too (the Spark analysis pass)
    r = client.post("/documents/_validate/query",
                    json={"query": {"term": {"no_such_field": 1}}})
    assert json.loads(r.data)["valid"] is False
    # empty body = match_all = valid
    r = client.post("/documents/_validate/query", json={})
    assert json.loads(r.data)["valid"] is True
    # REGRESSION (review r12): valid on a table NOT named documents —
    # the fixed doc_id tiebreak default made this report valid:false
    r = client.post("/customer/_validate/query",
                    json={"query": {"match_all": {}}})
    assert json.loads(r.data) == {"valid": True}


def test_es_mget_route(client):
    r = client.post("/documents/_mget", json={"ids": [2, 1, 999999999]})
    assert r.status_code == 200
    docs = json.loads(r.data)["docs"]
    # request order kept, found:false placeholder for the missing id
    assert [d["_id"] for d in docs] == ["2", "1", "999999999"]
    assert [d["found"] for d in docs] == [True, True, False]
    assert docs[0]["_source"]["doc_id"] == 2
    assert "_source" not in docs[2]
    r = client.post("/documents/_mget", json={})
    assert r.status_code == 400


def test_es_search_plan_extension(client):
    r = client.post("/documents/_search?plan=true",
                    json={"query": {"term": {"lang": "en"}},
                          "_source": ["doc_id"], "size": 5})
    assert r.status_code == 200
    plan = json.loads(r.data)["plan"]
    assert "Physical Plan" in plan and "PushedFilters" in plan


def test_es_field_caps_route(client):
    r = client.get("/embeddings/_field_caps")
    assert r.status_code == 200
    body = json.loads(r.data)
    assert body["indices"] == ["embeddings"]
    # FLOAT[] maps to its element type (ES arrays are implicit)
    assert body["fields"]["embedding"] == {"double": {
        "type": "double", "metadata_field": False,
        "searchable": True, "aggregatable": True}}
    assert "long" in body["fields"]["vec_id"]


def test_es_terms_enum_route(client):
    r = client.post("/documents/_terms_enum",
                    json={"field": "source", "string": "src1", "size": 5})
    assert r.status_code == 200
    body = json.loads(r.data)
    assert body["terms"] == ["src1", "src10", "src11", "src12", "src13"]
    assert body["complete"] is False  # size-capped page
    r2 = client.post("/documents/_terms_enum",
                     json={"field": "source", "string": "src19"})
    assert json.loads(r2.data) == {"terms": ["src19"], "complete": True}
    # unknown keys are client errors
    r3 = client.post("/documents/_terms_enum",
                     json={"field": "source", "case_insensitive": True})
    assert r3.status_code == 400


def test_es_search_template_route(client):
    tmpl = {
        "source": {
            "query": {"bool": {"filter": [
                {"term": {"lang": "{{lang}}"}},
                {"range": {"n_chars": {"gte": "{{min_chars}}"}}},
            ]}},
            "sort": [{"doc_id": "asc"}], "size": 5,
            "_source": ["doc_id", "lang", "n_chars"],
        },
        "params": {"lang": "en", "min_chars": 200},
    }
    r = client.post("/documents/_search/template", json=tmpl)
    assert r.status_code == 200
    body = json.loads(r.data)
    assert body["count"] > 0
    assert all(d["lang"] == "en" and d["n_chars"] >= 200
               for d in body["data"])
    # missing param -> 400, stored-template id -> 400
    bad = {"source": {"query": {"term": {"lang": "{{ghost}}"}}},
           "params": {}}
    assert client.post("/documents/_search/template",
                       json=bad).status_code == 400
    assert client.post("/documents/_search/template",
                       json={"id": "stored"}).status_code == 400


def test_es_scroll_routes_paginate_exactly(client):
    # open: first page + stateless cursor
    body = {"query": {"range": {"n_chars": {"gte": 100}}},
            "sort": [{"n_chars": "asc"}], "size": 40,
            "_source": ["doc_id", "lang", "n_chars"]}
    r = client.post("/documents/_search?scroll=1m&id_field=doc_id",
                    json=body)
    assert r.status_code == 200
    p1 = json.loads(r.data)
    assert len(p1["hits"]["hits"]) == 40
    # continue: the scroll_id carries everything
    r2 = client.post("/_search/scroll",
                     json={"scroll_id": p1["_scroll_id"]})
    assert r2.status_code == 200
    p2 = json.loads(r2.data)
    assert len(p2["hits"]["hits"]) == 40
    ids1 = [h["_source"]["doc_id"] for h in p1["hits"]["hits"]]
    ids2 = [h["_source"]["doc_id"] for h in p2["hits"]["hits"]]
    assert not set(ids1) & set(ids2)  # disjoint pages
    # pages 1+2 == the first 80 of the from/size formulation
    r3 = client.post("/documents/_search",
                     json={**body, "size": 80})
    all80 = [d["doc_id"] for d in json.loads(r3.data)["data"]]
    assert ids1 + ids2 == all80
    # bad scroll_id -> 400
    assert client.post("/_search/scroll",
                       json={"scroll_id": "garbage!"}).status_code == 400
    # sort field not in _source -> 400 (cursor unreadable)
    nosrc = {**body, "_source": ["doc_id"]}
    assert client.post(
        "/documents/_search?scroll=1m&id_field=doc_id", json=nosrc
    ).status_code == 400


def test_es_explain_route(client):
    body = {"query": {"term": {"lang": "en"}}}
    # find one en and one non-en doc id
    r = client.post("/documents/_search",
                    json={"query": {"term": {"lang": "en"}},
                          "sort": [{"doc_id": "asc"}], "size": 1,
                          "_source": ["doc_id"]})
    en_id = json.loads(r.data)["data"][0]["doc_id"]
    r = client.post("/documents/_search",
                    json={"query": {"term": {"lang": "de"}},
                          "sort": [{"doc_id": "asc"}], "size": 1,
                          "_source": ["doc_id"]})
    de_id = json.loads(r.data)["data"][0]["doc_id"]
    hit = json.loads(client.post(
        f"/documents/_explain/{en_id}?id_field=doc_id",
        json=body).data)
    miss = json.loads(client.post(
        f"/documents/_explain/{de_id}?id_field=doc_id",
        json=body).data)
    ghost = json.loads(client.post(
        "/documents/_explain/99999999?id_field=doc_id",
        json=body).data)
    assert hit["matched"] is True
    assert miss["matched"] is False
    assert "compiled predicate" in miss["explanation"]["description"]
    assert ghost["matched"] is False
    assert ghost["explanation"]["description"] == "document does not exist"
    # scored-only kinds are client errors, not silent memberships
    assert client.post(
        f"/documents/_explain/{en_id}?id_field=doc_id",
        json={"query": {"more_like_this": {"fields": ["text"],
                                           "like": "x"}}},
    ).status_code == 400


def test_es_cat_count_and_health_routes(client):
    total = json.loads(client.get("/_cat/count").data)
    one = json.loads(client.get("/_cat/count/region").data)
    assert one == {"count": "5"}
    assert int(total["count"]) > 5
    h = json.loads(client.get("/_cat/health").data)
    assert h["status"] == "green" and h["node.total"] == "1"
    assert client.get("/_cat/count/nope").status_code == 400


def test_es_render_template_route(client):
    tmpl = {"source": {"query": {"term": {"lang": "{{l}}"}},
                       "size": "{{n}}"},
            "params": {"l": "en", "n": 5}}
    r = client.post("/_render/template", json=tmpl)
    assert r.status_code == 200
    out = json.loads(r.data)["template_output"]
    assert out == {"query": {"term": {"lang": "en"}}, "size": 5}
    assert client.post("/_render/template",
                       json={"params": {}}).status_code == 400


def test_es_termvectors_route(client):
    r = client.get("/documents/_termvectors/7?fields=text&id_field=doc_id")
    assert r.status_code == 200
    body = json.loads(r.data)
    assert body["found"] is True and body["_id"] == "7"
    terms = body["term_vectors"]["text"]["terms"]
    assert terms and all(v["term_freq"] >= 1 for v in terms.values())
    ghost = json.loads(client.get(
        "/documents/_termvectors/99999999?fields=text&id_field=doc_id"
    ).data)
    assert ghost["found"] is False
    # fields is required, single, no wildcards
    assert client.get(
        "/documents/_termvectors/7?id_field=doc_id").status_code == 400
    assert client.get(
        "/documents/_termvectors/7?fields=a,b").status_code == 400


def test_es_pit_routes(client):
    """PIT open + pit-search: the id asserts the snapshot file set;
    a tampered id 400s, a matching one searches the pit's index."""
    r = client.post("/documents/_pit?keep_alive=1m")
    assert r.status_code == 200
    pit_id = r.get_json()["id"]
    r = client.post("/_search", json={
        "pit": {"id": pit_id, "keep_alive": "1m"},
        "query": {"term": {"lang": "en"}},
        "sort": [{"doc_id": "asc"}], "size": 5, "_source": ["doc_id"],
    })
    assert r.status_code == 200
    body = r.get_json()
    assert body["count"] == 5
    # an undecodable pit id is a client error
    r = client.post("/_search", json={
        "pit": {"id": "not-a-pit"}, "size": 1,
    })
    assert r.status_code == 400
    # a pit body without the pit key on the index-less route: 400
    r = client.post("/_search", json={"query": {"match_all": {}}})
    assert r.status_code == 400
    # a decodable pit whose fingerprint no longer matches is ES's
    # EXPIRED point in time -> 404 (not 401: nothing about authz)
    import base64
    import json as _json

    def _pit(state):
        return base64.urlsafe_b64encode(
            _json.dumps(state, sort_keys=True).encode()).decode()

    r = client.post("/_search", json={
        "pit": {"id": _pit({"index": "documents", "fp": "0" * 32})},
        "size": 1,
    })
    assert r.status_code == 404
    # a decodable pit naming an unknown index: 404, not an unhandled
    # AnalysisException (500)
    r = client.post("/_search", json={
        "pit": {"id": _pit({"index": "no_such_table", "fp": "0" * 32})},
        "size": 1,
    })
    assert r.status_code == 404
    # opening a pit on an unknown index: 404
    assert client.post("/no_such_table/_pit").status_code == 404


def test_es_reindex_route(client):
    """_reindex copies a filtered projection into the sink under the
    source ids, ES response shape {took, total, created}."""
    r = client.post("/_reindex", json={
        "source": {"index": "documents",
                   "query": {"term": {"lang": "en"}},
                   "_source": ["doc_id", "lang", "n_chars"]},
        "dest": {"index": "docs_en_copy"},
        "max_docs": 25,
    })
    assert r.status_code == 200
    body = r.get_json()
    assert body["created"] == 25 and body["total"] == 25
    assert body["failures"] == [] and body["took"] >= 0
    # the copy is readable back through the GET-doc route by source id
    r2 = client.get("/docs_en_copy/_doc/3")
    if r2.status_code == 200:  # id 3 may not be among the 25 en docs
        assert r2.get_json()["_source"]["lang"] == "en"
    # the source accepts an ALIAS like every other verb (ADVICE r11)
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "documents", "alias": "reix_alias_t"}},
    ]}).status_code == 200
    r = client.post("/_reindex", json={
        "source": {"index": "reix_alias_t",
                   "query": {"term": {"lang": "en"}}},
        "dest": {"index": "docs_en_copy2"},
        "max_docs": 5,
    })
    assert r.status_code == 200 and r.get_json()["created"] == 5
    assert client.post("/_aliases", json={"actions": [
        {"remove": {"index": "documents", "alias": "reix_alias_t"}},
    ]}).status_code == 200
    # malformed: dest missing
    r = client.post("/_reindex", json={"source": {"index": "documents"}})
    assert r.status_code == 400
    # empty body
    r = client.post("/_reindex", data="")
    assert r.status_code == 400


def test_es_search_profile_flag(client):
    """ES's in-body profile:true returns the execution breakdown — the
    optimized physical plan — instead of hits; plan and hits routes
    stay consistent."""
    r = client.post("/documents/_search", json={
        "profile": True,
        "query": {"term": {"lang": "en"}}, "size": 3,
        "_source": ["doc_id"],
    })
    assert r.status_code == 200
    plan = r.get_json()["profile"]["plan"]
    assert "Physical Plan" in plan or "Scan" in plan
    # without the flag the same body returns hits
    r = client.post("/documents/_search", json={
        "query": {"term": {"lang": "en"}}, "size": 3,
        "_source": ["doc_id"],
    })
    assert r.status_code == 200 and r.get_json()["count"] == 3


def test_esql_query_route(client):
    """ES|QL at /_query: piped statement in, the columnar ES|QL wire
    shape ({columns, values}) out."""
    r = client.post("/_query", json={"query": (
        'FROM documents | WHERE lang == "en" '
        "| STATS n = COUNT(*), chars = SUM(n_chars) BY lang | SORT lang"
    )})
    assert r.status_code == 200
    body = r.get_json()
    assert [c["name"] for c in body["columns"]] == ["lang", "n", "chars"]
    assert len(body["values"]) == 1 and body["values"][0][0] == "en"
    assert body["values"][0][1] > 0  # count of en docs at fixture scale
    # unsupported command: 400, never 500
    r = client.post("/_query", json={"query": "FROM documents | GROK x"})
    assert r.status_code == 400
    r = client.post("/_query", json={})
    assert r.status_code == 400


def test_es_rank_eval_route(client):
    """_rank_eval: per-request metric details + their mean; the
    precision metric on a hand-checkable rating set."""
    body = {
        "requests": [
            {"id": "q_en", "request": {"query": {"match": {
                "text": "table scan"}}},
             "ratings": [{"_id": 0, "rating": 1}]},
        ],
        "metric": {"precision": {"k": 5}},
    }
    r = client.post("/documents/_rank_eval", json=body)
    assert r.status_code == 200
    out = r.get_json()
    assert set(out) == {"metric_score", "details"}
    assert set(out["details"]) == {"q_en"}
    assert 0.0 <= out["metric_score"] <= 1.0
    # unsupported metric: 400
    body["metric"] = {"expected_reciprocal_rank": {}}
    assert client.post("/documents/_rank_eval", json=body).status_code == 400
    assert client.post("/documents/_rank_eval", data="").status_code == 400


def test_es_resolve_index_route(client):
    r = client.get("/_resolve/index/c*")
    assert r.status_code == 200
    names = [i["name"] for i in r.get_json()["indices"]]
    assert names == ["customer"]
    r = client.get("/_resolve/index/*e*")
    assert "events" in [i["name"] for i in r.get_json()["indices"]]


@pytest.fixture()
def clean_aliases(spark):
    """Snapshot/restore the session's alias registry: other tests
    (the registered es_alias_search entry) legitimately leave aliases
    behind. Per-session since r13 (VERDICT r12 ask #4)."""
    from golang_db_query_engine_elasticsearch_indexer_spark import gateway

    saved = dict(gateway._aliases(spark))
    gateway._ALIASES_BY_SESSION[spark] = {}
    yield
    gateway._ALIASES_BY_SESSION[spark] = saved


def test_es_aliases_routes(client, clean_aliases):
    """The _aliases actions API + read verbs: reads through an alias
    resolve to the concrete table; lifecycle errors are typed
    (404 unknown target/alias, 400 shadowing/chaining)."""
    r = client.post("/_aliases", json={"actions": [
        {"add": {"index": "documents", "alias": "docs_alias_t"}},
    ]})
    assert r.status_code == 200 and r.get_json() == {"acknowledged": True}
    # search/count/mapping through the alias == through the table
    body = {"query": {"term": {"lang": "en"}}, "size": 0}
    via_alias = client.post("/docs_alias_t/_count", json=body).get_json()
    direct = client.post("/documents/_count", json=body).get_json()
    assert via_alias == direct
    assert client.head("/docs_alias_t").status_code == 200
    m = client.get("/docs_alias_t/_mapping").get_json()
    assert "documents" in m  # mapping reports the CONCRETE index
    # read verbs
    assert client.get("/_aliases").get_json() == {
        "documents": {"aliases": {"docs_alias_t": {}}}}
    assert client.get("/_alias/docs_alias_t").status_code == 200
    assert client.get("/_alias/nope").status_code == 404
    assert client.get("/_cat/aliases").get_json() == [
        {"alias": "docs_alias_t", "index": "documents"}]
    # lifecycle errors
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "no_such", "alias": "x"}}]}).status_code == 404
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "documents", "alias": "orders"}}]}
    ).status_code == 400  # would shadow a real index
    assert client.post("/_aliases", json={"actions": [
        {"remove": {"index": "orders", "alias": "docs_alias_t"}}]}
    ).status_code == 404  # remove names the wrong target
    # adding a SECOND index WIDENS the alias (real ES multi-index
    # semantics — r11's retarget-requires-remove rule applied only
    # while multi-target aliases were unsupported)
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "orders", "alias": "docs_alias_t"}}]}
    ).status_code == 200
    assert client.get("/_cat/aliases").get_json() == [
        {"alias": "docs_alias_t", "index": "documents"},
        {"alias": "docs_alias_t", "index": "orders"}]
    # single-index verbs reject a multi-target alias, typed 400
    assert client.get("/docs_alias_t/_mapping").status_code == 400
    # narrow back, then atomic remove+add retargets in ONE call
    assert client.post("/_aliases", json={"actions": [
        {"remove": {"index": "orders", "alias": "docs_alias_t"}}]}
    ).status_code == 200
    r = client.post("/_aliases", json={"actions": [
        {"remove": {"index": "documents", "alias": "docs_alias_t"}},
        {"add": {"index": "orders", "alias": "docs_alias_t"}},
    ]})
    assert r.status_code == 200
    assert client.get("/_cat/aliases").get_json() == [
        {"alias": "docs_alias_t", "index": "orders"}]
    # an action list that fails validation applies NOTHING
    r = client.post("/_aliases", json={"actions": [
        {"remove": {"index": "orders", "alias": "docs_alias_t"}},
        {"add": {"index": "no_such", "alias": "docs_alias_t"}},
    ]})
    assert r.status_code == 404
    assert client.get("/_cat/aliases").get_json() == [
        {"alias": "docs_alias_t", "index": "orders"}]
    # two adds of the same alias in ONE call widen it — neither is
    # silently dropped (ADVICE r11)
    r = client.post("/_aliases", json={"actions": [
        {"add": {"index": "documents", "alias": "docs_alias_t"}},
        {"add": {"index": "events", "alias": "docs_alias_t"}},
    ]})
    assert r.status_code == 200
    assert client.get("/_cat/aliases").get_json() == [
        {"alias": "docs_alias_t", "index": "orders"},
        {"alias": "docs_alias_t", "index": "documents"},
        {"alias": "docs_alias_t", "index": "events"}]
    # cleanup (module-level registry persists across tests)
    assert client.post("/_aliases", json={"actions": [
        {"remove": {"index": "orders", "alias": "docs_alias_t"}},
        {"remove": {"index": "documents", "alias": "docs_alias_t"}},
        {"remove": {"index": "events", "alias": "docs_alias_t"}},
    ]}).status_code == 200
    assert client.get("/_cat/aliases").get_json() == []


def test_alias_registry_is_session_scoped(spark, tables, clean_aliases):
    """VERDICT r12 ask #4: two SparkSessions in one process must not
    see each other's aliases — the registry is keyed by session, like
    every other piece of catalog state (temp views, registration
    memos). newSession() shares the SparkContext but owns a separate
    catalog, the exact 'second tenant in one JVM' shape."""
    from golang_db_query_engine_elasticsearch_indexer_spark import gateway
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        register_sf_dir,
    )

    other = spark.newSession()
    register_sf_dir(other, SF_DIR)
    gateway.es_update_aliases(spark, {"actions": [
        {"add": {"index": "documents", "alias": "scoped_alias_t"}},
    ]})
    # visible in the owning session...
    assert gateway._alias_targets(spark, "scoped_alias_t") == (
        "documents",)
    # ...invisible in the other: an unknown name passes through as
    # itself (then 404s at the catalog check downstream)
    assert gateway._aliases(other) == {}
    assert gateway._alias_targets(other, "scoped_alias_t") == (
        "scoped_alias_t",)
    # and writes in the other session don't leak back
    gateway.es_update_aliases(other, {"actions": [
        {"add": {"index": "events", "alias": "other_only_t"}},
    ]})
    assert "other_only_t" not in gateway._aliases(spark)


def test_es_alias_multi_target_search(client, clean_aliases):
    """A multi-target alias searches/counts as the missing-column-as-
    NULL UNION ALL of its targets (VERDICT r11 ask #3): count ==
    sum of per-index counts; a field present in only one index
    matches only that index's rows; stale targets 404."""
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "customer", "alias": "parties_t"}},
        {"add": {"index": "supplier", "alias": "parties_t"}},
    ]}).status_code == 200
    n_alias = client.post("/parties_t/_count", json={}).get_json()
    n_c = client.post("/customer/_count", json={}).get_json()
    n_s = client.post("/supplier/_count", json={}).get_json()
    assert n_alias["count"] == n_c["count"] + n_s["count"]
    # a customer-only field: supplier rows carry NULL and never match
    body = {"query": {"range": {"c_acctbal": {"gte": 0}}}, "size": 0}
    via = client.post("/parties_t/_count", json=body).get_json()
    direct = client.post("/customer/_count", json=body).get_json()
    assert via == direct
    # HEAD: exists iff every target exists
    assert client.head("/parties_t").status_code == 200
    # search returns rows from BOTH indices
    r = client.post("/parties_t/_search", json={
        "query": {"bool": {"should": [
            {"exists": {"field": "c_custkey"}},
            {"exists": {"field": "s_suppkey"}},
        ], "minimum_should_match": 1}},
        "size": 10000,
    })
    assert r.status_code == 200
    hits = r.get_json()["data"]
    assert any(h.get("c_custkey") is not None for h in hits)
    assert any(h.get("s_suppkey") is not None for h in hits)
    assert len(hits) == n_alias["count"]


def test_alias_reaches_a_named_source_request(client, clean_aliases):
    """An alias written on the app session resolves in a request that
    names a source, which runs on its own child session."""
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "orders", "alias": "al_t"}}]}).status_code == 200
    body = {"query": {"range": {"o_totalprice": {"gte": 1000}}},
            "sort": [{"o_orderkey": "asc"}], "size": 7}
    via = client.post("/al_t/_search?dbDriver=parquet&dbName=testdb", json=body)
    direct = client.post("/orders/_search", json=body)
    assert via.status_code == direct.status_code == 200
    assert via.get_json()["data"] == direct.get_json()["data"]
    assert len(direct.get_json()["data"]) == 7


_JOIN_SQL = (
    "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS t FROM orders "
    "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment ORDER BY c_mktsegment"
)


def test_concurrent_requests_answer_from_the_source_they_name(spark, tables):
    """Four clients alternating between two sources each get the answer
    of the source they name. Requests re-pointing one session's shared
    views answered about a third of these from the other source, all
    with HTTP 200. A request's child session carries the engine's
    runtime conf and the app session's shuffle width."""
    import threading

    from golang_db_query_engine_elasticsearch_indexer_spark import gateway
    from golang_db_query_engine_elasticsearch_indexer_spark.session import RUNTIME_CONF
    from tests.conftest import SF_DIR_ORACLE

    reg = SourceRegistry()
    reg.register_source("parquet", "small", SF_DIR)
    reg.register_source("parquet", "large", SF_DIR_ORACLE)
    app = create_app(spark=spark, registry=reg)

    def ask(c, db):
        r = c.get("/query/", query_string={
            "dbDriver": "parquet", "dbName": db, "query": _JOIN_SQL})
        return r.status_code, r.get_json()["data"] if r.status_code == 200 else r.data

    def same(got, want):
        return got[0] == 200 and len(got[1]) == len(want) and all(
            (g["c_mktsegment"], g["n"]) == (w["c_mktsegment"], w["n"])
            and g["t"] == pytest.approx(w["t"], rel=1e-9)
            for g, w in zip(got[1], want))

    want = {db: ask(app.test_client(), db) for db in ("small", "large")}
    assert all(code == 200 for code, _ in want.values())
    assert want["small"][1][0]["n"] != want["large"][1][0]["n"]
    want = {db: rows for db, (_, rows) in want.items()}
    answers: list = []

    def client_loop(k):
        c = app.test_client()
        for i in range(15):
            db = ("small", "large")[(k + i) % 2]
            answers.append((db, ask(c, db)))

    threads = [threading.Thread(target=client_loop, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(answers) == 60
    wrong = [(db, got[0]) for db, got in answers if not same(got, want[db])]
    assert not wrong, f"{len(wrong)} of 60 answers wrong: {wrong[:5]}"

    child = gateway.attach(spark, reg, "parquet", "small")
    assert child is not spark
    for k, v in RUNTIME_CONF.items():
        assert child.conf.get(k) == v, k
    assert child.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions")


def test_two_sources_compile_against_their_own_schemas(spark, tables, tmp_path):
    """Two sources with a same-named table of different columns: every
    request compiles against its own session's catalog. A process-wide
    column map, written by whichever source registered last, made the
    first source's `_source` excludes search and multi-index ES|QL FROM
    fail on the second source's columns."""
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from golang_db_query_engine_elasticsearch_indexer_spark import gateway
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        esql_df,
    )

    pq.write_table(pa.table({
        "o_orderkey": pa.array([1, 2, 3], pa.int64()),
        "o_extra": pa.array(["x", "y", "z"]),
    }), tmp_path / "orders.parquet")
    pq.write_table(pa.table({
        "c_custkey": pa.array([7, 8], pa.int64()),
        "c_name": pa.array(["p", "q"]),
    }), tmp_path / "customer.parquet")
    reg = SourceRegistry()
    reg.register_source("parquet", "a", SF_DIR)
    reg.register_source("parquet", "b", str(tmp_path))
    sessions = {db: gateway.attach(spark, reg, "parquet", db) for db in "ab"}
    excludes = {"_source": {"excludes": ["o_comment"]}, "size": 1000}

    def answers(child):
        hits = gateway.es_search_df(child, "orders", excludes)
        union = esql_df(child, "FROM orders, customer | STATS n = COUNT(*)")
        return (
            hits.columns, hits.count(), union.collect()[0]["n"],
            gateway.es_count(child, "ord*"),
        )

    want = {}
    for db, child in sessions.items():
        orders, customer = child.table("orders"), child.table("customer")
        n = orders.count()
        want[db] = (orders.columns, min(n, 1000), n + customer.count(), n)
    assert want["b"] == (["o_orderkey", "o_extra"], 3, 5, 3)
    assert want["a"][0] != want["b"][0]
    got: dict = {}

    def run(db):
        try:
            got[db] = answers(sessions[db])
        except Exception as exc:  # noqa: BLE001 — reported below
            got[db] = exc

    threads = [threading.Thread(target=run, args=(db,)) for db in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert got == want


def test_multi_index_search_merges_the_union_cte(spark, tables):
    """A `match` body compiles to a leading WITH; the multi-index union
    CTE must join that WITH list (a second WITH is a syntax error in
    both engines). The gateway's answer equals DuckDB running the same
    function's duck SQL, and the search leaves no view in the catalog."""
    from golang_db_query_engine_elasticsearch_indexer_spark import gateway
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (
        compile_union_search,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
        compare,
        duckdb_connection,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (
        footer_schemas,
    )

    body = {"query": {"match": {"text": "table scan fast"}}, "size": 25}
    before = {t.name for t in spark.catalog.listTables()}
    df = gateway.es_search_df(spark, "documents,events", body)
    duck_sql = compile_union_search(
        footer_schemas(("documents", "events"), SF_DIR), body, "duck"
    )
    assert duck_sql.startswith("WITH _union_indices AS (")
    assert duck_sql.count("WITH ") == 1
    con = duckdb_connection(SF_DIR)
    try:
        ok, diag = compare(df, con, duck_sql)
    finally:
        con.close()
    assert ok, diag
    assert df.count() == 25
    assert {t.name for t in spark.catalog.listTables()} == before


def test_es_mtermvectors_route(client):
    """_mtermvectors: one statement for N docs; missing ids report
    found=false, the ES docs-envelope shape."""
    r = client.post("/documents/_mtermvectors?id_field=doc_id", json={
        "ids": [3, 9999999], "fields": ["text"],
    })
    assert r.status_code == 200
    docs = r.get_json()["docs"]
    assert [d["_id"] for d in docs] == ["3", "9999999"]
    assert docs[0]["found"] and not docs[1]["found"]
    assert docs[0]["term_vectors"]["text"]["terms"]
    assert docs[1]["term_vectors"] == {}
    # the ES parameters nesting is accepted too
    r = client.post("/documents/_mtermvectors?id_field=doc_id", json={
        "ids": [3], "parameters": {"fields": ["text"]},
    })
    assert r.status_code == 200
    # malformed bodies are typed 400s
    assert client.post("/documents/_mtermvectors", json={
        "ids": [], "fields": ["text"]}).status_code == 400
    assert client.post("/documents/_mtermvectors", json={
        "ids": [1], "fields": ["a", "b"]}).status_code == 400


def test_es_multi_index_expression_routes(client, clean_aliases):
    """Comma lists and `*` wildcards in the index position of
    _search/_count (the ES multi-index read): the union counts add
    up, a per-index field matches only its own rows, unknown names
    and dead patterns are typed 404s (allow_no_indices=false
    posture)."""
    n_r = client.post("/region/_count", json={}).get_json()["count"]
    n_n = client.post("/nation/_count", json={}).get_json()["count"]
    both = client.post("/region,nation/_count", json={}).get_json()
    assert both["count"] == n_r + n_n
    wild = client.post("/*ion/_count", json={}).get_json()
    assert wild["count"] == n_r + n_n
    # duplicate expansion counts once (alias + its target in one list)
    assert client.post("/_aliases", json={"actions": [
        {"add": {"index": "region", "alias": "geo_read"}}]}
    ).status_code == 200
    via = client.post("/geo_read,region/_count", json={}).get_json()
    assert via["count"] == n_r
    # per-index field filters only its own rows through the union
    body = {"query": {"exists": {"field": "n_name"}}}
    assert client.post("/region,nation/_count", json=body).get_json()[
        "count"] == n_n
    # search returns rows from both indices
    r = client.post("/region,nation/_search", json={"size": 1000})
    assert r.status_code == 200 and r.get_json()["count"] == n_r + n_n
    # HEAD accepts expressions too (review r12): 200 when every part
    # resolves, 404 when any part is dead
    assert client.head("/region,nation").status_code == 200
    assert client.head("/*ion").status_code == 200
    assert client.head("/region,nope_idx").status_code == 404
    assert client.head("/zz*").status_code == 404
    # hit search through the union is deterministic under LIMIT: the
    # synthetic _uid tiebreak is never NULL (review r12 — the union's
    # first column IS null for the other index's rows)
    r = client.post("/region,nation/_search", json={"size": 7})
    r2 = client.post("/region,nation/_search", json={"size": 7})
    assert r.get_json()["data"] == r2.get_json()["data"]
    assert all(row["_uid"] for row in r.get_json()["data"])
    # typed 404s: unknown concrete name in the list, dead pattern
    assert client.post("/region,nope_idx/_count",
                       json={}).status_code == 404
    assert client.post("/zz*/_count", json={}).status_code == 404
    assert client.post("/_aliases", json={"actions": [
        {"remove": {"index": "region", "alias": "geo_read"}}]}
    ).status_code == 200


def test_wildcard_sees_runtime_registered_tables(spark, tables):
    """ADVICE r12: a table registered at runtime (outside the fixture
    list) was comma-addressable but invisible to '*' patterns —
    wildcards must match every table of the session's catalog
    database, and no temp view."""
    from golang_db_query_engine_elasticsearch_indexer_spark import gateway

    spark.sql("CREATE TABLE runtime_zzz_tbl (rt_id BIGINT) USING parquet")
    try:
        assert gateway._expand_index_expression(
            spark, "runtime_zzz_*") == ("runtime_zzz_tbl",)
        # and it unions with fixture hits under a broader pattern
        assert "runtime_zzz_tbl" in gateway._expand_index_expression(
            spark, "r*")
        # an unregistered engine-internal temp view stays invisible
        spark.range(1).toDF("x").createOrReplaceTempView(
            "__internal_zzz")
        assert "__internal_zzz" not in gateway._expand_index_expression(
            spark, "*")
    finally:
        spark.sql("DROP TABLE IF EXISTS runtime_zzz_tbl")
        spark.catalog.dropTempView("__internal_zzz")


def test_index_stats_and_settings_routes(client, clean_aliases):
    """_stats / _settings: the capacity-check verbs — doc counts from
    one aggregate per index, store bytes from an FS listing; settings
    report the honest shard analog (input-file count). Both accept
    index expressions; unknown names 404."""
    r = client.get("/region/_stats")
    assert r.status_code == 200
    body = r.get_json()
    assert body["indices"]["region"]["primaries"]["docs"]["count"] == 5
    assert body["indices"]["region"]["primaries"]["store"][
        "size_in_bytes"] > 0
    assert body["_all"]["primaries"]["docs"]["count"] == 5
    # expression: _all sums the parts
    both = client.get("/region,nation/_stats").get_json()
    assert set(both["indices"]) == {"region", "nation"}
    assert both["_all"]["primaries"]["docs"]["count"] == 30
    # settings: per concrete index, shard analog >= 1
    s = client.get("/*ion/_settings").get_json()
    assert set(s) == {"region", "nation"}
    idx = s["region"]["settings"]["index"]
    assert int(idx["number_of_shards"]) >= 1
    assert idx["number_of_replicas"] == "0"
    assert idx["provided_name"] == "region"
    # unknown index: typed 404
    assert client.get("/nope_idx_x/_stats").status_code == 404
    assert client.get("/zz*/_settings").status_code == 404


def test_multi_index_metadata_verbs(client, spark, clean_aliases):
    """field_caps / mapping / _resolve over index expressions: caps
    merge across indices with per-type `indices` lists on conflicts;
    mappings stay per-concrete-index; _resolve lists matching aliases
    with their targets."""
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import (
        es_field_caps,
        es_mapping,
        es_resolve_index,
        es_update_aliases,
    )

    caps = es_field_caps(spark, "region,nation")
    assert caps["indices"] == ["region", "nation"]
    # shared-name fields would conflict; these schemas are disjoint,
    # so every field has exactly one un-annotated type entry
    assert set(caps["fields"]) == {
        "r_regionkey", "r_name", "n_nationkey", "n_name", "n_regionkey"}
    for by_type in caps["fields"].values():
        (entry,) = by_type.values()
        assert "indices" not in entry
    # a REAL type conflict: same field name, long vs keyword
    spark.createDataFrame([(1,)], "shared bigint") \
        .createOrReplaceTempView("fc_a_t")
    spark.createDataFrame([("x",)], "shared string") \
        .createOrReplaceTempView("fc_b_t")
    es_update_aliases(spark, {"actions": [
        {"add": {"index": "fc_a_t", "alias": "fc_both_t"}},
        {"add": {"index": "fc_b_t", "alias": "fc_both_t"}}]})
    caps = es_field_caps(spark, "fc_both_t")
    by_type = caps["fields"]["shared"]
    assert len(by_type) == 2
    assert all("indices" in e for e in by_type.values())
    es_update_aliases(spark, {"actions": [
        {"remove": {"index": "fc_a_t", "alias": "fc_both_t"}},
        {"remove": {"index": "fc_b_t", "alias": "fc_both_t"}}]})
    spark.catalog.dropTempView("fc_a_t")
    spark.catalog.dropTempView("fc_b_t")
    # mapping over an expression: one entry per concrete index
    m = es_mapping(spark, "*ion")
    assert set(m) == {"region", "nation"}
    assert all("mappings" in v for v in m.values())
    # _resolve lists aliases with targets
    es_update_aliases(spark, {"actions": [
        {"add": {"index": "region", "alias": "geo_res_t"}}]})
    r = es_resolve_index(spark, "geo*")
    assert r["aliases"] == [{"name": "geo_res_t", "indices": ["region"]}]
    es_update_aliases(spark, {"actions": [
        {"remove": {"index": "region", "alias": "geo_res_t"}}]})


def test_esql_from_accepts_aliases(spark, tables, clean_aliases):
    """ES|QL FROM resolves gateway aliases like real ES: a
    single-target alias reads its table; a multi-target alias becomes
    the multi-index union (METADATA _index tags by CONCRETE index)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import (
        es_update_aliases,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (
        esql_df,
    )

    es_update_aliases(spark, {"actions": [
        {"add": {"index": "region", "alias": "geo_q_t"}}]})
    n = esql_df(spark, "FROM geo_q_t | STATS n = COUNT(*)").collect()
    direct = esql_df(spark, "FROM region | STATS n = COUNT(*)").collect()
    assert n == direct
    es_update_aliases(spark, {"actions": [
        {"add": {"index": "nation", "alias": "geo_q_t"}}]})
    rows = esql_df(
        spark, "FROM geo_q_t METADATA _index"
        " | STATS n = COUNT(*) BY _index | SORT _index"
    ).collect()
    assert [(r["_index"], r["n"]) for r in rows] == [
        ("nation", 25), ("region", 5)]
    es_update_aliases(spark, {"actions": [
        {"remove": {"index": "region", "alias": "geo_q_t"}},
        {"remove": {"index": "nation", "alias": "geo_q_t"}}]})


def test_termvectors_found_is_existence_not_tokens(spark, clean_aliases):
    """found reflects document EXISTENCE (ADVICE r11): a doc whose
    analyzed field yields zero tokens is found=true with empty
    term_vectors; a genuinely missing id stays found=false. The
    envelope echoes the CONCRETE index when addressed via alias."""
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import (
        es_mtermvectors,
        es_termvectors,
        es_update_aliases,
    )

    spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, None)],
        "id bigint, body string",
    ).createOrReplaceTempView("tv_docs_t")
    out = es_mtermvectors(spark, "tv_docs_t", {
        "ids": [1, 2, 3, 4], "fields": ["body"]}, id_field="id")
    by_id = {d["_id"]: d for d in out["docs"]}
    assert by_id["1"]["found"] and by_id["1"]["term_vectors"]["body"]["terms"]
    # empty / NULL text: found=true, empty terms (the ES shape)
    assert by_id["2"]["found"]
    assert by_id["2"]["term_vectors"] == {"body": {"terms": {}}}
    assert by_id["3"]["found"]
    assert not by_id["4"]["found"] and by_id["4"]["term_vectors"] == {}
    # via an alias, _index echoes the concrete index
    es_update_aliases(spark, {"actions": [
        {"add": {"index": "tv_docs_t", "alias": "tv_alias_t"}}]})
    out = es_mtermvectors(spark, "tv_alias_t", {
        "ids": [2], "fields": ["body"]}, id_field="id")
    assert out["docs"][0]["_index"] == "tv_docs_t"
    one = es_termvectors(spark, "tv_alias_t", 2, "body", id_field="id")
    assert one["found"] and one["_index"] == "tv_docs_t"
    assert one["term_vectors"]["body"]["terms"] == {}
    es_update_aliases(spark, {"actions": [
        {"remove": {"index": "tv_docs_t", "alias": "tv_alias_t"}}]})
    spark.catalog.dropTempView("tv_docs_t")


def test_alias_resolution_covers_template_and_reindex(spark, clean_aliases):
    """ADVICE r11: _search/template and the _reindex source accept an
    alias like every other index-addressed verb; a STALE alias (target
    dropped) raises the typed 404, not an AnalysisException."""
    import pytest as _pytest

    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
        NotFoundError,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import (
        es_search_df,
        es_search_template_df,
        es_update_aliases,
    )

    es_update_aliases(spark, {"actions": [
        {"add": {"index": "documents", "alias": "tmpl_alias_t"}}]})
    df = es_search_template_df(spark, "tmpl_alias_t", {
        "source": {"query": {"term": {"lang": "{{l}}"}}, "size": 5},
        "params": {"l": "en"},
    })
    assert df.count() == 5
    # stale alias: target view dropped out from under it -> typed 404
    spark.createDataFrame([(1,)], "id bigint") \
        .createOrReplaceTempView("ephemeral_t")
    es_update_aliases(spark, {"actions": [
        {"add": {"index": "ephemeral_t", "alias": "stale_alias_t"}}]})
    spark.catalog.dropTempView("ephemeral_t")
    with _pytest.raises(NotFoundError):
        es_search_df(spark, "stale_alias_t", {})
    # cleanup: the target is gone, but remove still works
    es_update_aliases(spark, {"actions": [
        {"remove": {"index": "ephemeral_t", "alias": "stale_alias_t"}},
        {"remove": {"index": "documents", "alias": "tmpl_alias_t"}}]})
