"""HTTP API: the reference's three routes on the Spark engine.

Reference parity (SURVEY.md §2.A, §3):

- route table ``routes.go:9-15``: ``GET /`` (home), ``GET /query/``
  (validated SQL -> JSON rows), ``POST /elastic/save/`` (same query ->
  bulk-index into a named index).
- logging middleware ``middlewares.go:40-59`` + ``logger.go:66-77``:
  one structured JSON log line per request with URI, method, status,
  duration, response size.
- error envelope ``responses.go:17-27``: ``{"error": msg}`` with the
  status codes assigned by ``query_controller.go:61-93`` (400 bad
  driver / null params / syntax, 401 non-SELECT) — the codes ride on
  the typed exceptions in ``errors.py``.

Deliberate fixes over the reference (documented, SURVEY.md §2.A quirks):

- Q1: the SELECT gate checks the parsed plan type, not a regex.
- Q5: an extraction failure on the save route maps to the real error's
  status, not 501.
- A9: /elastic/save/ does NOT re-fetch its own /query/ route over
  loopback HTTP — the DataFrame is the handoff (one lineage, no driver
  buffering; elastic_controller.go:103-140 vs indexer.save).
"""

from __future__ import annotations

import json
import logging
import time

from flask import Flask, g, jsonify, request

from golang_db_query_engine_elasticsearch_indexer_spark import gateway
from golang_db_query_engine_elasticsearch_indexer_spark import indexer as indexer_mod
from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
    EngineError,
    ParamsNullError,
    SqlSyntaxError,
)
from golang_db_query_engine_elasticsearch_indexer_spark.result import (
    DEFAULT_MAX_ROWS,
    collect_envelope,
)
from golang_db_query_engine_elasticsearch_indexer_spark.session import (
    build_session,
    default_registry,
)

WELCOME = "Welcome to Database Query engine and Elastic Search bulk posting engine"

_log = logging.getLogger("golang_db_query_engine_elasticsearch_indexer_spark.api")


def _json_log_handler() -> logging.Handler:
    """logrus-JSON-style structured log lines (logger.go:20-33 parity)."""
    h = logging.StreamHandler()

    class _Fmt(logging.Formatter):
        def format(self, record: logging.LogRecord) -> str:
            payload = {
                "level": record.levelname.lower(),
                "msg": record.getMessage(),
                "time": self.formatTime(record, "%Y-%m-%dT%H:%M:%S%z"),
            }
            payload.update(getattr(record, "http", {}))
            return json.dumps(payload)

    h.setFormatter(_Fmt())
    return h


def create_app(
    spark=None,
    registry=None,
    sink=None,
    max_rows: int = DEFAULT_MAX_ROWS,
    env: dict | None = None,
    dotenv_path: str = ".env",
) -> Flask:
    """App factory. ``spark``/``registry``/``sink`` are injectable for
    tests; otherwise runtime behavior comes from ``.env`` + environment
    (base.go:25-35 godotenv parity — see ``config.py`` for keys):
    ``SPARK_GRAFT_SINK`` selects jsonl/http/es (ES endpoint from
    ``ELASTICSEARCH_HOST``/``USERNAME``/``PASSWORD``, the reference's
    exact variable names, elastic_controller.go:54-62), and
    ``SPARK_GRAFT_SOURCES`` adds registry sources."""
    from golang_db_query_engine_elasticsearch_indexer_spark.config import app_config

    app = Flask("golang_db_query_engine_elasticsearch_indexer_spark")
    cfg = app_config(env=env, dotenv_path=dotenv_path)
    state: dict = {"spark": spark, "registry": registry, "sink": sink}
    if not _log.handlers:
        _log.addHandler(_json_log_handler())
        _log.setLevel(logging.INFO)

    def _spark():
        if state["spark"] is None:
            state["spark"] = build_session()
        return state["spark"]

    def _registry():
        if state["registry"] is None:
            reg = default_registry()
            for pair in cfg.get("SPARK_GRAFT_SOURCES", "").split(";"):
                if "=" in pair:
                    name, _, path = pair.partition("=")
                    reg.register_source("parquet", name.strip(), path.strip())
            state["registry"] = reg
        return state["registry"]

    def _sink():
        if state["sink"] is None:
            kind = cfg.get("SPARK_GRAFT_SINK", "jsonl").lower()
            if kind == "http":
                state["sink"] = indexer_mod.HttpBulkSink(
                    cfg.get("ELASTICSEARCH_HOST", "http://localhost:9200"),
                    username=cfg.get("USERNAME"),
                    password=cfg.get("PASSWORD"),
                )
            elif kind == "es":
                es_sink = indexer_mod.ElasticsearchSink(
                    cfg.get("ELASTICSEARCH_HOST", "localhost:9200"),
                    username=cfg.get("USERNAME"),
                    password=cfg.get("PASSWORD"),
                )
                if es_sink.connector_available(_spark()):
                    state["sink"] = es_sink
                else:
                    # Connector jar absent: fall back to the executable
                    # HTTP _bulk sink against the same endpoint/creds —
                    # the configured production path always works
                    # instead of selecting a sink that can only raise.
                    state["sink"] = indexer_mod.HttpBulkSink(
                        cfg.get("ELASTICSEARCH_HOST", "localhost:9200"),
                        username=cfg.get("USERNAME"),
                        password=cfg.get("PASSWORD"),
                    )
            else:
                state["sink"] = indexer_mod.JsonlIndexSink(
                    cfg.get("SPARK_GRAFT_INDEX_DIR", "indexes")
                )
        return state["sink"]

    # -- middleware (middlewares.go:40-59): one JSON line per request --
    @app.before_request
    def _start_timer():
        g._t0 = time.time()

    @app.after_request
    def _log_request(resp):
        dur_ms = round((time.time() - getattr(g, "_t0", time.time())) * 1000, 2)
        _log.info(
            "http request",
            extra={
                "http": {
                    "uri": request.full_path if request.query_string else request.path,
                    "method": request.method,
                    "status": resp.status_code,
                    "duration_ms": dur_ms,
                    "size": resp.calculate_content_length() or 0,
                }
            },
        )
        return resp

    @app.errorhandler(EngineError)
    def _engine_error(err: EngineError):
        # responses.go:17-27 envelope; status from the typed error.
        return jsonify(err.envelope()), err.http_status

    @app.errorhandler(Exception)
    def _analysis_error(err: Exception):
        # Parity with the reference's execution-error path: SqlToJson
        # failures (unknown table/column, type errors) return 400 with
        # the error envelope (query_controller.go:100-104). Spark
        # surfaces those as AnalysisException at analyze time.
        try:
            from pyspark.errors import AnalysisException

            if isinstance(err, AnalysisException):
                return jsonify({"error": str(err)}), 400
        except ImportError:
            pass
        if isinstance(err, ValueError) and str(err).startswith(
            ("es_dsl:", "esql:")
        ):
            # the DSL / ES|QL compilers' loud unsupported-clause
            # rejections are client errors, surfaced BEFORE execution
            return jsonify({"error": str(err)}), 400
        raise err

    # -- GET / (home_controller.go:9-11) --
    @app.get("/")
    def home():
        return jsonify(WELCOME), 200

    # -- GET /query/ (query_controller.go:54-107) --
    @app.get("/query/")
    def get_query_result():
        params = request.args
        if params.get("explain", "").lower() in ("1", "true", "formatted"):
            # Engine improvement over the reference (which cannot see
            # the RDBMS plan): return the optimized physical plan
            # instead of executing. Same validation gates apply.
            spark = gateway.attach(
                _spark(), _registry(), params.get("dbDriver", ""), params.get("dbName", "")
            )
            df = gateway.query_df(spark, params.get("query", ""))
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            return jsonify({"plan": plan}), 200
        bind = None
        if params.get("params"):
            # Optional named-parameter binding (engine improvement —
            # the reference interpolates raw strings): a JSON object of
            # :name -> value, bound as typed literals by gateway.query.
            from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
                ParamsNullError,
            )

            try:
                bind = json.loads(params["params"])
            except ValueError:
                raise ParamsNullError() from None
            if not isinstance(bind, dict):
                raise ParamsNullError()
        result = gateway.query(
            _spark(),
            params.get("query", ""),
            registry=_registry(),
            db_driver=params.get("dbDriver", ""),
            db_name=params.get("dbName", ""),
            max_rows=max_rows,
            params=bind,
        )
        return app.response_class(result.to_json(), mimetype="application/json"), 200

    # -- POST /elastic/save/ (elastic_controller.go:253-301) --
    @app.post("/elastic/save/")
    def post_query_result():
        form = request.form if request.form else request.args
        db_driver = form.get("dbDriver", "")
        db_name = form.get("dbName", "")
        sql = form.get("query", "")
        index_name = form.get("indexName", "")
        if not index_name:
            from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
                ParamsNullError,
            )

            raise ParamsNullError()
        spark = gateway.attach(_spark(), _registry(), db_driver, db_name)
        stats = indexer_mod.save(spark, sql, index_name, _sink())
        _log.info(stats.log_line())
        return (
            jsonify(
                {
                    "result": "posted data successfully on elastic search",
                    "index": stats.index_name,
                    "num_flushed": stats.num_docs,
                    "num_failed": stats.num_failed,
                    "docs_per_sec": round(stats.docs_per_sec, 1),
                }
            ),
            201,
        )

    # -- the ES API itself (r09): the engine SERVES the DSL it compiles,
    # so a reference user's ES client can point its reads here. The
    # reference only writes to ES (elastic_controller.go); these routes
    # close the loop the reference leaves to a real cluster. Response
    # model: /_count and /_mapping return the EXACT ES shapes; /_search
    # and /_msearch return the engine's relational envelope (rows +
    # schema + count + took) — the same documented improvement /query/
    # makes over the reference's bare JSON array, rather than a
    # half-imitation of the ES hits envelope. Optional dbDriver/dbName
    # query args run the request on a child session bound to that
    # registry source, as on /query/.

    def _session():
        """The session a request runs on: a child bound to the source
        when the request names one, else the app session."""
        params = request.args
        if params.get("dbDriver") or params.get("dbName"):
            return gateway.attach(
                _spark(), _registry(), params.get("dbDriver", ""), params.get("dbName", "")
            )
        return _spark()

    def _es_body() -> dict:
        """Parse the request body as the ES JSON search body. Absent or
        empty body -> {} (ES treats that as match_all); PRESENT but
        unparseable body -> 400, as Elasticsearch does — silent=True
        here would degrade a malformed body to match_all and return
        200 with default hits (ADVICE r09 finding #2)."""
        raw = request.get_data(as_text=True)
        if not raw or not raw.strip():
            return {}
        try:
            body = json.loads(raw)
        except ValueError as exc:
            raise SqlSyntaxError(f"es_dsl: request body is not valid JSON: {exc}")
        if not isinstance(body, dict):
            raise SqlSyntaxError("es_dsl: request body must be a JSON object")
        return body

    @app.post("/<index>/_search")
    def es_search_route(index: str):
        import time as _time  # noqa: PLC0415

        spark = _session()
        body = _es_body()
        if request.args.get("scroll"):
            # scroll open: first page + a STATELESS cursor (the
            # keep_alive duration is accepted and irrelevant — the
            # scroll_id encodes the position, nothing server-side
            # expires)
            return jsonify(gateway.es_scroll(
                spark, index, body,
                id_field=request.args.get("id_field"),
                max_rows=max_rows,
            )), 200
        if body.get("profile") is True:
            # the ES in-body profile flag, served honestly: this
            # engine's execution breakdown IS the optimized physical
            # plan (per-operator timings live in the Spark UI), so
            # profile returns the same section the ?plan=true
            # extension serves, under the standard ES key
            df = gateway.es_search_df(
                spark, index, {k: v for k, v in body.items()
                               if k != "profile"}
            )
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            return jsonify({"profile": {"plan": plan}}), 200
        if request.args.get("plan", "").lower() in ("1", "true", "formatted"):
            # engine extension, mirroring /query/?explain: return the
            # optimized physical plan of the COMPILED body instead of
            # executing — the observability the reference never had
            df = gateway.es_search_df(spark, index, body)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            return jsonify({"plan": plan}), 200
        t0 = _time.time()
        res = gateway.es_search(spark, index, body, max_rows=max_rows)
        payload = json.loads(res.to_json())
        payload["took"] = int((_time.time() - t0) * 1000)
        return jsonify(payload), 200

    @app.route("/<index>/_count", methods=["GET", "POST"])
    def es_count_route(index: str):
        spark = _session()
        body = _es_body()
        return jsonify({"count": gateway.es_count(spark, index, body)}), 200

    @app.get("/<index>/_stats")
    def es_index_stats_route(index: str):
        return jsonify(gateway.es_index_stats(_session(), index)), 200

    @app.get("/<index>/_settings")
    def es_index_settings_route(index: str):
        return jsonify(gateway.es_index_settings(_session(), index)), 200

    @app.get("/<index>/_mapping")
    def es_mapping_route(index: str):
        return jsonify(gateway.es_mapping(_session(), index)), 200

    @app.route("/<index>", methods=["HEAD"])
    def es_index_exists_route(index: str):
        spark = _session()
        # ES HEAD /{index}: bare 200/404, no body
        return ("", 200) if gateway.es_index_exists(spark, index) \
            else ("", 404)

    @app.get("/<index>/_doc/<doc_id>")
    def es_get_route(index: str, doc_id: str):
        out = gateway.es_get(_session(), index, doc_id,
                             id_field=request.args.get("id_field"))
        return jsonify(out), 200 if out["found"] else 404

    @app.get("/_cat/indices")
    def es_cat_indices_route():
        # always the ?format=json shape (this engine serves JSON APIs;
        # the ES text-columns default is a terminal nicety, not a
        # contract anyone parses)
        return jsonify(gateway.cat_indices(_session())), 200

    @app.get("/<index>/_field_caps")
    def es_field_caps_route(index: str):
        return jsonify(gateway.es_field_caps(_session(), index)), 200

    @app.post("/<index>/_terms_enum")
    def es_terms_enum_route(index: str):
        return jsonify(gateway.es_terms_enum(_session(), index,
                                             _es_body())), 200

    @app.post("/<index>/_search/template")
    def es_search_template_route(index: str):
        df = gateway.es_search_template_df(_session(), index, _es_body())
        res = collect_envelope(df, max_rows=max_rows)
        return jsonify(json.loads(res.to_json())), 200

    @app.get("/<index>/_termvectors/<doc_id>")
    def es_termvectors_route(index: str, doc_id: str):
        spark = _session()
        field = request.args.get("fields")
        if not field or "," in field or "*" in field:
            raise ParamsNullError()
        return jsonify(gateway.es_termvectors(
            spark, index, doc_id, field,
            id_field=request.args.get("id_field"),
        )), 200

    @app.post("/<index>/_mtermvectors")
    def es_mtermvectors_route(index: str):
        spark = _session()
        return jsonify(gateway.es_mtermvectors(
            spark, index, _es_body(),
            id_field=request.args.get("id_field"),
        )), 200

    @app.post("/_render/template")
    def es_render_template_route():
        # render WITHOUT executing — the template-debugging verb
        tmpl = _es_body()
        if "source" not in tmpl:
            raise ParamsNullError()
        rendered = gateway.render_search_template(
            tmpl["source"], tmpl.get("params") or {}
        )
        return jsonify({"template_output": rendered}), 200

    @app.post("/_search/scroll")
    def es_scroll_continue_route():
        spark = _session()
        body = _es_body()
        sid = body.get("scroll_id")
        if not sid:
            raise ParamsNullError()
        return jsonify(gateway.es_scroll(spark, None,
                                         scroll_id=sid,
                                         max_rows=max_rows)), 200

    @app.post("/<index>/_explain/<doc_id>")
    def es_explain_route(index: str, doc_id: str):
        spark = _session()
        return jsonify(gateway.es_explain(
            spark, index, doc_id, _es_body(),
            id_field=request.args.get("id_field"),
        )), 200

    @app.get("/_cat/count")
    @app.get("/_cat/count/<index>")
    def es_cat_count_route(index: str | None = None):
        return jsonify(gateway.cat_count(_session(), index)), 200

    @app.get("/_cat/health")
    def es_cat_health_route():
        return jsonify(gateway.cat_health(_session())), 200

    @app.post("/<index>/_validate/query")
    def es_validate_query_route(index: str):
        spark = _session()
        return jsonify(
            gateway.es_validate_query(spark, index, _es_body())
        ), 200

    @app.post("/<index>/_mget")
    def es_mget_route(index: str):
        spark = _session()
        body = _es_body()
        if "ids" not in body:
            raise ParamsNullError()
        return jsonify(gateway.es_mget(
            spark, index, body["ids"],
            id_field=request.args.get("id_field"))), 200

    @app.post("/_analyze")
    def es_analyze_route():
        body = _es_body()
        if "text" not in body:
            raise ParamsNullError()
        return jsonify(gateway.es_analyze(
            body["text"], body.get("analyzer", "standard"))), 200

    @app.post("/<index>/_pit")
    def es_open_pit_route(index: str):
        spark = _session()
        return jsonify(gateway.es_open_pit(
            spark, index, request.args.get("keep_alive"))), 200

    @app.post("/_search")
    def es_pit_search_route():
        # index-less _search: the PIT form (the body's pit.id names the
        # snapshot) — the only ES shape where the path has no index
        spark = _session()
        body = _es_body()
        if "pit" not in body:
            raise ParamsNullError()
        res = gateway.es_pit_search(spark, body, max_rows=max_rows)
        return jsonify(json.loads(res.to_json())), 200

    @app.post("/_reindex")
    def es_reindex_route():
        spark = _session()
        body = _es_body()
        if not body:
            raise ParamsNullError()
        return jsonify(gateway.es_reindex(spark, body, _sink())), 200

    @app.post("/_query")
    def esql_route():
        # the ES|QL API (ES 8.11+): {"query": "FROM idx | ..."} ->
        # columnar {columns, values} response, the ES|QL wire shape
        spark = _session()
        body = _es_body()
        if not body.get("query"):
            raise ParamsNullError()
        from golang_db_query_engine_elasticsearch_indexer_spark.operators.esql import (  # noqa: PLC0415
            esql_df,
        )

        df = esql_df(spark, body["query"])
        res = gateway.collect_envelope(df, max_rows=max_rows)
        payload = json.loads(res.to_json())
        return jsonify({
            "columns": [
                {"name": c["name"], "type": c["type"]}
                for c in payload["schema"]
            ],
            "values": [
                [row.get(c["name"]) for c in payload["schema"]]
                for row in payload["data"]
            ],
        }), 200

    @app.post("/<index>/_rank_eval")
    def es_rank_eval_route(index: str):
        spark = _session()
        body = _es_body()
        if not body:
            raise ParamsNullError()
        return jsonify(gateway.es_rank_eval(spark, index, body)), 200

    @app.get("/_resolve/index/<pattern>")
    def es_resolve_index_route(pattern: str):
        return jsonify(gateway.es_resolve_index(_session(), pattern)), 200

    @app.post("/_aliases")
    def es_update_aliases_route():
        # the atomic add/remove actions API — the zero-downtime
        # reindex seam every production deployment queries through
        return jsonify(
            gateway.es_update_aliases(_spark(), _es_body())
        ), 200

    @app.get("/_aliases")
    def es_get_aliases_route():
        return jsonify(gateway.es_get_aliases(_spark())), 200

    @app.get("/_alias/<name>")
    def es_get_alias_route(name: str):
        return jsonify(gateway.es_get_aliases(_spark(), name)), 200

    @app.get("/_cat/aliases")
    def es_cat_aliases_route():
        return jsonify(gateway.cat_aliases(_spark())), 200

    @app.post("/_sql")
    def es_sql_route():
        # the ES SQL API shape over the engine's own SQL gateway —
        # same SELECT-only gate and typed 400/401 envelopes
        body = _es_body()
        if not body.get("query"):
            raise ParamsNullError()
        out = gateway.es_sql(
            _spark(), body["query"],
            fetch_size=int(body.get("fetch_size", 1000)),
        )
        return jsonify(out), 200

    @app.post("/_msearch")
    def es_msearch_route():
        import time as _time  # noqa: PLC0415

        spark = _session()
        # the ES NDJSON protocol: alternating header/body lines; the
        # header names the index ({} inherits none here — index is
        # required, matching the gateway's all-or-nothing validation)
        lines = [
            ln for ln in request.get_data(as_text=True).splitlines()
            if ln.strip()
        ]
        if len(lines) % 2:
            raise ParamsNullError()
        searches = []
        for i in range(0, len(lines), 2):
            # a malformed NDJSON line is a client error (400), like the
            # single-body routes — never a 500 through the generic
            # handler
            try:
                head = json.loads(lines[i])
                body = json.loads(lines[i + 1])
            except ValueError as exc:
                raise SqlSyntaxError(
                    f"es_dsl: _msearch line is not valid JSON: {exc}"
                )
            if not isinstance(head, dict) or not isinstance(body, dict):
                raise SqlSyntaxError(
                    "es_dsl: _msearch lines must be JSON objects"
                )
            searches.append((head.get("index"), body))
        t0 = _time.time()
        dfs = gateway.es_msearch(spark, searches)
        responses = []
        for df in dfs:
            res = collect_envelope(df, max_rows=max_rows)
            responses.append(json.loads(res.to_json()))
        return jsonify({
            "took": int((_time.time() - t0) * 1000),
            "responses": responses,
        }), 200

    return app


def main() -> None:  # pragma: no cover
    """Serve on :8084 — the reference's port (base.go:73)."""
    create_app().run(host="0.0.0.0", port=8084)


if __name__ == "__main__":  # pragma: no cover
    main()
