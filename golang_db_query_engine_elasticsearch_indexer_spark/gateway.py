"""Query gateway: validate → execute → envelope.

Reference parity: ``getQueryResult`` (query_controller.go:54-107) runs
param validation (paramsNullHandler :38-43, dbDriverValidator :46-51),
the parse + SELECT gate (queryValidator :26-35), connects
(base.go:38-66), executes via the RDBMS (sqltojson call :98) and writes
JSON (:106). Here the validation pipeline is the same shape, but
execution is Catalyst: ``spark.sql`` builds the logical plan lazily and
the optimizer owns pushdown/pruning/join selection (SURVEY.md §4.1) —
no custom rewrite code.
"""

from __future__ import annotations

import re as _re
import weakref

from pyspark.sql import DataFrame, SparkSession

from golang_db_query_engine_elasticsearch_indexer_spark.errors import (
    NotFoundError,
    ParamsNullError,
    SqlSyntaxError,
    UnauthorizedOperationError,
)
from golang_db_query_engine_elasticsearch_indexer_spark.plans import assert_select_only
from golang_db_query_engine_elasticsearch_indexer_spark.result import (
    DEFAULT_MAX_ROWS,
    QueryResult,
    collect_envelope,
)
from golang_db_query_engine_elasticsearch_indexer_spark.session import SourceRegistry


def _doc_key(d):
    """A document id's typed comparison key: integer ids arrive as
    strings over HTTP ('42', '-7') and must compare as ints against
    BIGINT columns; everything else compares as the string itself.
    One definition for the seven verbs that point-look-up by id —
    and a regex, not lstrip('-').isdigit(), which accepted '--5' and
    then crashed int() (found in review)."""
    s = str(d)
    return int(s) if _re.fullmatch(r"-?\d+", s) else s


def query_df(
    spark: SparkSession, sql: str, params: dict | None = None
) -> DataFrame:
    """Validated SQL → lazy DataFrame (no execution yet).

    The gate order mirrors query_controller.go:70-93: null check ->
    parse/syntax (400) -> SELECT-only (401). Returns the *unexecuted*
    plan so callers (HTTP response vs. indexer sink) choose the action;
    this is what removes the reference's self-HTTP-call hop (A9,
    elastic_controller.go:103-140) — the DataFrame is the handoff.

    ``params`` binds named parameter markers (``:name``) as TYPED
    LITERALS via Spark's parameterized SQL — the injection-safe
    improvement over the reference, which interpolates the raw query
    string end-to-end (query_controller.go:98): a hostile value like
    ``"F' OR '1'='1"`` stays one string literal instead of rewriting
    the predicate. The SELECT-only gate runs on the TEMPLATE (markers
    parse as expressions), so binding cannot smuggle a command past it.
    """
    if sql is None or not sql.strip():
        raise ParamsNullError()
    assert_select_only(spark, sql)
    if params:
        return spark.sql(sql, args=params)
    return spark.sql(sql)


def query(
    spark: SparkSession,
    sql: str,
    registry: SourceRegistry | None = None,
    db_driver: str | None = None,
    db_name: str | None = None,
    max_rows: int = DEFAULT_MAX_ROWS,
    params: dict | None = None,
) -> QueryResult:
    """Full GET /query/ semantics: resolve source, validate, run, envelope.

    ``db_driver``/``db_name`` are optional because a Spark catalog can
    already hold the tables (the reference always needs them since it
    owns no data; query_controller.go:55-58). A named source runs on
    its own child session (``attach``).
    """
    if registry is not None or db_driver is not None or db_name is not None:
        if registry is None or not db_driver or not db_name:
            raise ParamsNullError()
        spark = attach(spark, registry, db_driver, db_name)
    return collect_envelope(query_df(spark, sql, params=params), max_rows=max_rows)


def attach(
    spark: SparkSession, registry: SourceRegistry, db_driver: str, db_name: str
) -> SparkSession:
    """A child session of ``spark`` bound to the named source that reads
    ``spark``'s aliases. Alias commits rebind the registry dict and
    never mutate it, so the child holds the aliases as of this call."""
    child = registry.attach(spark, db_driver, db_name)
    _ALIASES_BY_SESSION[child] = _aliases(spark)
    return child


def es_search_df(spark: SparkSession, index: str, body: dict) -> DataFrame:
    """ES `_search` semantics as a first-class gateway verb: the JSON
    body a reference user POSTs to `/{index}/_search` compiles to a
    Catalyst plan over the table named ``index`` (operators/es_dsl.py:
    query context incl. BM25-scored match/multi_match, knn,
    search_after pagination, aggs up to three bucket levels with
    metric/pipeline/top_hits sub-aggs, composite paging, filters).
    Lazy, like query_df — the DataFrame is the handoff. Unsupported
    DSL raises ValueError before any execution; an empty body means
    match_all (ES default)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        compile_search,
        compile_union_search,
    )

    if index is None or body is None:
        raise ParamsNullError()
    schemas = {t: spark.table(t).schema for t in _search_targets(spark, index)}
    if len(schemas) > 1:
        return spark.sql(compile_union_search(schemas, body, "spark"))
    [(index, schema)] = schemas.items()
    # id tiebreak column: the relation's first column, the same
    # default every other index-addressed verb uses (the old fixed
    # "doc_id" default broke hit-returning searches over any table
    # not named documents)
    return spark.sql(
        compile_search(index, body, "spark", schema.names[0], schemas=schemas)
    )


def es_search(
    spark: SparkSession,
    index: str,
    body: dict,
    max_rows: int = DEFAULT_MAX_ROWS,
) -> QueryResult:
    """`POST /{index}/_search` parity: compile, run, envelope."""
    return collect_envelope(es_search_df(spark, index, body), max_rows=max_rows)


def es_msearch(
    spark: SparkSession, searches: list[tuple[str, dict]]
) -> list[DataFrame]:
    """`POST /_msearch` parity: a batch of (index, body) searches
    compiled together, returned as a list of LAZY DataFrames in request
    order. Every body validates (loudly) before any plan executes —
    the all-or-nothing contract a batch API needs; execution stays
    caller-driven so the engine never runs half a batch implicitly."""
    if searches is None or any(
        ix is None or body is None for ix, body in searches
    ):
        raise ParamsNullError()
    return [es_search_df(spark, ix, body) for ix, body in searches]


def es_mapping(spark: SparkSession, index: str) -> dict:
    """`GET /{index}/_mapping` parity: the ES-style mapping of a
    registered table, derived from its Spark schema by the same rule
    the indexer's explicit-mapping create uses (indexer.
    es_mapping_for_schema) — so what the read API reports is exactly
    what the write path would create. Returns the ES response shape
    ``{index: {"mappings": {...}}}``."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (  # noqa: PLC0415
        es_mapping_for_schema,
    )

    if index is None:
        raise ParamsNullError()
    if "," in index or "*" in index:
        # the ES multi-index mapping read: one entry per CONCRETE
        # index (never merged — mappings are per-index state)
        targets = _expand_index_expression(spark, index)
        return {
            t: {"mappings": es_mapping_for_schema(spark.table(t).schema)}
            for t in targets
        }
    index = _resolve_alias(index, spark)
    return {index: {"mappings": es_mapping_for_schema(spark.table(index).schema)}}


def es_count(spark: SparkSession, index: str, body: dict | None = None) -> int:
    """`GET /{index}/_count` parity: matching-doc count under an
    optional query-context body (None/{} = match_all, the ES default).
    Returns the bare int — the `{"count": N}` envelope reduced to its
    payload."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        compile_count,
        compile_union_search,
    )

    if index is None:
        raise ParamsNullError()
    targets = _search_targets(spark, index)
    if len(targets) > 1:
        schemas = {t: spark.table(t).schema for t in targets}
        sql = compile_union_search(schemas, body or {}, "spark", count=True)
    else:
        sql = compile_count(targets[0], body or {}, "spark")
    row = spark.sql(sql).collect()[0]
    return int(row["count"])


def cat_indices_sql(tables: tuple[str, ...], dialect: str) -> str:
    """One UNION ALL of per-table counts, ordered by index name — the
    relational body of `GET /_cat/indices`. Shared by the Spark verb
    and the DuckDB oracle so both engines run the same statement.
    Scale shape: each branch is a count(*) aggregate (a metadata-only
    scan on parquet sources); the union is bounded by catalog size,
    never data size."""
    if not tables:
        raise ParamsNullError()
    q = '`index`' if dialect == "spark" else '"index"'
    branches = "\nUNION ALL\n".join(
        f"SELECT '{t}' AS {q}, count(*) AS docs_count FROM {t}"
        for t in sorted(tables)
    )
    return f"{branches}\nORDER BY {q} ASC"


def _indices(spark: SparkSession) -> list[str]:
    """The indices ``spark`` can address, sorted: the non-temporary
    tables of its current database, minus the ``_raw_*`` tables behind
    converted views (session._create_table). Temp views — the engine's
    own intermediates, BM25 artifacts and the like — are not indices.
    The one scope rule of `_cat/indices`, `_resolve/index` and `*`
    index expressions."""
    return sorted(
        r.tableName for r in spark.sql("SHOW TABLES").collect()
        if not r.isTemporary and not r.tableName.startswith("_raw_")
    )


def cat_indices_df(spark: SparkSession) -> DataFrame:
    """`GET /_cat/indices` as a lazy DataFrame: (index, docs_count)
    for every index of the session (_indices) — the read-only index
    inventory the reference's users check daily beside
    _search/_count/_mapping."""
    return spark.sql(cat_indices_sql(tuple(_indices(spark)), "spark"))


def cat_indices(spark: SparkSession) -> list[dict]:
    """`GET /_cat/indices?format=json` parity: the ES response shape —
    one object per index with health/status constants (this engine has
    no shard states) and the doc count. Bounded collect: one row per
    catalog table."""
    return [
        {
            "health": "green",
            "status": "open",
            "index": row["index"],
            "docs.count": int(row["docs_count"]),
        }
        for row in cat_indices_df(spark).collect()
    ]


def es_index_exists(spark: SparkSession, index: str) -> bool:
    """`HEAD /{index}` parity: does the index (registered table) or an
    alias to one exist. Catalog lookup only — no scan. Accepts the
    comma/wildcard index-expression grammar like the other read verbs
    (HEAD /region,nation is 200 in real ES when all parts resolve).
    A multi-target alias exists iff every target does; a stale alias
    or dead pattern reports False rather than raising (HEAD has no
    error body to explain with)."""
    if index is None:
        raise ParamsNullError()
    if "," in index or "*" in index:
        try:
            _expand_index_expression(spark, index)
        except (NotFoundError, SqlSyntaxError):
            return False
        return True
    targets = _aliases(spark).get(index, (index,))
    return all(spark.catalog.tableExists(t) for t in targets)


# --- index aliases -------------------------------------------------------------
#
# Every production ES deployment queries through aliases (the
# zero-downtime reindex seam): reads address `logs` while the concrete
# index rotates underneath. The engine models an alias as PURE
# METADATA — a name -> targets entry resolved at each index-addressed
# verb — rather than a Spark temp view: a view captures the target's
# plan AT CREATION, so re-registering the fixture views (per-sf-dir
# test switching, the operational "swap the concrete index" move)
# would leave a view-alias silently reading the OLD data. Metadata
# resolution always follows the live catalog (a stale alias whose
# target table was dropped is a typed 404, not an AnalysisException;
# ADVICE r11). Driver-side dict, no data touched. An alias may span
# MULTIPLE indices (adding the same alias to a second index widens it,
# the real ES semantics): search/count through a multi-target alias
# compile to the same missing-column-as-NULL UNION ALL the ES|QL
# multi-index FROM uses (VERDICT r11 ask #3); verbs that address ONE
# document/table (get, mapping, termvectors, pit, explain) reject a
# multi-target alias with a typed 400, matching ES's
# illegal_argument_exception for those routes.
#
# SCOPE (VERDICT r12 ask #4): the registry is PER SparkSession — two
# sessions in one process do not see each other's aliases, matching
# the rest of the engine's catalog model (temp views are
# session-scoped, and an alias is catalog metadata). WeakKeyDictionary
# so a stopped session doesn't pin its registry. COMMIT is an atomic
# single-dict rebind (ADVICE r12: the old clear()+update() let a
# concurrent reader in a threaded server observe an empty registry).

_ALIASES_BY_SESSION: "weakref.WeakKeyDictionary" = (
    weakref.WeakKeyDictionary()
)


def _aliases(spark: SparkSession) -> dict[str, tuple[str, ...]]:
    """The session's alias registry (read-only view by convention —
    writers go through es_update_aliases' atomic rebind)."""
    return _ALIASES_BY_SESSION.setdefault(spark, {})


def _alias_targets(
    spark: SparkSession, index: str
) -> tuple[str, ...]:
    """Alias -> concrete tables (concrete names pass through as a
    1-tuple). One hop: ES forbids aliases to aliases, so no chain
    walk. Every resolved target is re-checked against the LIVE
    catalog — a stale alias raises NotFoundError like an unknown
    concrete name would."""
    targets = _aliases(spark).get(index)
    if targets is None:
        return (index,)
    for t in targets:
        if not spark.catalog.tableExists(t):
            raise NotFoundError(
                f"alias {index!r} target {t!r} no longer exists"
            )
    return targets


def _resolve_alias(index: str, spark: SparkSession) -> str:
    """Alias -> ONE concrete table, for the single-index verbs.
    Multi-target aliases are rejected with a typed 400 (the ES shape
    for routes that require exactly one index). The target's
    existence is validated against the live catalog (stale alias ->
    404). ``spark`` is required since the registry became
    session-scoped (r13) — every caller is an index-addressed verb
    that already holds the session."""
    targets = _alias_targets(spark, index)
    if len(targets) > 1:
        raise SqlSyntaxError(
            f"es_aliases: alias {index!r} points to "
            f"{len(targets)} indices ({', '.join(targets)}); this "
            "operation requires a single-target alias"
        )
    return targets[0]


def _expand_index_expression(
    spark: SparkSession, expr: str
) -> tuple[str, ...]:
    """An ES index expression — a comma list of names, aliases, and
    `*` wildcards (`GET /logs-*,metrics/_search`) — expanded to
    concrete tables, first-seen order, deduplicated. Wildcards match
    the session's indices (_indices) AND alias names, whose targets
    expand in. A part that resolves to nothing raises the typed 404
    (the allow_no_indices=false posture: a silent empty search hides
    typos; ES's lenient default is opt-in leniency this engine
    declines). Driver-side catalog work — no data touched."""
    import fnmatch  # noqa: PLC0415

    out: list[str] = []

    def add(t: str) -> None:
        if t not in out:
            out.append(t)

    for part in (p.strip() for p in expr.split(",")):
        if not part:
            raise SqlSyntaxError(
                f"es_dsl: empty index name in {expr!r}"
            )
        if "*" in part:
            hits = [
                t for t in _indices(spark) if fnmatch.fnmatchcase(t, part)
            ]
            for a in sorted(_aliases(spark)):
                if fnmatch.fnmatchcase(a, part):
                    hits.extend(_alias_targets(spark, a))
            if not hits:
                raise NotFoundError(
                    f"no indices match pattern {part!r}"
                )
            for t in hits:
                add(t)
        else:
            for t in _alias_targets(spark, part):
                if not spark.catalog.tableExists(t):
                    raise NotFoundError(f"no such index: {t!r}")
                add(t)
    return tuple(out)


def _search_targets(spark: SparkSession, index: str) -> tuple[str, ...]:
    """The tables a search-shaped verb reads: a concrete name or a
    single-target alias gives one; a multi-target alias, a comma list
    or a `*` wildcard expression gives each table it expands to."""
    if "," in index or "*" in index:
        return _expand_index_expression(spark, index)
    return _alias_targets(spark, index)


def es_update_aliases(spark: SparkSession, body: dict) -> dict:
    """`POST /_aliases` parity: the atomic actions API —
    {"actions": [{"add": {"index": i, "alias": a}},
                 {"remove": {"index": i, "alias": a}}]}.
    Actions validate and apply against a SIMULATED copy of the
    registry in request order, then commit atomically (the ES
    all-or-nothing contract) — so a remove+add retarget in one call
    works, two adds of the same alias in one call widen it to a
    multi-target alias exactly as two sequential calls would (ADVICE
    r11: no silent last-write-wins), and any invalid action applies
    nothing. Add rejects unknown targets, names shadowing real
    tables, and alias-to-alias chains; re-adding an existing pair is
    a no-op; adding a second index to an existing alias WIDENS it
    (the real ES multi-index alias semantics)."""
    if body is None or not isinstance(body.get("actions"), list) \
            or not body["actions"]:
        raise ParamsNullError()
    sim: dict[str, tuple[str, ...]] = dict(_aliases(spark))
    for action in body["actions"]:
        if not isinstance(action, dict) or len(action) != 1:
            raise SqlSyntaxError("es_aliases: each action wants one "
                                 "of add/remove")
        kind, spec = next(iter(action.items()))
        if kind not in ("add", "remove"):
            raise SqlSyntaxError(
                f"es_aliases: unsupported action {kind!r}")
        if not isinstance(spec, dict) or set(spec) != {"index", "alias"}:
            raise SqlSyntaxError(
                "es_aliases: action wants {index, alias}")
        index, alias = spec["index"], spec["alias"]
        if kind == "add":
            if not spark.catalog.tableExists(index):
                raise NotFoundError(f"no such index: {index!r}")
            if index in sim:
                raise SqlSyntaxError(
                    f"es_aliases: {index!r} is itself an alias "
                    "(aliases to aliases are forbidden)")
            if spark.catalog.tableExists(alias):
                raise SqlSyntaxError(
                    f"es_aliases: alias {alias!r} would shadow a "
                    "real index")
            cur = sim.get(alias, ())
            if index not in cur:
                sim[alias] = (*cur, index)
        else:
            cur = sim.get(alias, ())
            if index not in cur:
                raise NotFoundError(
                    f"alias {alias!r} -> {index!r} does not exist")
            rest = tuple(t for t in cur if t != index)
            if rest:
                sim[alias] = rest
            else:
                sim.pop(alias, None)
    # atomic commit: one dict rebind, never an observable
    # empty/partial registry (ADVICE r12)
    _ALIASES_BY_SESSION[spark] = sim
    return {"acknowledged": True}


def es_get_aliases(spark: SparkSession, alias: str | None = None) -> dict:
    """`GET /_aliases` / `GET /_alias/{name}` parity: the ES response
    shape {index: {"aliases": {alias: {}}}} — a multi-target alias
    appears under each of its indices. Unknown alias -> 404."""
    pairs = sorted(
        (a, i) for a, targets in _aliases(spark).items() for i in targets
    )
    if alias is not None:
        pairs = [(a, i) for a, i in pairs if a == alias]
        if not pairs:
            raise NotFoundError(f"alias {alias!r} does not exist")
    out: dict = {}
    for a, i in pairs:
        out.setdefault(i, {"aliases": {}})["aliases"][a] = {}
    return out


def cat_aliases(spark: SparkSession) -> list[dict]:
    """`GET /_cat/aliases?format=json` parity: one row per
    (alias, index) pair."""
    return [
        {"alias": a, "index": i}
        for a, targets in sorted(_aliases(spark).items())
        for i in targets
    ]


def es_get(
    spark: SparkSession, index: str, doc_id, id_field: str | None = None
) -> dict:
    """`GET /{index}/_doc/{id}` parity: fetch one document by id and
    return the ES get-API envelope ({_index, _id, found, _source}).
    The id column defaults to the table's FIRST column (every fixture
    table leads with its id; pass ``id_field`` to override). The
    filter is applied through the DataFrame API with a typed Python
    value — no string interpolation, so no injection surface — and
    pushes down to the scan (at 100 TB this is the point lookup
    partition pruning + parquet min/max stats exist for).
    Digit-shaped ids coerce to int to match BIGINT id columns."""
    import json as _json  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    if index is None or doc_id is None:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    df = spark.table(index)
    idc = id_field or df.columns[0]
    if idc not in df.columns:
        raise ParamsNullError(f"unknown id field {idc!r}")
    key = _doc_key(doc_id)
    rows = df.filter(F.col(idc) == key).limit(1).toJSON().collect()
    out = {"_index": index, "_id": str(doc_id), "found": bool(rows)}
    if rows:
        out["_source"] = _json.loads(rows[0])
    return out


def es_analyze(text: str, analyzer: str = "standard") -> dict:
    """`POST /_analyze` parity: run the engine's analyzer (the SAME
    lowercase + whitespace split the DSL compiler applies to match
    queries at compile time — operators/es_dsl._analyze) over the text
    and return the ES token list with offsets/positions. Pure
    driver-side string work, no Spark job. Only the engine's one
    analyzer is served; other names raise (this engine does not
    silently substitute a different tokenization than it searches
    with)."""
    import re as _re  # noqa: PLC0415

    if text is None:
        raise ParamsNullError()
    if analyzer not in ("standard", "default"):
        raise SqlSyntaxError(
            f"es_dsl: unsupported analyzer {analyzer!r} (the engine "
            "analyzes with lowercase + whitespace split only)"
        )
    tokens = []
    for pos, m in enumerate(_re.finditer(r"\S+", text)):
        tokens.append({
            "token": m.group(0).lower(),
            "start_offset": m.start(),
            "end_offset": m.end(),
            "position": pos,
            "type": "<ALPHANUM>",
        })
    return {"tokens": tokens}


_ES_SQL_TYPES = {
    "long": "long", "double": "double", "boolean": "boolean",
    "date": "datetime", "binary": "binary", "text": "text",
    "object": "object",
}


def es_sql(
    spark: SparkSession, sql: str, fetch_size: int = DEFAULT_MAX_ROWS
) -> dict:
    """`POST /_sql` parity (the ES SQL API): run the statement through
    the SAME validate-before-execute gateway as `GET /query/` and
    return the ES response shape — ``{"columns": [{name, type}],
    "rows": [[...]]}``. Column types come from the analyzed Spark
    schema through the same rule the indexer's mapping create uses
    (es_mapping_for_schema), so `_sql`, `_mapping`, and the write path
    all declare one type story. The collect is bounded by fetch_size
    (the reference's unbounded-buffer failure mode stays refused)."""
    import json as _json  # noqa: PLC0415

    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (  # noqa: PLC0415
        es_mapping_for_schema,
    )

    df = query_df(spark, sql)
    props = es_mapping_for_schema(df.schema)["properties"]
    columns = [
        {"name": f.name,
         "type": _ES_SQL_TYPES.get(props[f.name]["type"], "text")}
        for f in df.schema.fields
    ]
    names = [f.name for f in df.schema.fields]
    rows = [
        [(_json.loads(r) or {}).get(n) for n in names]
        for r in df.limit(int(fetch_size)).toJSON().collect()
    ]
    return {"columns": columns, "rows": rows}


def es_validate_query(spark: SparkSession, index: str, body: dict) -> dict:
    """`POST /{index}/_validate/query` parity: compile-only check of a
    query-context body — {"valid": true} or {"valid": false, "error":
    ...}. Runs the SAME compiler as _search (nothing executes), plus a
    Spark analysis pass so unknown fields/tables invalidate too, as in
    ES."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        compile_search,
    )

    if index is None or body is None:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    try:
        # id tiebreak = first column, like es_search_df (the fixed
        # "doc_id" default made every valid query on a table not
        # named documents report valid:false; found in review)
        id_field = spark.table(index).columns[0]
        df = spark.sql(compile_search(index, {"query": body.get(
            "query", {"match_all": {}})}, "spark", id_field))
        df.schema  # force analysis: unknown columns/tables surface here
    except Exception as exc:  # noqa: BLE001 — the point IS the envelope
        return {"valid": False, "error": str(exc)[:500]}
    return {"valid": True}


def es_mget(
    spark: SparkSession, index: str, ids: list, id_field: str | None = None
) -> dict:
    """`POST /{index}/_mget` parity: batch get-by-id — ONE filtered
    scan (`IN` predicate pushed down), results re-ordered to request
    order with found:false placeholders, the ES docs envelope. Bounded
    by the request's id count, capped to keep the collect honest."""
    import json as _json  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    if index is None or not isinstance(ids, list) or not ids:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    if len(ids) > 10_000:
        raise SqlSyntaxError("es_dsl: _mget is capped at 10000 ids")
    df = spark.table(index)
    idc = id_field or df.columns[0]
    keys = [_doc_key(i) for i in ids]
    rows = df.filter(F.col(idc).isin(keys)).toJSON().collect()
    by_id = {}
    for r in rows:
        src = _json.loads(r)
        by_id[str(src.get(idc))] = src
    return {"docs": [
        {"_index": index, "_id": str(i), "found": str(k) in by_id,
         **({"_source": by_id[str(k)]} if str(k) in by_id else {})}
        for i, k in zip(ids, keys)
    ]}


# --- _field_caps ---------------------------------------------------------------

# DuckDB type name -> ES field type, the oracle-side twin of the
# indexer's Spark-schema rule (es_mapping_for_schema). Two INDEPENDENT
# mappings over two independent schema readings of the same parquet —
# the driver differential checks they tell one type story.
_DUCK_FIELD_CAPS_CASE = """CASE
  WHEN t LIKE '%INT%' THEN 'long'
  WHEN t IN ('DOUBLE', 'FLOAT', 'REAL') OR t LIKE 'DECIMAL%' THEN 'double'
  WHEN t = 'BOOLEAN' THEN 'boolean'
  WHEN t LIKE 'TIMESTAMP%' OR t = 'DATE' THEN 'date'
  WHEN t = 'BLOB' THEN 'binary'
  WHEN t = 'VARCHAR' THEN 'text'
  ELSE 'unsupported'
END"""


def field_caps_fields(schema) -> list[tuple[str, str]]:
    """(field, es_type) leaf pairs from a Spark schema via the
    indexer's ONE mapping rule (es_mapping_for_schema), struct fields
    dotted, sorted by field name."""
    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (  # noqa: PLC0415
        es_mapping_for_schema,
    )

    out: list[tuple[str, str]] = []

    def walk(prefix: str, node: dict) -> None:
        if "properties" in node:
            for k, v in node["properties"].items():
                walk(f"{prefix}.{k}" if prefix else k, v)
        else:
            out.append((prefix, node["type"]))

    walk("", es_mapping_for_schema(schema))
    return sorted(out)


def field_caps_oracle_sql(index: str) -> str:
    """The DuckDB-side `_field_caps` relation: information_schema
    introspection mapped through the CASE twin of the Spark rule.
    Array element types arrive as 'ELEM[]' — strip the suffix before
    mapping (ES arrays are implicit, the es_mapping_for_schema rule)."""
    if not index:
        raise ParamsNullError()
    return f"""
WITH cols AS (
  SELECT column_name AS field,
         CASE WHEN data_type LIKE '%[]'
              THEN substr(data_type, 1, length(data_type) - 2)
              ELSE data_type END AS t
  FROM information_schema.columns
  WHERE table_name = '{index}'
)
SELECT field, {_DUCK_FIELD_CAPS_CASE} AS es_type
FROM cols
ORDER BY field ASC
"""


def es_field_caps_df(spark: SparkSession, index: str) -> DataFrame:
    """`GET /{index}/_field_caps` as a relation: (field, es_type) rows
    derived driver-side from the analyzed Spark schema — bounded by
    schema width, no scan."""
    if index is None:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    rows = field_caps_fields(spark.table(index).schema)
    return spark.createDataFrame(rows, "field string, es_type string")


def es_field_caps(spark: SparkSession, index: str) -> dict:
    """`GET /{index}/_field_caps?fields=*` parity: the ES response
    envelope — every leaf field with its type, searchable/aggregatable
    true (one analysis model, no per-field index toggles). Accepts
    the full index-expression grammar (aliases, comma lists, `*`
    wildcards) like real ES: fields are merged across the expanded
    indices, and a field mapped to DIFFERENT types gains one entry
    per type, each carrying the `indices` list that holds it — the
    conflict shape Kibana renders."""
    if index is None:
        raise ParamsNullError()
    if "," in index or "*" in index:
        targets = _expand_index_expression(spark, index)
    else:
        targets = _alias_targets(spark, index)
    per_field: dict[str, dict[str, list[str]]] = {}
    for t in targets:
        for f, typ in field_caps_fields(spark.table(t).schema):
            per_field.setdefault(f, {}).setdefault(typ, []).append(t)
    fields: dict = {}
    for f, by_type in per_field.items():
        conflict = len(by_type) > 1
        fields[f] = {
            typ: {
                "type": typ, "metadata_field": False,
                "searchable": True, "aggregatable": True,
                **({"indices": sorted(ixs)} if conflict else {}),
            }
            for typ, ixs in by_type.items()
        }
    return {"indices": list(targets), "fields": fields}


# --- _terms_enum ----------------------------------------------------------------


def terms_enum_sql(index: str, field: str, prefix: str, size: int,
                   dialect: str) -> str:
    """`POST /{index}/_terms_enum` body: distinct values of ``field``
    starting with ``prefix``, sorted, capped at ``size`` — the
    autocomplete verb. One DISTINCT aggregate with the LIKE pushed
    below it; the prefix LIKE is sargable (prefix scan), and the
    result is vocabulary-sized."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _ident,
        _like_escape,
    )

    if not index or not field:
        raise ParamsNullError()
    size = int(size)
    if not 1 <= size <= 10_000:
        raise SqlSyntaxError("es_dsl: _terms_enum size must be in [1, 10000]")
    if dialect not in ("spark", "duck"):
        raise SqlSyntaxError(f"es_dsl: unknown dialect {dialect!r}")
    f = _ident(field)
    pat = _like_escape(str(prefix))
    return f"""
SELECT DISTINCT {f} AS term
FROM {_ident(index)}
WHERE {f} LIKE '{pat}%' ESCAPE '!'
ORDER BY term ASC
LIMIT {size}
"""


def es_terms_enum_df(spark: SparkSession, index: str, field: str,
                     prefix: str = "", size: int = 10) -> DataFrame:
    index = _resolve_alias(index, spark)
    return spark.sql(terms_enum_sql(index, field, prefix, size, "spark"))


def es_terms_enum(spark: SparkSession, index: str, body: dict) -> dict:
    """`POST /{index}/_terms_enum` parity: the `{terms, complete}`
    envelope. `complete` is exact here: true iff fewer than `size`
    terms matched (a size-capped page may be incomplete)."""
    bad = set(body or {}) - {"field", "string", "size"}
    if bad:
        raise SqlSyntaxError(
            f"es_dsl: unsupported _terms_enum keys {sorted(bad)}"
        )
    if not body or "field" not in body:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    size = int(body.get("size", 10))
    terms = [
        r["term"]
        for r in es_terms_enum_df(
            spark, index, body["field"], body.get("string", ""), size
        ).collect()
    ]
    return {"terms": terms, "complete": len(terms) < size}


# --- _search/template ------------------------------------------------------------


def render_search_template(source, params: dict):
    """Mustache-subset rendering for `POST /{index}/_search/template`:
    `{{var}}` as a WHOLE string substitutes the typed param (numbers,
    lists, objects stay typed); `{{var}}` inside a longer string
    interpolates its string form. Sections (`{{#...}}`), partials, and
    unknown params raise — a dashboard template must never silently
    compile to different semantics."""
    import re as _re  # noqa: PLC0415

    pat = _re.compile(r"\{\{([^{}]*)\}\}")

    def sub(node):
        if isinstance(node, dict):
            return {k: sub(v) for k, v in node.items()}
        if isinstance(node, list):
            return [sub(v) for v in node]
        if isinstance(node, str):
            m = pat.fullmatch(node)
            names = pat.findall(node)
            for n in names:
                if n.startswith(("#", "^", "/", ">", "!")):
                    raise SqlSyntaxError(
                        "es_dsl: search template sections/partials are "
                        f"unsupported ({{{{{n}}}}})"
                    )
                if n not in (params or {}):
                    raise SqlSyntaxError(
                        f"es_dsl: search template param {n!r} is missing"
                    )
            if m:
                return params[m.group(1)]
            return pat.sub(lambda mm: str(params[mm.group(1)]), node)
        return node

    if not isinstance(source, dict):
        raise SqlSyntaxError(
            "es_dsl: search template source must be a JSON object"
        )
    return sub(source)


def es_search_template_df(spark: SparkSession, index: str,
                          tmpl: dict) -> DataFrame:
    """`POST /{index}/_search/template` with an inline `source`:
    render, then compile as a normal `_search` body. Stored-template
    `id` lookup is unsupported (this engine stores no scripts) and
    raises."""
    if not isinstance(tmpl, dict) or "source" not in tmpl:
        raise SqlSyntaxError(
            "es_dsl: _search/template wants an inline source "
            "(stored-template id lookup is unsupported)"
        )
    bad = set(tmpl) - {"source", "params"}
    if bad:
        raise SqlSyntaxError(
            f"es_dsl: unsupported _search/template keys {sorted(bad)}"
        )
    body = render_search_template(tmpl["source"], tmpl.get("params") or {})
    return es_search_df(spark, index, body)


# --- scroll (stateless cursor over search_after) ----------------------------------


def effective_sort(body: dict, id_field: str) -> list[tuple[str, str]]:
    """The effective (field, dir) sort keys of a filter-context search:
    the explicit field sorts plus the id tiebreak the compiler appends
    — the tuple a scroll cursor must carry."""
    order: list[tuple[str, str]] = []
    for s in body.get("sort", []):
        if isinstance(s, str):
            f, d = s, "asc"
        else:
            f, spec = next(iter(s.items()))
            d = spec if isinstance(spec, str) else spec.get("order", "asc")
        if f == "_score":
            raise SqlSyntaxError(
                "es_dsl: scroll requires filter context (no _score sort)"
            )
        order.append((f, d))
    if id_field not in [f for f, _ in order]:
        order.append((id_field, "asc"))
    return order


def _encode_scroll_id(state: dict) -> str:
    import base64 as _b64  # noqa: PLC0415
    import json as _json  # noqa: PLC0415

    return _b64.urlsafe_b64encode(
        _json.dumps(state, sort_keys=True).encode()
    ).decode()


def _decode_scroll_id(scroll_id: str) -> dict:
    import base64 as _b64  # noqa: PLC0415
    import json as _json  # noqa: PLC0415

    try:
        return _json.loads(_b64.urlsafe_b64decode(scroll_id.encode()))
    except Exception as exc:
        raise SqlSyntaxError(f"es_dsl: bad scroll_id: {exc}")


def es_scroll_page(
    spark: SparkSession, index: str, body: dict,
    after: list | None = None, id_field: str = "doc_id",
) -> DataFrame:
    """One scroll page as a lazy DataFrame: the body with the cursor
    injected as `search_after`. The cursor compiles to a lexicographic
    predicate that prunes AT THE SCAN (es_dsl search_after), so page N
    of a 100 TB result costs what page 1 costs — the reason this
    scroll is STATELESS: no server-side context to expire, the
    scroll_id IS the position."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        compile_search,
    )

    if index is None or body is None:
        raise ParamsNullError()
    body = dict(body)
    body.pop("from", None)
    if after is not None:
        body["search_after"] = after
    schemas = {index: spark.table(index).schema}
    return spark.sql(
        compile_search(index, body, "spark", id_field, schemas=schemas)
    )


def es_scroll(
    spark: SparkSession, index: str | None, body: dict | None = None,
    scroll_id: str | None = None, id_field: str | None = None,
    max_rows: int = DEFAULT_MAX_ROWS,
) -> dict:
    """`POST /{index}/_search?scroll=...` (open: body, no scroll_id)
    and `POST /_search/scroll` (continue: scroll_id alone). The
    returned _scroll_id encodes (index, body, id_field, last sort
    tuple) — stateless, survives server restarts, costs nothing to
    abandon. Requires every effective sort field in the result columns
    (that is where the next cursor is read from); scored bodies raise
    (filter context only)."""
    if scroll_id is not None:
        state = _decode_scroll_id(scroll_id)
        index, body = state["index"], state["body"]
        id_field, after = state["id_field"], state["after"]
    else:
        if index is None or body is None:
            raise ParamsNullError()
        index = _resolve_alias(index, spark)
        if id_field is None:
            id_field = spark.table(index).columns[0]
        after = None
    order = effective_sort(body, id_field)
    df = es_scroll_page(spark, index, body, after, id_field)
    missing = [f for f, _ in order if f not in df.columns]
    if missing:
        raise SqlSyntaxError(
            f"es_dsl: scroll sort fields {missing} must be in _source "
            "(the cursor is read from the returned columns)"
        )
    rows = df.limit(max_rows).collect()
    if rows:
        last = rows[-1]
        after = [last[f] for f, _ in order]
        # JSON-encodable cursor: temporal sort keys round-trip as ISO
        # strings (the compiler's string literals coerce back)
        after = [
            v.isoformat() if hasattr(v, "isoformat") else v for v in after
        ]
    next_id = _encode_scroll_id({
        "index": index, "body": {k: v for k, v in body.items()
                                 if k != "search_after"},
        "id_field": id_field, "after": after,
    })
    return {
        "_scroll_id": next_id,
        "hits": {
            "total": {"value": len(rows), "relation": "eq"},
            "hits": [
                {"_index": index, "_source": r.asDict(recursive=True)}
                for r in rows
            ],
        },
    }


# --- _explain / _cat/count / _cat/health -------------------------------------


def es_explain(spark: SparkSession, index: str, doc_id, body: dict,
               id_field: str | None = None) -> dict:
    """`POST /{index}/_explain/{id}` parity: does THIS document match
    the query — one point lookup (id predicate pushed to the scan)
    under the compiled filter-context membership expression. The
    explanation carries the compiled SQL predicate instead of a Lucene
    score tree (this engine's honest equivalent); scored-only kinds
    (more_like_this, knn, pinned) raise — membership is the question
    _explain answers here."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _query_expr,
    )

    if index is None or doc_id is None:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    q = (body or {}).get("query", {"match_all": {}})
    try:
        pred = _query_expr(q, "spark", id_field or "doc_id")
    except ValueError as exc:
        raise SqlSyntaxError(str(exc))
    df = spark.table(index)
    idc = id_field or df.columns[0]
    key = _doc_key(doc_id)
    from pyspark.sql import functions as F  # noqa: PLC0415

    hit = (
        df.filter(F.col(idc) == key)
        .filter(F.expr(f"coalesce({pred}, FALSE)"))
        .limit(1)
        .count()
    )
    exists = hit or df.filter(F.col(idc) == key).limit(1).count()
    return {
        "_index": index,
        "_id": str(doc_id),
        "matched": bool(hit),
        "explanation": {
            "description": (
                f"membership of compiled predicate: {pred}"
                if exists else "document does not exist"
            ),
        },
    }


def cat_count(spark: SparkSession, index: str | None = None) -> dict:
    """`GET /_cat/count[/{index}]?format=json` parity: one total doc
    count — one metadata-only aggregate per table."""
    if index is not None:
        index = _resolve_alias(index, spark)
        if not spark.catalog.tableExists(index):
            raise ParamsNullError()
        n = spark.table(index).count()
    else:
        n = sum(
            int(r["docs_count"]) for r in cat_indices_df(spark).collect()
        )
    return {"count": str(n)}


def cat_health(spark: SparkSession) -> dict:
    """`GET /_cat/health?format=json` parity: the constant-green
    single-node shape (this engine has no shard states), with the
    index count as the one live datum."""
    n = len(cat_indices_df(spark).collect())
    return {
        "status": "green",
        "node.total": "1",
        "shards": str(n),
        "pri": str(n),
        "relo": "0",
        "init": "0",
        "unassign": "0",
    }


# --- _termvectors --------------------------------------------------------------


def termvectors_sql(index: str, doc_id, field: str, id_field: str,
                    dialect: str) -> str:
    """`GET /{index}/_termvectors/{id}` as a relation: (term,
    term_freq) of ONE document's analyzed field — an id-pushdown point
    lookup, then a vocabulary-bounded explode+GROUP BY. Shared by the
    Spark verb and the DuckDB oracle."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _ident,
        _lit,
        _tokens_expr,
    )

    if not index or doc_id is None or not field:
        raise ParamsNullError()
    if dialect not in ("spark", "duck"):
        raise SqlSyntaxError(f"es_dsl: unknown dialect {dialect!r}")
    te = _tokens_expr(_ident(field), dialect)
    stream = (
        f"SELECT explode({te}) AS term" if dialect == "spark"
        else f"SELECT unnest({te}) AS term"
    )
    key = _doc_key(doc_id)
    return f"""
SELECT term, count(*) AS term_freq
FROM ({stream} FROM {_ident(index)}
      WHERE {_ident(id_field)} = {_lit(key, dialect)})
WHERE term <> ''
GROUP BY term
ORDER BY term ASC
"""


def es_termvectors_df(spark: SparkSession, index: str, doc_id,
                      field: str, id_field: str | None = None) -> DataFrame:
    index = _resolve_alias(index, spark)
    idc = id_field or spark.table(index).columns[0]
    return spark.sql(termvectors_sql(index, doc_id, field, idc, "spark"))


def mtermvectors_sql(index: str, doc_ids: list, field: str,
                     id_field: str, dialect: str) -> str:
    """`POST /{index}/_mtermvectors` as a relation: (_id, term,
    term_freq) for a LIST of documents' analyzed field — the id list
    pushes down to the scan, then one vocabulary-bounded
    explode+GROUP BY over just those rows (N docs cost ONE statement,
    not N point lookups). Shared by the Spark verb and the oracle."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _ident,
        _lit,
        _tokens_expr,
    )

    if not index or not doc_ids or not field:
        raise ParamsNullError()
    if dialect not in ("spark", "duck"):
        raise SqlSyntaxError(f"es_dsl: unknown dialect {dialect!r}")
    if not isinstance(doc_ids, list) or len(doc_ids) > 1000:
        raise SqlSyntaxError(
            "es_dsl: _mtermvectors wants a list of <= 1000 ids"
        )
    keys = [_doc_key(d) for d in doc_ids]
    in_list = ", ".join(_lit(k, dialect) for k in keys)
    te = _tokens_expr(_ident(field), dialect)
    idc = _ident(id_field)
    stream = (
        f"SELECT {idc} AS _id, explode({te}) AS term"
        if dialect == "spark"
        else f"SELECT {idc} AS _id, unnest({te}) AS term"
    )
    return f"""
SELECT _id, term, count(*) AS term_freq
FROM ({stream} FROM {_ident(index)}
      WHERE {idc} IN ({in_list}))
WHERE term <> ''
GROUP BY _id, term
ORDER BY _id ASC, term ASC
"""


def es_mtermvectors_df(spark: SparkSession, index: str, doc_ids: list,
                       field: str,
                       id_field: str | None = None) -> DataFrame:
    index = _resolve_alias(index, spark)
    idc = id_field or spark.table(index).columns[0]
    return spark.sql(mtermvectors_sql(index, doc_ids, field, idc, "spark"))


def es_mtermvectors(spark: SparkSession, index: str, body: dict,
                    id_field: str | None = None) -> dict:
    """`POST /{index}/_mtermvectors` parity: the `{docs: [...]}`
    envelope, one per requested id (missing ids report found=false,
    the ES shape). Accepts `ids` + `fields` (also under the ES
    `parameters` nesting); one analyzed field, the _termvectors
    contract. Bounded collect — the requested docs' vocabulary."""
    if body is None:
        raise ParamsNullError()
    params = body.get("parameters") or {}
    ids = body.get("ids") or params.get("ids")
    fields = body.get("fields") or params.get("fields")
    if not isinstance(ids, list) or not ids or not isinstance(
        fields, list
    ) or len(fields) != 1:
        raise SqlSyntaxError(
            "es_dsl: _mtermvectors wants {ids: [...], fields: [one]}"
        )
    field = fields[0]
    # Resolve the alias ONCE so the envelope echoes the concrete
    # index (the ES shape) and existence/terms read the same table.
    index = _resolve_alias(index, spark)
    rows = es_mtermvectors_df(spark, index, ids, field, id_field).collect()
    by_id: dict[str, dict] = {}
    for r in rows:
        by_id.setdefault(str(r["_id"]), {})[r["term"]] = {
            "term_freq": int(r["term_freq"])
        }
    # found reflects document EXISTENCE, not token presence: a doc
    # whose analyzed field yields zero tokens (empty/NULL text) is
    # found=true with empty term_vectors in ES (ADVICE r11). One
    # extra id-pushdown point lookup, bounded by len(ids).
    idc = id_field or spark.table(index).columns[0]
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _ident,
        _lit,
    )

    keys = [_doc_key(d) for d in ids]
    in_list = ", ".join(_lit(k, "spark") for k in keys)
    existing = {
        str(r[0]) for r in spark.sql(
            f"SELECT {_ident(idc)} FROM {_ident(index)} "
            f"WHERE {_ident(idc)} IN ({in_list})"
        ).collect()
    }
    return {"docs": [
        {
            "_index": index,
            "_id": str(i),
            "found": str(i) in existing,
            "term_vectors": (
                {field: {"terms": by_id.get(str(i), {})}}
                if str(i) in existing else {}
            ),
        }
        for i in ids
    ]}


def es_termvectors(spark: SparkSession, index: str, doc_id, field: str,
                   id_field: str | None = None) -> dict:
    """`GET /{index}/_termvectors/{id}?fields=...` parity: the ES
    term_vectors envelope for one analyzed field. Bounded collect —
    one document's vocabulary. Like _mtermvectors, found reflects
    document existence (a zero-token field is found=true with empty
    terms) and the envelope echoes the concrete index."""
    index = _resolve_alias(index, spark)
    rows = es_termvectors_df(spark, index, doc_id, field, id_field).collect()
    found = bool(rows)
    if not found:
        from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
            _ident,
            _lit,
        )

        idc = id_field or spark.table(index).columns[0]
        key = _doc_key(doc_id)
        found = bool(spark.sql(
            f"SELECT 1 FROM {_ident(index)} "
            f"WHERE {_ident(idc)} = {_lit(key, 'spark')} LIMIT 1"
        ).collect())
    return {
        "_index": index,
        "_id": str(doc_id),
        "found": found,
        "term_vectors": {field: {"terms": {
            r["term"]: {"term_freq": int(r["term_freq"])} for r in rows
        }}},
    }


# --- point in time (stateless snapshot assertion) ----------------------------


def _index_fingerprint(spark: SparkSession, index: str) -> str:
    """The snapshot identity of a registered table: md5 over its
    sorted input-file URIs. The engine's tables are immutable parquet,
    so "a point in time" IS the file set — no server-side state to
    keep alive, nothing to expire."""
    import hashlib  # noqa: PLC0415

    files = sorted(spark.table(index).inputFiles())
    return hashlib.md5("\n".join(files).encode()).hexdigest()


def _pit_codec():
    import base64  # noqa: PLC0415
    import json  # noqa: PLC0415

    return base64, json


def es_open_pit(spark: SparkSession, index: str,
                keep_alive: str | None = None) -> dict:
    """`POST /{index}/_pit` parity: open a point-in-time handle. The
    id encodes (index, file-set fingerprint); keep_alive is accepted
    and irrelevant — nothing server-side expires (the same stateless
    discipline as the scroll cursor)."""
    base64, json = _pit_codec()
    if index is None:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    if not spark.catalog.tableExists(index):
        raise NotFoundError(f"no such index: {index!r}")
    state = {"index": index, "fp": _index_fingerprint(spark, index)}
    pit_id = base64.urlsafe_b64encode(
        json.dumps(state, sort_keys=True).encode()
    ).decode()
    return {"id": pit_id}


def es_pit_search(spark: SparkSession, body: dict,
                  max_rows: int = DEFAULT_MAX_ROWS) -> QueryResult:
    """`POST /_search` with a `pit` body section: the search runs
    against the pit's index AFTER asserting the snapshot fingerprint
    still matches the table's current file set — a changed file set
    means the point in time no longer exists, and the search fails
    loudly (ES's 404 for an expired PIT) instead of silently reading
    different data."""
    base64, json = _pit_codec()
    if body is None or "pit" not in body:
        raise ParamsNullError()
    pit = body["pit"]
    if not isinstance(pit, dict) or "id" not in pit or (
        set(pit) - {"id", "keep_alive"}
    ):
        raise SqlSyntaxError("es_dsl: pit wants {id, keep_alive?}")
    try:
        state = json.loads(base64.urlsafe_b64decode(pit["id"]).decode())
        index, fp = state["index"], state["fp"]
    except Exception:
        raise SqlSyntaxError("es_dsl: pit id does not decode")
    # Both "unknown index inside a decodable pit id" and "file set
    # changed" are ES 404s (the point in time no longer exists) — not
    # 401 (authz) and not an unhandled AnalysisException (500).
    if not spark.catalog.tableExists(index):
        raise NotFoundError(
            f"pit names unknown index {index!r}; the point in time "
            "no longer exists"
        )
    current = _index_fingerprint(spark, index)
    if current != fp:
        raise NotFoundError(
            f"pit for {index!r} no longer matches the table's file set "
            "(snapshot changed); open a new pit"
        )
    rest = {k: v for k, v in body.items() if k != "pit"}
    return es_search(spark, index, rest, max_rows=max_rows)


# --- reindex (read one index, bulk-write another) -----------------------------


def es_reindex(
    spark: SparkSession,
    body: dict,
    sink,
    id_field: str | None = None,
) -> dict:
    """`POST /_reindex` parity: copy documents from a source index to
    a destination index through the engine's bulk write path —
    source-side `query` filters at the scan, `_source` prunes columns,
    `max_docs` caps the copy, and the source's id column becomes the
    destination `_id` (ES preserves ids across a reindex).

    Scale shape: the read side is an ordinary pushdown scan (filter +
    projection reach parquet), the write side is the sink's
    executor-parallel bulk protocol — the driver never holds documents;
    a max_docs cap is a TakeOrdered, deterministic by the id order.
    Returns the ES response shape {took, total, created}."""
    import time as _time  # noqa: PLC0415

    from golang_db_query_engine_elasticsearch_indexer_spark.indexer import (  # noqa: PLC0415
        ID_COL,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        _ident,
        _query_expr,
        _source_cols,
    )

    if body is None or sink is None:
        raise ParamsNullError()
    bad = set(body) - {"source", "dest", "max_docs"}
    if bad:
        raise SqlSyntaxError(f"es_dsl: unsupported reindex keys {sorted(bad)}")
    src, dest = body.get("source"), body.get("dest")
    if not isinstance(src, dict) or "index" not in src or (
        set(src) - {"index", "query", "_source"}
    ):
        raise SqlSyntaxError(
            "es_dsl: reindex source wants {index, query?, _source?}"
        )
    if not isinstance(dest, dict) or set(dest) != {"index"}:
        raise SqlSyntaxError("es_dsl: reindex dest wants {index}")
    # the source accepts an alias like every other index-addressed
    # verb (ADVICE r11); single-target only — a reindex reads ONE
    # concrete index
    index = _resolve_alias(src["index"], spark)
    idc = id_field or spark.table(index).columns[0]
    where = _query_expr(
        src.get("query", {"match_all": {}}), "spark", idc
    )
    cols = _source_cols(src, "reindex source")
    if cols and idc not in cols:
        cols = [idc, *cols]
    select = ", ".join(_ident(c) for c in cols) if cols else "*"
    sql = f"SELECT {select} FROM {_ident(index)} WHERE {where}"
    md = body.get("max_docs")
    if md is not None:
        if not isinstance(md, int) or isinstance(md, bool) or md < 1:
            raise SqlSyntaxError("es_dsl: max_docs must be an int >= 1")
        sql += f"\nORDER BY {_ident(idc)} ASC\nLIMIT {md}"
    t0 = _time.time()
    df = spark.sql(sql)
    from pyspark.sql import functions as F  # noqa: PLC0415

    df_with_id = df.withColumn(ID_COL, F.col(idc).cast("string"))
    stats = sink.write(spark, df_with_id, dest["index"])
    return {
        "took": int((_time.time() - t0) * 1000),
        "total": stats.num_docs,
        "created": stats.num_docs,
        "failures": [],
    }


def es_rank_eval(spark: SparkSession, index: str, body: dict) -> dict:
    """`POST /{index}/_rank_eval` parity: per-request metric scores +
    their mean as `metric_score` (the ES response's top-level value).
    Bounded collect — one row per evaluated request."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.es_dsl import (  # noqa: PLC0415
        compile_rank_eval,
    )

    if index is None or body is None:
        raise ParamsNullError()
    index = _resolve_alias(index, spark)
    rows = spark.sql(compile_rank_eval(index, body, "spark")).collect()
    details = {r["request_id"]: float(r["metric_score"]) for r in rows}
    mean = sum(details.values()) / len(details) if details else 0.0
    return {
        "metric_score": round(mean, 6),
        "details": {
            rid: {"metric_score": v} for rid, v in details.items()
        },
    }


def _stats_targets(
    spark: SparkSession, index: str
) -> tuple[str, ...]:
    """Concrete targets for the _stats/_settings verbs: the full
    index-expression grammar, with unknown concrete names a typed 404
    (not the AnalysisException 400 spark.table would raise later)."""
    if "," in index or "*" in index:
        return _expand_index_expression(spark, index)
    targets = _alias_targets(spark, index)
    for t in targets:
        if not spark.catalog.tableExists(t):
            raise NotFoundError(f"no such index: {t!r}")
    return targets


def _index_file_stats(spark: SparkSession, index: str) -> tuple[int, int]:
    """(file_count, total_bytes) of a registered table's input files,
    via the Hadoop FS API (scheme-agnostic) — listing only, no data
    scan."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    n, size = 0, 0
    for f in spark.table(index).inputFiles():
        p = jvm.org.apache.hadoop.fs.Path(f)
        fs = p.getFileSystem(conf)
        size += int(fs.getFileStatus(p).getLen())
        n += 1
    return n, size


def es_index_stats(spark: SparkSession, index: str) -> dict:
    """`GET /{index}/_stats` parity (the everyday capacity-check
    verb): per-index doc count and store size in the ES response
    shape — {"_all": {"primaries": ...}, "indices": {name: ...}}.
    Accepts the full index-expression grammar. Doc counts are one
    count(*) aggregate per index (metadata-only on parquet); store
    size is an FS listing of the table's input files — honest bytes,
    no scan."""
    if index is None:
        raise ParamsNullError()
    targets = _stats_targets(spark, index)
    indices: dict = {}
    all_docs, all_bytes = 0, 0
    for t in targets:
        docs = spark.table(t).count()
        _n, size = _index_file_stats(spark, t)
        all_docs += docs
        all_bytes += size
        stats = {"docs": {"count": docs, "deleted": 0},
                 "store": {"size_in_bytes": size}}
        indices[t] = {"primaries": stats, "total": stats}
    all_stats = {"docs": {"count": all_docs, "deleted": 0},
                 "store": {"size_in_bytes": all_bytes}}
    return {"_all": {"primaries": all_stats, "total": all_stats},
            "indices": indices}


def es_index_settings(spark: SparkSession, index: str) -> dict:
    """`GET /{index}/_settings` parity: the static index settings in
    the ES response shape. Honest mapping onto the engine's model:
    number_of_shards reports the table's input-file count (the
    parallelism unit a parquet table actually has), replicas 0 (the
    storage layer owns durability, not the engine). Accepts the full
    index-expression grammar; one entry per concrete index."""
    import hashlib  # noqa: PLC0415

    if index is None:
        raise ParamsNullError()
    targets = _stats_targets(spark, index)
    out: dict = {}
    for t in targets:
        n, _size = _index_file_stats(spark, t)
        out[t] = {"settings": {"index": {
            "number_of_shards": str(max(n, 1)),
            "number_of_replicas": "0",
            "provided_name": t,
            "uuid": hashlib.md5(t.encode()).hexdigest()[:22],
        }}}
    return out


def es_resolve_index(spark: SparkSession, pattern: str) -> dict:
    """`GET /_resolve/index/{pattern}` parity: the registered tables
    matching a wildcard pattern (* only), in the ES response shape.
    Driver-side catalog work — no data touched."""
    import fnmatch  # noqa: PLC0415

    if pattern is None or not str(pattern).strip():
        raise ParamsNullError()
    names = [t for t in _indices(spark) if fnmatch.fnmatchcase(t, pattern)]
    return {
        "indices": [
            {"name": n, "attributes": ["open"]} for n in names
        ],
        # aliases matching the pattern, with their target indices —
        # the ES response's second section (empty before aliases
        # existed; populated since the r12 multi-target work)
        "aliases": [
            {"name": a, "indices": list(targets)}
            for a, targets in sorted(_aliases(spark).items())
            if fnmatch.fnmatchcase(a, pattern)
        ],
        "data_streams": [],
    }
