"""The benchmark's workloads: api (reads and saves) and batch (kernels).

A workload is a list of rounds; a round is a fixed list of operations, the
same in every run, so a run that attempts whole rounds always attempts the
same mix. ``round_ops(r)`` returns round ``r``'s operations as ``Op``
records: ``run()`` is the timed call into the engine and returns what the
engine answered; ``check(answer)`` runs after the measured window and returns
``None`` for a right answer or the reason it is wrong.

Expected answers come from DuckDB over the same Parquet files, from the
receiver's spool of ``_bulk`` bodies, or from properties of the answer (see
``checks``); none of them is a stored copy of an earlier run's output.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass
from typing import Any, Callable

import checks

SF_MAIN = "sf0.01"
SF_SMALL = "sf0.001"
SEARCH_TERMS = tuple(w for w in (
    "data query table spark join agg sort hash merge scan filter key value row "
    "column part order line customer group window stream batch fast slow big "
    "small index search engine plan cache shard node"
).split())

# The kernels the batch workload runs, in pass order: one plain SQL query
# (q3, one or two Spark jobs) against registry operators that each run tens
# of Spark jobs from the driver.
BATCH_KERNELS = (
    "q3_shipping_priority",
    "sketch_histogram_quantiles",
    "join_bloom_prefilter",
)

SAVE_COLUMNS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
)
SAVE_SQL = (
    f"SELECT {', '.join(SAVE_COLUMNS)} FROM orders JOIN customer ON o_custkey = c_custkey"
)
SAVE_INDEX = "orders_customers"


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]
    # untimed hooks: ``before()`` runs just ahead of the timer, and
    # ``after(answer)`` right after it, returning what ``check`` receives
    before: Callable[[], None] | None = None
    after: Callable[[Any], Any] | None = None
    # documents (or result rows) the answer delivered, for docs_per_s
    rows: Callable[[Any], int] = lambda answer: 0


def _status(resp, want: int = 200) -> str | None:
    if resp.status_code != want:
        return f"HTTP {resp.status_code}: {resp.get_data(as_text=True)[:200]}"
    return None


class Context:
    """What every workload needs: the Flask test client of the engine's app,
    DuckDB connections over the fixture directories, and the directories."""

    def __init__(self, client, duck: dict, dirs: dict, run_dir: str):
        self.client = client
        self.duck = duck
        self.dirs = dirs
        self.run_dir = run_dir

    def rows(self, db: str, sql: str, args: list | None = None) -> tuple[list[str], list[tuple]]:
        rel = self.duck[db].execute(sql, args or [])
        return [d[0] for d in rel.description], rel.fetchall()

    def get_query(self, db: str, sql: str, params: dict | None = None):
        args = {"dbDriver": "parquet", "dbName": db, "query": sql}
        if params:
            args["params"] = json.dumps(params)
        return self.client.get("/query/", query_string=args)

    def post(self, path: str, db: str, **kw):
        return self.client.post(path, query_string={"dbDriver": "parquet", "dbName": db}, **kw)


# -- api ----------------------------------------------------------------------

class Api:
    """One closed-loop client of the engine's HTTP API. A round is ten read
    requests, nine against sf0.01 and the last against sf0.001 (so each round
    switches databases twice), then one ``POST /elastic/save/`` of a fixed
    sf0.01 query into the benchmark's own ``_bulk`` receiver."""

    def __init__(self, ctx: Context, seed: int, receiver):
        self.ctx = ctx
        self.seed = seed
        self.receiver = receiver
        self.n_orders = ctx.rows(SF_MAIN, "SELECT count(*) FROM orders")[1][0][0]
        self.doc_text = dict(ctx.rows(SF_MAIN, "SELECT doc_id, text FROM documents")[1])
        self.save_columns, self.save_want = ctx.rows(SF_MAIN, SAVE_SQL + " ORDER BY o_orderkey")

    def draw(self, r: int) -> dict:
        """Round ``r``'s inputs: lookup keys, a search term, price bounds."""
        rng = random.Random(f"{self.seed}:{r}")
        lo = rng.randrange(5_000, 400_000)
        return {
            "q": rng.randrange(5, 46),
            "lo": lo,
            "hi": lo + rng.randrange(20_000, 100_000),
            "k1": rng.randrange(self.n_orders),
            "k2": rng.randrange(self.n_orders),
            "term": rng.choice(SEARCH_TERMS),
            "min_price": rng.randrange(50_000, 450_000),
        }

    def round_ops(self, r: int) -> list[Op]:
        p = self.draw(r)
        ctx = self.ctx
        singles: dict[str, dict] = {}
        match_body = {"query": {"match": {"text": p["term"]}}, "size": 10}
        terms_body = {
            "size": 0,
            "query": {"range": {"o_totalprice": {"gte": p["lo"], "lt": p["hi"]}}},
            "aggs": {"t": {"terms": {"field": "o_orderpriority", "size": 10}}},
        }

        def sql_op(kind, db, sql, params, duck_sql, duck_args):
            def check(resp):
                err = _status(resp)
                if err:
                    return err
                payload = resp.get_json()
                cols, want = ctx.rows(db, duck_sql, duck_args)
                return checks.rows_match(checks.envelope_rows(payload, cols), want)
            return Op(kind, lambda: ctx.get_query(db, sql, params), check)

        agg_sql = ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
                   "avg(l_extendedprice) AS avg_price FROM lineitem WHERE l_quantity <= {} "
                   "GROUP BY l_returnflag, l_linestatus")
        join_sql = ("SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS total "
                    "FROM orders JOIN customer ON o_custkey = c_custkey "
                    "WHERE o_totalprice >= {} AND o_totalprice < {} GROUP BY c_mktsegment")
        lookup_sql = ("SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, c_name, "
                      "c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey "
                      "WHERE o_orderkey = {}")

        def lookup(kind, key):
            return sql_op(kind, SF_MAIN, lookup_sql.format(":k"), {"k": key},
                          lookup_sql.format("$1"), [key])

        def search_op(kind, index, body, check_payload):
            def run():
                return ctx.post(f"/{index}/_search", SF_MAIN, json=body)

            def check(resp):
                err = _status(resp)
                if err:
                    return err
                payload = resp.get_json()
                singles[kind] = payload
                return check_payload(payload)
            return Op(kind, run, check)

        def check_match(payload):
            return checks.check_bm25_hits(payload, p["term"], match_body["size"], self.doc_text)

        def check_terms(payload):
            _, want = ctx.rows(SF_MAIN, (
                "SELECT o_orderpriority, count(*) AS n FROM orders "
                "WHERE o_totalprice >= $1 AND o_totalprice < $2 "
                "GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority LIMIT 10"),
                [p["lo"], p["hi"]])
            got = [(row["t_key"], row["doc_count"]) for row in payload["data"]]
            return checks.ordered_rows_match(got, want)

        def count_op():
            body = {"query": {"range": {"o_totalprice": {"gte": p["lo"], "lt": p["hi"]}}}}

            def check(resp):
                err = _status(resp)
                if err:
                    return err
                _, want = ctx.rows(SF_MAIN, "SELECT count(*) FROM orders WHERE "
                                   "o_totalprice >= $1 AND o_totalprice < $2", [p["lo"], p["hi"]])
                return checks.check_count(resp.get_json()["count"], want[0][0])
            return Op("count", lambda: ctx.post("/orders/_count", SF_MAIN, json=body), check)

        def msearch_op():
            nd = "".join(json.dumps(x) + "\n" for x in (
                {"index": "documents"}, match_body, {"index": "orders"}, terms_body))

            def check(resp):
                err = _status(resp)
                if err:
                    return err
                return checks.check_msearch(resp.get_json(), [singles["match"], singles["terms"]])
            return Op("msearch", lambda: ctx.post("/_msearch", SF_MAIN, data=nd,
                                                  content_type="application/x-ndjson"),
                      check)

        def esql_op():
            query = (f"FROM orders | WHERE o_totalprice > {p['min_price']} "
                     "| STATS n = COUNT(*) BY o_orderstatus | SORT o_orderstatus")

            def check(resp):
                err = _status(resp)
                if err:
                    return err
                body = resp.get_json()
                names = [c["name"] for c in body["columns"]]
                cols, want = ctx.rows(SF_MAIN, (
                    "SELECT o_orderstatus, count(*) AS n FROM orders WHERE o_totalprice > $1 "
                    "GROUP BY o_orderstatus ORDER BY o_orderstatus"), [p["min_price"]])
                if sorted(names) != sorted(cols):
                    return f"columns {names} != {cols}"
                got = [tuple(row[names.index(c)] for c in cols) for row in body["values"]]
                return checks.ordered_rows_match(got, want)
            return Op("esql", lambda: ctx.post("/_query", SF_MAIN, json={"query": query}), check)

        return [
            sql_op("agg", SF_MAIN, agg_sql.format(":q"), {"q": p["q"]}, agg_sql.format("$1"), [p["q"]]),
            sql_op("join", SF_MAIN, join_sql.format(":lo", ":hi"), {"lo": p["lo"], "hi": p["hi"]},
                   join_sql.format("$1", "$2"), [p["lo"], p["hi"]]),
            lookup("lookup", p["k1"]),
            search_op("match", "documents", match_body, check_match),
            search_op("terms", "orders", terms_body, check_terms),
            count_op(),
            msearch_op(),
            esql_op(),
            lookup("lookup", p["k2"]),
            sql_op("join_small_db", SF_SMALL, join_sql.format(":lo", ":hi"),
                   {"lo": p["lo"], "hi": p["hi"]}, join_sql.format("$1", "$2"), [p["lo"], p["hi"]]),
            self.save_op(r),
        ]

    def save_op(self, r: int) -> Op:
        """The reference's write path: the fixed query bulk-indexed into the
        receiver, its documents verified from the receiver's spool."""
        spool = os.path.join(self.ctx.run_dir, f"bulk-{r}.ndjson")
        form = {"dbDriver": "parquet", "dbName": SF_MAIN, "indexName": SAVE_INDEX, "query": SAVE_SQL}

        def after(resp):
            return resp, self.receiver.stats(), spool

        def check(answer):
            resp, stats, path = answer
            err = _status(resp, 201)
            if err:
                return err
            body = resp.get_json()
            n = len(self.save_want)
            if body["num_flushed"] != n or body["num_failed"]:
                return f"flushed {body['num_flushed']} failed {body['num_failed']}, expected {n} and 0"
            if stats["lines"] != 2 * n:
                return f"receiver got {stats['lines']} lines, expected {2 * n}"
            with open(path, "rb") as f:
                pairs = checks.parse_bulk(f.read())
            os.remove(path)
            return checks.check_saved_docs(pairs, self.save_want, self.save_columns)

        return Op("save", lambda: self.ctx.client.post("/elastic/save/", data=form), check,
                  before=lambda: self.receiver.reset(spool), after=after,
                  rows=lambda answer: answer[1]["lines"] // 2)


# -- batch ------------------------------------------------------------------

class Batch:
    """Passes over a fixed list of registry kernels at sf0.01; a round is one
    pass, and each kernel's result is forced by collecting its rows (a
    ``count()`` would let Catalyst prune work a caller pays for)."""

    def __init__(self, ctx: Context, spark, expected: dict, tracer):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.spark = spark
        self.queries = entry.queries()
        self.expected = expected
        self.tracer = tracer

    def run_pass(self) -> dict:
        """kernel -> (columns, rows, milliseconds) for one pass."""
        out = {}
        for name in BATCH_KERNELS:
            if self.tracer.active:
                self.tracer.subgroup(name)
            t0 = time.perf_counter()
            with self.tracer.span(f"batch.{name}"):
                df = self.queries[name](self.spark, self.ctx.dirs[SF_MAIN])
                rows = df.collect()
            out[name] = (list(df.columns), [tuple(r) for r in rows], (time.perf_counter() - t0) * 1000)
        return out

    def round_ops(self, r: int) -> list[Op]:
        def check(answer):
            for name, (cols, rows, _ms) in answer.items():
                want_cols, want = self.expected[name]
                if sorted(cols) != sorted(want_cols):
                    return f"{name}: columns {cols} != {want_cols}"
                order = [cols.index(c) for c in want_cols]
                err = checks.rows_match([tuple(row[i] for i in order) for row in rows], want,
                                        rel=1e-6)
                if err:
                    return f"{name}: {err}"
            return None

        return [Op("pass", self.run_pass, check,
                   rows=lambda answer: sum(len(rows) for _cols, rows, _ms in answer.values()))]


def batch_expected(con, oracle_sql: dict) -> dict:
    """DuckDB answers of each kernel's registered oracle SQL."""
    out = {}
    for name in BATCH_KERNELS:
        rel = con.sql(oracle_sql[name])
        out[name] = (list(rel.columns), [tuple(r) for r in rel.fetchall()])
    return out
