"""ES|QL compiler: Elasticsearch's piped query language -> Spark SQL.

ES|QL (the `POST /_query` API, ES 8.11+) is the modern query surface
real ES users are migrating to: `FROM idx | WHERE a > 1 | STATS n =
COUNT(*) BY b | SORT n DESC | LIMIT 5`. This module compiles the
supported subset to ONE nested-SELECT SQL statement in both dialects
("spark" runs, "duck" oracles) — the same two-dialect discipline as
the Query-DSL compiler (operators/es_dsl.py), with the same loudness
contract: any source command, function, or operator outside the
subset raises ValueError at compile time, never a silent
mistranslation.

Supported source commands: FROM <index> [, <index>]...
[METADATA _index] (the source-name column that makes multi-index
reads filterable by origin; other metadata fields raise) and
ROW name = <expr> [, ...] (the inline one-row relation).
Multi-index FROM (`FROM idx1,idx2`) compiles to UNION ALL over the
listed tables with the ES missing-column-as-NULL rule; the caller
passes each table's schema (compile_esql's ``schemas``), and a listed
table without one raises loudly. esql_df reads those schemas from the
request session's catalog, after expanding aliases and wildcards
(`FROM doc*`) against that session's tables; DuckDB oracles pass
fixture footer schemas (session.footer_schemas).
Processing commands, applied in pipe order:

- WHERE <boolean expr>
- EVAL name = <expr> [, name = <expr>]...
- STATS [name =] AGG(expr) [, ...] [BY key [, key]...]
  with COUNT(*) / COUNT / COUNT_DISTINCT / SUM / AVG / MIN / MAX /
  MEDIAN / PERCENTILE(x, p) / WEIGHTED_AVG(v, w) / TOP(x, k, order) /
  VALUES(x) — SUM/AVG go through the engine's
  exact-DECIMAL quantize discipline so partial-aggregation order
  can't flip a bit; PERCENTILE is the exact interpolated quantile
  (ES's own is TDigest-approximate), quantized like MEDIAN;
  WEIGHTED_AVG forms its products over the matrix_stats per-dialect
  exact-decimal widths; TOP returns the ordered top-k VALUES as a
  multivalue (NULLs dropped, the ES missing rule); VALUES returns
  the distinct values pinned to sorted-ascending (ES documents no
  order — the MV_DEDUPE pinning precedent) so the output is
  deterministic and oracle-checkable; each
  aggregate takes an optional per-aggregate `WHERE cond` (ES 8.13),
  compiled as a CASE wrap of the aggregate's argument
- SORT field [ASC|DESC] [NULLS FIRST|LAST] [, ...] — the null
  position is ALWAYS rendered explicitly: ES|QL treats null as the
  largest value (ASC last / DESC first), and the engines' defaults
  are opposite (Spark null-smallest, DuckDB null-largest), so a bare
  `col ASC` under LIMIT would silently pick different rows
- LIMIT n
- KEEP f [, f]... / DROP f [, f]... / RENAME old AS new [, ...]
- LOOKUP JOIN <index> ON <key>  (the 8.18 enrich join: LEFT JOIN
  USING, broadcast when the lookup side is small)
- ENRICH <policy> ON <match_field> WITH [name =] field [, ...] —
  the classic enrich-processor idiom; the policy name is modeled as
  the source index (the engine has no separate policy store), and the
  WITH list is REQUIRED (projecting "all policy fields" needs a
  schema the text compiler doesn't assume). Compiles to a LEFT JOIN
  USING against a pruned projection — broadcast by the planner, the
  ENRICH execution model
- GROK col "%{WORD:name} ..." / DISSECT col "%{a}-%{b}" — NULL-guarded
  regexp_extract projections (typed grok captures; non-matching rows
  keep the row with NULL captures, the ES behavior)
- MV_EXPAND col — explode a multivalued column
- INLINESTATS name = AGG(expr) [BY keys] — aggregates WITHOUT
  collapsing, as PARTITION BY window functions
- SAMPLE <prob> ON <field> [<seed>] — DETERMINISTIC documented
  deviation (keyed md5-uniform coin flip; the spec's bare rand()
  form raises loudly — see the command comment)
- CHANGE_POINT <value> ON <key> [AS type, pvalue] — DETERMINISTIC
  documented deviation (mean-shift locator over DECIMAL prefix sums
  where ES runs an ML test; pass-through rows, ES output shape;
  input contract: an already-aggregated series — ENFORCED in-plan:
  duplicate/NULL keys raise, they are never silently ordered)
- FORK (branch) (branch) ... — 2..8 sub-pipelines over the current
  table, concatenated with the _fork discriminator ('fork1'..),
  compiled by textual recursion into ONE UNION ALL (branches must
  end with the same column set — stricter than ES's NULL-padding,
  loud at analysis)

Expression grammar (shared by WHERE/EVAL/STATS/SORT):
identifiers (dotted names raise here — ES|QL flattens objects at
mapping time, which this engine models as real columns), integer /
float / "string" literals, + - * / %, == != > >= < <=, AND OR NOT,
parentheses, IN (v, ...), IS NULL / IS NOT NULL, LIKE "wildcard*"
(ES|QL wildcard syntax: * and ?, translated to SQL LIKE with explicit
ESCAPE), RLIKE "regex" (dialect-resolved), and the scalar functions
ROUND(x[, d]) / ABS / LENGTH / CONCAT / TO_LOWER / TO_UPPER /
COALESCE / SUBSTRING / DATE_TRUNC (cast-pinned to TIMESTAMP in both
engines) / CASE (NULL-falls-through) / STARTS_WITH /
DATE_FORMAT("yyyy-MM-dd HH:mm:ss" subset, translated to strftime for
the oracle dialect) / DATE_DIFF(unit, start, end) (fixed-length units
second/minute/hour/day as truncated multiples of the microsecond-exact
epoch difference — tz conventions cancel in the difference; month/year
raise) / the MV_* multivalue family over array columns — MV_COUNT /
MV_MIN / MV_MAX / MV_SUM / MV_AVG (sequential fold in both engines,
result quantized DECIMAL(18,6)->DOUBLE) / MV_CONCAT(arr, delim) /
MV_SORT (nulls-last asc; desc is the exact reverse in both engines) /
MV_DEDUPE (pinned to sorted NULL-dropped output — the engines' native
dedups disagree on order and NULLs) / MV_SLICE (the ES 0-based
inclusive bounds; integer literals only, negatives raise) — plus
POW / SQRT / EXP / LOG10 / GREATEST / LEAST / LEFT / RIGHT / REPLACE /
REVERSE (name+semantics identical in both dialects, probed), CEIL /
FLOOR (pinned to DOUBLE: Spark returns BIGINT, DuckDB the input type),
TO_DATETIME, SPLIT (literal separator — Spark's split() is a
regex, so the compiler regex-escapes it), DATE_EXTRACT (Java
ChronoField names, cast-pinned to BIGINT), LOCATE (instr: same
argument order and 0-when-absent in both engines), ENDS_WITH, and
BUCKET — the Kibana groupby idiom: time spans (count 1 via
cast-pinned date_trunc; repeated FIXED-length spans on integer epoch
micros) and the numeric (count, min, max) form picking the smallest
1/2/5x10^k width within the bucket budget, zero-anchored, width
literals pinned to DOUBLE.
STATS BY accepts aliased expression keys (BY day = DATE_TRUNC("day",
ts)); WHERE after STATS is HAVING via pipe nesting.

Scale shape: the compiled statement is ordinary Catalyst SQL — WHERE
stages sit below the aggregation and reach the parquet scan as pushed
filters; STATS is one partial+final aggregation; SORT+LIMIT after
STATS is a TakeOrdered over the bucket relation. Pipe order is
preserved semantically, but the OPTIMIZER reorders physically — the
reason compiling to a declarative plan beats interpreting the pipe.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_DEC = "DECIMAL(28, 6)"

_TOKEN = re.compile(
    r"""\s*(
      "(?:[^"\\]|\\.)*"            # double-quoted string
    | \d+\.\d+ | \d+               # numbers
    | [A-Za-z_][A-Za-z0-9_]*       # identifier / keyword / function
    | == | != | >= | <= | [-+*/%(),><=]
    )""",
    re.X,
)

_KEYWORDS = {
    "AND", "OR", "NOT", "IN", "IS", "NULL", "LIKE", "RLIKE", "ASC",
    "DESC", "BY", "AS", "TRUE", "FALSE",
}

_FUNCS = {
    "ROUND": (1, 2), "ABS": (1, 1), "LENGTH": (1, 1),
    "CONCAT": (1, 99), "TO_LOWER": (1, 1), "TO_UPPER": (1, 1),
    "COALESCE": (1, 99), "SUBSTRING": (2, 3), "TRIM": (1, 1),
    # batch 3: functions whose name AND semantics are identical in
    # both dialects (probed: null handling, arg ranges, return types)
    "POW": (2, 2), "SQRT": (1, 1), "EXP": (1, 1), "LOG10": (1, 1),
    "GREATEST": (2, 99), "LEAST": (2, 99),
    "LEFT": (2, 2), "RIGHT": (2, 2), "REPLACE": (3, 3),
    "REVERSE": (1, 1),
    # r12: probed identical (name, arity, NULL handling, bit-exact
    # results) in both dialects. Deliberate exclusions: CBRT (last-ulp
    # divergence measured: duck cbrt(27)=3.0000000000000004, spark
    # 3.0), SIGNUM (return type differs), one-arg LOG (DuckDB reads it
    # as log10, Spark as ln — the 2-arg explicit-base form is safe and
    # the only accepted arity, guarded below).
    "SIN": (1, 1), "COS": (1, 1), "TAN": (1, 1),
    "ASIN": (1, 1), "ACOS": (1, 1), "ATAN": (1, 1), "ATAN2": (2, 2),
    "LTRIM": (1, 1), "RTRIM": (1, 1), "PI": (0, 0),
    "LOG": (2, 2), "MD5": (1, 1),
}

# ES|QL type-conversion functions -> CAST targets. The numeric
# targets parse identically in both dialects; the string target is
# dialect-named (STRING vs VARCHAR), so TO_STRING renders via the
# __TOSTR__ placeholder the compiler resolves like __RLIKE__.
_CONVERSIONS = {
    "TO_INTEGER": "BIGINT", "TO_LONG": "BIGINT", "TO_DOUBLE": "DOUBLE",
}

_TRUNC_UNITS = {"minute", "hour", "day", "week", "month", "year"}

_AGGS = {"COUNT", "COUNT_DISTINCT", "SUM", "AVG", "MIN", "MAX", "MEDIAN",
         "VALUES", "TOP", "WEIGHTED_AVG",
         "PERCENTILE"}

# DATE_DIFF fixed-length units -> microseconds. Calendar units
# (month/year) have no fixed length, so "truncated multiples of the
# epoch difference" would be wrong for them — they raise.
_DIFF_UNIT_US = {
    "second": 1_000_000,
    "minute": 60_000_000,
    "hour": 3_600_000_000,
    "day": 86_400_000_000,
}

# DATE_FORMAT: the supported Java-pattern tokens (what ES|QL takes)
# and their strftime spellings for the DuckDB oracle dialect.
_FMT_TOKENS = {
    "yyyy": "%Y", "MM": "%m", "dd": "%d",
    "HH": "%H", "mm": "%M", "ss": "%S",
}
_FMT_SEPARATORS = set("-:/ T_.")

# DATE_EXTRACT: ES|QL takes Java ChronoField names; both engines
# share the same EXTRACT(field FROM ts) spelling for these.
_EXTRACT_FIELDS = {
    "year": "year", "month_of_year": "month", "day_of_month": "day",
    "hour_of_day": "hour", "minute_of_hour": "minute",
    "second_of_minute": "second",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# the FROM source command: (FROM )(index list)( METADATA (field))
_FROM = re.compile(
    r"(?is)(FROM\s+)([A-Za-z0-9_*]+(?:\s*,\s*[A-Za-z0-9_*]+)*)"
    r"(\s+METADATA\s+(\S+))?"
)


def _tokenize(s: str, what: str) -> list[str]:
    toks, i = [], 0
    while i < len(s):
        if s[i].isspace():
            i += 1
            continue
        m = _TOKEN.match(s, i)
        if not m:
            raise ValueError(f"esql: {what}: unsupported syntax at {s[i:]!r}")
        toks.append(m.group(1))
        i = m.end()
    return toks


def _like_pattern(raw: str) -> str:
    """ES|QL LIKE wildcards (* ?) -> SQL LIKE with explicit escape."""
    out = []
    for c in raw:
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("%", "_", "!"):
            out.append("!" + c)
        elif c == "'":
            out.append("''")
        else:
            out.append(c)
    return "".join(out)


class _Expr:
    """Recursive-descent expression parser over the shared grammar,
    emitting dialect-agnostic SQL text (every construct used parses
    identically in Spark SQL and DuckDB)."""

    def __init__(self, toks: list[str], what: str,
                 allow_aggs: bool = False, dialect: str | None = None,
                 agg_filter: str | None = None):
        self.toks = toks
        self.pos = 0
        self.what = what
        self.allow_aggs = allow_aggs
        self.dialect = dialect
        # per-aggregate predicate (STATS x = AGG(e) WHERE cond, ES
        # 8.13): compiled as a CASE wrap of the aggregate's argument —
        # equivalent to FILTER (WHERE ...) but portable across the
        # composite renderings (AVG is two aggregates here)
        self.agg_filter = agg_filter

    def peek(self) -> str | None:
        return self.toks[self.pos] if self.pos < len(self.toks) else None

    def peek_kw(self) -> str | None:
        t = self.peek()
        return t.upper() if t is not None else None

    def take(self) -> str:
        t = self.toks[self.pos]
        self.pos += 1
        return t

    def expect(self, t: str) -> None:
        got = self.take() if self.pos < len(self.toks) else None
        if got is None or got.upper() != t:
            raise ValueError(f"esql: {self.what}: expected {t!r}, got {got!r}")

    def _err(self, msg: str):
        raise ValueError(f"esql: {self.what}: {msg}")

    # precedence: OR < AND < NOT < comparison < additive < multiplicative

    def parse(self) -> str:
        e = self.or_expr()
        if self.pos != len(self.toks):
            self._err(f"trailing tokens {self.toks[self.pos:]!r}")
        return e

    def or_expr(self) -> str:
        e = self.and_expr()
        while self.peek_kw() == "OR":
            self.take()
            e = f"({e}) OR ({self.and_expr()})"
        return e

    def and_expr(self) -> str:
        e = self.not_expr()
        while self.peek_kw() == "AND":
            self.take()
            e = f"({e}) AND ({self.not_expr()})"
        return e

    def not_expr(self) -> str:
        if self.peek_kw() == "NOT":
            self.take()
            return f"(NOT {self.not_expr()})"
        return self.cmp_expr()

    def cmp_expr(self) -> str:
        e = self.add_expr()
        t = self.peek_kw()
        if t in (None,):
            return e
        if self.peek() in ("==", "!=", ">", ">=", "<", "<="):
            op = {"==": "=", "!=": "<>"}.get(self.peek(), self.peek())
            self.take()
            return f"{e} {op} {self.add_expr()}"
        if t == "LIKE":
            self.take()
            raw = self.take()
            if not (raw.startswith('"') and raw.endswith('"')):
                self._err("LIKE wants a string pattern")
            pat = _like_pattern(raw[1:-1])
            return f"{e} LIKE '{pat}' ESCAPE '!'"
        if t == "RLIKE":
            # regex match; rendered via the __RLIKE__ placeholder the
            # compiler substitutes per dialect (RLIKE vs
            # regexp_matches). Quote/backslash characters raise — the
            # two regex engines escape them differently.
            self.take()
            raw = self.take()
            if not (raw.startswith('"') and raw.endswith('"')):
                self._err("RLIKE wants a string pattern")
            pat = raw[1:-1]
            if "'" in pat or "\\" in pat:
                self._err(
                    "RLIKE patterns may not contain quotes or "
                    "backslashes (escapes parse differently across "
                    "dialects)"
                )
            return f"__RLIKE__({e}, '{pat}')"
        if t == "IN":
            self.take()
            self.expect("(")
            vals = [self.atom()]
            while self.peek() == ",":
                self.take()
                vals.append(self.atom())
            self.expect(")")
            return f"{e} IN ({', '.join(vals)})"
        if t == "IS":
            self.take()
            neg = ""
            if self.peek_kw() == "NOT":
                self.take()
                neg = "NOT "
            self.expect("NULL")
            return f"{e} IS {neg}NULL"
        return e

    def add_expr(self) -> str:
        e = self.mul_expr()
        while self.peek() in ("+", "-"):
            e = f"{e} {self.take()} {self.mul_expr()}"
        return e

    # span units for the time form of BUCKET; fixed-length spans may
    # repeat (6 hours), calendar units only with count 1 (via
    # date_trunc — "3 months" has no fixed length)
    _BUCKET_US = {
        "minute": 60_000_000, "hour": 3_600_000_000,
        "day": 86_400_000_000, "week": 7 * 86_400_000_000,
    }
    _BUCKET_TRUNC = {"minute", "hour", "day", "week", "month", "year"}

    def _bucket(self) -> str:
        """BUCKET(ts, 1 day) / BUCKET(ts, 6 hours) — the groupby-time
        idiom every Kibana ES|QL chart uses — and the numeric form
        BUCKET(x, count, min, max), which picks a human-friendly
        width from the 1/2/5 x 10^k ladder (the SMALLEST nice width
        producing <= count buckets over [min, max] — the finest
        granularity within the budget, the histogram convention;
        deterministic, literals required) with zero-anchored buckets.
        Time spans: count 1 compiles to the cast-pinned date_trunc;
        repeated FIXED-length spans bucket on integer epoch micros
        (unix_micros/epoch_us agree exactly; fixture epochs are
        positive, so Spark's trunc-div and DuckDB's floor-div agree)."""
        first = self.or_expr()
        if self.peek() != ",":
            self._err(
                "BUCKET wants (field, <count> <unit>) or "
                "(field, count, min, max)"
            )
        self.take()
        # raw-scan the remaining args: time spans ("1 day") are two
        # adjacent tokens the expression grammar cannot parse
        parts: list[list[str]] = [[]]
        depth = 0
        while True:
            t = self.peek()
            if t is None:
                self._err("unterminated BUCKET(")
            if t == "(":
                depth += 1
            elif t == ")":
                if depth == 0:
                    self.take()
                    break
                depth -= 1
            if t == "," and depth == 0:
                self.take()
                parts.append([])
                continue
            parts[-1].append(self.take())
        if len(parts) == 1 and len(parts[0]) == 2:
            n_tok, unit = parts[0]
            if not re.fullmatch(r"\d+", n_tok):
                self._err("BUCKET span wants <count> <unit>")
            n, u = int(n_tok), unit.lower().rstrip("s")
            if n == 1 and u in self._BUCKET_TRUNC:
                return f"cast(date_trunc('{u}', {first}) AS TIMESTAMP)"
            if u not in self._BUCKET_US:
                self._err(
                    f"BUCKET span unit {unit!r} unsupported for "
                    "count > 1 (fixed-length minute/hour/day/week; "
                    "calendar units only as 1 month / 1 year)"
                )
            span = n * self._BUCKET_US[u]
            if self.dialect == "spark":
                return (
                    f"cast(timestamp_micros(unix_micros(cast({first}"
                    f" AS timestamp_ltz)) div {span} * {span})"
                    " AS TIMESTAMP)"
                )
            return (
                f"make_timestamp(epoch_us({first})"
                f" // {span} * {span})"
            )
        if len(parts) == 3 and all(len(p) == 1 for p in parts):
            cnt, lo, hi = (p[0] for p in parts)
            try:
                cnt_i, lo_f, hi_f = int(cnt), float(lo), float(hi)
            except ValueError:
                self._err(
                    "BUCKET numeric form wants literal "
                    "(count, min, max)"
                )
            if cnt_i < 1 or not hi_f > lo_f:
                self._err("BUCKET wants count >= 1 and max > min")
            width = None
            k = -12
            while k < 14 and width is None:
                for m in (1.0, 2.0, 5.0):
                    w = m * (10.0 ** k)
                    if (hi_f - lo_f) / w <= cnt_i:
                        width = w
                        break
                k += 1
            if width is None:
                self._err("BUCKET range too wide for the width ladder")
            # float-exact fold: both engines evaluate the identical
            # literal arithmetic. The exponent spelling pins the
            # literal to DOUBLE — a bare `20.0` is DECIMAL(3,1) in
            # Spark but float in DuckDB (caught by the type tag).
            # Widths below 1e-4 already repr in scientific notation
            # (repr(1e-05) == '1e-05'); appending e0 to those made
            # '1e-05e0', a syntax error in both engines — only add
            # the exponent when repr carries none (ADVICE r11).
            w_lit = repr(width)
            if "e" not in w_lit:
                w_lit += "e0"
            return f"(floor({first} / {w_lit}) * {w_lit})"
        self._err(
            "BUCKET wants (field, <count> <unit>) or "
            "(field, count, min, max)"
        )

    def mul_expr(self) -> str:
        e = self.atom()
        while self.peek() in ("*", "/", "%"):
            e = f"{e} {self.take()} {self.atom()}"
        return e

    def atom(self) -> str:
        t = self.peek()
        if t is None:
            self._err("unexpected end of expression")
        if t == "(":
            self.take()
            e = self.or_expr()
            self.expect(")")
            return f"({e})"
        if t == "-":
            self.take()
            return f"(- {self.atom()})"
        self.take()
        up = t.upper()
        if t.startswith('"'):
            # Only the \" escape is supported: any other backslash
            # would render into a single-quoted literal that Spark's
            # parser \-unescapes ("a\tb" -> tab) while DuckDB keeps
            # it literal — a silent cross-dialect divergence. Raise,
            # matching the RLIKE/GROK guards.
            if t[1:-1].replace('\\"', "").count("\\"):
                self._err(
                    "string literals may not contain backslashes "
                    'other than \\" (escapes parse differently '
                    "across dialects)"
                )
            body = t[1:-1].replace("\\\"", '"').replace("'", "''")
            return f"'{body}'"
        if re.fullmatch(r"\d+(\.\d+)?", t):
            return t
        if up in ("TRUE", "FALSE"):
            return up
        if up in ("NULL",):
            return "NULL"
        if self.peek() == "(":
            return self.call(t)
        if up in _KEYWORDS:
            self._err(f"unexpected keyword {t!r}")
        if not _IDENT.fullmatch(t):
            self._err(f"bad identifier {t!r}")
        return t

    def call(self, name: str) -> str:
        up = name.upper()
        self.expect("(")
        if up == "BUCKET":
            return self._bucket()
        if up == "COUNT" and self.peek() == "*":
            self.take()
            self.expect(")")
            if not self.allow_aggs:
                self._err("COUNT(*) only inside STATS")
            if self.agg_filter:
                return f"count(CASE WHEN {self.agg_filter} THEN 1 END)"
            return "count(*)"
        args = []
        if self.peek() != ")":
            args.append(self.or_expr())
            while self.peek() == ",":
                self.take()
                args.append(self.or_expr())
        self.expect(")")
        if up in _AGGS:
            if not self.allow_aggs:
                self._err(f"{up} only inside STATS")
            if up == "PERCENTILE":
                # PERCENTILE(x, p): exact interpolated quantile where
                # ES chains TDigest; p must be a numeric literal in
                # [0, 100], folded to the fraction at compile time
                if len(args) != 2:
                    self._err("PERCENTILE wants (field, percentile)")
                x, p = args
                if self.agg_filter:
                    x = f"(CASE WHEN {self.agg_filter} THEN {x} END)"
                try:
                    frac = float(p) / 100.0
                except ValueError:
                    self._err("PERCENTILE percentile must be a "
                              "numeric literal")
                if not 0.0 <= frac <= 1.0:
                    self._err("PERCENTILE percentile must be 0..100")
                return (
                    f"cast(cast(__PCT__({x}, {frac!r}) AS "
                    "DECIMAL(18, 6)) AS DOUBLE)"
                )
            if up == "WEIGHTED_AVG":
                # WEIGHTED_AVG(value, weight): sum(v*w)/sum(w), the
                # products over per-dialect exact-decimal operands
                # (the matrix_stats width discipline: Spark (18,6)
                # stays under the 38-digit cap; DuckDB needs (19,6)
                # to force int128 physical storage), the division in
                # identical double arithmetic. Rows with NULL value
                # contribute neither product nor weight (ES skips
                # missing values).
                if len(args) != 2:
                    self._err("WEIGHTED_AVG wants (value, weight)")
                v, w = args
                if self.agg_filter:
                    v = f"(CASE WHEN {self.agg_filter} THEN {v} END)"
                pd = (
                    "DECIMAL(18, 6)" if self.dialect == "spark"
                    else "DECIMAL(19, 6)"
                )
                return (
                    f"(cast(sum(cast({v} AS {pd}) * cast({w} AS {pd}))"
                    f" AS DOUBLE) / cast(sum(CASE WHEN ({v}) IS NOT "
                    f"NULL THEN cast({w} AS {pd}) END) AS DOUBLE))"
                )
            if up == "TOP":
                # TOP(field, limit, order): the top-k VALUES as a
                # multivalue, ordered per `order` — NULLs dropped
                # (the ES missing-value rule). limit and order must
                # be literals so the slice folds at compile time.
                if len(args) != 3:
                    self._err('TOP wants (field, limit, "asc"|"desc")')
                x, k_lit, order = args
                if self.agg_filter:
                    x = f"(CASE WHEN {self.agg_filter} THEN {x} END)"
                if not re.fullmatch(r"\d+", k_lit) or int(k_lit) < 1:
                    self._err("TOP limit must be an integer literal >= 1")
                o = order.strip("'").lower()
                if o not in ("asc", "desc"):
                    self._err('TOP order must be "asc" or "desc"')
                k_i = int(k_lit)
                if self.dialect == "spark":
                    # collect_list drops NULLs
                    asc = "true" if o == "asc" else "false"
                    return (
                        f"slice(sort_array(collect_list({x}), {asc}),"
                        f" 1, {k_i})"
                    )
                return (
                    f"list_slice(list_sort(list({x}) FILTER "
                    f"(({x}) IS NOT NULL), '{o.upper()}'), 1, {k_i})"
                )
            if up == "VALUES":
                # VALUES(field): the distinct values as a multivalue.
                # ES documents NO order guarantee; pinned to sorted
                # ascending (NULLs dropped) so the result is
                # deterministic and oracle-checkable — the MV_DEDUPE
                # pinning precedent.
                if len(args) != 1:
                    self._err("VALUES wants one argument")
                x = args[0]
                if self.agg_filter:
                    x = f"(CASE WHEN {self.agg_filter} THEN {x} END)"
                if self.dialect == "spark":
                    return f"sort_array(collect_set({x}))"
                return (
                    f"list_sort(list_distinct(list({x})))"
                )
            if len(args) != 1:
                self._err(f"{up} wants exactly one argument")
            x = args[0]
            if self.agg_filter:
                x = f"(CASE WHEN {self.agg_filter} THEN {x} END)"
            if up == "COUNT":
                return f"count({x})"
            if up == "COUNT_DISTINCT":
                return f"count(DISTINCT {x})"
            if up in ("MIN", "MAX"):
                return f"{up.lower()}({x})"
            if up == "SUM":
                return f"cast(sum(cast({x} AS {_DEC})) AS DOUBLE)"
            if up == "AVG":
                return (
                    f"cast(sum(cast({x} AS {_DEC})) AS DOUBLE)"
                    f" / count({x})"
                )
            # MEDIAN: exact interpolated quantile, quantized like the
            # DSL percentiles so both engines emit the same double
            return (
                f"cast(cast(__PCT__({x}, 0.5) AS DECIMAL(18, 6))"
                " AS DOUBLE)"
            )
        if up == "DATE_TRUNC":
            # DATE_TRUNC("day", ts): string unit + temporal expression
            if len(args) != 2:
                self._err("DATE_TRUNC wants (unit, field)")
            unit = args[0]
            if not (unit.startswith("'") and unit.endswith("'")):
                self._err("DATE_TRUNC unit must be a string literal")
            u = unit[1:-1].lower()
            if u not in _TRUNC_UNITS:
                self._err(
                    f"DATE_TRUNC unit {u!r} unsupported "
                    f"({'/'.join(sorted(_TRUNC_UNITS))})"
                )
            # the outer cast pins the result type: DuckDB's day-level
            # date_trunc yields DATE where Spark yields TIMESTAMP —
            # the cast text is shared and makes both emit TIMESTAMP
            return f"cast(date_trunc('{u}', {args[1]}) AS TIMESTAMP)"
        if up == "CASE":
            # CASE(cond1, val1, ..., [default]): ES|QL's conditional
            if len(args) < 2:
                self._err("CASE wants cond, value pairs")
            pairs, default = args, None
            if len(args) % 2 == 1:
                pairs, default = args[:-1], args[-1]
            whens = " ".join(
                f"WHEN {pairs[i]} THEN {pairs[i + 1]}"
                for i in range(0, len(pairs), 2)
            )
            els = f" ELSE {default}" if default is not None else ""
            return f"(CASE {whens}{els} END)"
        if up in _CONVERSIONS:
            if len(args) != 1:
                self._err(f"{up} wants one argument")
            t = _CONVERSIONS[up]
            if t == "BIGINT":
                # ES|QL truncates toward zero. Spark's double->int
                # cast already truncates; DuckDB's ROUNDS, so the duck
                # dialect trunc()s first (numeric trunc is DuckDB-only
                # — Spark's trunc is the date function)
                if self.dialect == "spark":
                    return f"cast({args[0]} AS BIGINT)"
                return f"cast(trunc({args[0]}) AS BIGINT)"
            return f"cast({args[0]} AS {t})"
        if up == "TO_STRING":
            if len(args) != 1:
                self._err("TO_STRING wants one argument")
            t = "string" if self.dialect == "spark" else "varchar"
            return f"cast({args[0]} AS {t})"
        if up == "STARTS_WITH":
            # substring-compare form: portable for ARBITRARY prefix
            # expressions (startswith/starts_with differ by dialect)
            if len(args) != 2:
                self._err("STARTS_WITH wants (string, prefix)")
            x, p = args
            return f"(substring({x}, 1, length({p})) = {p})"
        if up == "DATE_FORMAT":
            # DATE_FORMAT("yyyy-MM-dd", ts): the format is a Java
            # pattern (what ES|QL takes, and what Spark's date_format
            # reads natively); the oracle dialect renders the same
            # tokens through strftime. Only the _FMT_TOKENS subset is
            # accepted — anything else raises rather than silently
            # formatting differently across engines.
            if len(args) != 2:
                self._err("DATE_FORMAT wants (format, field)")
            fmt, x = args
            if not (fmt.startswith("'") and fmt.endswith("'")):
                self._err("DATE_FORMAT format must be a string literal")
            java = fmt[1:-1]
            duck_parts, i = [], 0
            while i < len(java):
                for tok, strf in _FMT_TOKENS.items():
                    if java.startswith(tok, i):
                        duck_parts.append(strf)
                        i += len(tok)
                        break
                else:
                    if java[i] in _FMT_SEPARATORS:
                        duck_parts.append(java[i])
                        i += 1
                    else:
                        self._err(
                            f"DATE_FORMAT token at {java[i:]!r} "
                            "unsupported (yyyy/MM/dd/HH/mm/ss + "
                            "separators)"
                        )
            if self.dialect == "spark":
                return f"date_format({x}, '{java}')"
            return f"strftime({x}, '{''.join(duck_parts)}')"
        if up == "DATE_DIFF":
            # DATE_DIFF("hour", start, end): truncated multiples of
            # the unit between the two timestamps. Microsecond-exact
            # integer epochs on both sides (the _epoch discipline:
            # Spark's unix_timestamp truncates to seconds, so it reads
            # unix_micros; tz conventions cancel in the difference);
            # the quotient truncates toward zero in both dialects
            # (Spark's double->BIGINT cast truncates; DuckDB rounds,
            # so the duck dialect trunc()s first).
            if len(args) != 3:
                self._err("DATE_DIFF wants (unit, start, end)")
            unit, s, e = args
            if not (unit.startswith("'") and unit.endswith("'")):
                self._err("DATE_DIFF unit must be a string literal")
            u = unit[1:-1].lower()
            if u not in _DIFF_UNIT_US:
                self._err(
                    f"DATE_DIFF unit {u!r} unsupported (fixed-length "
                    f"{'/'.join(sorted(_DIFF_UNIT_US))}; calendar "
                    "units have no fixed length)"
                )
            us = _DIFF_UNIT_US[u]
            if self.dialect == "spark":
                micros = (
                    f"(unix_micros(cast({e} AS timestamp_ltz))"
                    f" - unix_micros(cast({s} AS timestamp_ltz)))"
                )
                return f"cast(cast({micros} AS DOUBLE) / {us} AS BIGINT)"
            micros = f"(epoch_us({e}) - epoch_us({s}))"
            return (
                f"cast(trunc(cast({micros} AS DOUBLE) / {us}) AS BIGINT)"
            )
        if up in ("MV_COUNT", "MV_MIN", "MV_MAX", "MV_SUM", "MV_AVG"):
            # the multivalue family: per-row scalars over an array
            # column (the dual of MV_EXPAND). All map-local; NULL
            # arrays yield NULL in both engines. MV_SUM/MV_AVG fold
            # elements as doubles sequentially (Spark aggregate() /
            # DuckDB list_sum are both left-to-right) and quantize the
            # result DECIMAL(18,6)->DOUBLE so a sub-6dp accumulation
            # wobble can't flip the driver hash.
            if len(args) != 1:
                self._err(f"{up} wants one argument")
            x = args[0]
            spark = self.dialect == "spark"
            if up == "MV_COUNT":
                inner = f"cardinality({x})" if spark else f"len({x})"
                return f"cast({inner} AS BIGINT)"
            if up in ("MV_MIN", "MV_MAX"):
                kind = up[3:].lower()
                return (f"array_{kind}({x})" if spark
                        else f"list_{kind}({x})")
            if spark:
                # the CASE pins the empty-array result to NULL:
                # aggregate() over an empty array returns the 0.0
                # seed, DuckDB's list_sum returns NULL (measured)
                total = (
                    f"(CASE WHEN cardinality({x}) > 0 THEN "
                    f"aggregate({x}, cast(0.0 AS DOUBLE),"
                    f" (acc, e) -> acc + cast(e AS DOUBLE)) END)"
                )
                cnt = f"cardinality({x})"
            else:
                total = (
                    f"list_sum(list_transform({x},"
                    " e -> cast(e AS DOUBLE)))"
                )
                cnt = f"len({x})"
            if up == "MV_AVG":
                total = f"({total}) / {cnt}"
            return f"cast(cast({total} AS DECIMAL(18, 6)) AS DOUBLE)"
        if up in ("CEIL", "FLOOR"):
            # ES keeps doubles double; bare ceil/floor returns BIGINT
            # in Spark but the input type in DuckDB — pin both to
            # DOUBLE (the ES behavior for the double columns these
            # run on)
            if len(args) != 1:
                self._err(f"{up} wants one argument")
            return f"cast({up.lower()}({args[0]}) AS DOUBLE)"
        if up == "TO_DATETIME":
            if len(args) != 1:
                self._err("TO_DATETIME wants one argument")
            return f"cast({args[0]} AS TIMESTAMP)"
        if up == "DATE_EXTRACT":
            # DATE_EXTRACT("hour_of_day", ts): Java ChronoField names
            # (the ES|QL signature); the shared EXTRACT spelling is
            # cast-pinned to BIGINT (the engines' native widths
            # differ)
            if len(args) != 2:
                self._err("DATE_EXTRACT wants (field, date)")
            fld, x = args
            if not (fld.startswith("'") and fld.endswith("'")):
                self._err("DATE_EXTRACT field must be a string literal")
            key = fld[1:-1].lower()
            if key not in _EXTRACT_FIELDS:
                self._err(
                    f"DATE_EXTRACT field {key!r} unsupported "
                    f"({'/'.join(sorted(_EXTRACT_FIELDS))})"
                )
            return (
                f"cast(extract({_EXTRACT_FIELDS[key]} FROM {x})"
                " AS BIGINT)"
            )
        if up == "LOCATE":
            # LOCATE(string, substring): 1-based position, 0 when
            # absent — instr() has the same argument order and
            # contract in both engines
            if len(args) != 2:
                self._err("LOCATE wants (string, substring)")
            return f"cast(instr({args[0]}, {args[1]}) AS BIGINT)"
        if up == "ENDS_WITH":
            # the STARTS_WITH dual: substring-compare, portable for
            # arbitrary suffix expressions
            if len(args) != 2:
                self._err("ENDS_WITH wants (string, suffix)")
            x, p = args
            return (
                f"(substring({x}, length({x}) - length({p}) + 1)"
                f" = {p})"
            )
        if up == "SPLIT":
            # SPLIT(str, sep): sep must be a PLAIN string literal —
            # Spark's split() reads it as a Java regex while DuckDB's
            # string_split is literal, so the compiler regex-escapes
            # it for Spark (doubling backslashes for the SQL parser,
            # the GROK discipline) and rejects quotes/backslashes.
            if len(args) != 2:
                self._err("SPLIT wants (string, separator)")
            x, sep = args
            if not (sep.startswith("'") and sep.endswith("'")):
                self._err("SPLIT separator must be a string literal")
            raw = sep[1:-1]
            if "'" in raw or "\\" in raw or not raw:
                self._err(
                    "SPLIT separator must be non-empty without "
                    "quotes/backslashes"
                )
            if self.dialect == "spark":
                esc = re.escape(raw).replace("\\", "\\\\")
                return f"split({x}, '{esc}')"
            return f"string_split({x}, '{raw}')"
        if up == "MV_SORT":
            # MV_SORT(arr[, "ASC"|"DESC"]): both engines sort ASC with
            # nulls last (probed); DESC is the exact reverse in both
            if len(args) not in (1, 2):
                self._err("MV_SORT wants (array[, order])")
            x = args[0]
            order = "ASC"
            if len(args) == 2:
                if args[1] not in ("'ASC'", "'DESC'", "'asc'", "'desc'"):
                    self._err('MV_SORT order must be "ASC" or "DESC"')
                order = args[1][1:-1].upper()
            asc = (f"array_sort({x})" if self.dialect == "spark"
                   else f"list_sort({x})")
            if order == "ASC":
                return asc
            return (f"reverse({asc})" if self.dialect == "spark"
                    else f"list_reverse({asc})")
        if up == "MV_DEDUPE":
            # ES leaves the output order unspecified; the engine pins
            # SORTED order with NULLs dropped, because the engines'
            # native dedups disagree (DuckDB's list_distinct drops
            # NULLs and hash-reorders, Spark's array_distinct keeps
            # both — probed)
            if len(args) != 1:
                self._err("MV_DEDUPE wants one argument")
            x = args[0]
            if self.dialect == "spark":
                return (f"array_sort(array_distinct("
                        f"filter({x}, e -> e IS NOT NULL)))")
            return f"list_sort(list_distinct({x}))"
        if up == "MV_SLICE":
            # MV_SLICE(arr, start, end): 0-based INCLUSIVE bounds (the
            # ES signature). Integer literals only — ES's negative
            # indices count from the end, which the two SQL slice
            # forms disagree on, so anything non-literal raises
            # rather than silently mistranslating.
            if len(args) != 3:
                self._err("MV_SLICE wants (array, start, end)")
            x, s, e = args
            if not (re.fullmatch(r"\d+", s) and re.fullmatch(r"\d+", e)):
                self._err(
                    "MV_SLICE start/end must be non-negative integer "
                    "literals"
                )
            s_i, e_i = int(s), int(e)
            if s_i > e_i:
                self._err("MV_SLICE start must be <= end")
            if self.dialect == "spark":
                return f"slice({x}, {s_i + 1}, {e_i - s_i + 1})"
            return f"list_slice({x}, {s_i + 1}, {e_i + 1})"
        if up == "MV_CONCAT":
            if len(args) != 2:
                self._err("MV_CONCAT wants (array, delimiter)")
            x, d = args
            if self.dialect == "spark":
                # the CASE pins empty arrays to NULL: array_join([])
                # returns '' while DuckDB's array_to_string([])
                # returns NULL (measured)
                return (
                    f"(CASE WHEN cardinality({x}) > 0 THEN "
                    f"array_join({x}, {d}) END)"
                )
            return f"array_to_string({x}, {d})"
        if up == "SHA256":
            # dialect-named: Spark spells it sha2(x, 256)
            if len(args) != 1:
                self._err("SHA256 wants one argument")
            if self.dialect == "spark":
                return f"sha2({args[0]}, 256)"
            return f"sha256({args[0]})"
        if up == "ROUND" and len(args) == 2 and re.fullmatch(
            r"\d+", args[1]
        ) and int(args[1]) <= 18:
            # Decimal-space ROUND (r13, found by the sf0.1 full-registry
            # sweep): round(double, d) diverges on decimal ties the
            # binary double can't represent — e.g. AVG = 2394.22/16 =
            # 149.63875 exactly, stored as the double 149.6387499…;
            # Spark's round() re-reads the shortest decimal string and
            # rounds the TIE half-up to 149.6388 while DuckDB rounds the
            # binary value down to 149.6387. The MEDIAN/percentile
            # quantization discipline applied here: cast to DECIMAL with
            # 6 guard digits (recovering the intended decimal — the
            # binary error is orders below 5e-(d+7) for these
            # magnitudes), round the TIE in exact decimal space
            # (half-away-from-zero in both engines), cast back to
            # DOUBLE. Literal non-negative d only; d > 18 or computed /
            # negative d keeps native passthrough below.
            #
            # Envelope (same one MEDIAN's DECIMAL(18,6) quantization
            # lives in): the guard scale recovers the intended decimal
            # while the double's half-ulp stays below the guard
            # granularity — |x|·2^-53 < 5e-(d+7), i.e. |x| ≲ 4.5e9 /
            # 10^d (~4.5e5 at d=4). Beyond that, ties at the GUARD
            # scale could in principle re-split the engines (Spark's
            # double→decimal cast reads the shortest string, DuckDB
            # rounds the binary value) — a measure-zero corner the
            # tie fuzz stays inside of; fixture magnitudes are ≤1e6
            # at d≤2.
            #
            # The CASE routes NaN / ±Infinity / decimal-overflow
            # magnitudes to NATIVE round (self-review find: DuckDB
            # hard-errors casting non-finite doubles to DECIMAL where
            # Spark ANSI-off NULLs them — native round passes them
            # through identically instead). Both engines compare the
            # SAME double, and NaN sorts above every bound in both,
            # so the branch choice is always cross-engine-identical;
            # at the bound's magnitude round(x, d>0) is the identity
            # for doubles anyway (no sub-integer bits past 2^53).
            d = int(args[1])
            g = min(d + 6, 37)
            bound = 10 ** (38 - g - 1)
            dec = (
                f"cast(round(cast({args[0]} AS DECIMAL(38, {g})), "
                f"{d}) AS DOUBLE)"
            )
            return (
                f"(CASE WHEN abs({args[0]}) < {bound} THEN {dec} "
                f"ELSE round({args[0]}, {d}) END)"
            )
        if up not in _FUNCS:
            self._err(f"unsupported function {name!r}")
        lo, hi = _FUNCS[up]
        if not lo <= len(args) <= hi:
            if up == "LOG" and len(args) == 1:
                self._err(
                    "LOG wants (base, value) — the one-arg form "
                    "means log10 in DuckDB but ln in Spark, a silent "
                    "cross-engine divergence; spell the base"
                )
            self._err(f"{up} wants {lo}..{hi} arguments")
        fn = {"TO_LOWER": "lower", "TO_UPPER": "upper",
              "LENGTH": "length"}.get(up, up.lower())
        return f"{fn}({', '.join(args)})"


# Types whose cast-to-STRING rendering is bit-identical across Spark and
# DuckDB — NOT floats/timestamps/nested types, whose text forms can
# diverge. union_all_sql's _uid whole-row hash is restricted to these
# so it stays cross-engine deterministic.
_UID_SAFE_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.StringType, T.BooleanType, T.DateType, T.DecimalType,
)


def uid_safe_columns(schema: T.StructType) -> list[str]:
    """The columns of ``schema`` that union_all_sql's ``_uid`` hashes."""
    return [
        f.name for f in schema.fields
        if isinstance(f.dataType, _UID_SAFE_TYPES)
    ]


def union_all_sql(
    schemas: dict[str, T.StructType], meta: bool = False,
    uid: bool = False,
) -> str:
    """The ES missing-column-as-NULL UNION ALL over named tables, given
    each table's schema: column order is first-seen across the tables
    (the ES multi-index rule); ``meta`` appends the source name as
    ``_index``; ``uid`` appends ``_uid`` — the source name prefixed
    onto an md5 over the branch's OWN cross-engine-stable columns
    (uid_safe_columns) — a NEVER-NULL,
    unique-per-distinct-row identity the search path's sort tiebreak
    / slice hashing / search_after need. A first-column-only _uid
    (the r12 shape) collided for rows sharing that value (e.g.
    lineitem.l_orderkey repeats per order), leaving pagination
    engine-arbitrary for exactly the rows it was added to pin
    (ADVICE r12 medium); the whole-safe-row hash is unique wherever
    any stable column differs. Each column contributes an UNAMBIGUOUS
    token — 'n' for NULL, 'v'||md5(value-as-string) otherwise — so a
    delimiter character inside a value or a literal string equal to
    the NULL sentinel cannot make two different rows concatenate
    identically (found in the r13 self-review: bare
    coalesce+concat_ws collided ('a|b','c') with ('a','b|c')).
    Bit-identical duplicate rows still share a _uid —
    indistinguishable rows have no meaningful order, so every
    engine-arbitrary choice among them yields the same result set.
    A table with no stable column hashes its first column, documented
    caveat. Shared by the ES|QL multi-index FROM compile and the
    multi-index search (es_dsl.compile_union_search). Valid in both
    dialects — plain SELECT/UNION ALL (STRING is a VARCHAR alias in
    DuckDB; md5/concat_ws render identically). Per-column md5 is
    row-local JVM/codegen work on the already-bounded search
    relation — the scale cost is the same class as any projection
    expression."""
    if not schemas:
        raise ValueError("esql: union_all_sql wants >= 1 table")
    unified: list[str] = []
    for schema in schemas.values():
        unified.extend(c for c in schema.names if c not in unified)
    selects = []
    for t, schema in schemas.items():
        have = set(schema.names)
        proj = ", ".join(
            c if c in have else f"NULL AS {c}" for c in unified
        )
        if meta:
            proj += f", '{t}' AS _index"
        if uid:
            key_cols = uid_safe_columns(schema) or schema.names[:1]
            parts = ", ".join(
                f"(CASE WHEN {c} IS NULL THEN 'n' ELSE "
                f"concat('v', md5(cast({c} AS STRING))) END)"
                for c in key_cols
            )
            proj += (
                f", concat('{t}:', md5(concat_ws('|', {parts})))"
                f" AS _uid"
            )
        selects.append(f"SELECT {proj} FROM {t}")
    return "\n  UNION ALL ".join(selects)


def _compile_from(
    stage: str, dialect: str, schemas: dict[str, T.StructType]
) -> str:
    """The source command: FROM — one index (any identifier), or a
    comma-list over tables whose ``schemas`` the caller passes,
    unioned with the ES missing-column-as-NULL rule (column order:
    first-seen across the listed tables) — or ROW name = <expr>
    [, ...], the inline one-row relation every ES|QL tutorial opens
    with (compiles to a FROM-less SELECT, valid in both dialects).
    Wildcards and aliases are expanded before compile (esql_df)."""
    if re.match(r"(?is)^\s*ROW\b", stage):
        toks = _tokenize(stage, "ROW")[1:]
        cols = []
        for part in _split_top_commas(toks):
            if (
                len(part) < 3 or part[1] != "="
                or not _IDENT.fullmatch(part[0])
            ):
                raise ValueError("esql: ROW wants name = <expr> [, ...]")
            e = _Expr(part[2:], "ROW", dialect=dialect).parse()
            cols.append(f"{e} AS {part[0]}")
        return f"SELECT {', '.join(cols)}"
    m = _FROM.fullmatch(stage.strip())
    if not m:
        raise ValueError(
            "esql: the source command must be FROM <index>[, <index>] "
            f"[METADATA _index] or ROW (got {stage!r})"
        )
    meta = None
    if m.group(3):
        # METADATA _index: the source index name as a column — the
        # idiom that makes multi-index FROM filterable/groupable by
        # origin. _id/_version etc. have no engine analogue and raise.
        if m.group(4) != "_index":
            raise ValueError(
                f"esql: unsupported METADATA field {m.group(4)!r} "
                "(only _index)"
            )
        meta = "_index"
    tables = list(dict.fromkeys(p.strip() for p in m.group(2).split(",")))
    for p in tables:
        if "*" in p:
            raise ValueError(
                f"esql: FROM pattern {p!r} must be expanded before "
                "compile (esql_df resolves it against the session's "
                "tables)"
            )
        if not _IDENT.fullmatch(p):
            raise ValueError(f"esql: bad index name {p!r}")
    if len(tables) == 1:
        if meta:
            return f"SELECT *, '{tables[0]}' AS _index FROM {tables[0]}"
        return f"SELECT * FROM {tables[0]}"
    unknown = [t for t in tables if t not in schemas]
    if unknown:
        raise ValueError(
            "esql: multi-index FROM knows only the tables whose schemas "
            f"it is given ({'/'.join(sorted(schemas)) or 'none'}); got "
            f"{'/'.join(unknown)}"
        )
    return union_all_sql({t: schemas[t] for t in tables}, meta=bool(meta))


def _split_pipes(q: str) -> list[str]:
    """Split on | outside double-quoted strings AND outside parens —
    FORK branches carry their own pipes inside (...) groups, which
    belong to the FORK stage, not the outer pipeline."""
    parts, buf, in_str, depth, i = [], [], False, 0, 0
    while i < len(q):
        c = q[i]
        if c == '"' and (i == 0 or q[i - 1] != "\\"):
            in_str = not in_str
        if not in_str:
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
        if c == "|" and not in_str and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts]


def _paren_groups(s: str) -> list[str]:
    """Top-level (...) groups of a raw text span (string-aware) — the
    FORK branch list. Anything outside a group except whitespace is a
    syntax error."""
    groups: list[str] = []
    cur: list[str] = []
    depth, in_str = 0, False
    for idx, c in enumerate(s):
        if c == '"' and (idx == 0 or s[idx - 1] != "\\"):
            in_str = not in_str
        if not in_str:
            if c == "(":
                depth += 1
                if depth == 1:
                    cur = []
                    continue
            elif c == ")":
                if depth == 0:
                    raise ValueError("esql: unbalanced ) in FORK")
                depth -= 1
                if depth == 0:
                    groups.append("".join(cur))
                    continue
        if depth >= 1:
            cur.append(c)
        elif not c.isspace():
            raise ValueError(
                "esql: FORK wants (branch) (branch) ... groups only"
            )
    if depth != 0 or in_str:
        raise ValueError("esql: unbalanced ( or string in FORK")
    return groups


def _split_top_commas(toks: list[str]) -> list[list[str]]:
    """Split a token list on commas at paren depth 0."""
    out, cur, depth = [], [], 0
    for t in toks:
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if t == "," and depth == 0:
            out.append(cur)
            cur = []
        else:
            cur.append(t)
    out.append(cur)
    return out


def compile_esql(
    query: str, dialect: str,
    schemas: dict[str, T.StructType] | None = None,
) -> str:
    """Compile one ES|QL statement to one SQL statement. A multi-index
    FROM reads each listed table's columns from ``schemas``."""
    if dialect not in ("spark", "duck"):
        raise ValueError(f"esql: unknown dialect {dialect!r}")
    if not isinstance(query, str) or not query.strip():
        raise ValueError("esql: empty query")
    stages = _split_pipes(query)
    sql = _compile_from(stages[0], dialect, schemas or {})
    n = 0
    for stage in stages[1:]:
        if re.match(r"(?is)^\s*FORK\b", stage):
            # FORK branches carry raw sub-pipelines the stage
            # tokenizer must not see — dispatch on the raw text
            cmd, rest = "FORK", []
        else:
            toks = _tokenize(stage, "command")
            if not toks:
                raise ValueError("esql: empty pipe stage")
            cmd = toks[0].upper()
            rest = toks[1:]
        n += 1
        inner = f"({sql}) t{n}"
        if cmd == "WHERE":
            pred = _Expr(rest, "WHERE", dialect=dialect).parse()
            sql = f"SELECT * FROM {inner} WHERE {pred}"
        elif cmd == "EVAL":
            cols = []
            for part in _split_top_commas(rest):
                if len(part) < 3 or part[1] != "=" or not _IDENT.fullmatch(
                    part[0]
                ):
                    raise ValueError(
                        "esql: EVAL wants name = <expr> [, ...]"
                    )
                e = _Expr(part[2:], "EVAL", dialect=dialect).parse()
                cols.append(f"{e} AS {part[0]}")
            sql = f"SELECT *, {', '.join(cols)} FROM {inner}"
        elif cmd == "STATS":
            # optional BY keys: split rest at the top-level BY keyword
            by_idx = None
            depth = 0
            for i, t in enumerate(rest):
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and t.upper() == "BY":
                    by_idx = i
                    break
            agg_toks = rest[:by_idx] if by_idx is not None else rest
            # keys: plain column names or aliased expressions
            # (BY day = DATE_TRUNC("day", ts)) — the expression groups,
            # the alias names the output column
            keys: list[tuple[str, str]] = []
            if by_idx is not None:
                for part in _split_top_commas(rest[by_idx + 1:]):
                    if len(part) >= 3 and part[1] == "=":
                        if not _IDENT.fullmatch(part[0]):
                            raise ValueError(
                                f"esql: bad STATS BY alias {part[0]!r}"
                            )
                        e = _Expr(part[2:], "STATS BY", dialect=dialect).parse()
                        keys.append((part[0], e))
                    elif len(part) == 1 and _IDENT.fullmatch(part[0]):
                        keys.append((part[0], part[0]))
                    else:
                        raise ValueError(
                            "esql: STATS BY wants plain column names "
                            "or name = <expr>"
                        )
            cols = []
            for j, part in enumerate(_split_top_commas(agg_toks)):
                if len(part) >= 2 and part[1] == "=":
                    if not _IDENT.fullmatch(part[0]):
                        raise ValueError(
                            f"esql: bad STATS alias {part[0]!r}"
                        )
                    name, body = part[0], part[2:]
                else:
                    name, body = f"stat{j}", part
                # per-aggregate WHERE (ES 8.13): split at the
                # top-level WHERE keyword; the predicate CASE-wraps
                # the aggregate's argument inside _Expr
                flt = None
                depth2 = 0
                for i2, t2 in enumerate(body):
                    if t2 == "(":
                        depth2 += 1
                    elif t2 == ")":
                        depth2 -= 1
                    elif depth2 == 0 and t2.upper() == "WHERE":
                        flt = _Expr(body[i2 + 1:], "STATS WHERE",
                                    dialect=dialect).parse()
                        body = body[:i2]
                        break
                e = _Expr(body, "STATS", allow_aggs=True,
                          dialect=dialect, agg_filter=flt).parse()
                pct = "percentile" if dialect == "spark" else "quantile_cont"
                e = e.replace("__PCT__", pct)
                cols.append(f"{e} AS {name}")
            if not cols:
                raise ValueError("esql: STATS wants >= 1 aggregate")
            if keys:
                key_sel = ", ".join(
                    k if k == e else f"{e} AS {k}" for k, e in keys
                )
                key_grp = ", ".join(e for _, e in keys)
                sql = (
                    f"SELECT {key_sel}, {', '.join(cols)} "
                    f"FROM {inner} GROUP BY {key_grp}"
                )
            else:
                sql = f"SELECT {', '.join(cols)} FROM {inner}"
        elif cmd == "SORT":
            orders = []
            for part in _split_top_commas(rest):
                nulls = None
                if (
                    len(part) >= 2 and part[-2].upper() == "NULLS"
                    and part[-1].upper() in ("FIRST", "LAST")
                ):
                    nulls = part[-1].upper()
                    part = part[:-2]
                d = "ASC"
                if part and part[-1].upper() in ("ASC", "DESC"):
                    d = part[-1].upper()
                    part = part[:-1]
                if len(part) != 1 or not _IDENT.fullmatch(part[0]):
                    raise ValueError(
                        "esql: SORT wants column [ASC|DESC] "
                        "[NULLS FIRST|LAST] [, ...]"
                    )
                if nulls is None:
                    # ES|QL's default: null sorts as the LARGEST value
                    # (ASC -> last, DESC -> first). Always rendered
                    # EXPLICITLY because the engines' defaults are
                    # OPPOSITE (Spark treats null as smallest, DuckDB
                    # as largest) — a bare `col ASC` under LIMIT would
                    # silently pick different rows per engine.
                    nulls = "LAST" if d == "ASC" else "FIRST"
                orders.append(f"{part[0]} {d} NULLS {nulls}")
            sql = f"SELECT * FROM {inner} ORDER BY {', '.join(orders)}"
        elif cmd == "LIMIT":
            if len(rest) != 1 or not rest[0].isdigit():
                raise ValueError("esql: LIMIT wants one integer")
            sql = f"SELECT * FROM {inner} LIMIT {int(rest[0])}"
        elif cmd in ("KEEP", "DROP"):
            names = []
            for part in _split_top_commas(rest):
                if len(part) != 1 or not _IDENT.fullmatch(part[0]):
                    raise ValueError(f"esql: {cmd} wants plain column names")
                names.append(part[0])
            if cmd == "KEEP":
                sql = f"SELECT {', '.join(names)} FROM {inner}"
            else:
                cols = ", ".join(names)
                sql = (
                    f"SELECT * EXCLUDE ({cols}) FROM {inner}"
                    if dialect == "duck"
                    else f"SELECT * EXCEPT ({cols}) FROM {inner}"
                )
        elif cmd == "RENAME":
            pairs = []
            for part in _split_top_commas(rest):
                if (
                    len(part) != 3 or part[1].upper() != "AS"
                    or not _IDENT.fullmatch(part[0])
                    or not _IDENT.fullmatch(part[2])
                ):
                    raise ValueError(
                        "esql: RENAME wants old AS new [, ...]"
                    )
                pairs.append((part[0], part[2]))
            olds = ", ".join(o for o, _ in pairs)
            renames = ", ".join(f"{o} AS {nn}" for o, nn in pairs)
            base = (
                f"SELECT * EXCLUDE ({olds}), {renames} FROM {inner}"
                if dialect == "duck"
                else f"SELECT * EXCEPT ({olds}), {renames} FROM {inner}"
            )
            sql = base
        elif cmd == "LOOKUP":
            # LOOKUP JOIN <index> ON <key> (ES 8.18): enrich the
            # stream with the lookup index's columns by equi-key —
            # a LEFT JOIN USING, which the planner broadcasts when the
            # lookup side is small (the ENRICH execution model)
            if (
                len(rest) != 4 or rest[0].upper() != "JOIN"
                or rest[2].upper() != "ON"
                or not _IDENT.fullmatch(rest[1])
                or not _IDENT.fullmatch(rest[3])
            ):
                raise ValueError(
                    "esql: LOOKUP wants JOIN <index> ON <key>"
                )
            lk, key = rest[1], rest[3]
            sql = (
                f"SELECT * FROM {inner} "
                f"LEFT JOIN {lk} USING ({key})"
            )
        elif cmd == "ENRICH":
            # ENRICH <policy> ON <match_field> WITH [name =] field
            # [, ...]: the enrich-processor idiom. The policy name is
            # the source index; WITH is required (see module
            # docstring). LEFT JOIN USING against a pruned projection
            # — column pruning reaches the policy table's scan, and
            # the planner broadcasts the small side (the ENRICH
            # execution model: the policy index is shipped to every
            # node).
            if (
                len(rest) < 4 or not _IDENT.fullmatch(rest[0])
                or rest[1].upper() != "ON"
                or not _IDENT.fullmatch(rest[2])
                or rest[3].upper() != "WITH"
            ):
                raise ValueError(
                    "esql: ENRICH wants <policy> ON <match_field> "
                    "WITH [name =] field [, ...]"
                )
            policy, key = rest[0], rest[2]
            proj = []
            for part in _split_top_commas(rest[4:]):
                if len(part) == 1 and _IDENT.fullmatch(part[0]):
                    proj.append(part[0])
                elif (
                    len(part) == 3 and part[1] == "="
                    and _IDENT.fullmatch(part[0])
                    and _IDENT.fullmatch(part[2])
                ):
                    proj.append(f"{part[2]} AS {part[0]}")
                else:
                    raise ValueError(
                        "esql: ENRICH WITH wants field or "
                        "name = field [, ...]"
                    )
            if not proj:
                raise ValueError("esql: ENRICH WITH wants >= 1 field")
            sql = (
                f"SELECT * FROM {inner} LEFT JOIN "
                f"(SELECT {key}, {', '.join(proj)} FROM {policy}) "
                f"enr{n} USING ({key})"
            )
        elif cmd == "INLINESTATS":
            # aggregates WITHOUT collapsing: each row keeps its
            # columns and gains the group statistic — a window
            # function (PARTITION BY keys), the Catalyst shape ES|QL's
            # join-back implementation approximates
            by_idx = None
            depth = 0
            for i, t in enumerate(rest):
                if t == "(":
                    depth += 1
                elif t == ")":
                    depth -= 1
                elif depth == 0 and t.upper() == "BY":
                    by_idx = i
                    break
            agg_toks = rest[:by_idx] if by_idx is not None else rest
            part = ""
            if by_idx is not None:
                keys = []
                for kpart in _split_top_commas(rest[by_idx + 1:]):
                    if len(kpart) != 1 or not _IDENT.fullmatch(kpart[0]):
                        raise ValueError(
                            "esql: INLINESTATS BY wants plain column names"
                        )
                    keys.append(kpart[0])
                part = f" PARTITION BY {', '.join(keys)}"
            cols = []
            w = f"({part.strip()})"
            for apart in _split_top_commas(agg_toks):
                if (
                    len(apart) < 6 or apart[1] != "=" or apart[3] != "("
                    or apart[-1] != ")" or not _IDENT.fullmatch(apart[0])
                ):
                    raise ValueError(
                        "esql: INLINESTATS wants name = AGG(expr) [, ...]"
                    )
                name, agg = apart[0], apart[2].upper()
                if agg not in ("COUNT", "SUM", "AVG", "MIN", "MAX"):
                    raise ValueError(
                        "esql: INLINESTATS supports COUNT/SUM/AVG/MIN/MAX "
                        "(windowed MEDIAN/COUNT_DISTINCT are not portable)"
                    )
                body_toks = apart[4:-1]
                if body_toks == ["*"]:
                    if agg != "COUNT":
                        raise ValueError("esql: only COUNT takes *")
                    x = "*"
                else:
                    x = _Expr(body_toks, "INLINESTATS", dialect=dialect).parse()
                if agg == "COUNT":
                    e = f"count({x}) OVER {w}"
                elif agg in ("MIN", "MAX"):
                    e = f"{agg.lower()}({x}) OVER {w}"
                elif agg == "SUM":
                    e = f"cast(sum(cast({x} AS {_DEC})) OVER {w} AS DOUBLE)"
                else:
                    e = (
                        f"cast(sum(cast({x} AS {_DEC})) OVER {w} AS DOUBLE)"
                        f" / count({x}) OVER {w}"
                    )
                cols.append(f"{e} AS {name}")
            if not cols:
                raise ValueError("esql: INLINESTATS wants >= 1 aggregate")
            sql = f"SELECT *, {', '.join(cols)} FROM {inner}"
        elif cmd in ("DISSECT", "GROK"):
            sql = _compile_extract(cmd, rest, inner, dialect)
        elif cmd == "MV_EXPAND":
            # explode a multivalued (array) column into one row per
            # element, keeping the column name — map-local fan-out
            if len(rest) != 1 or not _IDENT.fullmatch(rest[0]):
                raise ValueError("esql: MV_EXPAND wants one column name")
            c = rest[0]
            if dialect == "spark":
                sql = (
                    f"SELECT * EXCEPT (_mv, {c}), _mv AS {c} FROM ("
                    f"SELECT *, explode({c}) AS _mv FROM {inner}) mv{n}"
                )
            else:
                sql = (
                    f"SELECT * EXCLUDE ({c}), unnest({c}) AS {c}"
                    f" FROM {inner}"
                )
        elif cmd == "FORK":
            # FORK (branch) (branch) ... (ES 8.19 tech preview): run
            # 2..8 sub-pipelines over the CURRENT table and
            # concatenate, each row tagged with its branch in _fork
            # ('fork1'..'forkN', branch order). Compiled by textual
            # recursion: each branch compiles as its own ES|QL
            # pipeline over a placeholder source, then the placeholder
            # is substituted with the current subquery — so branches
            # get the full command grammar (including nested FORK) for
            # free, and the result is ONE UNION ALL statement Catalyst
            # plans as sibling scans sharing the input plan. (ES 8.19
            # rejects nested FORK outright; this engine allows it as a
            # documented superset — but an inner _fork column that is
            # not KEEP/DROP-ed away before the outer FORK re-tags will
            # appear TWICE in the output, both engines.) STRICTER
            # than ES on schema: branches must end with the same
            # column set (ES pads missing columns with NULL; this
            # engine's columns are not known at compile time, so a
            # mismatch fails loudly at analysis instead of silently
            # padding). Branch output order is engine-defined, as in
            # ES — pipe into SORT for determinism.
            raw = re.match(r"(?is)^\s*FORK\b(.*)$", stage, re.S)
            branches = _paren_groups(raw.group(1))
            if not 2 <= len(branches) <= 8:
                raise ValueError("esql: FORK wants 2..8 (...) branches")
            arms = []
            for i, btxt in enumerate(branches, 1):
                if not btxt.strip():
                    raise ValueError(
                        "esql: FORK branches must be non-empty"
                    )
                bsql = compile_esql(
                    f"FROM __fork_base | {btxt}", dialect
                )
                bsql = bsql.replace(
                    "FROM __fork_base", f"FROM {inner}"
                )
                arms.append(
                    f"SELECT *, 'fork{i}' AS _fork "
                    f"FROM ({bsql}) fk{n}_{i}"
                )
            sql = "\nUNION ALL ".join(arms)
        elif cmd == "SAMPLE":
            # SAMPLE <prob> ON <field> [<seed>] — DETERMINISTIC
            # documented deviation from the spec's `SAMPLE prob
            # [seed]`: the engine keys the coin flip on an md5-uniform
            # hash of an explicit field (the same portable primitive
            # under random_score and the sampling operators), so the
            # sample is reproducible across engines, retries, and
            # cluster sizes — the property a 100 TB pipeline actually
            # wants from sampling, and the property that keeps the
            # DuckDB oracle checkable. The bare spec form raises
            # loudly pointing here: a rand()-backed sample would be
            # engine-private and unverifiable.
            if len(rest) < 3 or rest[1].upper() != "ON":
                raise ValueError(
                    "esql: SAMPLE wants <prob> ON <field> [<seed>] — "
                    "this engine's sampling is deterministic (keyed "
                    "md5-uniform), so the keying field is required; "
                    "the spec's bare `SAMPLE prob [seed]` rand() form "
                    "is not reproducible and is rejected"
                )
            try:
                prob = float(rest[0])
            except ValueError:
                raise ValueError("esql: SAMPLE probability must be a "
                                 f"number (got {rest[0]!r})")
            if not 0.0 < prob < 1.0:
                raise ValueError(
                    "esql: SAMPLE probability wants (0, 1) exclusive"
                )
            if not _IDENT.fullmatch(rest[2]):
                raise ValueError(f"esql: bad SAMPLE field {rest[2]!r}")
            seed = 0
            if len(rest) == 4:
                if not re.fullmatch(r"\d+", rest[3]):
                    raise ValueError("esql: SAMPLE seed must be an int")
                seed = int(rest[3])
            elif len(rest) > 4:
                raise ValueError(
                    "esql: SAMPLE wants <prob> ON <field> [<seed>]"
                )
            from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
                hash16,
            )

            cast_t = "string" if dialect == "spark" else "varchar"
            h = hash16(
                f"md5(concat('{seed}:', cast({rest[2]} AS {cast_t})))"
            )
            # NULL keys are EXCLUDED explicitly (the TOP/VALUES
            # missing-value rule): without the guard the engines
            # diverge — Spark's concat propagates NULL (row dropped)
            # while DuckDB's concat skips NULL arguments, giving every
            # NULL-key row the SAME shared coin flip (found in review)
            sql = (
                f"SELECT * FROM {inner} "
                f"WHERE ({rest[2]}) IS NOT NULL "
                f"AND {h} < {int(round(prob * 65536))}"
            )
        elif cmd == "CHANGE_POINT":
            # CHANGE_POINT <value> ON <key> [AS <type>, <pvalue>] —
            # DETERMINISTIC documented deviation: ES backs this with
            # an ML significance test; the engine implements the
            # classical mean-shift locator instead — the row k (in
            # key order) maximizing |mean(rows<k) - mean(rows>=k)|,
            # smallest k on ties — computed with DECIMAL prefix sums
            # (the STATS pattern) so both engines see bit-identical
            # doubles. Output parity: every input row passes through;
            # the located row carries type='step_change' and a
            # monotone score in the pvalue slot (1/(1+d), documented:
            # a deterministic proxy, NOT a calibrated p-value); all
            # other rows carry NULLs, the ES shape. One scan + window
            # functions — no self-join. SCALE NOTE: the windows are
            # global (a change point is a global statistic), so the
            # input should be an ALREADY-AGGREGATED series (the ES
            # usage too: STATS ... BY bucket | CHANGE_POINT) — bounded
            # by bucket count, not raw rows; Spark warns and
            # single-partitions if fed an unaggregated stream.
            # ENFORCED (ADVICE r12): a duplicate or NULL key would
            # make _cp_rn/_cp_cum tie-order engine-arbitrary, breaking
            # the bit-identical cross-engine guarantee — so the plan
            # itself raises (raise_error/error) when the key column
            # has duplicates or NULLs, instead of silently picking an
            # order. The aggregated-series contract is now checked,
            # not just documented.
            tname, pname = "type", "pvalue"
            if any(t.upper() == "AS" for t in rest):
                as_i = next(
                    i for i, t in enumerate(rest) if t.upper() == "AS"
                )
                names = [t for t in rest[as_i + 1:] if t != ","]
                if len(names) != 2 or not all(
                    _IDENT.fullmatch(x) for x in names
                ):
                    raise ValueError(
                        "esql: CHANGE_POINT AS wants <type_col>, "
                        "<pvalue_col>"
                    )
                tname, pname = names
                rest = rest[:as_i]
            if (
                len(rest) != 3 or rest[1].upper() != "ON"
                or not _IDENT.fullmatch(rest[0])
                or not _IDENT.fullmatch(rest[2])
            ):
                raise ValueError(
                    "esql: CHANGE_POINT wants <value> ON <key> "
                    "[AS <type>, <pvalue>] (the key is required: "
                    "the engine has no @timestamp default)"
                )
            v, k = rest[0], rest[2]
            okey = f"{k} ASC NULLS LAST"
            cum_frame = (
                f"ORDER BY {okey} "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
            )
            full = (
                "ROWS BETWEEN UNBOUNDED PRECEDING AND "
                "UNBOUNDED FOLLOWING"
            )
            dec = f"cast({v} AS {_DEC})"
            base = (
                f"SELECT *, row_number() OVER (ORDER BY {okey}) AS _cp_rn, "
                f"count(*) OVER () AS _cp_n, "
                f"cast(sum({dec}) OVER ({cum_frame}) AS DOUBLE) AS _cp_cum, "
                f"cast(sum({dec}) OVER () AS DOUBLE) AS _cp_tot, "
                f"count(*) OVER (PARTITION BY {k}) AS _cp_kc, "
                f"max(CASE WHEN {k} IS NULL THEN 1 ELSE 0 END) "
                f"OVER () AS _cp_knull "
                f"FROM {inner}"
            )
            dstat = (
                f"(CASE WHEN _cp_rn >= 2 THEN "
                f"abs((_cp_cum - cast({v} AS DOUBLE)) / (_cp_rn - 1) - "
                f"(_cp_tot - (_cp_cum - cast({v} AS DOUBLE)))"
                f" / (_cp_n - _cp_rn + 1)) END)"
            )
            scored = (
                f"SELECT *, {dstat} AS _cp_d FROM ({base}) cpb{n}"
            )
            located = (
                f"SELECT *, first_value(_cp_rn) OVER ("
                f"ORDER BY _cp_d DESC NULLS LAST, _cp_rn ASC {full}"
                f") AS _cp_at, "
                f"max(_cp_kc) OVER ({full}) AS _cp_maxkc "
                f"FROM ({scored}) cps{n}"
            )
            drop = ("_cp_rn, _cp_n, _cp_cum, _cp_tot, _cp_d, _cp_at, "
                    "_cp_kc, _cp_knull, _cp_maxkc")
            exc = "EXCLUDE" if dialect == "duck" else "EXCEPT"
            err = "error" if dialect == "duck" else "raise_error"
            bad = (
                f"WHEN _cp_maxkc > 1 OR _cp_knull = 1 THEN "
                f"{err}('esql: CHANGE_POINT requires a unique, "
                f"non-NULL key column (feed an aggregated series: "
                f"STATS ... BY bucket | CHANGE_POINT) — duplicate or "
                f"NULL {k} values would make the result "
                f"engine-arbitrary') "
            )
            sql = (
                f"SELECT * {exc} ({drop}), "
                f"(CASE {bad}"
                f"WHEN _cp_rn = _cp_at AND _cp_d IS NOT NULL "
                f"THEN 'step_change' END) AS {tname}, "
                f"(CASE WHEN _cp_rn = _cp_at AND _cp_d IS NOT NULL "
                f"THEN round(1e0 / (1e0 + _cp_d), 6) END) AS {pname} "
                f"FROM ({located}) cpl{n}"
            )
        elif cmd in ("COMPLETION", "RERANK"):
            # the ES|QL inference commands (9.x): both call a deployed
            # ML model per row (LLM completion / semantic reranker).
            # No model runtime exists in this engine — an honest loud
            # stub, the mp3/mp4 posture: never a silent fake.
            raise ValueError(
                f"esql: {cmd} requires a deployed inference model "
                "(an ML runtime this engine does not embed); "
                "deterministic relational commands are fully "
                "supported — see FORK/SAMPLE/CHANGE_POINT for the "
                "tech-preview tier that IS implemented"
            )
        else:
            raise ValueError(
                f"esql: unsupported command {cmd!r} (WHERE/EVAL/STATS/"
                "SORT/LIMIT/KEEP/DROP/RENAME/LOOKUP JOIN/ENRICH/"
                "DISSECT/GROK/MV_EXPAND/INLINESTATS/SAMPLE/"
                "CHANGE_POINT/FORK)"
            )
    # dialect-resolved regex predicate (identical argument shapes)
    return sql.replace(
        "__RLIKE__(", "rlike(" if dialect == "spark" else "regexp_matches("
    )


# grok's everyday pattern names -> the shared-regex subset both RE2
# (DuckDB) and the JVM regex engine (Spark) read identically
_GROK_PATTERNS = {
    "WORD": r"\w+",
    "NUMBER": r"[0-9]+(?:[.][0-9]+)?",
    "INT": r"[0-9]+",
    "DATA": ".*?",
    "GREEDYDATA": ".*",
    "NOTSPACE": r"\S+",
}

_GROK_KEY = re.compile(
    r"%\{([A-Z]+):([A-Za-z_][A-Za-z0-9_]*)(?::(int|float))?\}"
)
_DISSECT_KEY = re.compile(r"%\{([A-Za-z_][A-Za-z0-9_]*)\}")


def _compile_extract(cmd: str, rest: list[str], inner: str,
                     dialect: str) -> str:
    """DISSECT (literal separators) / GROK (named patterns) -> one
    regexp_extract projection per captured key, NULL on non-matching
    rows (the ES behavior; the CASE guard also pins the two engines'
    different no-match results to a shared NULL). Map-local: the
    extraction runs inside the scan, no shuffle."""
    if len(rest) != 2 or not _IDENT.fullmatch(rest[0]):
        raise ValueError(f"esql: {cmd} wants <column> \"<pattern>\"")
    col, raw = rest[0], rest[1]
    if not (raw.startswith('"') and raw.endswith('"')):
        raise ValueError(f"esql: {cmd} wants a string pattern")
    pat = raw[1:-1]
    if "'" in pat or "\\\\" in pat:
        raise ValueError(
            f"esql: {cmd} patterns may not contain quotes or "
            "double-backslashes"
        )
    keyre = _GROK_KEY if cmd == "GROK" else _DISSECT_KEY
    names: list[tuple[str, str | None]] = []
    regex_parts: list[str] = []
    pos = 0
    for m in keyre.finditer(pat):
        lit = pat[pos:m.start()]
        regex_parts.append(re.escape(lit))
        if cmd == "GROK":
            pname, name, typ = m.group(1), m.group(2), m.group(3)
            if pname not in _GROK_PATTERNS:
                raise ValueError(
                    f"esql: unsupported grok pattern %{{{pname}}} "
                    f"({'/'.join(sorted(_GROK_PATTERNS))})"
                )
            regex_parts.append(f"({_GROK_PATTERNS[pname]})")
            names.append((name, typ))
        else:
            regex_parts.append("(.*?)")
            names.append((m.group(1), None))
        pos = m.end()
    if not names:
        raise ValueError(f"esql: {cmd} pattern has no %{{...}} keys")
    tail = pat[pos:]
    regex_parts.append(re.escape(tail))
    regex = "".join(regex_parts)
    if cmd == "DISSECT" and regex.endswith("(.*?)"):
        # dissect's trailing key consumes the rest of the string
        regex = regex[: -len("(.*?)")] + "(.*)"
    if "'" in regex:
        raise ValueError(f"esql: {cmd} pattern does not render safely")
    # Spark's SQL parser unescapes backslashes inside string literals
    # (DuckDB keeps them) — double them for the spark dialect, the
    # TOKENS/DUCK_TOKENS discipline
    rx = regex.replace("\\", "\\\\") if dialect == "spark" else regex
    cols = []
    guard = f"__RLIKE__({col}, '{rx}')"
    for i, (name, typ) in enumerate(names, start=1):
        e = f"regexp_extract({col}, '{rx}', {i})"
        if typ == "int":
            e = f"cast({e} AS BIGINT)"
        elif typ == "float":
            e = f"cast({e} AS DOUBLE)"
        cols.append(f"CASE WHEN {guard} THEN {e} END AS {name}")
    return f"SELECT *, {', '.join(cols)} FROM {inner}"


def _resolve_from(
    spark: SparkSession, query: str
) -> tuple[str, dict[str, T.StructType]]:
    """The query with its FROM index expression expanded to concrete
    tables, and their schemas from ``spark``'s catalog. Aliases and
    wildcards resolve as in _search (gateway._expand_index_expression:
    real ES resolves both in ES|QL FROM too); a multi-target alias
    becomes the multi-index union. One plain table name is returned
    as it is, with no catalog call."""
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import (  # noqa: PLC0415
        _aliases,
        _expand_index_expression,
    )

    stages = _split_pipes(query)
    m = _FROM.fullmatch(stages[0].strip())
    if not m:
        return query, {}
    expr = m.group(2)
    if "," not in expr and "*" not in expr and expr not in _aliases(spark):
        return query, {}
    tables = _expand_index_expression(spark, expr)
    new_from = m.group(1) + ", ".join(tables) + (m.group(3) or "")
    query = " | ".join([new_from, *stages[1:]])
    if len(tables) == 1:
        return query, {}
    return query, {t: spark.table(t).schema for t in tables}


def esql_df(spark: SparkSession, query: str) -> DataFrame:
    """`POST /_query` parity: one ES|QL statement, lazily compiled to a
    Catalyst plan over ``spark``'s tables. FROM accepts gateway index
    aliases and wildcards (_resolve_from)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.errors import (  # noqa: PLC0415
        ParamsNullError,
    )

    if query is None:
        raise ParamsNullError()
    query, schemas = _resolve_from(spark, query)
    return spark.sql(compile_esql(query, "spark", schemas))


# --- registered kernels --------------------------------------------------------

ESQL_FILTER_STATS = """FROM events
  | WHERE event_type == "click" AND value > 50
  | STATS n = COUNT(*), v_avg = AVG(value),
          users = COUNT_DISTINCT(user_id) BY event_type
  | SORT event_type"""

ESQL_EVAL_KEEP = """FROM documents
  | EVAL kchars = n_chars / 1000, label = CONCAT(lang, "-", source)
  | WHERE kchars > 0.5 AND lang IN ("en", "de")
  | KEEP doc_id, label, kchars
  | SORT kchars DESC, doc_id ASC
  | LIMIT 10"""

ESQL_MEDIAN_RENAME = """FROM lineitem
  | WHERE l_returnflag == "R"
  | STATS med = MEDIAN(l_quantity),
          total = SUM(l_extendedprice) BY l_linestatus
  | RENAME l_linestatus AS status
  | SORT status"""


ESQL_DATE_CASE = """FROM events
  | EVAL day = DATE_TRUNC("day", ts),
         band = CASE(value < 20, "low", value < 80, "mid", "high")
  | STATS n = COUNT(*) BY day, band
  | SORT day, band
  | LIMIT 12"""

ESQL_LOOKUP_JOIN = """FROM customer
  | RENAME c_nationkey AS n_nationkey
  | LOOKUP JOIN nation ON n_nationkey
  | STATS cnt = COUNT(*) BY n_name
  | SORT cnt DESC, n_name ASC
  | LIMIT 5"""


ESQL_INLINESTATS = """FROM documents
  | INLINESTATS lang_avg = AVG(n_chars), lang_n = COUNT(*) BY lang
  | WHERE n_chars > lang_avg * 1.8
  | KEEP doc_id, lang, n_chars, lang_n
  | SORT doc_id
  | LIMIT 10"""

ESQL_TOP_VALUES_WAVG = """FROM events
  | STATS wavg = ROUND(WEIGHTED_AVG(value, event_id % 7 + 1), 4),
          hi3 = MV_CONCAT(TOP(user_id, 3, "desc"), "|"),
          lo2 = MV_CONCAT(TOP(user_id, 2, "asc"), "|"),
          kinds = MV_CONCAT(VALUES(event_type), ","),
          whi = ROUND(WEIGHTED_AVG(value, 2), 4) WHERE value > 50
    BY event_type
  | SORT event_type"""

ESQL_MATH_HASH = """FROM events
  | WHERE event_id < 200
  | EVAL angle = ROUND(SIN(value / 100.0) + COS(value / 100.0), 6),
         arc = ROUND(ATAN2(value, 100.0), 6),
         lg = ROUND(LOG(2.0, value + 1.0), 6),
         h = MD5(CONCAT(event_type, TO_STRING(event_id))),
         h2 = SHA256(event_type),
         c = LTRIM(RTRIM(CONCAT(" ", event_type, " ")))
  | KEEP event_id, angle, arc, lg, h, h2, c
  | SORT event_id"""

ESQL_FORK = """FROM documents
  | FORK (WHERE n_chars >= 900 | EVAL tier = "long" | KEEP doc_id, lang, n_chars, tier)
         (SORT n_chars ASC, doc_id ASC | LIMIT 20 | EVAL tier = "short" | KEEP doc_id, lang, n_chars, tier)
  | SORT _fork, doc_id"""

ESQL_SAMPLE = """FROM events
  | SAMPLE 0.25 ON event_id 7
  | STATS n = COUNT(*), v = SUM(value) BY event_type
  | SORT event_type"""

ESQL_CHANGE_POINT = """FROM events
  | WHERE event_type == "purchase"
  | STATS v = SUM(value) BY day = DATE_TRUNC("day", ts)
  | CHANGE_POINT v ON day
  | SORT day
  | KEEP day, v, type, pvalue"""

ESQL_GROK_EXTRACT = """FROM customer
  | GROK c_name "%{WORD:who}#%{INT:cnum:int}"
  | WHERE cnum < 5
  | KEEP c_custkey, who, cnum
  | SORT c_custkey"""

ESQL_DISSECT = """FROM customer
  | DISSECT c_name "%{prefix}#%{cnum}"
  | WHERE cnum IS NOT NULL
  | STATS n = COUNT(*), variants = COUNT_DISTINCT(prefix)"""

ESQL_MV_EXPAND = """FROM embeddings
  | WHERE vec_id < 3
  | MV_EXPAND embedding
  | EVAL e = ROUND(embedding, 4)
  | STATS n = COUNT(*), s = SUM(e) BY vec_id
  | SORT vec_id"""

ESQL_PERCENTILE = """FROM lineitem
  | WHERE l_returnflag == "R"
  | STATS p50 = PERCENTILE(l_extendedprice, 50),
          p95 = PERCENTILE(l_extendedprice, 95),
          qmed = MEDIAN(l_quantity) BY l_linestatus
  | SORT l_linestatus"""

ESQL_DATE_FORMAT_DIFF = """FROM events
  | WHERE event_type == "view"
  | EVAL day = DATE_FORMAT("yyyy-MM-dd", ts),
         hour_of_day = DATE_DIFF("hour", DATE_TRUNC("day", ts), ts)
  | STATS n = COUNT(*) BY day, hour_of_day
  | SORT day, hour_of_day
  | LIMIT 30"""

ESQL_MV_STATS = """FROM embeddings
  | WHERE vec_id < 50
  | EVAL n = MV_COUNT(embedding),
         lo = ROUND(TO_DOUBLE(MV_MIN(embedding)), 4),
         hi = ROUND(TO_DOUBLE(MV_MAX(embedding)), 4),
         s = MV_SUM(embedding),
         m = MV_AVG(embedding)
  | KEEP vec_id, n, lo, hi, s, m
  | SORT vec_id"""

ESQL_ENRICH = """FROM supplier
  | RENAME s_nationkey AS n_nationkey
  | ENRICH nation ON n_nationkey WITH nat = n_name
  | STATS suppliers = COUNT(*), bal = SUM(s_acctbal) BY nat
  | SORT nat"""

ESQL_MULTI_INDEX = """FROM region, nation
  | EVAL kind = CASE(r_regionkey IS NOT NULL, "region", "nation")
  | STATS n = COUNT(*), names = COUNT_DISTINCT(n_name) BY kind
  | SORT kind"""

ESQL_STATS_WHERE = """FROM events
  | STATS views = COUNT(*) WHERE event_type == "view",
          clicks = COUNT(*) WHERE event_type == "click",
          click_value = SUM(value) WHERE event_type == "click",
          n = COUNT(*)
          BY day = DATE_TRUNC("day", ts)
  | SORT day
  | LIMIT 15"""

ESQL_SORT_NULLS = """FROM events
  | WHERE event_id < 500
  | EVAL hot = CASE(value > 90, "hot")
  | SORT hot ASC, event_id ASC
  | KEEP event_id, hot, value
  | LIMIT 12"""

ESQL_SCALAR_FUNCTIONS = """FROM lineitem
  | WHERE l_orderkey < 200
  | EVAL gross = ROUND(POW(l_extendedprice, 0.5), 4),
         band = CEIL(l_quantity / 10),
         tag = REPLACE(LEFT(l_returnflag, 1), "N", "none"),
         widest = GREATEST(l_discount, l_tax),
         flip = REVERSE(l_linestatus)
  | KEEP l_orderkey, l_linenumber, gross, band, tag, widest, flip
  | SORT l_orderkey, l_linenumber
  | LIMIT 25"""

ESQL_MV_TRANSFORMS = """FROM embeddings
  | WHERE vec_id < 20
  | EVAL top3 = MV_SLICE(MV_SORT(embedding, "DESC"), 0, 2),
         distinct_n = MV_COUNT(MV_DEDUPE(embedding)),
         best = ROUND(TO_DOUBLE(MV_MAX(embedding)), 4)
  | EVAL top3_sum = MV_SUM(top3)
  | KEEP vec_id, top3_sum, distinct_n, best
  | SORT vec_id"""

ESQL_ROW_SOURCE = """ROW a = 10, label = "x,y", ts = TO_DATETIME("2024-03-05 10:30:00")
  | EVAL parts = SPLIT(label, ","),
         n = MV_COUNT(SPLIT(label, ",")),
         hour = DATE_FORMAT("HH", ts),
         root = ROUND(SQRT(a), 4)
  | KEEP a, n, hour, root"""

ESQL_FROM_METADATA = """FROM region, nation METADATA _index
  | STATS rows = COUNT(*), named = COUNT(n_name) BY _index
  | SORT _index"""

ESQL_DATE_EXTRACT_LOCATE = """FROM events
  | WHERE ENDS_WITH(event_type, "ck") AND LOCATE(event_type, "li") > 0
  | EVAL h = DATE_EXTRACT("hour_of_day", ts),
         dom = DATE_EXTRACT("day_of_month", ts)
  | STATS n = COUNT(*) BY h
  | SORT h
  | LIMIT 24"""

ESQL_BUCKET = """FROM events
  | STATS n = COUNT(*), v = ROUND(AVG(value), 4)
          BY span = BUCKET(ts, 6 hours), vb = BUCKET(value, 5, 0, 100)
  | SORT span, vb
  | LIMIT 40"""


def registry() -> dict[str, dict]:
    from golang_db_query_engine_elasticsearch_indexer_spark.session import (  # noqa: PLC0415
        footer_schemas,
    )

    def entry(q: str):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return esql_df(spark, q)

        return run

    region_nation = footer_schemas(("region", "nation"))

    return {
        "esql_filter_stats": {
            "fn": entry(ESQL_FILTER_STATS),
            "oracle": compile_esql(ESQL_FILTER_STATS, "duck"),
        },
        "esql_eval_keep": {
            "fn": entry(ESQL_EVAL_KEEP),
            "oracle": compile_esql(ESQL_EVAL_KEEP, "duck"),
        },
        "esql_median_rename": {
            "fn": entry(ESQL_MEDIAN_RENAME),
            "oracle": compile_esql(ESQL_MEDIAN_RENAME, "duck"),
        },
        "esql_date_case": {
            "fn": entry(ESQL_DATE_CASE),
            "oracle": compile_esql(ESQL_DATE_CASE, "duck"),
        },
        "esql_lookup_join": {
            "fn": entry(ESQL_LOOKUP_JOIN),
            "oracle": compile_esql(ESQL_LOOKUP_JOIN, "duck"),
        },
        "esql_grok_extract": {
            "fn": entry(ESQL_GROK_EXTRACT),
            "oracle": compile_esql(ESQL_GROK_EXTRACT, "duck"),
        },
        "esql_dissect": {
            "fn": entry(ESQL_DISSECT),
            "oracle": compile_esql(ESQL_DISSECT, "duck"),
        },
        "esql_mv_expand": {
            "fn": entry(ESQL_MV_EXPAND),
            "oracle": compile_esql(ESQL_MV_EXPAND, "duck"),
        },
        "esql_inlinestats": {
            "fn": entry(ESQL_INLINESTATS),
            "oracle": compile_esql(ESQL_INLINESTATS, "duck"),
        },
        "esql_sample": {
            "fn": entry(ESQL_SAMPLE),
            "oracle": compile_esql(ESQL_SAMPLE, "duck"),
        },
        "esql_top_values_wavg": {
            "fn": entry(ESQL_TOP_VALUES_WAVG),
            "oracle": compile_esql(ESQL_TOP_VALUES_WAVG, "duck"),
        },
        "esql_fork": {
            "fn": entry(ESQL_FORK),
            "oracle": compile_esql(ESQL_FORK, "duck"),
        },
        "esql_math_hash_functions": {
            "fn": entry(ESQL_MATH_HASH),
            "oracle": compile_esql(ESQL_MATH_HASH, "duck"),
        },
        "esql_change_point": {
            "fn": entry(ESQL_CHANGE_POINT),
            "oracle": compile_esql(ESQL_CHANGE_POINT, "duck"),
        },
        "esql_percentile": {
            "fn": entry(ESQL_PERCENTILE),
            "oracle": compile_esql(ESQL_PERCENTILE, "duck"),
        },
        "esql_date_format_diff": {
            "fn": entry(ESQL_DATE_FORMAT_DIFF),
            "oracle": compile_esql(ESQL_DATE_FORMAT_DIFF, "duck"),
        },
        "esql_mv_stats": {
            "fn": entry(ESQL_MV_STATS),
            "oracle": compile_esql(ESQL_MV_STATS, "duck"),
        },
        "esql_enrich": {
            "fn": entry(ESQL_ENRICH),
            "oracle": compile_esql(ESQL_ENRICH, "duck"),
        },
        "esql_multi_index": {
            "fn": entry(ESQL_MULTI_INDEX),
            "oracle": compile_esql(ESQL_MULTI_INDEX, "duck", region_nation),
        },
        "esql_stats_where": {
            "fn": entry(ESQL_STATS_WHERE),
            "oracle": compile_esql(ESQL_STATS_WHERE, "duck"),
        },
        "esql_sort_nulls": {
            "fn": entry(ESQL_SORT_NULLS),
            "oracle": compile_esql(ESQL_SORT_NULLS, "duck"),
        },
        "esql_scalar_functions": {
            "fn": entry(ESQL_SCALAR_FUNCTIONS),
            "oracle": compile_esql(ESQL_SCALAR_FUNCTIONS, "duck"),
        },
        "esql_mv_transforms": {
            "fn": entry(ESQL_MV_TRANSFORMS),
            "oracle": compile_esql(ESQL_MV_TRANSFORMS, "duck"),
        },
        "esql_row_source": {
            "fn": entry(ESQL_ROW_SOURCE),
            "oracle": compile_esql(ESQL_ROW_SOURCE, "duck"),
        },
        "esql_from_metadata": {
            "fn": entry(ESQL_FROM_METADATA),
            "oracle": compile_esql(ESQL_FROM_METADATA, "duck", region_nation),
        },
        "esql_date_extract_locate": {
            "fn": entry(ESQL_DATE_EXTRACT_LOCATE),
            "oracle": compile_esql(ESQL_DATE_EXTRACT_LOCATE, "duck"),
        },
        "esql_bucket": {
            "fn": entry(ESQL_BUCKET),
            "oracle": compile_esql(ESQL_BUCKET, "duck"),
        },
    }
