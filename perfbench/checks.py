"""Correctness checks for the benchmark's operations.

Each check compares what the engine answered with something computed apart
from it: DuckDB over the same Parquet files, or a property the answer must
have. A check returns ``None`` when the answer is right and a one-line
reason when it is wrong; a wrong answer counts as a failed operation.

Values are compared after ``canon``: timestamps as ISO strings without a
zone, decimals as floats, and floats within ``REL_TOL`` of each other.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math

REL_TOL = 1e-9
ABS_TOL = 1e-9


def canon(v):
    """One engine-neutral form for a cell."""
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, str) and len(v) >= 19 and v[4] == "-" and v[10] == "T":
        # an ISO timestamp string: normalise its precision so Spark's
        # JSON ("1998-10-03T00:00:00.000") and DuckDB's datetime agree
        try:
            return canon(dt.datetime.fromisoformat(v))
        except ValueError:
            return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def same(a, b, rel: float = REL_TOL) -> bool:
    """Cell equality with a relative tolerance on numbers."""
    a, b = canon(a), canon(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
    return a == b


def _sort_key(row: tuple) -> tuple:
    def one(v):
        v = canon(v)
        if isinstance(v, float):
            return (1, float(f"{v:.6g}"), "")
        if isinstance(v, int) and not isinstance(v, bool):
            return (1, float(v), "")
        return (2 if v is None else 3, 0.0, str(v))
    return tuple(one(v) for v in row)


def rows_match(got: list[tuple], want: list[tuple], rel: float = REL_TOL) -> str | None:
    """Multiset equality of two row lists, floats within ``rel``."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    g, w = sorted(got, key=_sort_key), sorted(want, key=_sort_key)
    if all(len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))
           for a, b in zip(g, w)):
        return None
    # rounding in the sort key can order near-equal rows differently:
    # fall back to matching each expected row to any equal unused row
    unused = list(g)
    for row in w:
        for i, cand in enumerate(unused):
            if len(cand) == len(row) and all(same(x, y, rel) for x, y in zip(cand, row)):
                unused.pop(i)
                break
        else:
            return f"expected row {row!r} missing"
    return None


def ordered_rows_match(got: list[tuple], want: list[tuple], rel: float = REL_TOL) -> str | None:
    """Row-by-row equality, order included."""
    if len(got) != len(want):
        return f"row count {len(got)} != expected {len(want)}"
    for i, (a, b) in enumerate(zip(got, want)):
        if not (len(a) == len(b) and all(same(x, y, rel) for x, y in zip(a, b))):
            return f"row {i}: {a!r} != expected {b!r}"
    return None


def envelope_rows(payload: dict, columns: list[str]) -> list[tuple]:
    """Rows of a ``/query/`` or ``_search`` envelope, as tuples in ``columns`` order."""
    return [tuple(r.get(c) for c in columns) for r in payload["data"]]


def check_count(got: int, want: int) -> str | None:
    return None if got == want else f"count {got} != expected {want}"


def check_bm25_hits(payload: dict, term: str, size: int, texts: dict) -> str | None:
    """Properties of a BM25 ``match`` answer that need no scorer of our own:
    every hit's document (``texts`` maps ``doc_id`` to its text) holds the
    term, scores never increase down the list, and the page holds
    ``min(size, documents holding the term)`` hits."""
    hits = payload["data"]
    n_matching = sum(term in t.lower().split() for t in texts.values())
    if len(hits) != min(size, n_matching):
        return f"{len(hits)} hits != expected {min(size, n_matching)}"
    for h in hits:
        if term not in texts.get(h["doc_id"], "").lower().split():
            return f"hit {h['doc_id']} lacks the term {term!r}"
    scores = [h["_score"] for h in hits]
    for i in range(1, len(scores)):
        if scores[i] > scores[i - 1]:
            return f"score rises at hit {i}: {scores[i - 1]} -> {scores[i]}"
    return None


def check_msearch(payload: dict, singles: list[dict]) -> str | None:
    """``_msearch`` must answer exactly what each search answered alone."""
    resps = payload["responses"]
    if len(resps) != len(singles):
        return f"{len(resps)} responses != {len(singles)} searches"
    for i, (m, s) in enumerate(zip(resps, singles)):
        m = {k: v for k, v in m.items() if k != "took"}
        s = {k: v for k, v in s.items() if k != "took"}
        if m != s:
            return f"response {i} differs from the single search"
    return None


def parse_bulk(body: bytes) -> list[tuple[str, dict]]:
    """(``_id``, document) pairs from the NDJSON bodies of ``_bulk`` requests."""
    lines = body.splitlines()
    if len(lines) % 2:
        raise ValueError("odd number of _bulk lines")
    out = []
    for i in range(0, len(lines), 2):
        action = json.loads(lines[i])["index"]
        out.append((str(action["_id"]), json.loads(lines[i + 1])))
    return out


def check_saved_docs(pairs: list[tuple[str, dict]], want: list[tuple], columns: list[str]) -> str | None:
    """A save must deliver exactly one document per result row, with ``_id``
    the row's 1-based position in the expected order and the row's values.
    ``want`` is the expected rows in that order."""
    by_id: dict[str, dict] = {}
    for doc_id, doc in pairs:
        if doc_id in by_id:
            return f"_id {doc_id} delivered twice"
        by_id[doc_id] = doc
    ids = {str(i) for i in range(1, len(want) + 1)}
    if set(by_id) != ids:
        missing = sorted(ids - set(by_id), key=int)[:3]
        extra = sorted(set(by_id) - ids)[:3]
        return f"_ids are not 1..{len(want)}: missing {missing}, unexpected {extra}"
    for pos, row in enumerate(want, start=1):
        doc = by_id[str(pos)]
        if set(doc) != set(columns):
            return f"_id {pos}: fields {sorted(doc)} != {sorted(columns)}"
        for c, v in zip(columns, row):
            if not same(doc[c], v):
                return f"_id {pos}: {c}={doc[c]!r} != expected {v!r}"
    return None
