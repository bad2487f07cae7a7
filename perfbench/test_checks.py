"""The benchmark's correctness checks must reject corrupted answers.

    python3 -m pytest perfbench/test_checks.py -q

Each test builds a right answer, shows the check accepts it, then corrupts
it the way a faulty engine could and shows the check flags it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402


def _bulk(pairs) -> bytes:
    lines = []
    for doc_id, doc in pairs:
        lines.append(json.dumps({"index": {"_index": "i", "_id": doc_id}}))
        lines.append(json.dumps(doc))
    return ("\n".join(lines) + "\n").encode()


COLUMNS = ["o_orderkey", "o_totalprice", "o_orderdate"]
WANT = [
    (10, 1.5, dt.datetime(1998, 10, 3)),
    (11, 2.25, dt.datetime(1999, 1, 1)),
    (15, 3.0, dt.datetime(2000, 2, 29)),
]


def _saved(ids):
    return [
        (str(i), {"o_orderkey": k, "o_totalprice": p, "o_orderdate": d.isoformat() + ".000"})
        for i, (k, p, d) in zip(ids, WANT)
    ]


def test_saved_docs_accepts_positional_ids():
    pairs = checks.parse_bulk(_bulk(_saved([1, 2, 3])))
    assert checks.check_saved_docs(pairs, WANT, COLUMNS) is None


def test_saved_docs_flags_missing_id():
    pairs = checks.parse_bulk(_bulk(_saved([1, 2, 3])[:2]))
    assert "missing ['3']" in checks.check_saved_docs(pairs, WANT, COLUMNS)


def test_saved_docs_flags_duplicated_id():
    pairs = _saved([1, 2, 3])
    pairs.append(pairs[0])
    assert "twice" in checks.check_saved_docs(pairs, WANT, COLUMNS)


def test_saved_docs_flags_shifted_ids():
    # IDs 2..4 instead of 1..3: every document is off by one position
    assert "not 1..3" in checks.check_saved_docs(_saved([2, 3, 4]), WANT, COLUMNS)


def test_saved_docs_flags_ids_in_wrong_order():
    pairs = _saved([2, 1, 3])
    assert "_id 1" in checks.check_saved_docs(pairs, WANT, COLUMNS)


def test_saved_docs_flags_wrong_value():
    pairs = _saved([1, 2, 3])
    pairs[1][1]["o_totalprice"] = 2.26
    assert "o_totalprice" in checks.check_saved_docs(pairs, WANT, COLUMNS)


def test_count_flags_wrong_count():
    assert checks.check_count(41, 41) is None
    assert checks.check_count(40, 41) is not None


def test_rows_match_is_a_multiset_with_float_tolerance():
    want = [("A", 3, 0.1 + 0.2), ("B", 1, 2.0), ("B", 1, 2.0)]
    assert checks.rows_match([("B", 1, 2.0), ("A", 3, 0.3), ("B", 1, 2.0)], want) is None
    assert checks.rows_match([("B", 1, 2.0), ("A", 3, 0.3)], want) is not None
    assert checks.rows_match([("B", 1, 2.0), ("A", 3, 0.3), ("A", 3, 0.3)], want) is not None
    assert checks.rows_match([("B", 1, 2.0), ("A", 3, 0.31), ("B", 1, 2.0)], want) is not None


TEXTS = {1: "spark join spark", 2: "hash join", 3: "spark plan", 4: "scan"}


def test_bm25_hits_accepts_descending_hits_with_the_term():
    payload = {"data": [{"doc_id": 1, "_score": 0.9}, {"doc_id": 3, "_score": 0.4}]}
    assert checks.check_bm25_hits(payload, "spark", 10, TEXTS) is None


def test_bm25_hits_flags_reordered_hits():
    payload = {"data": [{"doc_id": 3, "_score": 0.4}, {"doc_id": 1, "_score": 0.9}]}
    assert "score rises" in checks.check_bm25_hits(payload, "spark", 10, TEXTS)


def test_bm25_hits_flags_hit_without_term_and_missing_hits():
    wrong_doc = {"data": [{"doc_id": 1, "_score": 0.9}, {"doc_id": 4, "_score": 0.4}]}
    assert "lacks" in checks.check_bm25_hits(wrong_doc, "spark", 10, TEXTS)
    short = {"data": [{"doc_id": 1, "_score": 0.9}]}
    assert "expected 2" in checks.check_bm25_hits(short, "spark", 10, TEXTS)


def test_msearch_must_equal_single_searches():
    a = {"count": 1, "data": [{"x": 1}], "took": 5}
    b = {"count": 2, "data": [{"y": 1}, {"y": 2}], "took": 9}
    ok = {"responses": [dict(a, took=1), dict(b, took=2)]}
    assert checks.check_msearch(ok, [a, b]) is None
    swapped = {"responses": [b, a]}
    assert checks.check_msearch(swapped, [a, b]) is not None


def test_ordered_rows_flag_reordering():
    want = [("F", 3), ("O", 2)]
    assert checks.ordered_rows_match([("F", 3), ("O", 2)], want) is None
    assert checks.ordered_rows_match([("O", 2), ("F", 3)], want) is not None
