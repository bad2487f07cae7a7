"""The driver's correctness window (rotation.py): the ranking rule on
small inputs, the executed windows it reproduces from the committed
CORRECTNESS files, and the live window's contract with queries().
"""

from __future__ import annotations

import json
import os

import pytest

from golang_db_query_engine_elasticsearch_indexer_spark import rotation
from golang_db_query_engine_elasticsearch_indexer_spark.rotation import (
    Evidence,
    evidence,
    window,
)

_REPO = os.path.join(os.path.dirname(__file__), "..")


def _ev(green: dict[str, int], failed=()) -> Evidence:
    return Evidence(green, frozenset(failed))


def _write(tmp_path, rnd: int, rows: dict) -> str:
    f = tmp_path / f"CORRECTNESS_r{rnd:02d}.json"
    f.write_text(json.dumps(rows))
    return str(f)


def test_evidence_reader_takes_newest_green_and_ignores_errors(tmp_path):
    r5 = _write(
        tmp_path,
        5,
        {
            "a": {"hash_match": True},
            "b": {"rows_match": True, "err": None},
            "c": {"rows_match": True, "err": "boom"},
        },
    )
    r6 = _write(tmp_path, 6, {"a": {"hash_match": True}, "c": {"hash_match": False}})
    assert evidence([r6, r5]) == _ev({"a": 6, "b": 5}, {"c"})


def test_evidence_reader_credits_rows_only_shape(tmp_path):
    """``err == "no_oracle"`` with rows is a rows-only check, not a
    failure; zero rows or a real error stays non-green."""
    f = _write(
        tmp_path,
        8,
        {
            "rows_only_ok": {"hash_match": None, "spark_rows": 3, "err": "no_oracle"},
            "rows_only_empty": {"hash_match": None, "spark_rows": 0, "err": "no_oracle"},
            "real_error": {"hash_match": None, "spark_rows": 3, "err": "boom"},
        },
    )
    assert evidence([f]) == _ev({"rows_only_ok": 8}, {"rows_only_empty", "real_error"})


def test_failed_entry_stays_at_front_of_next_window():
    # green in r03 and failed since: it outranks even older evidence
    ev = _ev({"ok_old": 2, "ok_new": 6, "failed_one": 3}, {"failed_one"})
    assert window(["ok_old", "ok_new", "failed_one"], ev, {}, size=2) == [
        "failed_one",
        "ok_old",
    ]


def test_changed_entry_ranks_first_until_rechecked():
    names = ["ok_old", "ok_new", "changed_a"]
    changed = {"changed_a": 7}
    ev = _ev({"ok_old": 3, "ok_new": 6, "changed_a": 6})
    assert window(names, ev, changed, size=2) == ["changed_a", "ok_old"]
    # a green row from the CHANGED round drops it back to the refill order
    ev = _ev({"ok_old": 3, "ok_new": 6, "changed_a": 7})
    assert window(names, ev, changed, size=2) == ["ok_old", "ok_new"]


def test_net_new_front_scheduled_and_not_duplicated():
    ev = _ev({"q1": 3, "q2": 6})
    w = window(["new_b", "q1", "new_a", "q2"], ev, {}, size=3)
    assert w == ["new_a", "new_b", "q1"]


def test_refill_uses_oldest_driver_evidence_first():
    ev = _ev({"old5": 5, "b_old3": 3, "old4": 4, "a_old3": 3})
    w = window(["old5", "b_old3", "old4", "a_old3"], ev, {}, size=3)
    assert w == ["a_old3", "b_old3", "old4"]


def test_deleted_entry_never_rescheduled():
    """An entry dropped from queries() never reappears, even with a
    failed newest row or a CHANGED mark."""
    ev = _ev({"live": 6}, {"deleted"})
    assert window(["live"], ev, {"deleted": 7}, size=2) == ["live"]


def test_no_correctness_file_gives_first_names(tmp_path, monkeypatch):
    monkeypatch.setattr(rotation, "_ROOT", tmp_path)
    names = [f"q{i:03d}" for i in range(60)]
    assert evidence() == _ev({})
    assert window(reversed(names), evidence(), {}) == names[:50]


# Entries whose kernel or oracle changed before each executed round.
# r08: the IVF kernels' rewrite.
_CHANGED_R08 = ["ann_ivf_recall_eval", "ann_ivf_topk"]
# r11: matrix_stats operands went exact DECIMAL, the terms_lookup id
# column is alias-qualified, terms_set literals render in fixed order.
_CHANGED_R11 = ["es_dsl_matrix_stats", "es_dsl_terms_lookup", "es_dsl_terms_set"]
# r12: the 15 kernels the r11 explicit null-ordering rewrite touched,
# plus the 3 r12-boundary oracle changes.
_CHANGED_R12 = [
    "es_dsl_bool_filter", "es_dsl_collapse", "es_dsl_date_math",
    "es_dsl_dis_max_boosting", "es_dsl_fuzzy",
    "es_dsl_match_bool_prefix", "es_dsl_match_phrase_prefix",
    "es_dsl_query_string", "es_dsl_regexp", "es_dsl_search_after",
    "es_dsl_should_msm", "es_dsl_simple_query_string",
    "es_dsl_terms_set", "es_scroll_page2", "es_search_template",
    "es_mtermvectors", "es_termvectors", "agg_approx_sketches",
]
# r13: the _uid whole-row-hash fix, the enforced CHANGE_POINT series
# contract, the zlib-bound envelope, and the session-scoped alias
# resolve path (oracle text unchanged).
_CHANGED_R13 = [
    "es_alias_multi_search", "es_multi_index_search",
    "esql_change_point", "text_compression_ratio", "es_alias_search",
]
# r14: the kernels the r13 and r14 optimisation work touched (ANN,
# dedup, graph, streaming, sketches, the bloom prefilter, BPE) that had
# evidence newer than r05; the touched r05 ones ranked in the refill.
_CHANGED_R14 = [
    "ann_ivf_recall_eval", "ann_ivf_topk", "ann_ivfpq_topk",
    "ann_pq_from_artifact", "ann_pq_topk", "dedup_components",
    "dedup_containment", "dedup_incremental_batch", "dedup_ngram_jaccard",
    "dedup_prefix_filter_jaccard", "dedup_simhash_pairs",
    "dedup_split_leakage", "graph_copurchase_hops",
    "graph_pagerank_nations", "join_bloom_prefilter",
    "sample_dsir_importance", "sketch_histogram_quantiles",
    "stream_dedup_counts", "stream_dedup_within_watermark",
    "stream_docs_incremental_dedup", "stream_hll_daily_merged",
    "stream_percolate_alerts", "stream_session_counts",
    "stream_sliding_counts", "stream_stateful_user_summary",
    "stream_tumbling_counts", "stream_view_click_join",
    "stream_view_click_left_outer", "tokens_bpe_merge_learn",
]


def _correctness(rnd: int) -> str:
    return os.path.join(_REPO, f"CORRECTNESS_r{rnd:02d}.json")


_EXECUTED = {
    8: _CHANGED_R08,
    11: _CHANGED_R11,
    12: _CHANGED_R12,
    13: _CHANGED_R13,
    14: _CHANGED_R14,
}


@pytest.mark.parametrize(
    "rnd,changed", _EXECUTED.items(), ids=[f"r{r:02d}" for r in _EXECUTED]
)
def test_executed_window_matches_rule(rnd, changed):
    """The rule rebuilds round ``rnd``'s executed window from evidence
    capped at the round before it. The entries ranked are those the
    files record by that round; after each of these rounds no
    registered entry lacked a row (r08 reached 264 of 264, r11 emptied
    the never-checked backlog). r09 and r10 are left out: registrations
    then outran the window (r10 deferred 33), so the files may not give
    every entry those rounds ranked."""
    ev = evidence(_correctness(i) for i in range(1, rnd))
    names: set[str] = set()
    for i in range(1, rnd + 1):
        names |= set(json.load(open(_correctness(i))))
    executed = set(json.load(open(_correctness(rnd))))
    assert set(window(sorted(names), ev, dict.fromkeys(changed, rnd))) == executed


def test_live_table_consistency():
    """The live window is consistent with the committed evidence: every
    CHANGED name is registered, and no entry left out of the window is
    more due than one in it (due first, then older evidence)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    ev = evidence()
    assert set(rotation.CHANGED) <= set(qs)
    assert all(isinstance(r, int) and r > 0 for r in rotation.CHANGED.values())

    def rank(name: str) -> tuple[bool, int]:
        last = ev.green.get(name, 0)
        due = name in ev.failed or last < rotation.CHANGED.get(name, 0)
        return (not due, last)

    inside = list(qs)[:50]
    outside = list(qs)[50:]
    assert len(set(inside)) == 50
    if outside:
        assert max(map(rank, inside)) <= min(map(rank, outside))
