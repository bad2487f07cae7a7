"""The driver's correctness window, derived from the committed evidence.

The round driver hash-checks the first 50 keys of
``__spark_entry__.queries()`` against DuckDB and records each row in
``CORRECTNESS_r<N>.json`` at the repo root. ``window`` picks those 50:
entries whose newest row failed, or whose kernel or oracle changed since
their newest green row, come first; then the oldest green evidence, with
never-checked entries (round 0) before all others; ties go by name.
Entries outside the window stay covered by the sf0.01 differential in
``tests/test_oracle_queries.py``.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable
from pathlib import Path
from typing import NamedTuple

# entry -> first round that must re-check it. A change to an entry's
# kernel or oracle adds ``CHANGED[name] = <next round>``; the entry ranks
# first until a green row from that round or later exists.
CHANGED: dict[str, int] = {
    "sketch_histogram_quantiles": 15,
    "join_bloom_prefilter": 15,
    "ann_ivf_recall_eval": 15,
    "ann_ivf_topk": 15,
    "ann_ivfpq_topk": 15,
    "ann_pq_from_artifact": 15,
    "ann_pq_topk": 15,
    "embedding_cluster_purity": 15,
    "events_stickiness": 15,
    "graph_copurchase_triangles": 15,
    "orders_revenue_concentration": 15,
    "pipeline_curation_report": 15,
    "sample_dsir_importance": 15,
    "stream_hll_daily_merged": 15,
    "tokens_bpe_merge_learn": 15,
    "es_dsl_source_filtering": 15,
    "es_alias_multi_search": 15,
    "es_multi_index_search": 15,
    "esql_multi_index": 15,
    "esql_from_metadata": 15,
    "stream_tumbling_counts": 15,
    "stream_sliding_counts": 15,
    "stream_session_counts": 15,
    "stream_dedup_counts": 15,
    "stream_dedup_within_watermark": 15,
    "stream_stateful_user_summary": 15,
    "stream_view_click_join": 15,
    "stream_view_click_left_outer": 15,
    "stream_static_enrich": 15,
    "stream_docs_incremental_dedup": 15,
    "stream_percolate_alerts": 15,
}

_ROOT = Path(__file__).resolve().parent.parent


class Evidence(NamedTuple):
    green: dict[str, int]  # entry -> newest round with a green row
    failed: frozenset[str]  # entries whose newest row is not green


def _is_green(rec: dict) -> bool:
    # ``err == "no_oracle"`` with rows is the driver's notation for a
    # rows-only check (no oracle supplied), not a failure.
    return bool(
        rec.get("hash_match")
        or (rec.get("rows_match") and rec.get("err") is None)
        or (rec.get("err") == "no_oracle" and (rec.get("spark_rows") or 0) > 0)
    )


def evidence(paths: Iterable[str | Path] | None = None) -> Evidence:
    """Newest green round per entry, and the entries whose newest row
    failed, from ``paths`` (default: every CORRECTNESS file)."""
    rounds: dict[int, Path] = {}
    for p in _ROOT.glob("CORRECTNESS_r*.json") if paths is None else paths:
        m = re.search(r"_r(\d+)\.json$", str(p))
        if m:
            rounds[int(m.group(1))] = Path(p)
    green: dict[str, int] = {}
    newest_ok: dict[str, bool] = {}
    for rnd in sorted(rounds):
        for name, rec in json.loads(rounds[rnd].read_text()).items():
            newest_ok[name] = _is_green(rec)
            if newest_ok[name]:
                green[name] = rnd
    return Evidence(green, frozenset(n for n, ok in newest_ok.items() if not ok))


def window(
    names: Iterable[str], ev: Evidence, changed: dict[str, int], size: int = 50
) -> list[str]:
    """The ``size`` entries of ``names`` the driver should check next."""

    def key(name: str) -> tuple[bool, int, str]:
        last = ev.green.get(name, 0)
        due = name in ev.failed or last < changed.get(name, 0)
        return (not due, last, name)

    return sorted(names, key=key)[:size]
