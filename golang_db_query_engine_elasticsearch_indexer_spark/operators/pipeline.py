"""End-to-end corpus curation: the composed training-data pipeline.

The individual north-star operators (dedup, text analysis) are verified
in isolation; this module composes them into the job an LLM-data
pipeline actually runs — dedup, then quality gates, then language
selection, emitting per-document features — as ONE declarative plan, so
Catalyst fuses the stages (single scan of documents, one agg for the
dedup survivors, everything else codegen'd column math).

Scale shape: the only shuffle is the keep-first dedup's 32-byte-key
groupBy + the survivor semi-join; filters are pure map-side. At 100 TB
this is scan-bound, which is the best attainable shape for the job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_db_query_engine_elasticsearch_indexer_spark.functions import (
    DUCK_TOKENS,
    TOKENS,
    array_lit,
    list_lit,
)
from golang_db_query_engine_elasticsearch_indexer_spark.operators.materialized import (
    _capture,
    bound,
)
from golang_db_query_engine_elasticsearch_indexer_spark.operators.text import (
    LANG_STOPWORDS,
)

MIN_TOKENS = 20
MAX_TOKENS = 2000
MIN_STOPWORD_RATIO = 0.03
MAX_CHARS_PER_TOKEN = 12.0


def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated English sub-corpus: exact-dedup survivors (keep-first by
    content hash) that pass token-count, stopword-ratio, and
    chars-per-token gates, with the features a downstream sampler needs.
    """
    en = array_lit(LANG_STOPWORDS["en"])
    survivors = (
        spark.table("documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    featured = (
        spark.table("documents")
        .join(survivors, "doc_id", "left_semi")
        .selectExpr(
            "doc_id",
            "lang",
            f"size({TOKENS}) AS n_tokens",
            f"round(size(filter({TOKENS}, w -> array_contains({en}, w))) / size({TOKENS}), 4)"
            " AS stopword_ratio",
            f"round(length(text) / size({TOKENS}), 4) AS chars_per_token",
        )
    )
    return (
        featured.where(
            (F.col("n_tokens").between(MIN_TOKENS, MAX_TOKENS))
            & (F.col("stopword_ratio") >= MIN_STOPWORD_RATIO)
            & (F.col("chars_per_token") <= MAX_CHARS_PER_TOKEN)
            & (F.col("lang") == "en")
        )
        .orderBy("doc_id")
    )


CURATE_ORACLE = f"""
WITH survivors AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
),
featured AS (
  SELECT d.doc_id, d.lang,
         len({DUCK_TOKENS}) AS n_tokens,
         round(len(list_filter({DUCK_TOKENS}, w -> list_contains({list_lit(LANG_STOPWORDS["en"])}, w)))
               * 1.0 / len({DUCK_TOKENS}), 4) AS stopword_ratio,
         round(length(text) * 1.0 / len({DUCK_TOKENS}), 4) AS chars_per_token
  FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM survivors)
)
SELECT doc_id, lang, n_tokens, stopword_ratio, chars_per_token
FROM featured
WHERE n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
  AND stopword_ratio >= {MIN_STOPWORD_RATIO}
  AND chars_per_token <= {MAX_CHARS_PER_TOKEN}
  AND lang = 'en'
ORDER BY doc_id
"""


def curate_with_metrics(spark: SparkSession, sf_dir: str):
    """The curation pipeline instrumented with Spark's Observation API:
    run-manifest metrics (kept docs, kept token mass, mean quality
    signals) ride the SAME job as the curated output — zero extra
    scans, exactly what a production run publishes alongside its
    output partition. Returns ``(observed_df, observation)``; the
    caller triggers one action on the frame and then reads
    ``observation.get`` (blocks until that action commits).

    This is the run-level counterpart of audit_expectations (which
    gates content) and pipeline_curation_report (which explains the
    funnel): observe() costs nothing at 100 TB because the metrics are
    accumulator-style aggregates attached to the existing plan."""
    from pyspark.sql import Observation  # noqa: PLC0415

    obs = Observation("curation_metrics")
    observed = curate_corpus(spark, sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("kept_tokens"),
        F.round(F.avg("stopword_ratio"), 4).alias("mean_stopword_ratio"),
        F.round(F.avg("chars_per_token"), 4).alias("mean_chars_per_token"),
    )
    return observed, obs


def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal semantic dedup: drop any document whose embedding has
    a near-duplicate (cosine >= threshold) with a LOWER doc_id.

    The fixture's vec_id is the doc_id (1:1). Greedy keep-first on the
    pair list — the standard single-pass approximation of
    connected-component dedup (a full CC needs iteration; at scale
    that's an iterative join loop or GraphFrames, and the greedy pass
    is what large corpus pipelines actually run first).

    The pair source is the banded-LSH neardup_pairs (equi-join candidate
    generation + exact-cosine verify) — sub-quadratic, so the composed
    dedup stays runnable at 100 TB; no CartesianProduct in the plan.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.similarity import (
        neardup_pairs,
    )

    dupes = neardup_pairs(spark, sf_dir).select(F.col("vb").alias("doc_id")).distinct()
    return (
        spark.table("documents")
        .join(dupes, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


from golang_db_query_engine_elasticsearch_indexer_spark.operators.similarity import (
    NEARDUP_COS,
    NEARDUP_ORACLE,
    _neardup_band_sql_duck,
)

SEMANTIC_DEDUP_ORACLE = f"""
WITH bands AS ({_neardup_band_sql_duck()}),
cand AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
),
pairs AS (
  SELECT c.vb
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.va
  JOIN embeddings b ON b.vec_id = c.vb
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {NEARDUP_COS}
)
SELECT doc_id, lang, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT vb FROM pairs)
ORDER BY doc_id
"""


def modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup agreement: how much do the TEXT near-dup
    signal (minhash/LSH verified pairs) and the EMBEDDING near-dup
    signal (banded cosine pairs; vec_id == doc_id in the fixtures)
    find the SAME pairs? High pair-set Jaccard means one modality is
    redundant; low means the signals catch different duplication and
    both belong in the pipeline — the modality-selection analysis run
    before paying for both at 100 TB.

    Scale: both inputs are the kernels' own candidate-sized pair
    relations; the comparison is one full-outer join + one conditional
    aggregation over pairs, never documents.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.dedup import (  # noqa: PLC0415
        minhash_lsh_pairs,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.similarity import (  # noqa: PLC0415
        neardup_pairs,
    )

    tp = minhash_lsh_pairs(spark, sf_dir).selectExpr(
        "doc_a", "doc_b", "1 AS in_text"
    )
    ep = neardup_pairs(spark, sf_dir).selectExpr(
        "va AS doc_a", "vb AS doc_b", "1 AS in_emb"
    )
    return (
        tp.join(ep, ["doc_a", "doc_b"], "full_outer")
        .agg(
            F.sum(F.coalesce(F.col("in_text"), F.lit(0))).cast("bigint").alias("n_text_pairs"),
            F.sum(F.coalesce(F.col("in_emb"), F.lit(0))).cast("bigint").alias("n_emb_pairs"),
            F.sum(
                F.when(F.col("in_text").isNotNull() & F.col("in_emb").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_both"),
        )
        .selectExpr(
            "n_text_pairs",
            "n_emb_pairs",
            "n_both",
            "round(n_both * cast(1 AS double) "
            "/ (n_text_pairs + n_emb_pairs - n_both), 4) AS pair_jaccard",
        )
    )


def _duck_modality_agreement_oracle() -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.dedup import (  # noqa: PLC0415
        _duck_minhash_oracle,
    )

    return f"""
WITH tp AS (
  SELECT doc_a, doc_b FROM ({_duck_minhash_oracle()})
),
ep AS (
  SELECT va AS doc_a, vb AS doc_b FROM ({NEARDUP_ORACLE})
),
u AS (
  SELECT tp.doc_a AS ta, ep.doc_a AS ea
  FROM tp FULL OUTER JOIN ep
    ON tp.doc_a = ep.doc_a AND tp.doc_b = ep.doc_b
)
SELECT cast(sum(CASE WHEN ta IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_text_pairs,
       cast(sum(CASE WHEN ea IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_emb_pairs,
       cast(sum(CASE WHEN ta IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_both,
       round(sum(CASE WHEN ta IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END)
             * cast(1 AS double)
             / (sum(CASE WHEN ta IS NOT NULL THEN 1 ELSE 0 END)
                + sum(CASE WHEN ea IS NOT NULL THEN 1 ELSE 0 END)
                - sum(CASE WHEN ta IS NOT NULL AND ea IS NOT NULL THEN 1 ELSE 0 END)), 4)
         AS pair_jaccard
FROM u
"""



def _report_agg_sql(hash_fn: str) -> str:
    """The single-scan conditional aggregation (survivors join + six
    cumulative-gate counters) — one row out. Kept separate from the
    report union because Spark would inline an ``agg`` CTE referenced
    six times into six copies of this whole subtree (12 document scans
    measured); the Spark side materializes this row first
    (operators/materialized.py helper) while the oracle chains it as a
    CTE (DuckDB materializes CTEs natively)."""
    return f"""
    WITH survivors AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY {hash_fn}
    ),
    flags AS (
      SELECT (s.doc_id IS NOT NULL) AS k1,
             size_t BETWEEN {MIN_TOKENS} AND {MAX_TOKENS} AS tok_ok,
             round(stop_ratio, 4) >= {MIN_STOPWORD_RATIO} AS stop_ok,
             round(cpt, 4) <= {MAX_CHARS_PER_TOKEN} AS cpt_ok,
             lang = 'en' AS lang_ok
      FROM (
        SELECT d.doc_id, d.lang,
               {{SIZE}} AS size_t,
               {{STOPR}} AS stop_ratio,
               {{CPT}} AS cpt
        FROM documents d
      ) d LEFT JOIN survivors s ON d.doc_id = s.doc_id
    )
    SELECT cast(count(*) AS bigint) AS n0,
           cast(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS bigint) AS n1,
           cast(sum(CASE WHEN k1 AND tok_ok THEN 1 ELSE 0 END) AS bigint) AS n2,
           cast(sum(CASE WHEN k1 AND tok_ok AND stop_ok THEN 1 ELSE 0 END) AS bigint) AS n3,
           cast(sum(CASE WHEN k1 AND tok_ok AND stop_ok AND cpt_ok THEN 1 ELSE 0 END) AS bigint) AS n4,
           cast(sum(CASE WHEN k1 AND tok_ok AND stop_ok AND cpt_ok AND lang_ok THEN 1 ELSE 0 END) AS bigint) AS n5
    FROM flags
    """


def _report_union_sql(agg: str) -> str:
    """The 6-row funnel union off the one-row aggregate relation."""
    return f"""
    SELECT 0 AS stage_idx, 'raw' AS stage, n0 AS n_in, n0 AS n_kept,
           n0 - n0 AS n_dropped FROM {agg}
    UNION ALL SELECT 1, 'exact_dedup', n0, n1, n0 - n1 FROM {agg}
    UNION ALL SELECT 2, 'token_range', n1, n2, n1 - n2 FROM {agg}
    UNION ALL SELECT 3, 'stopword_ratio', n2, n3, n2 - n3 FROM {agg}
    UNION ALL SELECT 4, 'chars_per_token', n3, n4, n3 - n4 FROM {agg}
    UNION ALL SELECT 5, 'lang_en', n4, n5, n4 - n5 FROM {agg}
    ORDER BY stage_idx
    """


def _report_sql(hash_fn: str) -> str:
    """Chained form (the ORACLE formulation): agg as a CTE + the
    funnel union. Gates are applied CUMULATIVELY in curate_corpus'
    order and compare the SAME round(..., 4) values curate_corpus
    filters on (gating raw values would disagree with the pipeline
    exactly at a rounding boundary)."""
    return (
        "WITH agg AS (" + _report_agg_sql(hash_fn) + ")"
        + _report_union_sql("agg")
    )


def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage curation funnel manifest — the observability artifact a
    production corpus pipeline publishes with every run: one row per
    stage with documents in, kept, and dropped, applying exactly
    curate_corpus' gates in exactly its order (the final stage's n_kept
    equals the curated corpus row count — asserted by test).

    Scale: one scan + the dedup-survivor join feeds ONE conditional
    aggregation; the report itself is a 6-row union off that single-row
    aggregate. No per-stage re-scans — at 100 TB the manifest costs the
    same as the pipeline's own dedup stage.
    """
    en = array_lit(LANG_STOPWORDS["en"])
    agg_sql = (
        _report_agg_sql("sha2(text, 256)")
        .replace("{SIZE}", f"size({TOKENS})")
        .replace(
            "{STOPR}",
            f"size(filter({TOKENS}, w -> array_contains({en}, w))) / size({TOKENS})",
        )
        .replace("{CPT}", f"length(text) / size({TOKENS})")
    )
    agg = spark.sql(agg_sql)
    _capture("__cur_agg", agg)
    agg = agg.persist()
    try:
        with bound(spark, agg=agg) as v:
            final = spark.sql(_report_union_sql(v["agg"]))
        _capture("__final__", final)
        return final.localCheckpoint(eager=True)
    finally:
        agg.unpersist()


def _duck_report_oracle() -> str:
    en = list_lit(LANG_STOPWORDS["en"])
    return (
        _report_sql("sha256(text)")
        .replace("{SIZE}", f"len({DUCK_TOKENS})")
        .replace(
            "{STOPR}",
            f"len(list_filter({DUCK_TOKENS}, w -> list_contains({en}, w)))"
            f" * 1.0 / len({DUCK_TOKENS})",
        )
        .replace("{CPT}", f"length(text) * 1.0 / len({DUCK_TOKENS})")
    )


# --- incremental aggregate maintenance (merge a delta into a rollup) -------
#
# The incremental-ETL pattern every 100 TB warehouse runs: a daily
# rollup is NOT recomputed from all of history — yesterday's
# materialized rollup merges with today's delta partition. Sums/counts
# merge by +, min/max by least/greatest; avg is carried as (sum,
# count) and finalized at read. The engine runs base-rollup ⊕
# delta-rollup; the ORACLE is the ground-truth full recompute over the
# union, so the differential proves the merge algebra, not a mirrored
# plan. Base/delta split is deterministic (orderkey mod 10).
_INC_SPLIT = "o_orderkey % 10 = 0"  # delta ~10%, base ~90%


def _rollup_sql(source_pred: str) -> str:
    return f"""
  SELECT o_orderpriority AS priority,
         count(*) AS n_orders,
         sum(o_totalprice) AS sum_price,
         min(o_totalprice) AS min_price,
         max(o_totalprice) AS max_price
  FROM orders WHERE {source_pred}
  GROUP BY o_orderpriority
"""


def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-priority order rollup: base aggregate ⊕ delta
    aggregate, finalized (avg derived from merged sum/count, 2 dp).

    Scale shape: each side aggregates its OWN partition pruned by the
    split predicate (at 100 TB the base side is yesterday's tiny
    materialized rollup read back, not a recompute — here both sides
    compute from the fixture to keep the entry self-contained); the
    merge is a full-outer union-groupBy over #groups rows. The oracle
    recomputes from scratch — merge algebra == ground truth is the
    contract."""
    return spark.sql(
        f"""
WITH base AS ({_rollup_sql(f"NOT ({_INC_SPLIT})")}),
delta AS ({_rollup_sql(_INC_SPLIT)}),
unioned AS (
  SELECT * FROM base UNION ALL SELECT * FROM delta
),
merged AS (
  SELECT priority,
         cast(sum(n_orders) AS BIGINT) AS n_orders,
         sum(sum_price) AS sum_price,
         min(min_price) AS min_price,
         max(max_price) AS max_price
  FROM unioned GROUP BY priority
)
SELECT priority, n_orders,
       round(sum_price, 2) AS sum_price,
       round(sum_price / n_orders, 2) AS avg_price,
       min_price, max_price
FROM merged
ORDER BY priority
"""
    )


INCREMENTAL_ROLLUP_ORACLE = """
SELECT o_orderpriority AS priority,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       round(sum(o_totalprice) / count(*), 2) AS avg_price,
       min(o_totalprice) AS min_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""


def registry() -> dict[str, dict]:
    return {
        "pipeline_curate_corpus": {"fn": curate_corpus, "oracle": CURATE_ORACLE},
        "pipeline_incremental_rollup": {
            "fn": incremental_rollup,
            "oracle": INCREMENTAL_ROLLUP_ORACLE,
        },
        "pipeline_curation_report": {
            "fn": curation_report,
            "oracle": _duck_report_oracle(),
        },
        "dedup_modality_agreement": {
            "fn": modality_agreement,
            "oracle": _duck_modality_agreement_oracle(),
        },
        "dedup_semantic_survivors": {
            "fn": semantic_dedup_survivors,
            "oracle": SEMANTIC_DEDUP_ORACLE,
        },
    }
