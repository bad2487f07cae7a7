"""Dataset sampling / mixing / sequence-packing operators.

Training-data-pipeline extensions (SURVEY.md §2.C posture; BASELINE.json
north star): the selection half of corpus curation. Everything here is
**deterministic** — assignment is a pure function of the stable document
key (md5 hex-prefix thresholds), never ``rand()`` — because at 100 TB a
sample must be reproducible across reruns, backfills, and cluster
resizes, and the differential gate can then check *membership*, not just
counts. All expressions are JVM-side column arithmetic (whole-stage
codegen); the only shuffles are the final aggregations and the
per-shard window in :func:`pack_sequences`.

The reference has no sampling surface at all (its gate simply forwards
SELECT text, `api/controllers/query_controller.go:98`); these operators
are the Spark-first capability a user curating pretraining corpora needs
on the same substrate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from golang_db_query_engine_elasticsearch_indexer_spark.functions import (
    DUCK_TOKENS,
    TOKENS,
    hash16 as _hash16,
)
from golang_db_query_engine_elasticsearch_indexer_spark.operators.materialized import bound

# md5-hex-prefix thresholds: first two hex chars are uniform over 0..255,
# so '80' ≈ 50%, '40' ≈ 25%, '1a' ≈ ~10.2%. Shared by Spark and DuckDB —
# both emit lowercase hex md5 — so the *assignment* is oracle-checked.
_KEY = "substr(md5(cast(doc_id AS string)), 1, 2)"

_STRATA = f"""
CASE lang WHEN 'en' THEN {_KEY} < '80'
          WHEN 'de' THEN {_KEY} < '40'
          ELSE {_KEY} < '1a' END
"""

# Weighted source mixture: upsample low-numbered "curated" sources,
# downsample the long tail. Weight = fraction kept of each source.
_MIX = f"""
CASE WHEN source IN ('src0', 'src1', 'src2', 'src3') THEN {_KEY} < 'cc'
     WHEN source IN ('src4', 'src5', 'src6', 'src7') THEN {_KEY} < '66'
     ELSE {_KEY} < '1a' END
"""


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling (en 50%, de 25%, rest ~10%).

    One parquet scan, zero shuffles before the output sort: the
    predicate is a pure row-local expression, so Catalyst fuses
    scan→filter→project into a single codegen stage and the sample
    scales linearly at any SF.
    """
    return (
        spark.table("documents")
        .where(_STRATA)
        .selectExpr("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


STRATIFIED_ORACLE = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {_STRATA}
ORDER BY doc_id
"""


def weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source mixture (~80% / ~40% / ~10.2% keep rates —
    'cc' = 204/256, '66' = 102/256, '1a' = 26/256), with per-source
    accounting of what the mix actually contains."""
    from pyspark.sql import functions as F

    return (
        spark.table("documents")
        .where(_MIX)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source")
    )


WEIGHTED_MIX_ORACLE = f"""
SELECT source, count(*) AS n_docs, cast(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE {_MIX}
GROUP BY source
ORDER BY source
"""


# Packing parameters: shard count sizes the parallelism of the
# per-shard running sum (at 100 TB set it to ~2-4x the executor-core
# count so each shard's window fits one task); budget is the training
# sequence length in tokens.
PACK_SHARDS = 32
PACK_BUDGET = 2048


def _pack_sql(tokens_expr: str, len_fn: str, n_shards: int = PACK_SHARDS) -> str:
    return f"""
SELECT shard, seq_id, count(*) AS n_docs, cast(sum(n_tokens) AS BIGINT) AS seq_tokens
FROM (
  SELECT shard,
         cast(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / {PACK_BUDGET}) AS bigint) AS seq_id,
         n_tokens
  FROM (
    SELECT doc_id, doc_id % {n_shards} AS shard, {len_fn}({tokens_expr}) AS n_tokens
    FROM documents
  ) toks
) packed
GROUP BY shard, seq_id
ORDER BY shard, seq_id
"""


def pack_sequences(
    spark: SparkSession, sf_dir: str, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign documents to
    fixed-token-budget (PACK_BUDGET) training sequences.

    The standard pretraining packing shape: order documents, take the
    running token total, and cut a new sequence every time the budget
    rolls over (``seq_id = floor(tokens_before / budget)``). A *global*
    running sum would serialize into one partition, so documents are
    first sharded (``doc_id % n_shards``) and packed per shard — the
    window is ``PARTITION BY shard``, which scales: at 100 TB pass an
    ``n_shards`` sized to the cluster (the oracle fixes it at
    PACK_SHARDS so membership stays checkable).
    """
    return spark.sql(_pack_sql(TOKENS, "size", n_shards))


PACK_ORACLE = _pack_sql(DUCK_TOKENS, "len")


def top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: top 50 terms by document frequency.

    explode → distinct-per-doc → count — the exact-counting baseline a
    count-min/`approx_count_distinct` sketch would approximate at
    scale. The per-doc `array_distinct` happens *before* the explode so
    the shuffle carries each (doc, term) once.
    """
    return spark.sql(
        f"""
        SELECT w, count(*) AS doc_freq
        FROM (SELECT doc_id, explode(array_distinct({TOKENS})) AS w FROM documents)
        WHERE w <> ''
        GROUP BY w
        ORDER BY doc_freq DESC, w
        LIMIT 50
        """
    )


TOP_TERMS_ORACLE = f"""
SELECT w, count(*) AS doc_freq
FROM (SELECT DISTINCT doc_id, unnest({DUCK_TOKENS}) AS w FROM documents)
WHERE w <> ''
GROUP BY w
ORDER BY doc_freq DESC, w
LIMIT 50
"""


def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened LANGUAGE mixture (the GPT-3/multilingual
    recipe: sample groups proportional to ``n^alpha``, alpha=0.5,
    instead of raw counts): each language's per-doc keep probability is
    ``sqrt(n_min / n_lang)`` — the rarest language keeps everything, a
    language 4x larger keeps half — equalizing toward uniform without
    ever oversampling. (The fixture's ``lang`` column is the skewed
    dimension — en is ~3x fr — so the flattening is non-vacuous; the
    ``source`` column is uniform by construction.)

    Cross-engine determinism by construction: the keep probability uses
    only TWO counts (the language's own and the global min) — never a
    sum of per-group floats whose accumulation order could differ
    between engines — and membership is the standard md5-prefix
    threshold (hash16 of the doc key vs floor(p*65536)), so the
    DuckDB oracle replays the exact row set. Scale: two tiny
    aggregations + one broadcast of the per-language thresholds onto a
    single corpus scan.
    """
    from pyspark.sql import functions as F

    h = _hash16("md5(cast(doc_id AS string))")
    thr = spark.sql(
        """
        WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        mn AS (SELECT min(n) AS n_min FROM counts)
        SELECT lang, n,
               cast(floor(sqrt(cast(n_min AS double) / n) * 65536) AS bigint) AS thr
        FROM counts CROSS JOIN mn
        """
    )
    kept = (
        spark.table("documents")
        .join(F.broadcast(thr), "lang")
        .where(F.expr(h) < F.col("thr"))
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.max("n").alias("n_docs"),
            F.max("thr").alias("keep_threshold"),
            F.count("*").alias("n_kept"),
        )
        .orderBy("lang")
    )


TEMPERATURE_MIX_ORACLE = f"""
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
mn AS (SELECT min(n) AS n_min FROM counts),
thr AS (
  SELECT lang, n,
         cast(floor(sqrt(cast(n_min AS double) / n) * 65536) AS BIGINT) AS thr
  FROM counts CROSS JOIN mn
),
kept AS (
  SELECT d.lang, t.n, t.thr
  FROM documents d JOIN thr t ON t.lang = d.lang
  WHERE {_hash16("md5(cast(doc_id AS varchar))")} < t.thr
)
SELECT lang, max(n) AS n_docs, max(thr) AS keep_threshold,
       count(*) AS n_kept
FROM kept
GROUP BY lang
ORDER BY lang
"""


WEIGHTED_SAMPLE_K = 100


def weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted sampling without replacement (Efraimidis &
    Spirakis 2006, the A-ES scheme): each document gets key
    ``ln(u) / w`` with u a DETERMINISTIC md5-uniform in (0, 1) and
    w its quality blend; the top-k keys ARE a weighted sample without
    replacement — the standard way to subsample a corpus toward its
    high-quality slice while keeping every document reachable.

    Deterministic where textbook A-ES uses rand(): u is a pure function
    of doc_id, so the SAMPLE MEMBERSHIP is oracle-checked and stable
    across reruns/backfills. Scale shape: the key is one map-only
    expression; top-k by (rounded key, doc_id tiebreak) compiles to
    TakeOrderedAndProject — no global sort materialized. Weights clip
    at 0.01 so a zero-quality doc keeps a finite key.
    """
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
        hex_prefix_int,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.text import (  # noqa: PLC0415
        quality_blend,
    )
    from pyspark.sql import functions as F  # noqa: PLC0415

    u = f"({hex_prefix_int('md5(cast(doc_id AS string))', 12)} + 1.0) / {16 ** 12 + 1}"
    w = f"greatest(round({quality_blend()}, 4), 0.01)"
    return (
        spark.table("documents")
        .selectExpr(
            "doc_id",
            f"{w} AS w",
            f"round(ln({u}) / {w}, 6) AS skey",
        )
        .orderBy(F.desc("skey"), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


def _weighted_reservoir_oracle() -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (  # noqa: PLC0415
        hex_prefix_int,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.text import (  # noqa: PLC0415
        duck_quality_blend,
    )

    u = f"({hex_prefix_int('md5(cast(doc_id AS string))', 12)} + 1.0) / {16 ** 12 + 1}"
    w = f"greatest(round({duck_quality_blend()}, 4), 0.01)"
    return f"""
SELECT doc_id, {w} AS w, round(ln({u}) / {w}, 6) AS skey
FROM documents
ORDER BY skey DESC, doc_id
LIMIT {WEIGHTED_SAMPLE_K}
"""


# Per-source token budget: every source contributes AT MOST this many
# tokens to the sampled mix — the "cap each domain's share" rule corpus
# recipes state in tokens, not documents. Sized below the fixture's
# per-source token mass (~1.3-1.6k tokens/source at sf0.01) so the cap
# binds and the boundary logic is exercised.
TOKEN_BUDGET = 800


def _token_budget_sql(tokens_len: str) -> str:
    """Shared SQL (dialect knob: token-count expression). Documents are
    ordered inside each source by the md5 shuffle key (a deterministic
    'random' order — reruns pick the identical sample), the running
    token total is a per-source cumulative window, and a document is
    kept while the budget is not yet exhausted BEFORE it (so the first
    document crossing the line still enters — the standard greedy
    knapsack cut, making every source's kept mass >= min(budget,
    source mass) truncated at one overshoot document)."""
    return f"""
    WITH t AS (
      SELECT doc_id, source, {tokens_len} AS n_tokens,
             substr(md5(cast(doc_id AS string)), 1, 8) AS skey
      FROM documents
    ),
    running AS (
      SELECT doc_id, source, n_tokens, skey,
             cast(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bigint)
               AS tokens_before
      FROM t
    )
    SELECT doc_id, source, n_tokens, tokens_before
    FROM running
    WHERE tokens_before < {TOKEN_BUDGET}
    ORDER BY doc_id
    """


def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source token-budget sampling (greedy cut in
    md5 order). One window shuffle partitioned by source; membership —
    not just counts — is differential-checked."""
    return spark.sql(_token_budget_sql(f"size({TOKENS})"))


TOKEN_BUDGET_ORACLE = _token_budget_sql(f"len({DUCK_TOKENS})")


# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling" — public): score every
# document by how much more likely its hashed-feature bag is under a
# TARGET-domain unigram model than under the raw-corpus model, then
# keep the top of the importance ranking. Features are words hashed
# into a FIXED number of buckets — the hashing trick caps both LM
# tables at DSIR_BUCKETS rows regardless of corpus size, which is what
# makes the recipe 100 TB-safe: the bucket relation is broadcastable by
# construction.
DSIR_BUCKETS = 1024
DSIR_TOPK = 200
# The "curated domain" the importance weights steer toward.
DSIR_TARGET = "source IN ('src0', 'src1')"


def _dsir_counts_body() -> str:
    """The LM-count aggregation over ``toks`` — ONE text shared by the
    oracle's chained CTE and the Spark path's staged pre-pass, so the
    two formulations cannot drift."""
    return (
        f"SELECT b, count(*) AS c_s,\n"
        f"         sum(CASE WHEN {DSIR_TARGET} THEN 1 ELSE 0 END) AS c_t\n"
        f"  FROM toks GROUP BY b"
    )


def _dsir_toks_cte(token_select: str) -> str:
    b = _hash16("md5(w)")
    return f"""toks AS (
  SELECT doc_id, source, {b} % {DSIR_BUCKETS} AS b
  FROM ({token_select})
)"""


def _dsir_sql(token_select: str, counts_rel: str | None = None) -> str:
    """Shared SQL (dialect knob: the token-explode subquery). Both LM
    count tables come out of ONE shuffle on the bucket key (conditional
    aggregation computes target and corpus counts together); the join
    back onto the token stream is an explicit broadcast because
    ``counts`` is bounded at DSIR_BUCKETS rows by construction (DuckDB
    parses the hint as a comment). Add-1 smoothing keeps every bucket
    ratio an exact rational of integers before the ln; the per-doc sum
    is rounded to 4 dp at the boundary (summation-order discipline) and
    the final ranking is total-ordered with the doc_id tiebreak. The
    top-k is a sort-limit (TakeOrdered at scale), never a full sort.

    ``counts_rel``: name of a pre-materialized counts relation (the
    Spark path stages it — see :func:`dsir_importance`); default is the
    chained CTE the DuckDB oracle runs (DuckDB materializes CTEs once,
    Spark would inline ``toks`` into one full token pass per
    reference)."""
    counts_cte = (
        f"counts AS (SELECT b, c_s, c_t FROM {counts_rel})"
        if counts_rel
        else f"counts AS (\n  {_dsir_counts_body()}\n)"
    )
    return f"""
WITH {_dsir_toks_cte(token_select)},
{counts_cte},
tot AS (SELECT sum(c_s) AS n_s, sum(c_t) AS n_t FROM counts),
scored AS (
  SELECT /*+ BROADCAST(counts), BROADCAST(tot) */
         t.doc_id, t.source, count(*) AS n_tokens,
         round(sum(ln((c_t + 1.0) / (n_t + {DSIR_BUCKETS}))
                 - ln((c_s + 1.0) / (n_s + {DSIR_BUCKETS}))), 4) AS log_weight
  FROM toks t JOIN counts USING (b) CROSS JOIN tot
  GROUP BY t.doc_id, t.source
),
ranked AS (
  SELECT doc_id, source, n_tokens, log_weight,
         row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rnk
  FROM scored
)
SELECT doc_id, source, n_tokens, log_weight, rnk
FROM ranked WHERE rnk <= {DSIR_TOPK} ORDER BY rnk
"""


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance ranking: top-k documents whose hashed-unigram
    distribution is most target-domain-like relative to the corpus.

    Scale shape: token→bucket is map-only portable-md5 arithmetic; ONE
    shuffle builds both LMs (conditional agg); the score join is a
    broadcast against a table bounded at DSIR_BUCKETS rows at any
    corpus size; the per-doc reduce partial-aggregates map-side. The
    deterministic top-of-ranking cut stands in for DSIR's Gumbel
    resample — the sampling flavor is already covered by
    :func:`weighted_reservoir`, so this entry keeps the statistic
    differential-checkable end to end.

    The counts relation (DSIR_BUCKETS rows by construction) is staged
    eagerly: chained, Spark inlines ``toks`` once per reference and the
    plan tokenized documents three times (measured — see
    plans/r13/sample_dsir_importance_{before,after}.txt); staged, the
    corpus is tokenized once for the LMs and once for the scoring join,
    the minimum two passes the statistic admits."""
    token_select = f"SELECT doc_id, source, explode({TOKENS}) AS w FROM documents"
    counts = spark.sql(
        f"WITH {_dsir_toks_cte(token_select)}\n{_dsir_counts_body()}"
    ).localCheckpoint(eager=True)
    with bound(spark, counts=counts) as v:
        return spark.sql(_dsir_sql(token_select, counts_rel=v["counts"]))


DSIR_ORACLE = _dsir_sql(
    f"SELECT doc_id, source, unnest({DUCK_TOKENS}) AS w FROM documents"
)


CURRICULUM_STAGES = 4


def _curriculum_sql(quality_expr: str, cast_t: str) -> str:
    """Curriculum schedule: quality quartile stages (cleanest first —
    curriculum training consumes easy/clean examples before noisy
    ones), deterministic md5 shuffle WITHIN each stage (a
    quality-sorted corpus would correlate adjacent batches; the
    within-stage shuffle decorrelates them reproducibly). Total-ordered
    windows at every step => identical positions in both engines."""
    return f"""
WITH scored AS (
  SELECT doc_id, round({quality_expr}, 4) AS quality,
         md5(cast(doc_id AS {cast_t})) AS shuf
  FROM documents
),
staged AS (
  SELECT doc_id, quality, shuf,
         ntile({CURRICULUM_STAGES}) OVER (ORDER BY quality DESC, doc_id) AS stage
  FROM scored
)
SELECT doc_id, quality, stage,
       row_number() OVER (ORDER BY stage, shuf, doc_id) AS curriculum_pos
FROM staged
ORDER BY curriculum_pos
"""


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic curriculum ordering of the corpus: the position
    every doc takes in an easy-to-hard training schedule.

    Scale note: the global ntile/row_number windows are the exact
    formulation; at 100 TB the same schedule comes from broadcast
    approx-percentile stage cutoffs (map-only CASE) plus the
    range-partitioned offset machinery ``indexer.with_positional_ids``
    already implements for positions — the statistic is unchanged, only
    the physical plan swaps (the RFM entry documents the same trade)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.text import (  # noqa: PLC0415
        quality_blend,
    )

    return spark.sql(_curriculum_sql(quality_blend(), "string"))


def _curriculum_oracle() -> str:
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.text import (  # noqa: PLC0415
        duck_quality_blend,
    )

    return _curriculum_sql(duck_quality_blend(), "varchar")


def registry() -> dict[str, dict]:
    return {
        "sample_dsir_importance": {
            "fn": dsir_importance,
            "oracle": DSIR_ORACLE,
        },
        "sample_curriculum_order": {
            "fn": curriculum_order,
            "oracle": _curriculum_oracle(),
        },
        "sample_token_budget": {
            "fn": token_budget_sample,
            "oracle": TOKEN_BUDGET_ORACLE,
        },
        "sample_weighted_reservoir": {
            "fn": weighted_reservoir,
            "oracle": _weighted_reservoir_oracle(),
        },
        "sample_temperature_mix": {
            "fn": temperature_mix,
            "oracle": TEMPERATURE_MIX_ORACLE,
        },
        "sample_stratified": {"fn": stratified_sample, "oracle": STRATIFIED_ORACLE},
        "sample_weighted_mix": {"fn": weighted_mix, "oracle": WEIGHTED_MIX_ORACLE},
        "pack_sequences_chunked": {"fn": pack_sequences, "oracle": PACK_ORACLE},
        "tokens_top_terms": {"fn": top_terms, "oracle": TOP_TERMS_ORACLE},
    }
