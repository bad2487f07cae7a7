"""Native full-text relevance scoring (BM25) over the documents table.

The reference's entire purpose is to ship query results INTO
Elasticsearch so ES can answer relevance queries
(`api/controllers/elastic_controller.go:184-250` bulk-indexes the rows;
search itself is delegated to ES). This operator internalizes the
search side the same way the engine internalizes the RDBMS side: BM25
— the default ES/Lucene similarity — computed as a Catalyst plan, so
"index + search" round-trips entirely inside Spark.

Scale shape: the token array is ``filter()``-ed to query terms *before*
the explode, so non-query tokens never materialize a row; then two
small aggregations (per-(doc,term) tf, per-term df) and broadcast joins
of the tiny per-term/corpus-stats relations back onto the tf stream.
The corpus is scanned once; nothing about the plan changes at 100 TB
except partition counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from golang_db_query_engine_elasticsearch_indexer_spark.functions import (
    DUCK_TOKENS,
    TOKENS,
)

K1 = 1.2
B = 0.75
QUERY_TERMS = ["table", "scan", "fast"]


def _terms_sql(quote: str = "'") -> str:
    return ", ".join(f"{quote}{t}{quote}" for t in QUERY_TERMS)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) for documents matching any query term, BM25-ranked.

    Okapi BM25 with the Lucene-style non-negative idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``. Scores are rounded to 4
    decimals so cross-engine libm drift in ``ln`` can't flip the
    comparison; ordering is made total with the doc_id tiebreak.
    """
    return spark.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, {TOKENS} AS toks FROM documents
        ),
        stats AS (
          SELECT count(*) AS n_docs, avg(size(toks)) AS avgdl FROM toks
        ),
        tf AS (
          SELECT doc_id, w, count(*) AS tf, max(dl) AS dl
          FROM (
            SELECT doc_id, size(toks) AS dl,
                   explode(filter(toks, x -> x IN ({_terms_sql()}))) AS w
            FROM toks
          )
          GROUP BY doc_id, w
        ),
        df AS (
          SELECT w, count(*) AS df FROM tf GROUP BY w
        )
        SELECT doc_id,
               round(sum(
                 ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                 * tf * ({K1} + 1)
                 / (tf + {K1} * (1 - {B} + {B} * dl / avgdl))
               ), 4) AS bm25
        FROM tf JOIN df USING (w) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        """
    )


BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, avg(len(toks)) AS avgdl FROM toks
),
tf AS (
  SELECT doc_id, w, count(*) AS tf, max(dl) AS dl
  FROM (
    SELECT doc_id, unnest(toks) AS w, len(toks) AS dl FROM toks
  )
  WHERE w IN ({_terms_sql()})
  GROUP BY doc_id, w
),
df AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
)
SELECT doc_id,
       round(sum(
         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
         * tf * ({K1} + 1)
         / (tf + {K1} * (1 - {B} + {B} * dl / avgdl))
       ), 4) AS bm25
FROM tf JOIN df USING (w) CROSS JOIN stats
GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
"""


RRF_K = 60
RRF_DEPTH = 50  # fuse the top-50 of each ranker
PROBE_ID = 0  # fixture vec_id standing in for the query embedding
TOP_N = 20

# Shared CTE body for the lexical ranking (identical formula to
# :func:`bm25_topk`, scores rounded BEFORE ranking + doc_id tiebreak so
# the rank permutation is total and cross-engine stable).
_BM_CTES = """
stats AS (
  SELECT count(*) AS n_docs, avg({size}(toks)) AS avgdl FROM toks
),
tf AS (
  SELECT doc_id, w, count(*) AS tf, max(dl) AS dl
  FROM ({tf_inner})
  {tf_where}
  GROUP BY doc_id, w
),
df AS (
  SELECT w, count(*) AS df FROM tf GROUP BY w
),
bm AS (
  SELECT doc_id,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * tf * ({k1} + 1)
           / (tf + {k1} * (1 - {b} + {b} * dl / avgdl))
         ), 4) AS s
  FROM tf JOIN df USING (w) CROSS JOIN stats
  GROUP BY doc_id
),
bm_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM bm
)
"""


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) + embedding cosine (semantic),
    fused by reciprocal-rank fusion ``sum(1 / (60 + rank))``.

    The modern ES "hybrid search" pattern, computed natively: the two
    rankers share nothing until the final tiny union — BM25 streams the
    documents table once (filter-before-explode), the vector side is a
    map-only cosine against one broadcast probe row — and RRF fuses the
    two rank lists (<= 50 rows each) in a trivial aggregation.
    Both scores are rounded before ranking so rank permutations are
    cross-engine deterministic.

    ID-SPACE STAND-IN: the lexical ranker ranks ``documents.doc_id``
    while the vector ranker ranks ``embeddings.vec_id`` — in this
    fixture those are two unrelated id spaces (embeddings is a
    standalone 500-row table, not a per-document embedding store), so
    the fused "doc_id" demonstrates the RRF *mechanics*, not a real
    retrieval over one corpus. With a production documents-keyed
    embedding column the same plan applies unchanged; the fusion is
    oracle-verified either way.
    """
    bm_ctes = _BM_CTES.format(
        size="size",
        k1=K1,
        b=B,
        tf_where="",
        tf_inner=f"""
            SELECT doc_id, size(toks) AS dl,
                   explode(filter(toks, x -> x IN ({_terms_sql()}))) AS w
            FROM toks
        """,
    )
    return spark.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, {TOKENS} AS toks FROM documents
        ),
        {bm_ctes},
        probe AS (
          SELECT transform(embedding, x -> cast(x AS double)) AS p
          FROM embeddings WHERE vec_id = {PROBE_ID}
        ),
        cos AS (
          SELECT vec_id AS doc_id,
                 round(
                   aggregate(zip_with(embedding, p,
                       (x, y) -> cast(x AS double) * y),
                       cast(0 AS double), (acc, v) -> acc + v)
                   / (sqrt(aggregate(transform(embedding,
                          x -> cast(x AS double) * cast(x AS double)),
                          cast(0 AS double), (acc, v) -> acc + v))
                      * sqrt(aggregate(transform(p, x -> x * x),
                          cast(0 AS double), (acc, v) -> acc + v))), 4) AS s
          FROM embeddings CROSS JOIN probe
          WHERE vec_id <> {PROBE_ID}
        ),
        cos_rank AS (
          SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM cos
        )
        SELECT doc_id,
               round(sum(cast(1.0 AS double) / ({RRF_K} + r)), 6) AS rrf,
               count(*) AS n_rankers
        FROM (
          SELECT doc_id, r FROM bm_rank WHERE r <= {RRF_DEPTH}
          UNION ALL
          SELECT doc_id, r FROM cos_rank WHERE r <= {RRF_DEPTH}
        )
        GROUP BY doc_id
        ORDER BY rrf DESC, doc_id
        LIMIT {TOP_N}
        """
    )


def _hybrid_oracle() -> str:
    # DuckDB explodes all tokens then filters via tf_where (Spark does
    # filter-before-explode inside tf_inner, so its tf_where is empty).
    bm_ctes = _BM_CTES.format(
        size="len",
        k1=K1,
        b=B,
        tf_where=f"WHERE w IN ({_terms_sql()})",
        tf_inner="""
            SELECT doc_id, unnest(toks) AS w, len(toks) AS dl FROM toks
        """,
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
),
{bm_ctes},
probe AS (
  SELECT embedding::DOUBLE[] AS p FROM embeddings WHERE vec_id = {PROBE_ID}
),
cos AS (
  SELECT vec_id AS doc_id,
         round(list_cosine_similarity(embedding::DOUBLE[], p), 4) AS s
  FROM embeddings CROSS JOIN probe
  WHERE vec_id <> {PROBE_ID}
),
cos_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM cos
)
SELECT doc_id, round(sum(1.0 / ({RRF_K} + r)), 6) AS rrf,
       count(*) AS n_rankers
FROM (
  SELECT doc_id, r FROM bm_rank WHERE r <= {RRF_DEPTH}
  UNION ALL
  SELECT doc_id, r FROM cos_rank WHERE r <= {RRF_DEPTH}
)
GROUP BY doc_id
ORDER BY rrf DESC, doc_id
LIMIT {TOP_N}
"""


TFIDF_PROBES = 5  # doc_id < 5 stand in for query documents
TFIDF_TOP_K = 5


def tfidf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-to-document similarity: TF-IDF weighted sparse cosine,
    top-k nearest corpus documents for each probe document.

    Weights ``tf * ln((N + 1) / (df + 1))`` — the smoothed idf is
    exactly 0 for a term present in every document, so corpus-wide
    stop-terms drop out of the postings (``wt != 0`` filter) BEFORE the
    join: the classic sparse-retrieval pruning that keeps the term-join
    fan-out bounded at scale. Weights are rounded to 6 dp (absorbing
    cross-engine ``ln`` libm drift) and the cosine to 4 dp before the
    ranking window, with a neighbor_id tiebreak, so the rank permutation
    is total and cross-engine stable (ADVICE r04 pattern).

    Plan shape: one explode + two aggregations build the postings and
    norms (each one shuffle on doc_id / term); the probe side is a
    constant-size relation (TFIDF_PROBES documents) broadcast onto the
    corpus postings; the per-(probe, doc) dot is a partial-aggregated
    sum. Nothing is quadratic in corpus size — the probe fan-out is
    fixed.

    The postings are PINNED (eager localCheckpoint, the
    dedup.connected_components pattern) at the two fan-out points of
    the DAG: ``tf`` feeds both the df aggregation and the weight join,
    and ``nz`` feeds the norms, the probe slice, and the corpus side of
    the dot join. Spark inlines CTEs, so the declarative form would
    re-execute the token-scale explode+aggregate subtree once per
    reference (~4x the work; measured 7.0 s -> ~2 s at sf0.1).
    Checkpoint blocks are GC-scoped to the returned frame — no
    session-lifetime cache survives the call.
    """
    tf = (
        spark.table("documents")
        .selectExpr("doc_id", f"explode({TOKENS}) AS w")
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    n_docs = spark.table("documents").count()
    dfreq = tf.groupBy("w").agg(F.count("*").alias("df"))
    # The term-vocabulary join is left AQE-governed (vocab grows with
    # the corpus — a forced broadcast would OOM at 100 TB).
    nz = (
        tf.join(dfreq, "w")
        .selectExpr(
            "doc_id", "w", f"round(tf * ln(({n_docs} + 1.0) / (df + 1.0)), 6) AS wt"
        )
        .where("wt != 0")
        .localCheckpoint(eager=True)
    )
    norms = nz.groupBy("doc_id").agg(F.expr("sqrt(sum(wt * wt))").alias("nrm"))
    probe = nz.where(f"doc_id < {TFIDF_PROBES}").selectExpr(
        "doc_id AS probe_id", "w", "wt AS pwt"
    )
    dots = (
        F.broadcast(probe)
        .join(nz, "w")
        .where("doc_id != probe_id")
        .groupBy("probe_id", F.col("doc_id").alias("neighbor_id"))
        .agg(F.expr("sum(pwt * wt)").alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(norms.selectExpr("doc_id AS probe_id", "nrm AS pnrm")).where(
                f"probe_id < {TFIDF_PROBES}"
            ),
            "probe_id",
        )
        .join(norms.selectExpr("doc_id AS neighbor_id", "nrm"), "neighbor_id")
        .selectExpr(
            "probe_id", "neighbor_id", "round(dot / (pnrm * nrm), 4) AS tfidf_cos"
        )
    )
    ranked = scored.selectExpr(
        "probe_id",
        "neighbor_id",
        "tfidf_cos",
    ).withColumn(
        "rank",
        F.expr(
            "row_number() OVER (PARTITION BY probe_id "
            "ORDER BY tfidf_cos DESC, neighbor_id)"
        ),
    )
    return (
        ranked.where(f"rank <= {TFIDF_TOP_K}")
        .select("probe_id", "neighbor_id", "rank", "tfidf_cos")
        .orderBy("probe_id", "rank")
    )


TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
),
stats AS (SELECT count(*) AS n_docs FROM toks),
tf AS (
  SELECT doc_id, w, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS w FROM toks)
  GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
wts AS (
  SELECT doc_id, w,
         round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS wt
  FROM tf JOIN df USING (w) CROSS JOIN stats
),
nz AS (SELECT doc_id, w, wt FROM wts WHERE wt != 0),
norms AS (
  SELECT doc_id, sqrt(sum(wt * wt)) AS nrm FROM nz GROUP BY doc_id
),
probe AS (
  SELECT doc_id AS probe_id, w, wt FROM nz WHERE doc_id < {TFIDF_PROBES}
),
dots AS (
  SELECT p.probe_id, c.doc_id AS neighbor_id, sum(p.wt * c.wt) AS dot
  FROM probe p JOIN nz c USING (w)
  WHERE c.doc_id != p.probe_id
  GROUP BY p.probe_id, c.doc_id
),
scored AS (
  SELECT d.probe_id, d.neighbor_id,
         round(d.dot / (np.nrm * nc.nrm), 4) AS tfidf_cos
  FROM dots d
  JOIN norms np ON np.doc_id = d.probe_id
  JOIN norms nc ON nc.doc_id = d.neighbor_id
),
ranked AS (
  SELECT probe_id, neighbor_id, tfidf_cos,
         row_number() OVER (
           PARTITION BY probe_id ORDER BY tfidf_cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT probe_id, neighbor_id, rank, tfidf_cos
FROM ranked WHERE rank <= {TFIDF_TOP_K}
ORDER BY probe_id, rank
"""


# --- exact phrase match via positional postings -----------------------------

# ES `match_phrase` internalized: Lucene answers phrase queries from
# positional postings (term -> (doc, position) lists, consecutive-
# position intersection); this entry builds the same shape as a plan.
PHRASE = ("hash", "value")


def phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing the exact phrase ``"hash value"`` with
    per-doc occurrence counts — the `match_phrase` query the reference
    delegates to ES, answered by positional-postings intersection.

    Scale shape: the token stream is filtered to the phrase's terms
    BEFORE positions materialize rows (two tiny postings relations, not
    a corpus-wide explode); the consecutive-position check is an
    equi-join on (doc_id, pos + 1) — both sides shuffle on doc_id, the
    smaller relation's size is bounded by the rarer term's corpus
    frequency. A k-term phrase chains k-1 such joins, each further
    shrinking the stream. The oracle is an independent formulation
    (direct array scan), not a mirror."""
    w1, w2 = PHRASE
    toks = spark.table("documents").selectExpr(
        "doc_id", f"{TOKENS} AS t"
    ).selectExpr("doc_id", "posexplode(t) AS (pos, w)")
    p1 = toks.where(F.col("w") == w1).select("doc_id", "pos")
    p2 = toks.where(F.col("w") == w2).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "doc_id")
    )


PHRASE_MATCH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
),
counted AS (
  SELECT doc_id,
         cast(len(list_filter(range(1, len(t)),
              i -> t[i] = '{PHRASE[0]}' AND t[i + 1] = '{PHRASE[1]}'))
              AS BIGINT) AS n_occurrences
  FROM t
)
SELECT doc_id, n_occurrences FROM counted
WHERE n_occurrences > 0
ORDER BY n_occurrences DESC, doc_id
"""


# --- fuzzy term search via deletion neighborhoods (SymSpell) ----------------

# ES `fuzzy` queries (edit distance <= 1) internalized with the
# SymSpell recipe: candidate terms come from a JOIN on single-character
# -deletion variants — dist(q, t) <= 1 implies q = t, t in del1(q),
# q in del1(t), or del1(q) ∩ del1(t) != {} — then TRUE levenshtein
# verifies (the deletion join over-generates, e.g. transpositions).
# The oracle is the ground-truth full-vocabulary levenshtein scan, so
# the differential proves the neighborhood lemma's completeness.
# 'tabl' (deletion), 'valu' (deletion), 'scann' (insertion) — note a
# TRANSPOSITION like 'tabel' is levenshtein distance 2 and correctly
# matches nothing at max dist 1 (asserted in tests).
FUZZY_PROBES = ("tabl", "valu", "scann")
FUZZY_MAX_DIST = 1


def _del1_expr(col: str) -> str:
    """Spark SQL: array of the string itself + every single-deletion
    variant (the SymSpell distance-1 neighborhood)."""
    return (
        f"array_union(array({col}), transform(sequence(1, length({col})), "
        f"i -> concat(substring({col}, 1, i - 1), "
        f"substring({col}, i + 1, length({col})))))"
    )


def fuzzy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each (misspelled) probe term: every corpus vocabulary term
    within levenshtein distance {FUZZY_MAX_DIST}, with corpus
    frequency.

    Scale shape: the vocabulary (sub-linear in corpus size) explodes
    into ~word-length deletion variants — one shuffle on the variant
    key; the probe side is a handful of rows, broadcast. NO
    vocabulary-x-probes distance scan ever runs in the engine: the
    levenshtein verify touches only the candidates the deletion join
    surfaces. That asymmetry (scan in the oracle, join in the engine)
    is the point at 100 TB-vocabulary scale."""
    vocab = (
        spark.table("documents")
        .selectExpr(f"explode({TOKENS}) AS w")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    vvar = vocab.selectExpr("w", "freq", f"explode({_del1_expr('w')}) AS v")
    probes = spark.createDataFrame(
        [(p,) for p in FUZZY_PROBES], "probe string"
    ).selectExpr("probe", f"explode({_del1_expr('probe')}) AS v")
    return (
        vvar.join(F.broadcast(probes), "v")
        .select("probe", "w", "freq")
        .distinct()
        .where(f"levenshtein(probe, w) <= {FUZZY_MAX_DIST}")
        .selectExpr(
            "probe",
            "w AS term",
            "cast(levenshtein(probe, w) AS int) AS dist",
            "freq",
        )
        .orderBy("probe", "term")
    )


def _fuzzy_oracle() -> str:
    probes = ", ".join(f"('{p}')" for p in FUZZY_PROBES)
    return f"""
WITH vocab AS (
  SELECT w, cast(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({DUCK_TOKENS}) AS w FROM documents)
  GROUP BY w
),
p(probe) AS (VALUES {probes})
SELECT probe, w AS term,
       cast(levenshtein(probe, w) AS INTEGER) AS dist, freq
FROM p CROSS JOIN vocab
WHERE levenshtein(probe, w) <= {FUZZY_MAX_DIST}
ORDER BY probe, term
"""


# --- MMR diversification re-rank (grouped-map applyInPandas seam) -----------

# Maximal Marginal Relevance (Carbonell & Goldstein 1998): greedily
# pick results that are relevant to the query but DISSIMILAR to what
# is already picked — the standard diversification pass over a dense
# top-k. The greedy loop is inherently sequential PER PROBE, which is
# exactly the shape batch ``applyInPandas`` (grouped map) exists for:
# each probe's bounded candidate set (MMR_CANDS rows) arrives as one
# pandas frame, the numpy greedy runs row-locally, and probes
# parallelize across the cluster. This is the remaining UDF-seam
# flavor (scalar/iterator seams: multimodal; stateful: streaming).
# The sequential argmax DOES have a SQL formulation once the step
# count is a constant: MMR_TOP unrolled pick/selected CTE stages (the
# same staged-loop recipe as the BPE-merge and PageRank oracles), so
# the entry is oracle-backed — the kernel rounds relevance AND the
# candidate-pair similarities to 6 dp before any comparison (the
# engine-wide round-before-rank discipline), which is what makes the
# greedy argmax replay rank-for-rank across engines. A pure-Python
# recompute test additionally pins every selection.
MMR_LAMBDA = 0.5
MMR_TOP = 10
MMR_CANDS = 50


def _mmr_fn(pdf):
    import numpy as np  # noqa: PLC0415 — executor-side
    import pandas as pd  # noqa: PLC0415

    pdf = pdf.sort_values(["cos", "vec_id"], ascending=[False, True]).reset_index(
        drop=True
    )
    E = np.stack([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
    # Candidate-pair cosines rounded to 6 dp BEFORE the greedy loop —
    # the same boundary discipline every ranked kernel applies, and the
    # contract that lets the unrolled SQL oracle reproduce each argmax
    # (np.round's half-even vs SQL's half-up differs only exactly ON a
    # 5e-7 boundary, which the 1e-16-noise cosines never hit).
    n = np.linalg.norm(E, axis=1)
    sims = np.round((E @ E.T) / np.outer(n, n), 6)
    rel = pdf["cos"].to_numpy()
    selected: list[int] = []
    rows = []
    while len(selected) < min(MMR_TOP, len(pdf)):
        if selected:
            penalty = sims[:, selected].max(axis=1)
            score = MMR_LAMBDA * rel - (1 - MMR_LAMBDA) * penalty
        else:
            score = rel.copy()
        score[selected] = -np.inf
        pick = int(np.argmax(score))  # ties -> lowest index (stable order)
        selected.append(pick)
        rows.append(
            (
                int(pdf["probe_id"].iloc[0]),
                len(selected),
                int(pdf["vec_id"].iloc[pick]),
                # Raw IEEE score, NOT re-rounded: 0.5*rel - 0.5*pen on
                # identical 6-dp inputs is bit-identical across engines,
                # while a final 6-dp round lands exactly ON the 5e-7
                # half-even/half-up tie boundary (0.5 * a 6-dp value has
                # 7 decimal digits) — measured 6/50 rows flipping by
                # 1e-6 between numpy and SQL round before this was
                # removed.
                float(score[pick]),
            )
        )
    return pd.DataFrame(rows, columns=["probe_id", "rank", "vec_id", "mmr_score"])


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{MMR_TOP} per probe over the exact top-
    {MMR_CANDS} cosine candidates.

    Scale shape: candidate generation is the broadcast-probe scored
    scan every ANN entry uses (swap in any ANN candidate source at
    scale); the grouped map receives bounded {MMR_CANDS}-row groups —
    state per group is a {MMR_CANDS}x{MMR_CANDS} sim matrix, constant
    regardless of corpus size."""
    from pyspark.sql import Window  # noqa: PLC0415
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.similarity import (  # noqa: PLC0415
        DOT,
        N_PROBES,
        _with_norm,
    )

    emb = _with_norm(spark.table("embeddings"))
    probes = emb.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("p_emb"),
        F.col("norm").alias("p_norm"),
    )
    scored = (
        emb.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("probe_id"))
        .withColumn(
            "cos",
            F.round(
                F.expr(DOT.format(a="p_emb", b="embedding"))
                / (F.col("p_norm") * F.col("norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    cands = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= MMR_CANDS)
        .select("probe_id", "vec_id", "cos", "embedding")
    )
    return (
        cands.groupBy("probe_id")
        .applyInPandas(
            _mmr_fn, "probe_id long, rank int, vec_id long, mmr_score double"
        )
        .orderBy("probe_id", "rank")
    )


def _mmr_oracle() -> str:
    """Unrolled greedy MMR (the staged-loop oracle recipe, as in the
    BPE-merge and PageRank chains): pick1 is the relevance argmax;
    each later stage computes every unselected candidate's penalty
    (max 6-dp-rounded cosine to the selected set), scores
    lam*rel - (1-lam)*penalty, and picks the argmax with the kernel's
    exact tiebreak (score DESC, then candidate order = cos DESC,
    vec_id ASC). Scores compare as identical doubles because both
    engines derive them from the same 6-dp-rounded rel/penalty inputs
    with the same two-term expression."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.similarity import (  # noqa: PLC0415
        N_PROBES,
    )

    lam = MMR_LAMBDA
    score = f"{lam!r} * c.cos - {1 - lam!r} * pn.pen"
    parts = [
        f"""scored AS MATERIALIZED (
  SELECT p.vec_id AS probe_id, e.vec_id AS vid,
         round(list_cosine_similarity(p.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos
  FROM embeddings p JOIN embeddings e ON e.vec_id != p.vec_id
  WHERE p.vec_id < {N_PROBES}
),
cands AS MATERIALIZED (
  SELECT probe_id, vid, cos FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vid) AS rn
    FROM scored) z
  WHERE rn <= {MMR_CANDS}
),
sims AS MATERIALIZED (
  SELECT a.probe_id, a.vid AS va, b.vid AS vb,
         round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS s
  FROM cands a
  JOIN cands b ON b.probe_id = a.probe_id AND b.vid != a.vid
  JOIN embeddings ea ON ea.vec_id = a.vid
  JOIN embeddings eb ON eb.vec_id = b.vid
),
p1 AS MATERIALIZED (
  SELECT probe_id, vid, cos, cast(cos AS double) AS score FROM (
    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vid) AS rn
    FROM cands) z
  WHERE rn = 1
),
s1 AS MATERIALIZED (SELECT probe_id, vid FROM p1)"""
    ]
    # Every stage is MATERIALIZED: p{t} references s{t-1} twice and
    # s{t} chains on s{t-1}, so inlined CTEs would re-expand the whole
    # prefix at each of the MMR_TOP stages — the same multiply-
    # referenced-CTE blowup the engine fixed with operators/
    # materialized.py (measured: the non-materialized form of this
    # oracle did not finish in 10 min at sf0.01; materialized it runs
    # in seconds).
    for t in range(2, MMR_TOP + 1):
        parts.append(
            f"""pen{t} AS MATERIALIZED (
  SELECT x.probe_id, x.va AS vid, max(x.s) AS pen
  FROM sims x JOIN s{t - 1} sl ON sl.probe_id = x.probe_id AND sl.vid = x.vb
  GROUP BY x.probe_id, x.va
),
p{t} AS MATERIALIZED (
  SELECT probe_id, vid, cos, score FROM (
    SELECT c.probe_id, c.vid, c.cos, {score} AS score,
           row_number() OVER (PARTITION BY c.probe_id
             ORDER BY ({score}) DESC, c.cos DESC, c.vid) AS rn
    FROM cands c
    JOIN pen{t} pn ON pn.probe_id = c.probe_id AND pn.vid = c.vid
    LEFT JOIN s{t - 1} ex ON ex.probe_id = c.probe_id AND ex.vid = c.vid
    WHERE ex.vid IS NULL) z
  WHERE rn = 1
),
s{t} AS MATERIALIZED (SELECT probe_id, vid FROM s{t - 1}
         UNION ALL SELECT probe_id, vid FROM p{t})"""
        )
    union = "\n  UNION ALL\n".join(
        f"  SELECT probe_id, {t} AS rank, vid AS vec_id,"
        f" score AS mmr_score FROM p{t}"
        for t in range(1, MMR_TOP + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT probe_id, rank, vec_id, mmr_score FROM (\n"
        + union
        + "\n) u ORDER BY probe_id, rank"
    )


# --- persisted inverted-index artifact (build once, search many) ------------
#
# The build-once/search-many contract the ANN family ships
# (pq_from_artifact, VERDICT r05 ask #5) extended to the text-search
# family: bm25_topk recomputes postings per query — correct for the
# self-contained driver contract, but a serving deployment tokenizes
# the corpus ONCE into an inverted index and pays only a postings
# lookup per query. The artifact is three pieces:
#
# - postings parquet (w, doc_id, tf, dl): range-partitioned and sorted
#   by term, so parquet row-group min/max statistics prune a term
#   lookup to the row groups that actually hold it — at 100 TB the
#   per-query read is ~|matching postings|, not the corpus;
# - df parquet (w, df): the per-term document frequencies (small —
#   vocabulary-sized, broadcast at search time);
# - stats.json: n_docs + avgdl, two numbers, embedded as exact literals
#   (repr round-trip) so the search-path doubles are bit-identical to
#   the self-contained computation.
#
# Save is atomic (tmp-dir + os.replace, same discipline as the PQ
# artifact) and the artifact is keyed by a fingerprint of the fixture's
# documents parquet, so a regenerated corpus can never be served by a
# stale index.
#
# search_bm25_from_artifact's oracle is BM25_ORACLE verbatim (the
# artifact path is hash-identical to the self-contained entry), so the
# hash-compare covers build+save+load+serve end-to-end.


class BM25Index:
    """Handle on a built inverted index: distributed postings + df,
    driver-resident corpus stats."""

    def __init__(self, postings: DataFrame, df: DataFrame, n_docs: int, avgdl: float):
        self.postings = postings
        self.df = df
        self.n_docs = n_docs
        self.avgdl = avgdl


def bm25_index_build(spark: SparkSession, sf_dir: str) -> BM25Index:
    """Tokenize the corpus once into full-vocabulary postings
    (w, doc_id, tf, dl), per-term df, and corpus stats. One scan, two
    small aggregations — the map-side-combined shuffle is on the term
    key, linear in corpus size."""
    toks = spark.sql(f"SELECT doc_id, {TOKENS} AS toks FROM documents")
    postings = (
        toks.select(
            "doc_id",
            F.expr("size(toks)").alias("dl"),
            F.explode("toks").alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    df = postings.groupBy("w").agg(F.count("*").alias("df"))
    n_docs, avgdl = toks.select(
        F.count("*"), F.avg(F.expr("size(toks)"))
    ).first()
    return BM25Index(postings, df, int(n_docs), float(avgdl))


def bm25_index_save(index: BM25Index, path: str) -> None:
    """Persist the index: postings range-partitioned + sorted by term
    (row-group pruning serves point term lookups), df alongside, stats
    as JSON (ints + the avgdl double via repr — exact round-trip)."""
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    (
        index.postings.repartitionByRange(8, "w")
        .sortWithinPartitions("w", "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(path, "postings"))
    )
    index.df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "df"))
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump({"n_docs": index.n_docs, "avgdl": index.avgdl}, f)


def bm25_index_load(spark: SparkSession, path: str) -> BM25Index:
    """Reload a persisted index; no scan of the corpus, no tokenize."""
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    with open(os.path.join(path, "stats.json")) as f:
        stats = json.load(f)
    return BM25Index(
        spark.read.parquet(os.path.join(path, "postings")),
        spark.read.parquet(os.path.join(path, "df")),
        int(stats["n_docs"]),
        float(stats["avgdl"]),
    )


def bm25_search(spark: SparkSession, sf_dir: str, index: BM25Index) -> DataFrame:
    """BM25 over stored postings: filter to the query terms (pushed to
    the parquet scan when the index came from disk), broadcast the tiny
    df relation, fold the driver-resident stats in as exact literals.
    Identical formula/rounding/tiebreaks to bm25_topk, so the result is
    hash-identical and shares BM25_ORACLE."""
    hits = index.postings.where(F.col("w").isin(QUERY_TERMS)).join(
        F.broadcast(index.df), "w"
    )
    n, a = index.n_docs, index.avgdl
    score = (
        f"round(sum(ln(1 + ({n} - df + 0.5) / (df + 0.5)) * tf * ({K1} + 1)"
        f" / (tf + {K1} * (1 - {B} + {B} * dl / cast('{a!r}' AS double)))), 4)"
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.expr(score).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
    )


def _bm25_artifact_path(sf_dir: str) -> str:
    """Deterministic artifact location keyed by the sf_dir AND a
    fingerprint of the documents parquet (names/sizes/mtimes), so a
    regenerated fixture can never be served by a stale index."""
    import hashlib  # noqa: PLC0415
    import os  # noqa: PLC0415

    h = hashlib.md5(str(sf_dir).encode())
    docs = os.path.join(str(sf_dir), "documents.parquet")
    if os.path.isdir(docs):
        walk = [
            os.path.join(r, f)
            for r, _, fs in os.walk(docs)
            for f in sorted(fs)
        ]
    elif os.path.exists(docs):
        walk = [docs]
    else:
        walk = []
    for p in sorted(walk):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(root, ".search_artifacts", "bm25_" + h.hexdigest())


def bm25_from_artifact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from the PERSISTED inverted index: the first
    invocation per fixture tokenizes + saves (atomic tmp-dir rename, a
    crashed build never half-publishes), every later one reloads the
    postings from disk and pays only the term-lookup search path.
    Hash-identical to ``search_bm25``; shares BM25_ORACLE."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    path = _bm25_artifact_path(sf_dir)
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        bm25_index_save(bm25_index_build(spark, sf_dir), tmp)
        try:
            os.replace(tmp, path)  # atomic publish; loser of a race loses
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
            # "lost the race" is only true if a winner actually
            # published; EXDEV/permission failures must not be
            # swallowed into an opaque missing-file load error
            if not os.path.isdir(path):
                raise
    return bm25_search(spark, sf_dir, bm25_index_load(spark, path))


# --- search highlighting (the ES highlight API, computed natively) ----------
#
# The reference's users read ES hits WITH highlights — `_search` bodies
# carry a `highlight` block and ES returns matched-term snippets per
# hit. This computes the same user-facing artifact inside Spark: for
# the BM25 top-HIGHLIGHT_TOPN documents, each query term present gets
# its first-occurrence snippet — up to HIGHLIGHT_PRE chars of left
# context, the term wrapped in <em>…</em>, HIGHLIGHT_SUF chars of
# right context — deterministic char arithmetic (locate/strpos +
# substring), so the DuckDB oracle replays it exactly.
#
# Scale shape: the ranking CTEs are the shared BM25 body (one
# filter-before-explode corpus scan + tiny aggregates); the rank
# filter keeps HIGHLIGHT_TOPN rows, and only THOSE join back to
# documents for text (AQE converts that post-shuffle join to a
# broadcast of the 20-row side at runtime), so snippet extraction
# never touches the corpus beyond the one ranking scan. Highlighting
# is O(top-k), not O(corpus), exactly like ES.

HIGHLIGHT_TOPN = 20
HIGHLIGHT_PRE = 20  # chars of context kept before the hit
HIGHLIGHT_SUF = 40  # chars of context kept after the hit

_SNIPPET_EXPR = f"""
concat(
  substring(text, greatest(1, pos - {HIGHLIGHT_PRE}),
            pos - greatest(1, pos - {HIGHLIGHT_PRE})),
  '<em>', term, '</em>',
  substring(text, pos + length(term), {HIGHLIGHT_SUF})
)"""


def highlight_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, pos, bm25, snippet) for every query term present
    in a BM25 top-HIGHLIGHT_TOPN document — ES highlight parity."""
    bm_ctes = _BM_CTES.format(
        size="size",
        k1=K1,
        b=B,
        tf_where="",
        tf_inner=f"""
            SELECT doc_id, size(toks) AS dl,
                   explode(filter(toks, x -> x IN ({_terms_sql()}))) AS w
            FROM toks
        """,
    )
    return spark.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, {TOKENS} AS toks FROM documents
        ),
        {bm_ctes},
        top AS (
          SELECT doc_id, s AS bm25
          FROM bm JOIN bm_rank USING (doc_id)
          WHERE r <= {HIGHLIGHT_TOPN}
        ),
        hits AS (
          SELECT t.doc_id, t.bm25, d.text, q.term,
                 locate(q.term, d.text) AS pos
          FROM top t
          JOIN documents d ON t.doc_id = d.doc_id
          CROSS JOIN (SELECT explode(array({_terms_sql()})) AS term) q
        )
        SELECT doc_id, term, cast(pos AS INT) AS pos, bm25,
               {_SNIPPET_EXPR} AS snippet
        FROM hits
        WHERE pos > 0
        ORDER BY doc_id, term
        """
    )


def _highlight_oracle() -> str:
    bm_ctes = _BM_CTES.format(
        size="len",
        k1=K1,
        b=B,
        tf_where=f"WHERE w IN ({_terms_sql()})",
        tf_inner="""
            SELECT doc_id, unnest(toks) AS w, len(toks) AS dl FROM toks
        """,
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents
),
{bm_ctes},
top AS (
  SELECT doc_id, s AS bm25
  FROM bm JOIN bm_rank USING (doc_id)
  WHERE r <= {HIGHLIGHT_TOPN}
),
hits AS (
  SELECT t.doc_id, t.bm25, d.text, q.term,
         strpos(d.text, q.term) AS pos
  FROM top t
  JOIN documents d ON t.doc_id = d.doc_id
  CROSS JOIN (SELECT unnest([{_terms_sql()}]) AS term) q
)
SELECT doc_id, term, cast(pos AS INTEGER) AS pos, bm25,
       {_SNIPPET_EXPR} AS snippet
FROM hits
WHERE pos > 0
ORDER BY doc_id, term
"""


def registry() -> dict[str, dict]:
    return {
        "search_bm25": {"fn": bm25_topk, "oracle": BM25_ORACLE},
        "search_hybrid_rrf": {"fn": hybrid_rrf, "oracle": _hybrid_oracle()},
        "search_tfidf_cosine_topk": {"fn": tfidf_cosine_topk, "oracle": TFIDF_ORACLE},
        "search_phrase_match": {"fn": phrase_match, "oracle": PHRASE_MATCH_ORACLE},
        "search_fuzzy_terms": {"fn": fuzzy_terms, "oracle": _fuzzy_oracle()},
        # oracle-backed since r06: the greedy loop unrolls into MMR_TOP
        # staged pick/selected CTEs (round-before-rank makes the argmax
        # replay exactly); the pure-Python recompute test still pins
        # every selection independently
        "search_mmr_rerank": {"fn": mmr_rerank, "oracle": _mmr_oracle()},
        # r08 freeze-exit registration: persisted-inverted-index serve
        # path, hash-identical to search_bm25 (shares BM25_ORACLE)
        "search_bm25_from_artifact": {
            "fn": bm25_from_artifact,
            "oracle": BM25_ORACLE,
        },
        # r08 net-new: ES highlight parity over the BM25 top-k
        "search_highlight_snippets": {
            "fn": highlight_snippets,
            "oracle": _highlight_oracle(),
        },
    }
