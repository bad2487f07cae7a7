"""Semantic tests for the north-star operators (SURVEY.md §2.C).

Oracle parity is covered by test_oracle_queries; these verify the
*behavior*: planted duplicates are found, LSH recalls the exact top-k,
simhash is locality-sensitive, the multimodal stub fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
    chunking,
    dedup,
    multimodal,
    similarity,
)


@pytest.fixture()
def planted_docs(spark, tables):
    """Documents view with planted exact + near duplicates; restores the
    real view afterwards."""
    base = "one two three four five six seven eight nine ten " * 5
    near = base.replace("five", "5", 1)  # one token differs
    rows = [
        (9001, base.strip(), "en", "srcX", len(base)),
        (9002, base.strip(), "en", "srcX", len(base)),  # exact dup
        (9003, near.strip(), "en", "srcX", len(near)),  # near dup
        (9004, "completely different words entirely here now", "en", "srcX", 44),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.createOrReplaceTempView("documents")
    yield rows
    tables["documents"].createOrReplaceTempView("documents")


def test_dedup_exact_finds_planted_dup(spark, planted_docs, sf_dir):
    out = dedup.exact(spark, sf_dir).collect()
    by_id = {r.doc_id: r.n_copies for r in out}
    assert by_id[9001] == 2          # 9002 collapsed into 9001
    assert 9002 not in by_id
    assert by_id[9003] == 1


def test_minhash_lsh_finds_near_dup(spark, planted_docs, sf_dir):
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()}
    assert (9001, 9002) in pairs and pairs[(9001, 9002)] == 1.0
    assert (9001, 9003) in pairs and pairs[(9001, 9003)] > 0.5
    assert not any(9004 in p for p in pairs)


def test_simhash_locality(spark, planted_docs, sf_dir):
    fp = {r.doc_id: r.simhash16 for r in dedup.simhash(spark, sf_dir).collect()}
    assert fp[9001] == fp[9002]  # identical text -> identical fingerprint

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fp[9001], fp[9003]) <= hamming(fp[9001], fp[9004])


def test_simhash_pairs_equal_allpairs_baseline(spark, tables, sf_dir):
    """The 4x12-bit banding's pigeonhole guarantee: a pair within
    Hamming distance SIMHASH_HAMMING_MAX (3) differs in at most 3 of
    the 4 bands, so one band must match exactly — the banded candidate
    set loses NO qualifying pair. Verified by comparing the operator's
    output to the test-side all-pairs baseline over the real fixture
    (wide) fingerprints (recall 1.0, and no extra pairs either)."""
    fps = {r.doc_id: r.f for r in dedup._simhash_fps_wide(spark).collect()}
    ids = sorted(fps)
    baseline = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= dedup.SIMHASH_HAMMING_MAX
    }
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(spark, sf_dir).collect()
    }
    assert set(got) == baseline
    assert all(h <= dedup.SIMHASH_HAMMING_MAX for h in got.values())


def test_curriculum_order_contract(spark, tables, sf_dir):
    """Stages are quality-monotone (min quality of stage k >= max of
    stage k+1 under the deterministic tiebreak), positions are a
    permutation of 1..N, and stages are contiguous position blocks."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import sampling

    rows = sampling.curriculum_order(spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r.curriculum_pos for r in rows) == list(range(1, n + 1))
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r.stage, []).append(r)
    stages = sorted(by_stage)
    assert stages == list(range(1, sampling.CURRICULUM_STAGES + 1))
    for a, b in zip(stages, stages[1:]):
        assert min(r.quality for r in by_stage[a]) >= max(
            r.quality for r in by_stage[b]
        )
        assert max(r.curriculum_pos for r in by_stage[a]) < min(
            r.curriculum_pos for r in by_stage[b]
        )


def test_dsir_importance_matches_python_recompute(spark, tables, sf_dir):
    """Full pure-Python recompute of the DSIR statistic: hashed-bucket
    target/corpus LMs with add-1 smoothing, per-doc summed log ratio
    rounded to 4 dp, total-ordered ranking — the Spark/DuckDB-shared
    arithmetic re-derived independently, not mirrored."""
    import hashlib
    import math
    import re

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import sampling

    docs = spark.table("documents").select("doc_id", "source", "text").collect()
    B = sampling.DSIR_BUCKETS

    def bucket(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % B

    c_s, c_t = {}, {}
    per_doc = {}
    for r in docs:
        toks = re.split(r"\s+", r.text.strip().lower())
        bs = [bucket(w) for w in toks]
        per_doc[r.doc_id] = (r.source, bs)
        for b in bs:
            c_s[b] = c_s.get(b, 0) + 1
            if r.source in ("src0", "src1"):
                c_t[b] = c_t.get(b, 0) + 1
    n_s, n_t = sum(c_s.values()), sum(c_t.values())
    scored = []
    for doc_id, (source, bs) in per_doc.items():
        lw = sum(
            math.log((c_t.get(b, 0) + 1.0) / (n_t + B))
            - math.log((c_s[b] + 1.0) / (n_s + B))
            for b in bs
        )
        scored.append((doc_id, source, len(bs), round(lw, 4)))
    scored.sort(key=lambda t: (-t[3], t[0]))
    expect = [
        (doc_id, source, n, lw, rnk + 1)
        for rnk, (doc_id, source, n, lw) in enumerate(
            scored[: sampling.DSIR_TOPK]
        )
    ]
    got = [
        (r.doc_id, r.source, r.n_tokens, r.log_weight, r.rnk)
        for r in sampling.dsir_importance(spark, sf_dir).collect()
    ]
    assert got == expect


def test_prefix_filter_finds_planted_pairs_exactly(spark, planted_docs, sf_dir):
    """Exact recall by the prefix lemma: the planted exact dup is at
    jaccard 1.0, the one-token-edit near dup keeps most trigrams, and
    the unrelated doc pairs with nothing. (The full equality against
    the all-pairs ground truth is the oracle differential; this pins
    the semantics on a readable corpus.)"""
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.prefix_filter_pairs(spark, sf_dir).collect()
    }
    assert pairs[(9001, 9002)] == 1.0
    assert not any(9004 in p for p in pairs)
    # one-token edit: trigram jaccard is high but below 1
    if (9001, 9003) in pairs:
        assert 0.8 <= pairs[(9001, 9003)] < 1.0


def test_ngram_jaccard_finds_near_dup(spark, planted_docs, sf_dir):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    assert (9001, 9002) in pairs and pairs[(9001, 9002)] == 1.0
    assert (9001, 9003) in pairs  # one-token edit keeps most trigrams
    assert not any(9004 in p for p in pairs)


def test_ivf_topk_shape_and_consistency(spark, tables, sf_dir):
    """IVF results: TOP_K rows per probe, cosines bounded by the exact
    rank-1 cosine, and decent recall on the probed cells."""
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    rows = similarity.ivf_topk(spark, sf_dir).collect()
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r.probe_id, []).append(r)
    assert set(per_probe) == {0, 1, 2, 3, 4}
    for probe, rs in per_probe.items():
        assert len(rs) == similarity.TOP_K
        cosines = [r.cosine for r in rs]
        assert cosines == sorted(cosines, reverse=True)
    recall = len({(r.probe_id, r.neighbor_id) for r in rows} & exact) / len(exact)
    # IVF_NPROBE=9 of KMEANS_K=10 cells scans ~90% of this isotropic
    # worst-case fixture, so recall sits near the scan fraction
    # (measured 0.96 at sf0.01, reported in bench.py as
    # ivf_recall_at_k_sf0.01). The floor asserts the shipped operating
    # point stays well above the old nprobe=5 value (0.76); nprobe is
    # exposed on ivf_topk for callers wanting a different
    # recall/latency tradeoff.
    assert recall >= 0.84


def test_kmeans_centroids_deterministic(spark, tables, sf_dir):
    """Lloyd's k-means is seedless-deterministic: same centroids on
    every run (md5 init, 6-dp rounding each iteration)."""
    c1 = {r.cid: r.centroid for r in similarity.kmeans_centroids(spark).collect()}
    c2 = {r.cid: r.centroid for r in similarity.kmeans_centroids(spark).collect()}
    assert c1 == c2
    assert 0 < len(c1) <= similarity.KMEANS_K
    assert all(len(v) == similarity.N_DIM for v in c1.values())


def test_lsh_topk_recall_vs_exact(spark, tables, sf_dir):
    """Bucketed ANN must return a subset ranked consistently with the
    exact result (within-bucket exactness)."""
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    approx = similarity.lsh_bucket_topk(spark, sf_dir).collect()
    assert len(approx) > 0
    # every approx neighbor's cosine must be <= the exact rank-1 cosine
    exact_best = {}
    for r in similarity.brute_force_topk(spark, sf_dir).collect():
        exact_best.setdefault(r.probe_id, r.cosine)
    for r in approx:
        assert r.cosine <= exact_best[r.probe_id] + 1e-9
    recall = len({(r.probe_id, r.neighbor_id) for r in approx} & exact) / max(len(exact), 1)
    assert 0.0 <= recall <= 1.0  # recorded, not asserted high: sign-LSH on random vectors


def test_neardup_banded_vs_allpairs_recall(spark, tables, sf_dir):
    """The shipped near-dup operator is banded-LSH candidates + exact
    verify: its pairs must be a subset of the all-pairs baseline (no
    false positives — the verify step is exact cosine), with recall
    bounded below, and its physical plan must contain no cross join."""
    banded = {(r.va, r.vb) for r in similarity.neardup_pairs(spark, sf_dir).collect()}
    allp = {(r.va, r.vb) for r in similarity.neardup_pairs_allpairs(spark, sf_dir).collect()}
    assert banded <= allp  # exact verify => zero false positives
    # Floor is empirical on the checked-in fixture (seeded, 64-dim):
    # 0.94 measured at sf0.001 with 16x4 banding and cos>=0.35. If
    # fixtures are ever regenerated with another seed/dim, re-measure
    # before tightening/loosening — the bound is probabilistic, not exact.
    assert len(banded) / max(len(allp), 1) >= 0.85
    plan = (
        similarity.neardup_pairs(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_no_cross_join(spark, tables, sf_dir):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import pipeline

    plan = (
        pipeline.semantic_dedup_survivors(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multimodal_decode_stub_fails_loudly(spark, tables, sf_dir):
    payloads = spark.table("documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    decoded = payloads.mapInPandas(
        multimodal.decode_stub("image"), schema="doc_id long"
    )
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        decoded.collect()


def test_binary_features_match_python_hash(spark, tables, sf_dir):
    import hashlib

    row = (
        multimodal.binary_features(spark, sf_dir).limit(1).collect()[0]
    )
    text = (
        spark.table("documents").where(F.col("doc_id") == row.doc_id).collect()[0].text
    )
    assert row.md5_hex == hashlib.md5(text.encode()).hexdigest()
    assert row.n_bytes == len(text.encode())


def test_ngram_jaccard_short_doc_pairs_survive_witness_gate(spark, tables, sf_dir):
    """The multi-witness candidate gate is capped at the per-pair
    information-theoretic bound: two identical 3-token docs have ONE
    trigram (1 shared gram < NGRAM_MIN_SHARED) yet are a jaccard=1.0
    pair — they must still be found."""
    rows = [
        (9101, "alpha beta gamma", "en", "srcY", 16),
        (9102, "alpha beta gamma", "en", "srcY", 16),  # identical, 1 trigram
        (9103, "unrelated words entirely different here", "en", "srcY", 39),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        pairs = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
        }
        assert pairs == {(9101, 9102): 1.0}
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_connected_components_clusters_planted_chain(spark, tables, sf_dir):
    """A chain of single-token edits must collapse into ONE component
    labeled by its minimum doc_id; an unrelated identical pair forms its
    own component; documents with no near-dup pair don't appear."""
    base = "one two three four five six seven eight nine ten " * 5
    chain1 = base.replace("five", "5", 1)
    chain2 = chain1.replace("nine ten one", "nine xx one", 1)
    other = "alpha beta gamma delta epsilon zeta eta theta " * 6
    rows = [
        (9001, base.strip(), "en", "srcZ", len(base)),
        (9002, chain1.strip(), "en", "srcZ", len(chain1)),
        (9003, chain2.strip(), "en", "srcZ", len(chain2)),
        (9005, other.strip(), "en", "srcZ", len(other)),
        (9006, other.strip(), "en", "srcZ", len(other)),
        (9007, "completely unrelated text goes here now", "en", "srcZ", 39),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        comp = {r.doc_id: r.component for r in dedup.connected_components(spark, sf_dir).collect()}
        assert comp[9001] == comp[9002] == comp[9003] == 9001
        assert comp[9005] == comp[9006] == 9005
        assert 9007 not in comp
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_pq_topk_recall_with_rerank(spark, tables, sf_dir):
    """PQ shortlist + exact re-rank: results must be exact-cosine-ranked
    (re-rank stage) and recall the brute-force top-k above the shipped
    floor — raw ADC ranks alone measured 0.2 on the isotropic fixtures,
    the re-rank stage is what makes PQ servable."""
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    rows = similarity.pq_topk(spark, sf_dir).collect()
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r.probe_id, []).append(r.cosine)
    for cosines in per_probe.values():
        assert cosines == sorted(cosines, reverse=True)
    recall = len({(r.probe_id, r.neighbor_id) for r in rows} & exact) / len(exact)
    assert recall >= 0.5


def _assert_search_reads_cached_codes(spark, index, search) -> None:
    """``index.codes`` is still in the cache manager after the searches,
    and ``search``'s optimized plan reads it as an InMemoryRelation."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.lookupCachedData(index.codes._jdf).isDefined()
    plan = search._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan


def test_pq_build_search_split_matches_selfcontained(spark, tables, sf_dir):
    """The 'build once, search many' path (pq_build -> pq_search over a
    persisted code table) must return exactly what the self-contained
    pq_topk returns — the artifact split may not change semantics — and
    the persisted code table must be the narrow relation the ADC scan
    claims to stream (vec_id + PQ_M tinyint codes + rnorm, no
    embeddings)."""
    index = similarity.pq_build(spark, sf_dir, persist=True)
    try:
        code_cols = set(index.codes.columns)
        assert code_cols == {
            "vec_id",
            *[f"pos{s}" for s in range(similarity.PQ_M)],
            "rnorm",
        }
        assert all(
            f.dataType.simpleString() == "tinyint"
            for f in index.codes.schema.fields
            if f.name.startswith("pos")
        )
        split = [tuple(r) for r in similarity.pq_search(spark, sf_dir, index).collect()]
        whole = [tuple(r) for r in similarity.pq_topk(spark, sf_dir).collect()]
        assert split == whole
        search = similarity.pq_search(spark, sf_dir, index)
        assert [tuple(r) for r in search.collect()] == split
        _assert_search_reads_cached_codes(spark, index, search)
    finally:
        index.release()


def test_ivfpq_topk_recall_and_order(spark, tables, sf_dir):
    """IVF-PQ composite: exact-cosine-ranked output (re-rank stage) and
    recall above a floor reflecting BOTH prunings stacked (cell pruning
    ~nprobe/nlist of the data, then ADC shortlisting — measured 0.84 at
    sf0.01 with the 100-deep shortlist and IVFPQ_NPROBE=9; see the
    constant's comment for the nprobe/recall curve)."""
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    rows = similarity.ivfpq_topk(spark, sf_dir).collect()
    per_probe = {}
    for r in rows:
        per_probe.setdefault(r.probe_id, []).append(r.cosine)
    for cosines in per_probe.values():
        assert cosines == sorted(cosines, reverse=True)
    recall = len({(r.probe_id, r.neighbor_id) for r in rows} & exact) / len(exact)
    assert recall >= 0.4


def test_ivfpq_residual_adc_is_exact_reconstruction_cosine(spark, tables, sf_dir):
    """The residual ADC identity: the code-only score must equal
    cos(probe, cell_centroid + decoded_residual) computed from an
    explicit reconstruction — term-for-term (cell_dot + LUTs over
    ||c||^2 + 2c.r + ||r||^2), verified numerically to 1e-9 for every
    (probe 0, doc) pair the probed cells cover."""
    import numpy as np
    from pyspark.sql import functions as F

    idx = similarity.ivfpq_residual_build(spark, sf_dir, persist=True)
    try:
        emb = {
            r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in spark.table("embeddings").collect()
        }
        cents = {cid: np.array(c) for cid, c, _n in idx.cents}
        codes = {r.vec_id: r for r in idx.codes.collect()}
        p = emb[0]
        pn = float(np.sqrt((p * p).sum()))

        cb = similarity._centroid_array_expr(idx.cents)
        embn = similarity._with_norm(spark.table("embeddings")).select(
            "vec_id", "embedding", "norm"
        )
        pc = (
            embn.where(F.col("vec_id") < similarity.N_PROBES)
            .select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("p_emb"),
                F.explode(
                    F.expr(
                        f"slice(reverse(array_sort({idx.cells_expr})), 1, "
                        f"{similarity.N_PROBE_CELLS})"
                    )
                ).alias("pc"),
            )
            .selectExpr(
                "probe_id",
                "pc.cid AS cell",
                f"{similarity.DOT.format(a='p_emb', b=f'filter({cb}, c -> c.cid = pc.cid)[0].centroid')} AS cell_dot",
                f"element_at({idx.cell_cn2_expr}, pc.cid) AS cell_cn2",
            )
        )
        luts = similarity._pq_probe_luts(spark, idx.cb_exprs)
        num = "cell_dot + " + " + ".join(
            f"element_at(lut{s}, cast(pos{s} AS int) + 1)"
            for s in range(similarity.PQ_M)
        )
        rn2 = " + ".join(
            f"element_at({idx.cb_exprs[s]}, cast(pos{s} AS int) + 1).cn2"
            for s in range(similarity.PQ_M)
        )
        crossv = " + ".join(
            f"element_at({idx.cross_exprs[s]}, cell * {similarity.PQ_K}"
            f" + cast(pos{s} AS int))"
            for s in range(similarity.PQ_M)
        )
        den = f"cell_cn2 + 2 * ({crossv}) + ({rn2})"
        adc = (
            idx.codes.join(F.broadcast(pc), "cell")
            .join(F.broadcast(luts), "probe_id")
            .where("probe_id = 0")
            .withColumn(
                "adc_cos",
                F.expr(f"({num}) / nullif(p_norm * sqrt(greatest({den}, 0D)), 0D)"),
            )
        )
        checked = 0
        for r in adc.collect():
            code = codes[r.vec_id]
            recon = cents[code.cell].copy()
            for s in range(similarity.PQ_M):
                pos = getattr(code, f"pos{s}")
                recon[s * similarity.PQ_SUB : (s + 1) * similarity.PQ_SUB] += (
                    np.array(idx.codebooks[s][pos][1])
                )
            true_cos = float(
                (p @ recon) / (pn * np.sqrt((recon * recon).sum()))
            )
            assert abs(r.adc_cos - true_cos) < 1e-9, (r.vec_id, r.adc_cos, true_cos)
            checked += 1
        assert checked > 50
    finally:
        idx.release()


def test_ivfpq_residual_recall_parity_floor(spark, tables, sf_dir):
    """Residual-coded search must not fall below the raw-coded
    composite (measured parity on the fixture geometry — see
    ivfpq_topk's docstring for why it is parity, not a win, here) and
    must stay above the absolute floor."""
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.brute_force_topk(spark, sf_dir).collect()
    }
    res = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.ivfpq_residual_topk(spark, sf_dir).collect()
    }
    raw = {
        (r.probe_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(spark, sf_dir).collect()
    }
    r_res = len(res & exact) / len(exact)
    r_raw = len(raw & exact) / len(exact)
    assert r_res >= r_raw - 0.08, (r_res, r_raw)
    assert r_res >= 0.4


def test_ivfpq_residual_one_sql_search_matches_chained(spark, tables, sf_dir):
    """The one-SQL residual ADC search (r14: _adc_rerank_sql with
    residual=) must return row-for-row exactly what the chained Dataset
    form it replaced returned — reconstructed here from the same
    building blocks (_pq_probe_luts + _exact_rerank) with the identical
    score arithmetic, the way test_fused_ivfpq_train_identical pins the
    fused trainer."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    S = similarity
    idx = S.ivfpq_residual_build(spark, sf_dir, persist=True)
    try:
        cb = S._centroid_array_expr(idx.cents)
        emb = S._with_norm(spark.table("embeddings")).select(
            "vec_id", "embedding", "norm"
        )
        probe_cells = (
            emb.where(F.col("vec_id") < S.N_PROBES)
            .select(
                F.col("vec_id").alias("probe_id"),
                F.col("embedding").alias("p_emb"),
                F.explode(
                    F.expr(
                        f"slice(reverse(array_sort({idx.cells_expr})), 1, "
                        f"{S.N_PROBE_CELLS})"
                    )
                ).alias("pc"),
            )
            .selectExpr(
                "probe_id",
                "pc.cid AS cell",
                f"{S.DOT.format(a='p_emb', b=f'filter({cb}, c -> c.cid = pc.cid)[0].centroid')}"
                " AS cell_dot",
                f"element_at({idx.cell_cn2_expr}, pc.cid) AS cell_cn2",
            )
        )
        luts = S._pq_probe_luts(spark, idx.cb_exprs)
        cand = idx.codes.join(F.broadcast(probe_cells), "cell").where(
            F.col("vec_id") != F.col("probe_id")
        )
        num = "cell_dot + " + " + ".join(
            f"element_at(lut{s}, cast(pos{s} AS int) + 1)" for s in range(S.PQ_M)
        )
        rn2 = " + ".join(
            f"element_at({idx.cb_exprs[s]}, cast(pos{s} AS int) + 1).cn2"
            for s in range(S.PQ_M)
        )
        crossv = " + ".join(
            f"element_at({idx.cross_exprs[s]}, cell * {S.PQ_K} + cast(pos{s} AS int))"
            for s in range(S.PQ_M)
        )
        den = f"cell_cn2 + 2 * ({crossv}) + ({rn2})"
        adc = cand.join(F.broadcast(luts), "probe_id").withColumn(
            "adc_cos",
            F.expr(
                f"round(({num}) / nullif(p_norm * sqrt(greatest({den}, 0D)), 0D), 6)"
            ),
        )
        wadc = Window.partitionBy("probe_id").orderBy(
            F.col("adc_cos").desc(), F.col("vec_id")
        )
        shortlist = (
            adc.withColumn("srn", F.row_number().over(wadc))
            .where(F.col("srn") <= S.PQ_RERANK)
            .select("probe_id", "vec_id")
        )
        chained = [tuple(r) for r in S._exact_rerank(spark, shortlist).collect()]
        one_sql = [
            tuple(r)
            for r in S.ivfpq_residual_search(
                spark, sf_dir, idx, S.N_PROBE_CELLS
            ).collect()
        ]
        assert one_sql == chained
    finally:
        idx.release()


def test_ivf_build_search_split_matches_selfcontained(spark, tables, sf_dir):
    """ivf_topk(cents=ivf_build(...)) must equal the self-contained
    ivf_topk — the prebuilt-quantizer path skips training, not math."""
    cents = similarity.ivf_build(spark)
    split = [tuple(r) for r in similarity.ivf_topk(spark, sf_dir, cents=cents).collect()]
    whole = [tuple(r) for r in similarity.ivf_topk(spark, sf_dir).collect()]
    assert split == whole


def test_fused_ivfpq_train_identical(spark, tables, sf_dir):
    """The fused composite trainer (one seed collect + one pass per
    Lloyd iteration for coarse + all PQ subspaces) must return
    bit-identical centroids and codebooks to the sequential
    _kmeans_cents + pq_train over the same sample — the equality
    ivfpq_build's r13 job-count optimization rests on."""
    from pyspark.sql import functions as F

    shared = (
        similarity._with_norm(spark.table("embeddings"))
        .select("vec_id", "embedding", "norm")
        .withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h")
        .limit(similarity.KMEANS_SAMPLE_N)
        .select("embedding", "norm", "h")
        .persist()
    )
    try:
        cents_seq = similarity._kmeans_cents(spark, samp=shared)
        cbs_seq = similarity.pq_train(spark, samp=shared)
        cents_fused, cbs_fused = similarity._fused_ivfpq_train(spark, shared)
    finally:
        shared.unpersist()
    assert cents_fused == cents_seq
    assert cbs_fused == cbs_seq


def test_pq_encode_zero_subvector_guard(spark, tables, sf_dir):
    """An all-zero sub-slice has no defined cosine to any centroid; the
    encoder must deterministically assign position 0 (lowest cid) with
    no NULL codes — the cross-engine divergence guard (Spark 0/0->NaN
    vs DuckDB list_cosine_similarity->-1)."""
    cbs = similarity.pq_train(spark)
    cb_exprs = [similarity._centroid_array_expr(cb) for cb in cbs]
    dim = similarity.N_DIM
    rows = [
        (9001, [0.0] * dim),                      # fully zero vector
        (9002, [0.0] * 8 + [1.0] * (dim - 8)),    # one zero sub-slice
        (9003, [0.5] * dim),                      # ordinary vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    enc = {r.vec_id: r for r in similarity._pq_encode(df, cb_exprs).collect()}
    for s in range(similarity.PQ_M):
        assert enc[9001][f"pos{s}"] == 0
        assert enc[9003][f"pos{s}"] is not None
    assert enc[9002]["pos0"] == 0
    assert all(
        enc[v][f"pos{s}"] is not None
        for v in (9001, 9002, 9003)
        for s in range(similarity.PQ_M)
    )
    assert enc[9003]["rnorm"] is not None and enc[9003]["rnorm"] > 0


def test_ppm_decoder_is_a_real_parser(spark, tables, sf_dir):
    """The image decoder must behave like an actual PPM reader: accept
    header comments and arbitrary header whitespace, and fail loudly on
    wrong magic or truncated raster — not pattern-match the fixture
    generator's exact layout."""
    import pandas as pd

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import multimodal

    def decode_one(payload: bytes):
        batches = iter(
            [pd.DataFrame({"doc_id": [1], "payload": [payload]})]
        )
        out = list(multimodal._decode_ppm_batches(batches))[0]
        return out.iloc[0]

    # 2x1 image, comment + extra whitespace in header
    pixels = bytes([10, 20, 30, 40, 50, 60])
    row = decode_one(b"P6 # a comment\n  2\t1 # dims\n 255\n" + pixels)
    assert (row.width, row.height, row.maxval) == (2, 1, 255)
    assert (row.r_sum, row.g_sum, row.b_sum) == (10 + 40, 20 + 50, 30 + 60)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="magic"):
        decode_one(b"P5\n2 1\n255\n" + pixels)
    with _pytest.raises(ValueError, match="truncated"):
        decode_one(b"P6\n2 2\n255\n" + pixels)  # needs 12 bytes, has 6


def test_image_phash_plants_and_pigeonhole_recall(spark, tables, sf_dir):
    """Every planted duplicate-image pair (doc_id % 50 == 1 shares
    doc_id - 1's image) surfaces at hamming 0, and the banded candidate
    generation loses NOTHING vs brute force at the hamming threshold —
    checked by recomputing every hash in pure Python (independent aHash
    over the generated rasters) and enumerating all pairs."""
    import hashlib

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import multimodal

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multimodal.image_phash_pairs(spark, sf_dir).collect()
    }
    doc_ids = [r.doc_id for r in spark.table("documents").select("doc_id").collect()]
    for d in doc_ids:
        if d % 50 == 1 and (d - 1) in set(doc_ids):
            assert got.get((d - 1, d)) == 0, f"planted pair {(d - 1, d)} missing"

    # independent python hash of the generative raster
    def phash(doc_id):
        img = doc_id - 1 if doc_id % 50 == 1 else doc_id
        w, h = 4 + img % 5, 3 + img % 4
        nbytes = 3 * w * h
        hx = "".join(
            hashlib.md5(f"{img}:{i}".encode()).hexdigest()
            for i in range((nbytes + 15) // 16)
        )[: nbytes * 2]
        raster = bytes.fromhex(hx)
        npix = w * h
        luma = [sum(raster[3 * j : 3 * j + 3]) for j in range(npix)]
        cs, cp = [0] * multimodal.PHASH_CELLS, [0] * multimodal.PHASH_CELLS
        for j, v in enumerate(luma):
            g = (j * multimodal.PHASH_CELLS) // npix
            cs[g] += v
            cp[g] += 1
        total = sum(luma)
        return sum(
            1 << g
            for g in range(multimodal.PHASH_CELLS)
            if cs[g] * npix > total * cp[g]
        )

    hashes = {d: phash(d) for d in doc_ids}
    expect = {}
    ids = sorted(doc_ids)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = bin(hashes[a] ^ hashes[b]).count("1")
            if hd <= multimodal.PHASH_HAMMING_T:
                expect[(a, b)] = hd
    assert got == expect


def test_bmp_decoder_is_a_real_parser(spark, tables, sf_dir):
    """The BMP decoder must behave like an actual BMP reader: honor
    bottom-up row order and 4-byte row padding on a hand-built file,
    and fail loudly on wrong magic, unsupported encodings, and
    truncated rasters."""
    import struct

    import pandas as pd
    import pytest as _pytest

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import multimodal

    def decode_one(payload: bytes):
        batches = iter([pd.DataFrame({"doc_id": [1], "payload": [payload]})])
        return list(multimodal._decode_bmp_batches(batches))[0].iloc[0]

    def bmp(w, h, rows_bottom_up, bpp=24, comp=0, magic=b"BM", hgt=None):
        stride = (w * 3 + 3) & ~3
        raster = b"".join(
            bytes(r) + b"\x00" * (stride - w * 3) for r in rows_bottom_up
        )
        return (
            magic
            + struct.pack("<III", 54 + len(raster), 0, 54)
            + struct.pack("<IiiHHII", 40, w, hgt if hgt is not None else h, 1, bpp, comp, len(raster))
            + struct.pack("<iiII", 2835, 2835, 0, 0)
            + raster
        )

    # 1x2 image stored bottom-up: stored FIRST row is the visual
    # BOTTOM; the visual top-left pixel must come from the LAST row.
    bottom = [5, 6, 7]     # B,G,R of the visual bottom pixel
    top = [50, 60, 70]     # visual top pixel
    row = decode_one(bmp(1, 2, [bottom, top]))
    assert (row.width, row.height, row.row_stride) == (1, 2, 4)
    assert (row.tl_b, row.tl_g, row.tl_r) == (50, 60, 70)
    assert (row.b_sum, row.g_sum, row.r_sum) == (55, 66, 77)

    with _pytest.raises(ValueError, match="magic"):
        decode_one(bmp(1, 1, [[1, 2, 3]], magic=b"XX"))
    with _pytest.raises(ValueError, match="bpp"):
        decode_one(bmp(1, 1, [[1, 2, 3]], bpp=32))
    with _pytest.raises(ValueError, match="top-down"):
        decode_one(bmp(1, 1, [[1, 2, 3]], hgt=-1))
    with _pytest.raises(ValueError, match="truncated"):
        decode_one(bmp(1, 2, [[1, 2, 3], [4, 5, 6]])[:-4])


def test_decode_image_entry_runs_on_fixture(spark, tables, sf_dir):
    """End-to-end: synthesized PPM payloads flow through Arrow into the
    decoder; dims follow the doc_id formula and sums are in range."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import multimodal

    rows = multimodal.decode_image(spark, sf_dir).limit(20).collect()
    assert rows
    for r in rows:
        assert r.width == 4 + r.doc_id % 5
        assert r.height == 3 + r.doc_id % 4
        assert r.maxval == 255
        npix = r.width * r.height
        for s in (r.r_sum, r.g_sum, r.b_sum):
            assert 0 <= s <= 255 * npix


def test_chunk_windows_total_coverage(spark, tables, sf_dir):
    """Chunking invariants: window starts advance by exactly STRIDE,
    every token position is covered (stride < chunk => contiguous), and
    the final chunk ends exactly at the document's last token."""
    n_toks = {
        r.doc_id: r.n
        for r in spark.sql(
            "SELECT doc_id, size(split(lower(trim(text)), '\\\\s+')) AS n FROM documents"
        ).collect()
    }
    per_doc: dict[int, list] = {}
    for r in chunking.chunk_windows(spark, sf_dir).collect():
        per_doc.setdefault(r.doc_id, []).append(r)
    assert set(per_doc) == set(n_toks)
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        starts = [r.start_pos for r in rows]
        assert starts == [1 + k * chunking.STRIDE for k in range(len(rows))]
        # contiguous coverage: each window reaches at least the next start
        for a, b in zip(rows, rows[1:]):
            assert a.start_pos + a.n_chunk_tokens >= b.start_pos
        last = rows[-1]
        assert last.start_pos + last.n_chunk_tokens - 1 == n_toks[doc_id]


def test_span_dup_coverage_bounds(spark, tables, sf_dir):
    """Span-coverage invariants: fractions in [0,1], dup spans bounded
    by total spans, covered tokens bounded by n_tokens, and zero dup
    spans implies zero coverage."""
    rows = chunking.span_dup_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_dup_spans <= r.n_spans
        assert 0 <= r.covered_tokens <= r.n_tokens
        assert 0.0 <= r.dup_fraction <= 1.0
        if r.n_dup_spans == 0:
            assert r.covered_tokens == 0
        else:
            # a dup span covers at least SPAN tokens
            assert r.covered_tokens >= chunking.SPAN


def test_pq_index_parquet_roundtrip(spark, tables, sf_dir, tmp_path):
    """Persisted PQ artifact: save -> load across a fresh handle must
    reproduce the in-memory search exactly (codes parquet + codebook
    sidecar round-trip bit-exactly)."""
    index = similarity.pq_build(spark, sf_dir, persist=False)
    path = str(tmp_path / "pq_index")
    similarity.pq_index_save(index, path)
    loaded = similarity.pq_index_load(spark, path)
    a = [tuple(r) for r in similarity.pq_search(spark, sf_dir, index).collect()]
    b = [tuple(r) for r in similarity.pq_search(spark, sf_dir, loaded).collect()]
    assert a == b
    assert loaded.codebooks == index.codebooks
    assert set(loaded.codes.columns) == set(index.codes.columns)


def test_pq_from_artifact_builds_once_then_serves(spark, tables, sf_dir):
    """The driver-facing artifact entry: first call publishes the index
    (atomic rename), later calls reload it; results are hash-identical
    to the self-training ann_pq_topk (same oracle), and the artifact
    path is fingerprint-keyed so a touched fixture would rebuild."""
    import os
    import shutil

    path = similarity._pq_artifact_path(sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    a = [tuple(r) for r in similarity.pq_from_artifact(spark, sf_dir).collect()]
    assert os.path.isdir(path)
    mtime = os.stat(os.path.join(path, "codebooks.json")).st_mtime_ns
    b = [tuple(r) for r in similarity.pq_from_artifact(spark, sf_dir).collect()]
    assert a == b
    # second call did not rebuild/rewrite the artifact
    assert os.stat(os.path.join(path, "codebooks.json")).st_mtime_ns == mtime
    base = [tuple(r) for r in similarity.pq_topk(spark, sf_dir).collect()]
    assert a == base


def test_ivfpq_build_search_split_matches_selfcontained(spark, tables, sf_dir):
    """The composite's 'build once, search many' path must return
    exactly what the self-contained ivfpq_topk returns, and the
    persisted code table must carry the cell tag next to the codes."""
    index = similarity.ivfpq_build(spark, sf_dir, persist=True)
    try:
        assert "cell" in index.codes.columns
        assert {"vec_id", "rnorm"} <= set(index.codes.columns)
        split = [
            tuple(r) for r in similarity.ivfpq_search(spark, sf_dir, index).collect()
        ]
        whole = [tuple(r) for r in similarity.ivfpq_topk(spark, sf_dir).collect()]
        assert split == whole
        search = similarity.ivfpq_search(spark, sf_dir, index)
        assert [tuple(r) for r in search.collect()] == split
        _assert_search_reads_cached_codes(spark, index, search)
    finally:
        index.release()


def test_ivfpq_residual_build_search_split_matches_selfcontained(spark, tables, sf_dir):
    """The residual composite's 'build once, search many' path returns
    exactly what the self-contained ivfpq_residual_topk returns, and
    every search reads the code table the build persisted."""
    index = similarity.ivfpq_residual_build(spark, sf_dir, persist=True)
    try:
        split = [
            tuple(r)
            for r in similarity.ivfpq_residual_search(spark, sf_dir, index).collect()
        ]
        whole = [
            tuple(r) for r in similarity.ivfpq_residual_topk(spark, sf_dir).collect()
        ]
        assert split == whole
        search = similarity.ivfpq_residual_search(spark, sf_dir, index)
        assert [tuple(r) for r in search.collect()] == split
        _assert_search_reads_cached_codes(spark, index, search)
    finally:
        index.release()


def test_ivf_index_json_roundtrip(spark, tables, sf_dir, tmp_path):
    """IVF artifact save/load: a reloaded quantizer must reproduce the
    in-memory search exactly (floats round-trip via JSON repr)."""
    cents = similarity.ivf_build(spark)
    path = str(tmp_path / "ivf_cents.json")
    similarity.ivf_index_save(cents, path)
    loaded = similarity.ivf_index_load(path)
    assert loaded == cents
    a = [tuple(r) for r in similarity.ivf_topk(spark, sf_dir, cents=cents).collect()]
    b = [tuple(r) for r in similarity.ivf_topk(spark, sf_dir, cents=loaded).collect()]
    assert a == b


def test_ivfpq_index_parquet_roundtrip(spark, tables, sf_dir, tmp_path):
    """Persisted IVF-PQ artifact: save -> load must reproduce the
    in-memory search exactly (cell-tagged codes + both sidecars
    round-trip bit-exactly)."""
    index = similarity.ivfpq_build(spark, sf_dir, persist=False)
    path = str(tmp_path / "ivfpq_index")
    similarity.ivfpq_index_save(index, path)
    loaded = similarity.ivfpq_index_load(spark, path)
    assert loaded.cents == index.cents
    assert loaded.codebooks == index.codebooks
    a = [tuple(r) for r in similarity.ivfpq_search(spark, sf_dir, index).collect()]
    b = [tuple(r) for r in similarity.ivfpq_search(spark, sf_dir, loaded).collect()]
    assert a == b


def test_ivfpq_residual_index_parquet_roundtrip(spark, tables, sf_dir, tmp_path):
    """Persisted residual artifact: save -> load must reproduce the
    in-memory search exactly; the derived cross/cn2 literals rebuild
    bit-identically from the round-tripped cents + codebooks."""
    index = similarity.ivfpq_residual_build(spark, sf_dir, persist=False)
    try:
        path = str(tmp_path / "residual_index")
        similarity.ivfpq_residual_index_save(index, path)
        loaded = similarity.ivfpq_residual_index_load(spark, path)
        assert loaded.cents == index.cents
        assert loaded.codebooks == index.codebooks
        assert loaded.cross_exprs == index.cross_exprs
        assert loaded.cell_cn2_expr == index.cell_cn2_expr
        a = [
            tuple(r)
            for r in similarity.ivfpq_residual_search(spark, sf_dir, index).collect()
        ]
        b = [
            tuple(r)
            for r in similarity.ivfpq_residual_search(spark, sf_dir, loaded).collect()
        ]
        assert a == b
    finally:
        index.release()


def test_range_search_consistent_with_brute_force(spark, tables, sf_dir):
    """Range search must return EXACTLY the pairs whose exact cosine
    meets the threshold: every brute-force top-k hit at or above
    RANGE_COS appears, and every returned pair re-verifies against the
    exact ranking's scores."""
    rng = {
        (r.probe_id, r.neighbor_id): r.cosine
        for r in similarity.range_search(spark, sf_dir).collect()
    }
    exact = {
        (r.probe_id, r.vec_id): r.cos
        for r in similarity._exact_ranked(spark).collect()
    }
    expected = {p: c for p, c in exact.items() if c >= similarity.RANGE_COS}
    assert rng == expected
    assert len(rng) > 0  # threshold chosen so the fixture produces hits


def test_medoid_is_argmax_member(spark, tables, sf_dir):
    """Each label's medoid must (a) belong to that label and (b) carry
    the maximum centroid-cosine among the label's members — re-verified
    against an independent per-member scoring pass."""
    meds = similarity.medoid_per_label(spark, sf_dir).collect()
    assert len(meds) > 0
    members = {
        (r.vec_id, r.label)
        for r in spark.table("embeddings").select("vec_id", "label").collect()
    }
    for m in meds:
        assert (m.medoid_id, m.label) in members
        assert -1.0 <= m.medoid_cos <= 1.0
    # n_members must sum to the table size (every vector has one label)
    assert sum(m.n_members for m in meds) == len(members)


def test_incremental_batch_planted(spark, tables, sf_dir):
    """Planted batch-vs-corpus duplicates: an exact clone reports
    kind='exact' against the minimum corpus holder, a one-token edit
    reports kind='near', and batch-internal pairs are never emitted."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    near = base.replace("epsilon", "EPS", 1)
    rows = [
        (9001, base.strip(), "en", "srcX", len(base)),   # corpus (1 % 10 < 8)
        (9004, "totally unrelated words only here", "en", "srcX", 33),  # corpus
        (9008, base.strip(), "en", "srcX", len(base)),   # batch: exact clone
        (9009, near.strip(), "en", "srcX", len(near)),   # batch: near clone
        (9018, near.strip(), "en", "srcX", len(near)),   # batch: near clone twin
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {
            (r.batch_id, r.corpus_id): (r.kind, r.jaccard)
            for r in dedup.incremental_batch(spark, sf_dir).collect()
        }
    finally:
        tables["documents"].createOrReplaceTempView("documents")
    assert out[(9008, 9001)] == ("exact", 1.0)
    assert out[(9009, 9001)][0] == "near" and out[(9009, 9001)][1] > 0.5
    assert out[(9018, 9001)][0] == "near"
    # batch-internal pair (9009, 9018) must NOT appear even though they
    # are identical to each other — incremental only pairs against corpus
    assert not any(a in (9009, 9018) and b in (9009, 9018) for (a, b) in out)


def test_incremental_near_pairs_subset_of_full_minhash(spark, tables, sf_dir):
    """Cross-kernel consistency: every incremental 'near' hit is a
    batch x corpus pair the full in-table minhash kernel also reports
    (same band substrate, same occupancy cap, same threshold), and the
    incremental output contains EVERY full-kernel pair that crosses the
    batch/corpus split — neither kernel hides pairs from the other."""
    full = {
        (min(r.doc_a, r.doc_b), max(r.doc_a, r.doc_b)): r.jaccard
        for r in dedup.minhash_lsh_pairs(spark, sf_dir).collect()
    }
    incr = dedup.incremental_batch(spark, sf_dir).collect()
    near = {
        (min(r.batch_id, r.corpus_id), max(r.batch_id, r.corpus_id)): r.jaccard
        for r in incr
        if r.kind == "near"
    }
    exact = {
        (min(r.batch_id, r.corpus_id), max(r.batch_id, r.corpus_id))
        for r in incr
        if r.kind == "exact"
    }
    for pair, j in near.items():
        assert pair in full and full[pair] == j, pair
    is_batch = lambda d: d % dedup.INCR_BATCH_MOD >= dedup.INCR_BATCH_MIN  # noqa: E731
    crossing = {
        p for p in full if is_batch(p[0]) != is_batch(p[1])
    }
    assert crossing == set(near) | (crossing & exact)


def test_containment_catches_excerpt_jaccard_misses(spark, tables, sf_dir):
    """A 20-token excerpt of a 150-token doc: containment ~1.0 while
    Jaccard ~0.12 (< threshold) — the asymmetric case the containment
    operator exists for. The excerpt pair must appear in
    containment_pairs and NOT in ngram_jaccard_pairs."""
    big = " ".join(f"w{i}" for i in range(150))
    small = " ".join(f"w{i}" for i in range(50, 70))
    other = " ".join(f"x{i}" for i in range(40))
    rows = [
        (9101, big, "en", "srcX", len(big)),
        (9102, small, "en", "srcX", len(small)),
        (9103, other, "en", "srcX", len(other)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        cont = {
            (r.doc_a, r.doc_b): (r.containment, r.jaccard)
            for r in dedup.containment_pairs(spark, sf_dir).collect()
        }
        jac = {
            (r.doc_a, r.doc_b)
            for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
        }
        assert (9101, 9102) in cont
        c, j = cont[(9101, 9102)]
        assert c >= 0.9, c                      # excerpt fully contained
        assert j < dedup.NGRAM_JACCARD_THRESHOLD, j
        assert (9101, 9102) not in jac          # symmetric metric misses it
        assert not any(9103 in p for p in cont)
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_bpe_pair_stats_counts_planted_words(spark, tables, sf_dir):
    """Weighted adjacent-pair counts over a tiny vocabulary with known
    arithmetic: 'aaab' x2 and 'ab' x1 give freq(aa)=4 (two positions x
    word count 2), freq(ab)=3 (one position in each word)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import text as text_ops

    rows = [
        (9201, "aaab aaab", "en", "srcX", 9),
        (9202, "ab", "en", "srcX", 2),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.pair: (r.freq, r.n_word_types) for r in text_ops.bpe_pair_stats(spark, sf_dir).collect()}
        assert out["aa"] == (4, 1)
        assert out["ab"] == (3, 2)
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_bpe_merge_learn_matches_reference_bpe(spark, tables, sf_dir):
    """The in-SQL merge loop reproduces CANONICAL BPE (Sennrich et al.
    2016) — an independent pure-Python trainer over symbol LISTS (no
    string-replace tricks: greedy left-to-right pair merging per word),
    run on the real fixture vocabulary, must emit the identical merge
    table. This proves the double-space replace encoding IS whole-symbol
    merging, including the adjacent-occurrence chaining case."""
    import re
    from collections import Counter

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import text as text_ops

    docs = spark.table("documents").select("text").collect()
    vocab = Counter()
    for r in docs:
        for w in re.split(r"\s+", r.text.strip().lower()):
            vocab[tuple(w)] += 1

    def merge_word(syms, pair):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    expect = []
    for rank in range(1, text_ops.BPE_MERGES + 1):
        pairs = Counter()
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += cnt
        # tiebreak mirrors the SQL: freq DESC, then the padded pattern
        # string ASC (which orders by (lsym, rsym) for space-free syms)
        best, freq = min(pairs.items(), key=lambda kv: (-kv[1], f" {kv[0][0]}  {kv[0][1]} "))
        expect.append((rank, best[0], best[1], best[0] + best[1], freq))
        vocab = Counter(
            {merge_word(s, best): c for s, c in vocab.items()}
        )
    got = [
        (r.merge_rank, r.lsym, r.rsym, r.merged, r.freq)
        for r in text_ops.bpe_merge_learn(spark, sf_dir).collect()
    ]
    assert got == expect


def test_phrase_match_counts_planted_occurrences(spark, tables, sf_dir):
    """Positional-postings intersection counts OCCURRENCES, not just
    membership: overlapping/adjacent repeats and single-term-only docs
    behave like a real match_phrase."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import search

    rows = [
        (9301, "hash value hash value x hash value", "en", "srcX", 30),
        (9302, "hash hash value value", "en", "srcX", 20),  # one occurrence
        (9303, "hash x value", "en", "srcX", 12),           # not adjacent
        (9304, "value hash", "en", "srcX", 10),             # wrong order
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.doc_id: r.n_occurrences for r in search.phrase_match(spark, sf_dir).collect()}
        assert out == {9301: 3, 9302: 1}
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_fuzzy_terms_edit_distance_semantics(spark, tables, sf_dir):
    """The deletion-neighborhood join + levenshtein verify implements
    true edit-distance-1 search: deletion/insertion/substitution
    variants match, exact matches report dist 0, and a TRANSPOSITION
    (distance 2 under plain levenshtein) is correctly excluded even
    though the deletion neighborhoods intersect."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import search

    rows = [(9401, "table stable tble tabe tazle tabel table", "en", "srcX", 40)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    orig = search.FUZZY_PROBES
    search.FUZZY_PROBES = ("table",)
    try:
        got = {
            (r.term, r.dist): r.freq
            for r in search.fuzzy_terms(spark, sf_dir).collect()
        }
        assert got == {
            ("table", 0): 2,   # exact
            ("stable", 1): 1,  # insertion
            ("tble", 1): 1,    # deletion
            ("tabe", 1): 1,    # deletion
            ("tazle", 1): 1,   # substitution
            # 'tabel' (transposition, levenshtein 2): excluded
        }
    finally:
        search.FUZZY_PROBES = orig
        tables["documents"].createOrReplaceTempView("documents")


def test_outlier_scores_flags_planted_outlier(spark, tables, sf_dir):
    """Five aligned vectors + one anti-aligned vector in a label: the
    anti-aligned member z-scores at ~-2.24 and is flagged; the aligned
    members are not."""
    dim = 64
    aligned = [1.0] + [0.0] * (dim - 1)
    anti = [-1.0] + [0.0] * (dim - 1)
    rows = [(i, aligned, 0) for i in range(5)] + [(99, anti, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.createOrReplaceTempView("embeddings")
    try:
        out = {r.vec_id: r for r in similarity.outlier_scores(spark, sf_dir).collect()}
        assert out[99].is_outlier and out[99].z <= -2.0
        assert all(not out[i].is_outlier for i in range(5))
    finally:
        tables["embeddings"].createOrReplaceTempView("embeddings")


def test_pca_top_component_finds_planted_direction(spark, tables, sf_dir):
    """Vectors drawn (deterministically) along a planted axis with small
    off-axis noise: the power-iteration loading must align with the
    planted direction and its Rayleigh quotient must dominate any single
    coordinate axis' energy."""
    dim = 64
    rows = []
    for i in range(40):
        v = [0.0] * dim
        scale = 1.0 + (i % 5) * 0.5
        v[3] = scale                 # planted dominant axis
        v[(i * 7) % dim] += 0.05     # deterministic small noise
        rows.append((i, v, i % 3))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.createOrReplaceTempView("embeddings")
    try:
        out = similarity.pca_top_component(spark, sf_dir).collect()
        loadings = [r.loading for r in sorted(out, key=lambda r: r.pos)]
        assert abs(loadings[3]) > 0.95              # aligned with axis 3
        lam = out[0].eigenvalue
        axis_energy = sum((1.0 + (i % 5) * 0.5) ** 2 for i in range(40))
        assert lam >= 0.99 * axis_energy            # captures the planted variance
    finally:
        tables["embeddings"].createOrReplaceTempView("embeddings")


def test_hll_sketch_error_within_bound(spark, tables, sf_dir):
    """The deterministic HLL estimate must stay within ~3 standard
    errors (1.04/sqrt(256) ~ 6.5% -> bound 20%) of the exact distinct
    count on the fixture."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["sketch_hll_distinct_users"](spark, sf_dir).collect()[0]
    assert row.exact_distinct > 0
    assert row.rel_err <= 0.20, row


def test_pii_redact_counts_and_scrubs(spark, tables, sf_dir):
    """PII detection on adversarial planted text: multiple matches per
    kind in one document, '@' strings that are NOT emails (no TLD) must
    not match, and the redacted text must carry zero residual matches."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import text as T

    rows = [
        (9101, "mail me at a.b-c@mail.example.org and x9@y.io thanks", "en", "s", 50),
        (9102, "not-an-email a@b and @handle stay; node 192.168.0.1 up", "en", "s", 54),
        (9103, "call +1-415-2671 or +1-800-0000 now", "en", "s", 35),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.doc_id: r for r in T.pii_redact(spark, sf_dir).collect()}
        # planted raw adds exactly one of each kind to every doc
        assert out[9101].n_email == 3          # 2 natural + 1 planted
        assert out[9102].n_email == 1          # only the planted one
        assert out[9102].n_ip == 2             # natural + planted
        assert out[9103].n_phone == 3          # 2 natural + 1 planted
        assert all(r.n_residual == 0 for r in out.values())
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_cms_sketch_overestimates_only_and_merges(spark, tables, sf_dir):
    """Count-min guarantees: (a) every estimate >= the exact count
    (collisions only ADD); (b) the per-source-summed sketch equals the
    directly-built sketch cell-for-cell, so merged estimates match;
    (c) with w=16 vs the fixture's 31-term vocabulary, at least one
    strict overestimate exists — the sketch is demonstrably lossy at
    test scale, not a vacuous identity."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["sketch_cms_heavy_hitters"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.cms_estimate >= r.exact_cnt for r in rows)
    assert all(r.cms_estimate == r.cms_merged for r in rows)
    assert any(r.overestimate > 0 for r in rows)


def test_minhash_estimator_error_bound(spark, tables, sf_dir):
    """The 16-component MinHash estimate of Jaccard must track the
    exact value: each component matches with probability J (the MinHash
    identity), so |est - J| has standard error sqrt(J(1-J)/16) <= 0.125
    — bound the MEAN absolute error at 2x that and every single error
    at 4 standard errors (0.5)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import dedup

    rows = dedup.minhash_estimate_eval(spark, sf_dir).collect()
    assert len(rows) > 0
    errs = [r.abs_err for r in rows]
    assert sum(errs) / len(errs) <= 0.25
    assert max(errs) <= 0.5


def test_compression_ratio_behavior(spark, tables, sf_dir):
    """The rows-only zlib entry gets a behavioral gate instead of a SQL
    oracle: planted boilerplate compresses far better than high-entropy
    text, ratios are bounded and deterministic across runs, and the
    reported byte counts are exact."""
    import zlib

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import text as T

    rows = [
        (9201, "spam spam spam " * 40, "en", "s", 600),
        (9202, "qj3x8zk2vw9pyh4bt7nc5mr1fd6lg0s " * 4, "en", "s", 128),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {r.doc_id: r for r in T.compression_ratio(spark, sf_dir).collect()}
        assert out[9201].ratio < 0.2           # boilerplate crushes
        assert out[9202].ratio > out[9201].ratio
        for doc_id, text, *_ in rows:
            exp = len(zlib.compress(text.encode(), T.ZLIB_LEVEL))
            assert out[doc_id].n_deflated == exp
            assert out[doc_id].n_bytes == len(text.encode())
        again = {r.doc_id: r.ratio for r in T.compression_ratio(spark, sf_dir).collect()}
        assert again == {k: v.ratio for k, v in out.items()}
        # the driver-checked envelope (r13: the hash-gate upgrade):
        # every invariant boolean true on live zlib values, byte tier
        # exact — including the degenerate empty document, which pins
        # the deflate_floor bound (zlib of b'' is exactly 8 bytes)
        rows2 = rows + [(9203, "", "en", "s", 0)]
        spark.createDataFrame(
            rows2,
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ).createOrReplaceTempView("documents")
        env = {r.doc_id: r for r in
               T.compression_envelope(spark, sf_dir).collect()}
        assert set(env) == {9201, 9202, 9203}
        for doc_id, text_, *_ in rows2:
            r = env[doc_id]
            assert r.n_bytes == len(text_.encode())
            assert r.deflate_floor_ok and r.expansion_bounded
            assert r.ratio_consistent
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_token_budget_sample_bounds(spark, tables, sf_dir):
    """Greedy token-budget cut invariants per source: kept token mass
    reaches at least min(budget, the source's full mass), and exceeds
    the budget by at most ONE document (the overshoot doc that crossed
    the line); a rerun keeps the identical membership."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import sampling

    kept = sampling.token_budget_sample(spark, sf_dir).collect()
    full = {
        r.source: r.total
        for r in spark.sql(
            "SELECT source, sum(size(split(lower(trim(text)), '\\\\s+'))) AS total "
            "FROM documents GROUP BY source"
        ).collect()
    }
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r)
    for src, rows in by_src.items():
        mass = sum(r.n_tokens for r in rows)
        max_doc = max(r.n_tokens for r in rows)
        assert mass >= min(sampling.TOKEN_BUDGET, full[src])
        assert mass < sampling.TOKEN_BUDGET + max_doc
    kept2 = sampling.token_budget_sample(spark, sf_dir).collect()
    assert {r.doc_id for r in kept} == {r.doc_id for r in kept2}


def test_knn_eval_consistent_with_brute_force(spark, tables, sf_dir):
    """embedding_knn_eval's predictions must equal the majority vote
    (with the documented rank/label tiebreak) computed test-side from
    ann_brute_force_topk's rows and the label column — the two views of
    the same scored scan cannot disagree."""
    from collections import defaultdict

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import similarity

    labels = {
        r.vec_id: r.label for r in spark.table("embeddings").select("vec_id", "label").collect()
    }
    topk = similarity.brute_force_topk(spark, sf_dir).collect()
    by_probe = defaultdict(list)
    for r in topk:
        by_probe[r.probe_id].append((r.rank, labels[r.neighbor_id]))
    expected = {}
    for p, rows in by_probe.items():
        agg = defaultdict(lambda: [0, 99])
        for rank, lab in rows:
            agg[lab][0] += 1
            agg[lab][1] = min(agg[lab][1], rank)
        expected[p] = min(agg.items(), key=lambda kv: (-kv[1][0], kv[1][1], kv[0]))[0]
    got = {r.probe_id: r for r in similarity.knn_label_eval(spark, sf_dir).collect()}
    assert set(got) == set(expected)
    for p in expected:
        assert got[p].pred_label == expected[p]
        assert got[p].correct == (got[p].pred_label == labels[p])


def test_quality_classifier_splits_fixture(spark, tables, sf_dir):
    """The logistic quality classifier's decision boundary must land
    inside the fixture's score distribution (both classes populated —
    a degenerate all-keep/all-drop run means the threshold comparison
    is vacuous), scores must be valid probabilities, and the keep
    decision must equal the threshold comparison on the rounded score."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import text as T

    rows = T.quality_classifier(spark, sf_dir).collect()
    assert all(0.0 <= r.p_keep <= 1.0 for r in rows)
    assert any(r.keep for r in rows) and any(not r.keep for r in rows)
    assert all(r.keep == (r.p_keep >= T.QC_THRESHOLD) for r in rows)


def test_funnel_latency_population_matches_funnel(spark, tables, sf_dir):
    """The latency entry's converter population must be exactly
    events_funnel's stage-3 cohort (it shares the funnel's own
    windowed stage CTEs — the global-first-touch form measured a
    different, larger population)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    stage3 = {
        r.stage: r.n_users for r in qs["events_funnel"](spark, sf_dir).collect()
    }.get(3, 0)
    lat = qs["events_funnel_latency"](spark, sf_dir).collect()[0]
    assert lat.n_converters == stage3


def test_curation_report_consistent_with_pipeline(spark, tables, sf_dir):
    """The funnel manifest must agree with the pipeline it reports on:
    monotone non-increasing kept counts, each stage's n_in = previous
    n_kept, drops sum to raw - final, and the final stage's n_kept
    equals pipeline_curate_corpus' actual row count."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import pipeline

    rows = sorted(
        pipeline.curation_report(spark, sf_dir).collect(), key=lambda r: r.stage_idx
    )
    assert [r.stage for r in rows] == [
        "raw", "exact_dedup", "token_range", "stopword_ratio",
        "chars_per_token", "lang_en",
    ]
    for prev, cur in zip(rows, rows[1:]):
        assert cur.n_in == prev.n_kept
        assert cur.n_kept <= cur.n_in
        assert cur.n_dropped == cur.n_in - cur.n_kept
    assert rows[-1].n_kept == pipeline.curate_corpus(spark, sf_dir).count()


def test_histogram_quantile_error_and_merge(spark, tables, sf_dir):
    """128-bin histogram quantiles: every estimate within 2% of the
    exact rank statistic (bin width ~ range/128, and the fixture price
    distribution is near-uniform so interpolation is tight), and the
    shard-merged histogram is bin-identical to the direct one."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["sketch_histogram_quantiles"](spark, sf_dir).collect()
    assert len(rows) == 3
    assert all(r.rel_err <= 0.02 for r in rows)
    assert all(r.merged_hist_diff == 0 for r in rows)


def test_weighted_reservoir_skews_toward_quality(spark, tables, sf_dir):
    """A-ES weighted sampling must pull the sample's mean quality above
    the corpus mean (that is what the weights are for), while still
    being deterministic (same sample on a rerun)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import sampling
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.text import (
        quality_blend,
    )

    s1 = sampling.weighted_reservoir(spark, sf_dir).collect()
    s2 = sampling.weighted_reservoir(spark, sf_dir).collect()
    assert [r.doc_id for r in s1] == [r.doc_id for r in s2]  # deterministic
    corpus_mean = (
        spark.table("documents")
        .selectExpr(f"avg({quality_blend()}) AS m")
        .first()["m"]
    )
    sample_mean = sum(r.w for r in s1) / len(s1)
    assert sample_mean > corpus_mean


def test_bloom_prefilter_contract(spark, tables, sf_dir):
    """The Bloom pre-filter's load-bearing promise is NO false
    negatives: every true semi-join match must pass the filter
    (n_missed = 0), the pass set sits between truth and probe, and the
    reported true-match count equals an independently computed exact
    left-semi join."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["join_bloom_prefilter"](spark, sf_dir).collect()[0]
    assert row.n_missed == 0
    assert row.n_true_match <= row.n_bloom_pass <= row.n_probe
    assert row.n_false_pos == row.n_bloom_pass - row.n_true_match
    truth = (
        spark.table("lineitem")
        .select("l_orderkey")
        .distinct()
        .join(
            spark.table("orders").where("o_totalprice > 400000"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .count()
    )
    assert row.n_true_match == truth


_DRIVER_SIDE_KERNELS = ("sketch_histogram_quantiles", "join_bloom_prefilter")


def _edge_lineitem_orders(case: str, src: str):
    """(lineitem, orders) Arrow tables of one edge case, cut from the
    fixture files so every column and type is the fixture's."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    li = pq.read_table(f"{src}/lineitem.parquet")
    orders = pq.read_table(f"{src}/orders.parquet")
    price = li.schema.get_field_index("l_extendedprice")
    if case == "one_price":  # lo == hi: every value lands in bin 0
        li = li.set_column(price, "l_extendedprice", pa.array([1234.56] * li.num_rows))
    elif case == "rank_on_bin_edge":
        # n = 100: bins 0 / 63 / 127 hold 50 / 40 / 10 rows, so the
        # ranks ceil(0.5 n) = 50 and ceil(0.9 n) = 90 equal cb exactly
        li = li.slice(0, 100)
        li = li.set_column(
            price, "l_extendedprice", pa.array([100.0] * 50 + [150.0] * 40 + [200.0] * 10)
        )
    elif case == "empty_lineitem":
        li = li.slice(0, 0)
    elif case == "no_dim_key":
        orders = orders.filter(pc.less_equal(orders["o_totalprice"], 400000.0))
    return li, orders


@pytest.mark.parametrize(
    "case", ["one_price", "rank_on_bin_edge", "empty_lineitem", "no_dim_key"]
)
def test_driver_side_kernels_match_oracle_on_edge_cases(spark, tables, sf_dir, tmp_path, case):
    """The histogram and Bloom kernels fold their fixed-size
    intermediates on the driver; these sources reach each driver branch
    (lo == hi, a rank equal to a bin's cumulative count, NULL bounds of
    an empty column, an empty dim side). Both must equal their
    registered oracle run by DuckDB over the same files. The source is
    bound on a child session."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import (
        compare,
        duckdb_connection,
    )

    li, orders = _edge_lineitem_orders(case, sf_dir)
    pq.write_table(li, tmp_path / "lineitem.parquet")
    pq.write_table(orders, tmp_path / "orders.parquet")
    child = spark.newSession()
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    con = duckdb_connection(str(tmp_path))
    try:
        for name in _DRIVER_SIDE_KERNELS:
            ok, diag = compare(qs[name](child, str(tmp_path)), con, oracles[name])
            assert ok, f"{case} {name}: {diag}"
        hq = con.sql(oracles["sketch_histogram_quantiles"]).fetchall()
        blm = con.sql(oracles["join_bloom_prefilter"]).fetchall()
    finally:
        con.close()
    if case == "rank_on_bin_edge":
        assert [(r[0], r[1], r[3]) for r in hq] == [
            (0.5, 50, 100.0), (0.9, 90, 150.0), (0.99, 99, 200.0)
        ]
    if case == "empty_lineitem":
        assert hq == [] and blm[0][0] == 0
    if case == "no_dim_key":
        assert blm[0][1] == 0 and blm[0][2] == 0


def _run_concurrently_on_one_session(spark, sf_dir, duck, kernels) -> None:
    """Run ``kernels`` from two threads on one session (the second
    thread in reverse order), each kernel twice per thread, and check
    every result against its oracle."""
    import threading

    import __spark_entry__ as entrymod
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    start = threading.Barrier(2)
    results: list = []
    errors: list = []

    def worker(order):
        try:
            start.wait(timeout=60)
            for name in order * 2:
                results.append((name, qs[name](spark, sf_dir)))
        except Exception as e:  # noqa: BLE001 — re-raised below
            errors.append(e)

    threads = [
        threading.Thread(target=worker, args=(order,))
        for order in (kernels, kernels[::-1])
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(results) == 4 * len(kernels)
    for name, df in results:
        ok, diag = compare(df, duck, oracles[name])
        assert ok, f"{name}: {diag}"


def test_driver_side_kernels_concurrent_on_one_session(spark, tables, sf_dir, duck):
    """Both kernels at once from two threads on one session: the
    kernels register no view, so neither thread can read or drop the
    other's intermediates."""
    _run_concurrently_on_one_session(spark, sf_dir, duck, _DRIVER_SIDE_KERNELS)


# kernels that compose SQL over a persisted stage bound under per-call
# view names (operators.materialized.bound)
_BOUND_VIEW_KERNELS = (
    "graph_copurchase_triangles",
    "events_stickiness",
    "pipeline_curation_report",
)


def test_bound_view_kernels_concurrent_on_one_session(spark, tables, sf_dir, duck):
    """Kernels that bind their stages into SQL text, from two threads
    on one session: each call's view names are its own, so no thread
    reads or drops another's stage."""
    _run_concurrently_on_one_session(spark, sf_dir, duck, _BOUND_VIEW_KERNELS)


def test_stream_and_batch_kernel_concurrent_on_one_session(spark, tables, sf_dir, duck):
    """A bounded stream and a batch kernel from two threads on one
    session: the stream plans on its own child session, so the shared
    session's shuffle width is the same afterwards."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    _run_concurrently_on_one_session(
        spark, sf_dir, duck, ("stream_tumbling_counts", "sketch_histogram_quantiles")
    )
    assert spark.conf.get(key) == before


# measured at sf0.001 on the test session: 14 and 11 jobs (33 and 25
# when each ran a chain of persisted views); the bound is the count + 2,
# since AQE can move a count by one or two
_MAX_JOBS = {"sketch_histogram_quantiles": 16, "join_bloom_prefilter": 13}


@pytest.mark.parametrize("name", _DRIVER_SIDE_KERNELS)
def test_driver_side_kernel_job_count(spark, tables, sf_dir, name):
    """One warm call of each kernel, result collected, runs at most
    ``_MAX_JOBS[name]`` Spark jobs."""
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    fn(spark, sf_dir).collect()  # warm
    sc = spark.sparkContext
    group = f"job-count-{name}"
    sc.setJobGroup(group, group)
    try:
        fn(spark, sf_dir).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= _MAX_JOBS[name]


def test_regression_trend_identities(spark, tables, sf_dir):
    """Regression aggregates must satisfy their algebraic identities:
    r2 = corr^2 (to rounding), r2 in [0,1], one fit per priority over
    a multi-year month range."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["orders_regression_trend"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r.r2 <= 1.0
        assert abs(r.r2 - r.corr_xy**2) < 1e-4
        assert r.n_months >= 12


def test_chi_square_grid_and_dof(spark, tables, sf_dir):
    """The contingency grid must be complete (types x weekdays,
    zero-filled), dof must match the independently counted category
    cardinalities, n must be the full event count, and the statistic
    is non-negative."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["events_chi_square"](spark, sf_dir).collect()[0]
    ntypes = spark.table("events").select("event_type").distinct().count()
    ndays = (
        spark.table("events")
        .selectExpr("date_format(ts, 'EEEE') AS d")
        .distinct()
        .count()
    )
    assert row.n_cells == ntypes * ndays
    assert row.dof == (ntypes - 1) * (ndays - 1)
    assert row.n_events == spark.table("events").count()
    assert row.chi2 >= 0.0


def test_welch_ttest_arithmetic(spark, tables, sf_dir):
    """The t statistic and Welch-Satterthwaite dof must reproduce from
    independently computed (n, mean, var) per arm, and the dof is
    bounded by the pooled dof."""
    import math

    import __spark_entry__ as entrymod

    row = entrymod.queries()["events_welch_ttest"](spark, sf_dir).collect()[0]
    arms = {
        r.event_type: r
        for r in spark.table("events")
        .where("event_type IN ('purchase', 'view')")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
        .collect()
    }
    a, b = arms["purchase"], arms["view"]
    se2 = a.v / a.n + b.v / b.n
    t = (a.m - b.m) / math.sqrt(se2)
    dof = se2**2 / ((a.v / a.n) ** 2 / (a.n - 1) + (b.v / b.n) ** 2 / (b.n - 1))
    assert row.n_purchase == a.n and row.n_view == b.n
    assert abs(row.t_stat - t) < 1e-3
    assert abs(row.welch_dof - dof) < 0.5
    assert row.welch_dof <= a.n + b.n - 2


def test_interval_sweep_conservation(spark, tables, sf_dir):
    """Sweep-line bookkeeping: opened and closed totals both equal the
    number of orders with lineitems, the running open count is never
    negative, recomputes from the deltas, and ends at zero (every
    span closes)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["orders_open_interval_sweep"](spark, sf_dir).collect()
    n_spans = (
        spark.table("orders")
        .join(
            spark.table("lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .count()
    )
    assert sum(r.opened for r in rows) == n_spans
    assert sum(r.closed for r in rows) == n_spans
    running = 0
    for r in sorted(rows, key=lambda r: r.month_idx):
        running += r.opened - r.closed
        assert running == r.open_after_month
        assert running >= 0
    assert running == 0


def test_split_leakage_consistent_with_pairs(spark, tables, sf_dir):
    """The leakage rollup must conserve the pair kernel's total (every
    near-dup pair lands in exactly one split-pair cell), flag exactly
    the cross-split cells, and use only the three split names."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    rows = qs["dedup_split_leakage"](spark, sf_dir).collect()
    total_pairs = qs["dedup_simhash_pairs"](spark, sf_dir).count()
    assert sum(r.n_pairs for r in rows) == total_pairs
    names = {"train", "validation", "test"}
    for r in rows:
        assert r.split_lo in names and r.split_hi in names
        assert r.split_lo <= r.split_hi
        assert r.is_leak == (1 if r.split_lo != r.split_hi else 0)


def test_gini_bounds_and_recompute(spark, tables, sf_dir):
    """Gini per nation must be in [0, 1), cover exactly the customers
    with orders, and reproduce from a driver-side recomputation of the
    rank formula for the largest nation."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["customers_gini_by_nation"](spark, sf_dir).collect()
    assert all(0.0 <= r.gini < 1.0 for r in rows)
    n_with_orders = (
        spark.table("orders").select("o_custkey").distinct().count()
    )
    assert sum(r.n_customers for r in rows) == n_with_orders
    top = max(rows, key=lambda r: r.n_customers)
    rev = sorted(
        (round(r.rev, 2), r.o_custkey)
        for r in spark.sql(
            """SELECT o_custkey, sum(o_totalprice) AS rev
               FROM orders o JOIN customer c ON o_custkey = c_custkey
               JOIN nation n ON c_nationkey = n_nationkey
               WHERE n_name = '%s' GROUP BY o_custkey"""
            % top.nation
        ).collect()
    )
    xs = [x for x, _ in rev]
    n, s = len(xs), sum(xs)
    gini = (2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s) / (n * s)
    assert abs(top.gini - gini) < 1e-5


def test_hourly_autocorr_recompute(spark, tables, sf_dir):
    """Each lag's ACF must be a true correlation (|acf| <= 1, pair
    count = #aligned hour pairs) and lag-1 must reproduce from a
    driver-side numpy recomputation over the hourly series."""
    import numpy as np

    import __spark_entry__ as entrymod

    rows = {
        r.lag: r
        for r in entrymod.queries()["events_hourly_autocorr"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 3, 6, 12, 24}
    assert all(abs(r.acf) <= 1.0 for r in rows.values())
    hourly = dict(
        spark.sql(
            """SELECT datediff(cast(ts AS date), date '2024-01-01') * 24 + hour(ts) AS h,
                      count(*) AS n FROM events GROUP BY 1"""
        ).rdd.map(lambda r: (r.h, r.n)).collect()
    )
    pairs = [(hourly[h], hourly[h - 1]) for h in hourly if h - 1 in hourly]
    a = np.array([p[0] for p in pairs], dtype=float)
    b = np.array([p[1] for p in pairs], dtype=float)
    acf1 = float(np.corrcoef(a, b)[0, 1])
    assert rows[1].n_pairs == len(pairs)
    assert abs(rows[1].acf - acf1) < 1e-4


def test_mannwhitney_recompute(spark, tables, sf_dir):
    """U, its null mean/variance, and z must reproduce from a
    driver-side average-rank recomputation (ties handled identically)."""
    import math
    from collections import Counter

    import __spark_entry__ as entrymod

    row = entrymod.queries()["events_mannwhitney_u"](spark, sf_dir).collect()[0]
    vals = spark.sql(
        """SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
           FROM events WHERE event_type IN ('purchase', 'view')"""
    ).collect()
    xs = sorted(vals, key=lambda r: r.value)
    tie = Counter(r.value for r in xs)
    # average rank per value: min-rank + (tie-1)/2
    ranks, i = {}, 0
    for v in sorted(tie):
        ranks[v] = (i + 1) + (tie[v] - 1) / 2.0
        i += tie[v]
    n_a = sum(r.a for r in vals)
    n_b = len(vals) - n_a
    r_a = sum(ranks[r.value] for r in vals if r.a)
    u = r_a - n_a * (n_a + 1) / 2.0
    mean_u = n_a * n_b / 2.0
    n = n_a + n_b
    tie_term = sum(t**3 - t for t in tie.values())
    sigma = math.sqrt(n_a * n_b / 12.0 * ((n + 1) - tie_term / (n * (n - 1))))
    assert row.n_purchase == n_a and row.n_view == n_b
    assert abs(row.u_stat - u) < 0.01
    assert abs(row.mean_u - mean_u) < 0.01
    assert abs(row.sigma_u - sigma) < 0.001
    assert abs(row.z - (u - mean_u) / sigma) < 1e-3


def test_benford_shares_and_expectation(spark, tables, sf_dir):
    """All nine digits appear, shares sum to 1, counts sum to the
    order count, and the expectation column is exactly log10(1+1/d)."""
    import math

    import __spark_entry__ as entrymod

    rows = entrymod.queries()["orders_benford_digits"](spark, sf_dir).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    assert sum(r.n_orders for r in rows) == spark.table("orders").count()
    for r in rows:
        assert abs(r.benford_expected - math.log10(1 + 1 / r.digit)) < 1e-6


def test_novelty_curve_conservation(spark, tables, sf_dir):
    """Bucket 1 is fully novel by construction, novelty is in (0, 1],
    introduced never exceeds present, and introduced totals the
    corpus-distinct gram count."""
    import __spark_entry__ as entrymod

    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (
        TOKENS,
        spark_ngrams,
    )

    rows = sorted(
        entrymod.queries()["corpus_novelty_curve"](spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert rows[0].bucket == 1 and rows[0].novelty == 1.0
    for r in rows:
        assert 0.0 < r.novelty <= 1.0
        assert r.n_grams_introduced <= r.n_grams_present
    total_grams = (
        spark.table("documents")
        .selectExpr(f"explode({spark_ngrams(3, TOKENS)}) AS g")
        .distinct()
        .count()
    )
    assert sum(r.n_grams_introduced for r in rows) == total_grams


def test_ks_recompute(spark, tables, sf_dir):
    """The KS statistic must reproduce from a driver-side ECDF walk
    over the pooled values."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["events_ks_test"](spark, sf_dir).collect()[0]
    vals = spark.sql(
        """SELECT value, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
           FROM events WHERE event_type IN ('purchase', 'view')"""
    ).collect()
    n_a = sum(r.a for r in vals)
    n_b = len(vals) - n_a
    ca = cb = 0
    d = 0.0
    for r in sorted(vals, key=lambda r: r.value):
        if r.a:
            ca += 1
        else:
            cb += 1
        d = max(d, abs(ca / n_a - cb / n_b))
    # the SQL evaluates at distinct-value boundaries; per-row walk
    # reaches the same max because ties group contiguously
    assert row.n_purchase == n_a and row.n_view == n_b
    assert abs(row.ks_d - d) < 1e-5


def test_survival_km_telescoping(spark, tables, sf_dir):
    """Kaplan-Meier bookkeeping: the at-risk set telescopes by events
    plus censorings, starts at the signup-user count, and the survival
    column reproduces as the running product of (1 - d/n)."""
    import __spark_entry__ as entrymod

    rows = sorted(
        entrymod.queries()["events_survival_km"](spark, sf_dir).collect(),
        key=lambda r: r.t_day,
    )
    n_signup = (
        spark.table("events")
        .where("event_type = 'signup'")
        .select("user_id")
        .distinct()
        .count()
    )
    assert rows[0].n_at_risk == n_signup
    s = 1.0
    at_risk = n_signup
    for r in rows:
        assert r.n_at_risk == at_risk
        s *= 1 - r.n_events / r.n_at_risk
        assert abs(r.survival - s) < 1e-5
        assert 0.0 <= r.survival <= 1.0
        at_risk -= r.n_events + r.n_censored
    assert at_risk == 0


def test_ewma_daily_recompute(spark, tables, sf_dir):
    """The first day's EWMA equals its own count (no history), and a
    mid-series day reproduces from the closed-form weighted sum."""
    import __spark_entry__ as entrymod

    rows = sorted(
        entrymod.queries()["events_ewma_daily"](spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    counts = {r.day: r.n_events for r in rows}
    assert abs(rows[0].ewma - rows[0].n_events) < 1e-3
    days = [r.day for r in rows]
    import datetime

    target = rows[min(len(rows) - 1, 20)]
    t0 = datetime.date.fromisoformat(target.day)
    num = den = 0.0
    for j in range(14):
        d = (t0 - datetime.timedelta(days=j)).isoformat()
        if d in counts:
            w = 0.7**j
            num += counts[d] * w
            den += w
    assert abs(target.ewma - num / den) < 1e-3


def test_position_attribution_conserves_credit(spark, tables, sf_dir):
    """U-shaped attribution invariants per purchase: positions are
    1..n, exactly one first/last 400k credit pair for n>=3, and total
    credit is 1M exactly (n<=2) or within the floor-division deficit
    (n-3 ppm at most) below 1M."""
    from golang_db_query_engine_elasticsearch_indexer_spark import inventory
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import query_df

    rows = query_df(
        spark, inventory.SQL_QUERIES["events_attribution_position"]["sql"]
    ).collect()
    assert rows
    by_purchase = {}
    for r in rows:
        by_purchase.setdefault(r.purchase_id, []).append(r)
    for pid, rs in by_purchase.items():
        n = rs[0].n_clicks
        assert len(rs) == n
        assert sorted(r.pos for r in rs) == list(range(1, n + 1))
        total = sum(r.credit_ppm for r in rs)
        if n <= 2:
            assert total == 1_000_000
        else:
            assert 1_000_000 - (n - 2) < total <= 1_000_000
            assert sum(1 for r in rs if r.credit_ppm == 400_000) == 2


def test_audit_expectations_counts_planted_violations(spark, tables, sf_dir):
    """Violation counting is real, not vacuously zero: plant a
    duplicate doc_id, an unknown lang, an inconsistent n_chars, and a
    null text, and the per-check counters pick up exactly those."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import profile

    rows = [
        (9501, "ok text", "en", "srcX", 7),
        (9501, "dup id", "en", "srcX", 6),        # doc_id_unique
        (9502, "bad lang", "xx", "srcX", 8),      # lang_known
        (9503, "short", "de", "srcX", 99),        # n_chars_consistent
        (9504, None, "fr", "srcX", 0),            # text_not_null
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.createOrReplaceTempView("documents")
    try:
        out = {
            r.check_name: r.n_violations
            for r in profile.audit_expectations(spark, sf_dir).collect()
        }
        assert out["documents.doc_id_unique"] == 1
        assert out["documents.lang_known"] == 1
        # the null-text row also fails length-consistency (length(NULL)
        # is NULL -> predicate NULL -> not counted), so exactly the
        # planted 9503 row counts
        assert out["documents.n_chars_consistent"] == 1
        assert out["documents.text_not_null"] == 1
        assert out["documents.doc_id_not_null"] == 0
        # other tables untouched
        assert out["orders.totalprice_positive"] == 0
    finally:
        tables["documents"].createOrReplaceTempView("documents")


def test_pq_index_append_equals_full_build(spark, tables, sf_dir):
    """Incremental maintenance contract: encode half the corpus, append
    the other half with the FROZEN codebooks, and search results are
    row-identical to the index built over the full corpus in one shot
    (same codebooks by deterministic training)."""
    from pyspark.sql import functions as F

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import similarity

    full = similarity.pq_build(spark, sf_dir)
    try:
        emb = spark.table("embeddings")
        half_codes = similarity._pq_encode(
            emb.where("vec_id % 2 = 0").select("vec_id", "embedding"),
            full.cb_exprs,
        )
        part = similarity.PQIndex(full.codebooks, half_codes, False)
        merged = similarity.pq_index_append(
            spark, part, emb.where("vec_id % 2 = 1")
        )
        try:
            got = sorted(
                (r.probe_id, r.rank, r.neighbor_id)
                for r in similarity.pq_search(spark, sf_dir, merged).collect()
            )
            want = sorted(
                (r.probe_id, r.rank, r.neighbor_id)
                for r in similarity.pq_search(spark, sf_dir, full).collect()
            )
            assert got == want and got
            assert merged.codes.count() == emb.count()
        finally:
            merged.release()
    finally:
        full.release()


def test_audio_fingerprint_plants_and_pigeonhole_recall(spark, tables, sf_dir):
    """Planted duplicate-audio pairs (doc_id % 40 == 1 shares
    doc_id - 1's WAV) surface at hamming 0, and banding loses nothing
    vs brute force — all fingerprints recomputed independently in pure
    Python from the generative sample formula."""
    import hashlib

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import multimodal

    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in multimodal.audio_fingerprint_pairs(spark, sf_dir).collect()
    }
    doc_ids = [r.doc_id for r in spark.table("documents").select("doc_id").collect()]
    for d in doc_ids:
        if d % 40 == 1 and (d - 1) in set(doc_ids):
            assert got.get((d - 1, d)) == 0, f"planted pair {(d - 1, d)} missing"

    F_ = multimodal.AFP_FRAMES

    def afp(doc_id):
        aid = doc_id - 1 if doc_id % 40 == 1 else doc_id
        n = 64 + aid % 64
        hx = "".join(
            hashlib.md5(f"wav:{aid}:{i}".encode()).hexdigest()
            for i in range((n + 15) // 16)
        )[: 2 * n]
        px = bytes.fromhex(hx)
        energy = [0] * F_
        for j in range(n):
            energy[(j * F_) // n] += (px[j] - 128) ** 2
        return sum(
            1 << f for f in range(F_ - 1) if energy[f + 1] > energy[f]
        )

    fps = {d: afp(d) for d in doc_ids}
    expect = {}
    ids = sorted(doc_ids)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            hd = bin(fps[a] ^ fps[b]).count("1")
            if hd <= multimodal.PHASH_HAMMING_T:
                expect[(a, b)] = hd
    assert got == expect


def test_classifier_train_matches_python_gd(spark, tables, sf_dir):
    """The in-SQL gradient descent is reproduced step-for-step by an
    independent Python implementation over the same (rounded) feature
    rows — per-iteration 9 dp weight rounding included — and the loss
    decreases monotonically (it is actually optimizing)."""
    import math

    from golang_db_query_engine_elasticsearch_indexer_spark.functions import (
        array_lit as _al,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import text as text_ops

    feats = spark.sql(
        text_ops._GD_FEATS_SPARK.format(stop=_al(text_ops.LANG_STOPWORDS["en"]))
    ).collect()
    # Spark surfaces some rounded feature columns as DECIMAL; the GD
    # SQL promotes them to double in the arithmetic — mirror that here.
    X = [tuple(float(v) for v in (r.y, r.x1, r.x2, r.x3, r.x4)) for r in feats]
    n = len(X)
    w = [0.0] * 5  # b, w1..w4

    def r9(v):
        # mirror SQL round (half-up on the decimal repr)
        from decimal import ROUND_HALF_UP, Decimal

        return float(Decimal(repr(v)).quantize(Decimal("1e-9"), ROUND_HALF_UP))

    expect = []
    for it in range(1, text_ops.GD_ITERS + 1):
        gs, loss = [0.0] * 5, 0.0
        for y, x1, x2, x3, x4 in X:
            z = w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3 + w[4] * x4
            s = 1.0 / (1.0 + math.exp(-z))
            d = s - y
            for k, x in enumerate((1.0, x1, x2, x3, x4)):
                gs[k] += d * x
            loss += -(y * math.log(s) + (1.0 - y) * math.log(1.0 - s))
        gs = [r9(g / n) for g in gs]
        loss = round(loss / n, 6)
        w = [r9(wk - text_ops.GD_LR * gk) for wk, gk in zip(w, gs)]
        expect.append((it, loss, *w))
    got = [
        (r.iter, r.logloss, r.b, r.w1, r.w2, r.w3, r.w4)
        for r in text_ops.classifier_train(spark, sf_dir).collect()
    ]
    for g, e in zip(got, expect):
        assert g[0] == e[0]
        assert abs(g[1] - e[1]) < 2e-6
        for a, b in zip(g[2:], e[2:]):
            assert abs(a - b) < 2e-9
    losses = [g[1] for g in got]
    assert all(a > b for a, b in zip(losses, losses[1:]))


def test_triangle_census_on_planted_graph(spark, tables, sf_dir):
    """Hand-checkable graph: baskets {1,2}, {2,3}, {1,3} close one
    triangle; {4,5} dangles. n=5 nodes, 4 edges, 3 wedges, 1 triangle,
    transitivity 1.0 — verifying the degree-oriented closure end to
    end on a graph small enough to count by hand."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import graph

    rows = [(1, 1), (1, 2), (2, 2), (2, 3), (3, 1), (3, 3), (4, 4), (4, 5)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    df.createOrReplaceTempView("lineitem")
    try:
        r = graph.copurchase_triangles(spark, sf_dir).collect()[0]
        assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (5, 4, 3, 1)
        assert r.transitivity == 1.0
    finally:
        tables["lineitem"].createOrReplaceTempView("lineitem")


def test_curate_with_metrics_rides_the_same_job(spark, tables, sf_dir):
    """Observation-API metrics match an independent recomputation of
    the curated output — and arrive from the SAME action (no second
    scan is issued to read them)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import pipeline

    observed, obs = pipeline.curate_with_metrics(spark, sf_dir)
    rows = observed.collect()  # the one action
    m = obs.get
    assert m["n_kept"] == len(rows)
    assert m["kept_tokens"] == sum(r.n_tokens for r in rows)
    assert abs(
        m["mean_stopword_ratio"]
        - round(sum(r.stopword_ratio for r in rows) / len(rows), 4)
    ) <= 1e-4
    assert abs(
        m["mean_chars_per_token"]
        - round(sum(r.chars_per_token for r in rows) / len(rows), 4)
    ) <= 1e-4


def test_bot_detection_flags_planted_metronome(spark, tables, sf_dir):
    """A planted user with exact 60-second gaps (cv = 0) and a planted
    sub-second rapid-fire user are both flagged; an organic irregular
    user is not."""
    from golang_db_query_engine_elasticsearch_indexer_spark import inventory
    from golang_db_query_engine_elasticsearch_indexer_spark.gateway import query_df

    rows = []
    eid = 0
    for i in range(10):  # metronome: exactly 60s apart
        rows.append((eid, f"2024-01-01 10:{i:02d}:00", 901, "view", 1.0, "{}"))
        eid += 1
    for i in range(10):  # rapid fire: 100ms apart
        rows.append((eid, f"2024-01-01 11:00:00.{i}", 902, "view", 1.0, "{}"))
        eid += 1
    import random

    rnd = random.Random(7)
    t = 0
    for _ in range(10):  # organic: irregular minutes-scale gaps
        t += rnd.randint(40, 900)
        rows.append((eid, f"2024-01-01 12:{t // 60 % 60:02d}:{t % 60:02d}", 903, "view", 1.0, "{}"))
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr("event_id", "cast(ts AS timestamp) AS ts", "user_id",
                 "event_type", "value", "props")
    df.createOrReplaceTempView("events")
    try:
        out = {
            r.user_id: r.is_bot_like
            for r in query_df(
                spark, inventory.SQL_QUERIES["events_bot_detection"]["sql"]
            ).collect()
        }
        assert out[901] is True   # metronome: cv = 0
        assert out[902] is True   # rapid fire: avg gap < 1s
        assert out[903] is False  # organic
    finally:
        tables["events"].createOrReplaceTempView("events")


def test_mmr_rerank_matches_python_recompute(spark, tables, sf_dir):
    """Every MMR selection is reproduced by an independent pure-Python
    greedy over the same candidates (rank-1 is the relevance argmax,
    later picks trade relevance against max similarity to the picked
    set) — the recompute pins the grouped-map kernel independently of
    the DuckDB differential (which checks the unrolled staged-CTE
    oracle). Pair cosines are rounded to 6 dp before the greedy, the
    kernel's round-before-rank contract."""
    import math

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        search,
        similarity,
    )

    emb = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in spark.table("embeddings").collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    got = {}
    for r in search.mmr_rerank(spark, sf_dir).collect():
        got.setdefault(r.probe_id, []).append((r.rank, r.vec_id))
    assert set(got) == set(range(similarity.N_PROBES))
    for probe, rows in got.items():
        assert [rk for rk, _ in sorted(rows)] == list(range(1, search.MMR_TOP + 1))
        # candidates: top MMR_CANDS by (rounded cos desc, vec_id)
        cands = sorted(
            ((round(cos(emb[probe], v), 6), -vid) for vid, v in emb.items() if vid != probe),
            reverse=True,
        )[: search.MMR_CANDS]
        cands = [(-nvid, c) for c, nvid in cands]
        import numpy as np

        ids = [vid for vid, _ in cands]
        rel = np.array([c for _, c in cands])
        E = np.stack([np.array(emb[v]) for v in ids])
        E = E / np.linalg.norm(E, axis=1, keepdims=True)
        sims = np.round(E @ E.T, 6)
        selected = []
        expect = []
        while len(selected) < search.MMR_TOP:
            if selected:
                score = search.MMR_LAMBDA * rel - (1 - search.MMR_LAMBDA) * sims[:, selected].max(axis=1)
            else:
                score = rel.copy()
            score[selected] = -np.inf
            pick = int(np.argmax(score))
            selected.append(pick)
            expect.append(ids[pick])
        assert [vid for _, vid in sorted(rows)] == expect, f"probe {probe}"


# --- PNG decode (real compressed-format decoder, stdlib zlib) ---------------


def _handmade_png():
    """A 2x2 RGB PNG assembled byte-by-byte in the TEST (chunk layout,
    filters, zlib framing written here, not via the module's encoder) —
    pins the decoder against an independent construction."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    # two scanlines, filter 0 (None): raw pixel bytes verbatim
    raw = (
        b"\x00" + bytes([255, 0, 0, 0, 255, 0])
        + b"\x00" + bytes([0, 0, 255, 255, 255, 255])
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    pixels = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    return png, pixels


def test_png_decoder_known_vector():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_png,
    )

    png, pixels = _handmade_png()
    w, h, ch, out = _parse_png(png)
    assert (w, h, ch) == (2, 2, 3)
    assert out == pixels


def test_png_encoder_decoder_roundtrip_all_filters_and_channels():
    """Every doc_id in 0..59 covers gray/RGB/RGBA and (via height >= 5
    rows cycling filter 0..4) every filter path; the decoder must
    invert the encoder bit-exactly."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_png,
        _parse_png,
        _png_dims,
        _png_pixel_bytes,
    )

    seen_channels = set()
    for doc_id in range(60):
        w, h, ch = _png_dims(doc_id)
        seen_channels.add(ch)
        px = _png_pixel_bytes(doc_id, w * h * ch)
        assert _parse_png(_build_png(w, h, ch, px)) == (w, h, ch, px)
    assert seen_channels == {1, 3, 4}


def test_png_decoder_rejects_malformed():
    import struct
    import zlib

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_png,
        _parse_png,
        _png_pixel_bytes,
    )

    good = _build_png(4, 3, 3, _png_pixel_bytes(1, 36))
    with pytest.raises(ValueError, match="signature"):
        _parse_png(b"JUNK" + good[4:])
    corrupted = bytearray(good)
    corrupted[50] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        _parse_png(bytes(corrupted))
    with pytest.raises(ValueError, match="truncated"):
        _parse_png(good[:30])

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    # 16-bit depth and interlacing are validated before any inflate
    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
    )
    with pytest.raises(ValueError, match="bit depth"):
        _parse_png(deep)
    laced = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1))
    )
    with pytest.raises(ValueError, match="interlaced"):
        _parse_png(laced)


def test_png_decode_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    """The full differential the gate would run once the entry is
    registered (deferred by the r06 net-new freeze): Spark decode_png
    vs the DuckDB generative-formula oracle, hash-style compare."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _decode_png_oracle,
        decode_png,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(decode_png(spark, sf_dir), duck, _decode_png_oracle())
    assert ok, diag


# --- GIF decode (real hand-rolled LZW codec) ---------------------------------


def _handmade_gif():
    """A 3x1, 4-color GIF assembled byte-by-byte in the TEST (logical
    screen, palette, image descriptor, and the LZW bitstream for pixels
    [1,2,2] packed BY HAND: codes 4(clear),1,2,2 at width 3 then
    5(EOI) at width 4 after the decoder-side bump -> bytes 8C 54) —
    pins the decoder, including its width schedule, against an
    independent construction."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _gif_palette,
    )

    gif = (
        b"GIF89a"
        + bytes([3, 0, 1, 0, 0x91, 0, 0])
        + _gif_palette(2)
        + b"\x2c" + bytes([0, 0, 0, 0, 3, 0, 1, 0, 0])
        + bytes([2, 2, 0x8C, 0x54, 0])
        + b"\x3b"
    )
    return gif, bytes([1, 2, 2])


def test_gif_decoder_known_vector():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_gif,
    )

    gif, pixels = _handmade_gif()
    w, h, nc, pal, px = _parse_gif(gif)
    assert (w, h, nc) == (3, 1, 4)
    assert px == pixels
    assert pal[3:6] == bytes([37, 73, 151])  # palette entry 1 formula


def test_gif_encoder_decoder_roundtrip_all_palettes():
    """Every doc_id in 0..59 covers the 4/8/16-color palettes and all
    fixture dims; the decoder must invert the encoder bit-exactly,
    extensions skipped."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_gif,
        _gif_dims,
        _gif_index_bytes,
        _gif_palette,
        _parse_gif,
    )

    seen = set()
    for doc_id in range(60):
        w, h, bits = _gif_dims(doc_id)
        nc = 1 << bits
        seen.add(nc)
        idxs = bytes(v % nc for v in _gif_index_bytes(doc_id, w * h))
        got = _parse_gif(_build_gif(w, h, _gif_palette(bits), idxs))
        assert got == (w, h, nc, _gif_palette(bits), idxs)
    assert seen == {4, 8, 16}


def test_gif_lzw_kwkwk_width_growth_and_clear_at_full():
    """The three LZW paths no tiny fixture reaches: the KwKwK
    self-reference, code-width growth to the 12-bit cap, and the
    encoder's clear-and-reset when the table fills — all must
    round-trip, and the decoder must also survive width-12 streams."""
    import hashlib

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _lzw_codes,
        _lzw_decode,
        _lzw_pack,
    )

    # KwKwK: [1,1,1] emits code 6 before the decoder has assigned it
    assert _lzw_decode(2, _lzw_pack(2, _lzw_codes(2, bytes([1, 1, 1]))), 3) == bytes(
        [1, 1, 1]
    )

    # deterministic 120k-symbol stream over a 16-symbol alphabet: the
    # table hits 4096 entries (width 12) repeatedly, forcing clears
    long = bytearray()
    i = 0
    while len(long) < 120_000:
        long += hashlib.md5(f"lzw:{i}".encode()).digest()
        i += 1
    long = bytes(v % 16 for v in long[:120_000])
    codes = _lzw_codes(4, long)
    assert codes.count(16) > 1  # mid-stream clears happened (16 == clear @ mcs 4)
    assert max(codes) > 2048  # width-12 codes were actually emitted
    assert _lzw_decode(4, _lzw_pack(4, codes), len(long)) == long


def test_gif_decoder_rejects_malformed():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_gif,
        _gif_index_bytes,
        _gif_palette,
        _lzw_decode,
        _parse_gif,
    )

    idxs = bytes(v % 8 for v in _gif_index_bytes(1, 12))
    good = _build_gif(4, 3, _gif_palette(3), idxs)
    with pytest.raises(ValueError, match="signature"):
        _parse_gif(b"JUNK" + good[4:])
    with pytest.raises(ValueError, match="truncated"):
        _parse_gif(good[:20])
    with pytest.raises(ValueError, match="unknown block"):
        _parse_gif(good[:-1] + b"\x7f")  # trailer swapped for junk introducer
    # interlace flag and local color table are rejected before inflate
    img_at = good.index(b"\x2c")
    laced = bytearray(good)
    laced[img_at + 9] |= 0x40
    with pytest.raises(ValueError, match="interlaced"):
        _parse_gif(bytes(laced))
    local = bytearray(good)
    local[img_at + 9] |= 0x80
    with pytest.raises(ValueError, match="local color"):
        _parse_gif(bytes(local))
    # LZW: a non-literal straight after clear is rejected
    # (codes 4(clear),7 at width 3, LSB-first = 0x3C)
    with pytest.raises(ValueError, match="must be a literal"):
        _lzw_decode(2, bytes([0x3C]), 10)
    # LZW: code 7 arrives when the table only reaches 6 -> out of range
    # (codes 4(clear),1,7 at width 3, LSB-first = 0xCC 0x01)
    with pytest.raises(ValueError, match="out of range"):
        _lzw_decode(2, bytes([0xCC, 0x01]), 10)
    # LZW stream that never reaches EOI
    with pytest.raises(ValueError, match="truncated before EOI"):
        _lzw_decode(2, bytes([0x04]), 10)


def test_gif_decode_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    """The full differential the gate would run once the entry is
    registered (deferred by the rotation freeze until r08): Spark
    decode_gif vs the DuckDB generative-formula oracle."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _decode_gif_oracle,
        decode_gif,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(decode_gif(spark, sf_dir), duck, _decode_gif_oracle())
    assert ok, diag


# --- BM25 inverted-index artifact (build once, search many) ------------------


def test_bm25_index_roundtrip_and_artifact_serving(spark, tables, sf_dir, tmp_path):
    """Save/load is exact (postings, df, stats), the artifact path is
    hash-identical to the self-contained search_bm25, and the second
    invocation serves WITHOUT rebuilding (the artifact directory is
    untouched)."""
    import os
    import shutil

    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        search as S,
    )

    idx = S.bm25_index_build(spark, sf_dir)
    path = str(tmp_path / "bm25_idx")
    S.bm25_index_save(idx, path)
    idx2 = S.bm25_index_load(spark, path)
    assert idx2.n_docs == idx.n_docs
    assert idx2.avgdl == idx.avgdl  # repr round-trip: bit-exact double
    assert sorted(map(tuple, idx2.postings.collect())) == sorted(
        map(tuple, idx.postings.collect())
    )
    assert sorted(map(tuple, idx2.df.collect())) == sorted(
        map(tuple, idx.df.collect())
    )

    art = S._bm25_artifact_path(sf_dir)
    shutil.rmtree(art, ignore_errors=True)
    first = S.bm25_from_artifact(spark, sf_dir).collect()
    assert os.path.isdir(art)
    mtime = os.path.getmtime(art)
    second = S.bm25_from_artifact(spark, sf_dir).collect()
    assert os.path.getmtime(art) == mtime  # served, not rebuilt
    base = S.bm25_topk(spark, sf_dir).collect()
    assert first == second == base


def test_bm25_artifact_search_pushes_term_filter_to_scan(spark, tables, sf_dir):
    """The economics of the persisted index: a term lookup must reach
    the postings parquet as a pushed filter (row-group pruning), not a
    post-scan filter over the whole index."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        search as S,
    )

    plan = S.bm25_from_artifact(spark, sf_dir)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln and "In(w" in ln]
    assert pushed, plan


def test_bm25_from_artifact_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    """The differential the gate will run once the entry registers at
    the freeze exit: the artifact-served result replays BM25_ORACLE."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators import (
        search as S,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(S.bm25_from_artifact(spark, sf_dir), duck, S.BM25_ORACLE)
    assert ok, diag


def test_gif_animation_roundtrip_and_frame_isolation():
    """Animated GIFs: every frame decodes independently (own LZW
    stream, own graphic-control extension), order preserved, and the
    strict single-image entry point rejects animations."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_gif_animation,
        _gif_dims,
        _gif_frame_index_bytes,
        _gif_n_frames,
        _gif_palette,
        _parse_gif,
        _parse_gif_frames,
    )

    seen_nf = set()
    for doc_id in range(30):
        w, h, bits = _gif_dims(doc_id)
        nc = 1 << bits
        nf = _gif_n_frames(doc_id)
        seen_nf.add(nf)
        frames = [
            bytes(v % nc for v in _gif_frame_index_bytes(doc_id, f, w * h))
            for f in range(nf)
        ]
        sw, sh, snc, pal, dec = _parse_gif_frames(
            _build_gif_animation(w, h, _gif_palette(bits), frames)
        )
        assert (sw, sh, snc) == (w, h, nc)
        assert [d[4] for d in dec] == frames
        assert all((left, top, fw, fh) == (0, 0, w, h) for left, top, fw, fh, _ in dec)
    assert seen_nf == {2, 3, 4}

    with pytest.raises(ValueError, match="multi-image"):
        _parse_gif(
            _build_gif_animation(3, 2, _gif_palette(2), [bytes(6), bytes(6)])
        )


def test_gif_frame_rectangle_bounds_enforced():
    """A frame rectangle outside the logical screen is malformed."""
    import struct

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_gif,
        _gif_palette,
        _parse_gif_frames,
    )

    good = _build_gif(3, 2, _gif_palette(2), bytes(6))
    img_at = good.index(b"\x2c")
    # move the frame right by one column: left=1 with width 3 > screen 3
    bad = bytearray(good)
    bad[img_at + 1 : img_at + 3] = struct.pack("<H", 1)
    with pytest.raises(ValueError, match="outside the logical screen"):
        _parse_gif_frames(bytes(bad))


def test_gif_frame_stats_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    """Differential for the staged per-frame entry: Spark
    gif_frame_stats vs the per-(doc, frame) md5-chain oracle."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _gif_frames_oracle,
        gif_frame_stats,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(gif_frame_stats(spark, sf_dir), duck, _gif_frames_oracle())
    assert ok, diag


# --- PDF text extraction (real xref/object/stream/content parsing) ----------


def _handmade_pdf(patch=None):
    """A single-page PDF assembled in the TEST with an UNCOMPRESSED
    content stream exercising the grammar corners the repo encoder
    never emits: octal escapes, a backslash line continuation, a hex
    string, nested unescaped parens, and the ' and " show operators —
    pins the parser against an independent construction. ``patch``
    edits an object body BEFORE assembly, so xref offsets stay honest
    for the malformed-input vectors."""
    content = (
        b"BT /F1 12 Tf 72 720 Td "
        b"(He\\154\\154o) Tj "
        b"[(, ) -120 (wor) 5 (ld)] TJ "
        b"(!\\\n cont) ' "
        b"<2020> Tj "
        b"1 2 ((nested) parens) \" "
        b"ET"
    )
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Count 1 /Kids [ 3 0 R ] >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
        (
            4,
            b"<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
            + content + b"\nendstream",
        ),
    ]
    if patch:
        objs = [(num, patch(num, body)) for num, body in objs]
    out = bytearray(b"%PDF-1.7\n")
    offs = {}
    for num, payload in objs:
        offs[num] = len(out)
        out += f"{num} 0 obj\n".encode() + payload + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 5\n0000000000 65535 f \n"
    for num in (1, 2, 3, 4):
        out += f"{offs[num]:010d} 00000 n \n".encode()
    out += (
        b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n"
        + str(xref_at).encode() + b"\n%%EOF\n"
    )
    return bytes(out), "Hello, world! cont  (nested) parens"


def test_pdf_parser_known_vector():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_pdf,
    )

    pdf, expected = _handmade_pdf()
    assert _parse_pdf(pdf) == [expected]


def test_pdf_builder_parser_roundtrip():
    """The repo encoder (multi-page, FlateDecode, Tj/TJ alternation)
    must be inverted exactly, including PDF-special characters and
    multi-byte UTF-8, with the page split at PDF_PAGE_CHARS."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        PDF_PAGE_CHARS,
        _build_pdf,
        _parse_pdf,
    )

    texts = [
        "a",
        "key agg row scan slow fast table value part hash " * 12,
        "(nested (parens)) and \\ backslash and ) stray",
        "tab\tnewline\ncarriage\rmix",
        "unicode σπάρκ ✓ 漢字",
        "x" * (PDF_PAGE_CHARS * 3 + 1),
    ]
    for t in texts:
        pages = _parse_pdf(_build_pdf(t))
        assert "".join(pages) == t
        assert len(pages) == (len(t) + PDF_PAGE_CHARS - 1) // PDF_PAGE_CHARS


def test_pdf_parser_rejects_malformed():
    import re

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_pdf,
        _parse_pdf,
        _pdf_string,
        _pdf_text_from_content,
    )

    good = _build_pdf("hello pdf world " * 10)
    with pytest.raises(ValueError, match="signature"):
        _parse_pdf(b"JUNK" + good[4:])
    # startxref pointing into the void
    m = re.search(rb"startxref\s+(\d+)", good)
    off = m.group(1)
    with pytest.raises(ValueError, match="does not point at an xref"):
        _parse_pdf(good.replace(b"startxref\n" + off, b"startxref\n" + b"0" * len(off)))
    # a lying xref: first object's offset nudged by one (same width)
    bad = bytearray(good)
    x = good.index(b"xref\n0 ")
    row = good.index(b"\n", x + 6) + 1 + 20  # skip header + free entry
    bad[row : row + 10] = b"%010d" % (int(good[row : row + 10]) + 1)
    with pytest.raises(ValueError, match="offset for object"):
        _parse_pdf(bytes(bad))
    # /Length short by one (same digit width) -> endstream misses
    m = re.search(rb"/Length (\d\d+)", good)
    n = int(m.group(1))
    with pytest.raises(ValueError, match="endstream"):
        _parse_pdf(good.replace(
            b"/Length %d" % n, b"/Length %0*d" % (len(m.group(1)), n - 1), 1))
    # unsupported filter (patched pre-assembly so offsets stay honest)
    pdf_filt, _ = _handmade_pdf(
        lambda num, body: body.replace(b"<< /Length", b"<< /Filter /LZWDecode /Length")
        if num == 4 else body
    )
    with pytest.raises(ValueError, match="unsupported filter"):
        _parse_pdf(pdf_filt)
    # dangling /Contents reference (9 0 R resolves nowhere)
    pdf_dang, _ = _handmade_pdf(
        lambda num, body: body.replace(b"/Contents 4 0 R", b"/Contents 9 0 R")
    )
    with pytest.raises(ValueError, match="dangling reference"):
        _parse_pdf(pdf_dang)
    # /Count disagreeing with /Kids
    pdf_cnt, _ = _handmade_pdf(
        lambda num, body: body.replace(b"/Count 1", b"/Count 2")
    )
    with pytest.raises(ValueError, match="/Count disagrees"):
        _parse_pdf(pdf_cnt)
    with pytest.raises(ValueError, match="unterminated string"):
        _pdf_string(b"(abc", 0)
    with pytest.raises(ValueError, match="without a string operand"):
        _pdf_text_from_content(b"Tj")
    with pytest.raises(ValueError, match="without an array operand"):
        _pdf_text_from_content(b"(x) TJ")


def test_pdf_extract_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    """Full differential: Spark pdf_extract_text (build -> parse ->
    stats) vs the DuckDB oracle recomputing from the source text
    column — no binary replay on the oracle side."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _pdf_extract_oracle,
        pdf_extract_text,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(pdf_extract_text(spark, sf_dir), duck, _pdf_extract_oracle())
    assert ok, diag


# --- search highlighting (ES highlight parity) -------------------------------


def test_highlight_snippets_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.search import (
        _highlight_oracle,
        highlight_snippets,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(highlight_snippets(spark, sf_dir), duck, _highlight_oracle())
    assert ok, diag


def test_highlight_snippet_shape(spark, tables, sf_dir):
    """Every snippet wraps its term once, left context <= HIGHLIGHT_PRE
    chars, right context <= HIGHLIGHT_SUF, and pos really is the first
    occurrence (locate semantics)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.search import (
        HIGHLIGHT_PRE,
        HIGHLIGHT_SUF,
        HIGHLIGHT_TOPN,
        highlight_snippets,
    )

    rows = highlight_snippets(spark, sf_dir).collect()
    assert rows
    assert len({r.doc_id for r in rows}) <= HIGHLIGHT_TOPN
    texts = {
        r.doc_id: r.text
        for r in spark.table("documents").select("doc_id", "text").collect()
    }
    for r in rows:
        pre, rest = r.snippet.split("<em>", 1)
        term, suf = rest.split("</em>", 1)
        assert term == r.term
        assert len(pre) <= HIGHLIGHT_PRE and len(suf) <= HIGHLIGHT_SUF
        assert texts[r.doc_id].find(r.term) == r.pos - 1


# --- TIFF decode (IFD walk + PackBits) ---------------------------------------


def _handmade_tiff():
    """A 3x2 grayscale BIG-ENDIAN TIFF assembled byte-by-byte in the
    TEST, single strip, PackBits stream packed BY HAND:
    pixels [5,5,5,9,2,2] -> run(3x5)=FE 05, literal(9)=00 09,
    run(2x2)=FF 02 — pins the decoder (byte order, IFD layout, RLE)
    against an independent construction."""
    import struct

    strip = bytes([0xFE, 5, 0x00, 9, 0xFF, 2])
    out = bytearray(struct.pack(">2sHI", b"MM", 42, 0))
    strip_at = len(out)
    out += strip
    ifd_at = len(out)
    struct.pack_into(">I", out, 4, ifd_at)

    def long_entry(tag, value):
        return struct.pack(">HHII", tag, 4, 1, value)

    def short_entry(tag, value):
        return struct.pack(">HHIHH", tag, 3, 1, value, 0)

    entries = [
        long_entry(256, 3),            # width
        long_entry(257, 2),            # height
        short_entry(258, 8),           # bits per sample
        short_entry(259, 32773),       # PackBits
        short_entry(262, 1),           # grayscale
        long_entry(273, strip_at),     # strip offset
        short_entry(277, 1),           # samples per pixel
        long_entry(278, 2),            # rows per strip
        long_entry(279, len(strip)),   # strip byte count
    ]
    out += struct.pack(">H", len(entries))
    for e in entries:
        out += e
    out += struct.pack(">I", 0)
    return bytes(out), bytes([5, 5, 5, 9, 2, 2])


def test_tiff_decoder_known_vector():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_tiff,
    )

    tiff, pixels = _handmade_tiff()
    assert _parse_tiff(tiff) == (3, 2, 1, 32773, pixels)


def test_tiff_roundtrip_both_orders_and_compressions():
    """doc_ids 0..59 cover gray/RGB x none/PackBits x II/MM and
    multi-strip reassembly (heights > RowsPerStrip)."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_tiff,
        _parse_tiff,
        _tiff_dims,
        _tiff_pixel_bytes,
    )

    seen = set()
    for doc_id in range(60):
        w, h, ch, comp, order = _tiff_dims(doc_id)
        seen.add((ch, comp, order))
        px = _tiff_pixel_bytes(doc_id, w * h * ch)
        assert _parse_tiff(_build_tiff(w, h, ch, comp, order, px)) == (
            w, h, ch, comp, px,
        )
    assert {("II",), ("MM",)} <= {(o,) for (_, _, o) in seen}
    assert {1, 32773} == {c for (_, c, _) in seen}
    assert {1, 3} == {ch for (ch, _, _) in seen}


def test_tiff_decoder_rejects_malformed():
    import struct

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_tiff,
        _parse_tiff,
        _tiff_pixel_bytes,
    )

    good = _build_tiff(4, 3, 3, 32773, "II", _tiff_pixel_bytes(1, 36))
    with pytest.raises(ValueError, match="byte-order"):
        _parse_tiff(b"XX" + good[2:])
    with pytest.raises(ValueError, match="magic"):
        _parse_tiff(good[:2] + struct.pack("<H", 43) + good[4:])
    with pytest.raises(ValueError, match="truncated"):
        _parse_tiff(good[:6])
    # IFD offset pointing past the end
    bad = bytearray(good)
    struct.pack_into("<I", bad, 4, len(good) + 100)
    with pytest.raises(ValueError, match="IFD offset out of bounds"):
        _parse_tiff(bytes(bad))
    # unsupported compression (LZW = 5) on the handmade frame
    tiff, _ = _handmade_tiff()
    lzw = tiff.replace(
        struct.pack(">HHIHH", 259, 3, 1, 32773, 0),
        struct.pack(">HHIHH", 259, 3, 1, 5, 0),
    )
    with pytest.raises(ValueError, match="unsupported compression"):
        _parse_tiff(lzw)
    # strip byte count lying (overruns file)
    lie = tiff.replace(
        struct.pack(">HHII", 279, 4, 1, 6),
        struct.pack(">HHII", 279, 4, 1, 600),
    )
    with pytest.raises(ValueError, match="strip out of bounds"):
        _parse_tiff(lie)
    # PackBits stream not covering the raster
    short = tiff.replace(bytes([0xFF, 2]), bytes([0x00, 2]))
    with pytest.raises(ValueError, match="do not cover"):
        _parse_tiff(short)


def test_tiff_decode_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _decode_tiff_oracle,
        decode_tiff,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(decode_tiff(spark, sf_dir), duck, _decode_tiff_oracle())
    assert ok, diag


# --- DOCX text extraction (ZIP + OOXML walk) ---------------------------------


def test_docx_known_vector_independent_construction():
    """A DOCX assembled in the TEST with zipfile + literal XML —
    multiple paragraphs, split runs, entity escapes, an empty run, and
    non-w:t noise nodes the extractor must skip."""
    import io
    import zipfile

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _DOCX_CONTENT_TYPES,
        _W_NS,
        _parse_docx,
    )

    doc = (
        '<?xml version="1.0"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        '<w:p><w:pPr><w:jc w:val="left"/></w:pPr>'
        '<w:r><w:rPr><w:b/></w:rPr><w:t xml:space="preserve">Hello, </w:t></w:r>'
        "<w:r><w:t>&lt;world&gt; &amp; co</w:t></w:r></w:p>"
        "<w:p><w:r><w:t/></w:r><w:r><w:t>second para</w:t></w:r></w:p>"
        "</w:body></w:document>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", _DOCX_CONTENT_TYPES)
        z.writestr("word/document.xml", doc)
    paras, n_runs = _parse_docx(buf.getvalue())
    assert paras == ["Hello, <world> & co", "second para"]
    assert n_runs == 4


def test_docx_roundtrip_and_counts():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        DOCX_PARA_CHARS,
        DOCX_RUN_CHARS,
        _build_docx,
        _parse_docx,
    )

    t = "key agg row scan slow fast table value part hash " * 9
    paras, n_runs = _parse_docx(_build_docx(t))
    assert "".join(paras) == t
    assert len(paras) == (len(t) + DOCX_PARA_CHARS - 1) // DOCX_PARA_CHARS
    want_runs = sum(
        (min(len(t) - i, DOCX_PARA_CHARS) + DOCX_RUN_CHARS - 1) // DOCX_RUN_CHARS
        for i in range(0, len(t), DOCX_PARA_CHARS)
    )
    assert n_runs == want_runs


def test_docx_rejects_malformed():
    import io
    import zipfile

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _DOCX_CONTENT_TYPES,
        _W_NS,
        _build_docx,
        _parse_docx,
    )

    with pytest.raises(ValueError, match="not a ZIP"):
        _parse_docx(b"plainly not a zip file")

    def zip_with(parts):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for name, data in parts.items():
                z.writestr(name, data)
        return buf.getvalue()

    with pytest.raises(ValueError, match="Content_Types"):
        _parse_docx(zip_with({"word/document.xml": "<x/>"}))
    with pytest.raises(ValueError, match="missing word/document.xml"):
        _parse_docx(zip_with({"[Content_Types].xml": _DOCX_CONTENT_TYPES}))
    with pytest.raises(ValueError, match="broken document XML"):
        _parse_docx(zip_with({
            "[Content_Types].xml": _DOCX_CONTENT_TYPES,
            "word/document.xml": "<w:document><unclosed",
        }))
    with pytest.raises(ValueError, match="root is not w:document"):
        _parse_docx(zip_with({
            "[Content_Types].xml": _DOCX_CONTENT_TYPES,
            "word/document.xml": "<other/>",
        }))
    with pytest.raises(ValueError, match="no w:body"):
        _parse_docx(zip_with({
            "[Content_Types].xml": _DOCX_CONTENT_TYPES,
            "word/document.xml": f'<w:document xmlns:w="{_W_NS}"/>',
        }))
    with pytest.raises(ValueError, match="empty document text"):
        _build_docx("")
    # XML 1.0 cannot represent control chars — the builder must refuse
    with pytest.raises(ValueError, match="not representable in XML"):
        _build_docx("bell \x07 char")


def test_docx_extract_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _docx_extract_oracle,
        docx_extract_text,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(
        docx_extract_text(spark, sf_dir), duck, _docx_extract_oracle()
    )
    assert ok, diag


# --- HTML main-text extraction ------------------------------------------------


def test_html_known_vector_independent_construction():
    """Hand-written page with the traps: misnested tags, entities,
    nested blocks, chrome regions wrapping real-looking text, scripts
    containing markup-like strings — none of the chrome may leak."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_html,
    )

    html = (
        "<html><head><title>T &amp; t</title>"
        "<style>p { color: red } /* <p>fake</p> */</style></head><body>"
        "<nav><p>navigation text must vanish</p></nav>"
        "<header><div>masthead gone too</div></header>"
        "<main><p>first &lt;block&gt;</p>"
        "<div>outer <p>inner block</p> tail</div>"
        "<p>unclosed paragraph"
        "<script>document.write('<p>ghost</p>');</script>"
        "</main>"
        "<footer><p>legal boilerplate out</p></footer>"
        "</body></html>"
    )
    title, blocks = _parse_html(html)
    assert title == "T & t"
    assert blocks == [
        "first <block>",
        "outer ",
        "inner block",
        " tail",
        "unclosed paragraph",
    ]


def test_html_extractor_total_on_garbage():
    """html.parser is forgiving by design: any string returns a
    (title, blocks) pair, never an exception."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_html,
    )

    for s in ["", "<<<>>>", "<p", "&#xZZ;", "</nav></nav><p>x", "\x00<p>y</p>"]:
        title, blocks = _parse_html(s)
        assert isinstance(title, str) and isinstance(blocks, list)


def test_html_extract_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _html_extract_oracle,
        html_extract_text,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(
        html_extract_text(spark, sf_dir), duck, _html_extract_oracle()
    )
    assert ok, diag


# --- XLSX cell extraction (shared-strings indirection) ------------------------


def test_xlsx_known_vector_independent_construction():
    """Hand-built workbook: out-of-order shared-string indices (cells
    must resolve through the table, not document order), a rich-text
    si with multiple t runs, numeric and empty cells."""
    import io
    import zipfile

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _SML_NS,
        _XLSX_CONTENT_TYPES,
        _parse_xlsx,
    )

    sst = (
        f'<sst xmlns="{_SML_NS}" count="3" uniqueCount="3">'
        "<si><t>zeroth</t></si>"
        "<si><r><t>ri</t></r><r><t>ch</t></r></si>"
        '<si><t xml:space="preserve"> spaced </t></si></sst>'
    )
    sheet = (
        f'<worksheet xmlns="{_SML_NS}"><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>2</v></c>'
        '<c r="B1"><v>41.5</v></c>'
        '<c r="C1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v></v></c></row>'
        "</sheetData></worksheet>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("[Content_Types].xml", _XLSX_CONTENT_TYPES)
        z.writestr("xl/sharedStrings.xml", sst)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    rows, n_shared = _parse_xlsx(buf.getvalue())
    assert n_shared == 3
    assert rows == [[" spaced ", 41.5, "zeroth"], ["rich", 0.0]]


def test_xlsx_shared_strings_actually_dedupe():
    """Repeated cell content must share one table entry — the format's
    defining indirection, proven end-to-end: 5 equal slices, 1 shared
    string, text still reconstructs."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        XLSX_CELL_CHARS,
        _build_xlsx,
        _parse_xlsx,
    )

    t = "a" * (XLSX_CELL_CHARS * 5)
    rows, n_shared = _parse_xlsx(_build_xlsx(t))
    assert n_shared == 1
    assert "".join(v for r in rows for v in r if isinstance(v, str)) == t


def test_xlsx_rejects_malformed():
    import io
    import zipfile

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _SML_NS,
        _XLSX_CONTENT_TYPES,
        _parse_xlsx,
    )

    def zip_with(parts):
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for name, data in parts.items():
                z.writestr(name, data)
        return buf.getvalue()

    with pytest.raises(ValueError, match="not a ZIP"):
        _parse_xlsx(b"nope")
    with pytest.raises(ValueError, match="missing worksheet"):
        _parse_xlsx(zip_with({"[Content_Types].xml": _XLSX_CONTENT_TYPES}))
    base = {
        "[Content_Types].xml": _XLSX_CONTENT_TYPES,
        "xl/sharedStrings.xml": f'<sst xmlns="{_SML_NS}"><si><t>x</t></si></sst>',
    }
    with pytest.raises(ValueError, match="index 7 out of range"):
        _parse_xlsx(zip_with(dict(base, **{
            "xl/worksheets/sheet1.xml":
                f'<worksheet xmlns="{_SML_NS}"><sheetData>'
                '<row><c t="s"><v>7</v></c></row></sheetData></worksheet>',
        })))
    with pytest.raises(ValueError, match="unsupported cell type"):
        _parse_xlsx(zip_with(dict(base, **{
            "xl/worksheets/sheet1.xml":
                f'<worksheet xmlns="{_SML_NS}"><sheetData>'
                '<row><c t="inlineStr"><v>0</v></c></row></sheetData>'
                "</worksheet>",
        })))
    with pytest.raises(ValueError, match="broken XML"):
        _parse_xlsx(zip_with(dict(base, **{
            "xl/worksheets/sheet1.xml": "<worksheet><unclosed",
        })))


def test_xlsx_extract_matches_duckdb_oracle(spark, tables, sf_dir, duck):
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _xlsx_extract_oracle,
        xlsx_extract_cells,
    )
    from golang_db_query_engine_elasticsearch_indexer_spark.oracle import compare

    ok, diag = compare(
        xlsx_extract_cells(spark, sf_dir), duck, _xlsx_extract_oracle()
    )
    assert ok, diag

# --- JPEG decode (real baseline Huffman + IDCT decoder, r09) -----------------


def _handmade_jpeg():
    """An 8x8 grayscale constant-130 baseline JPEG assembled
    byte-by-byte in the TEST: marker layout, quant/Huffman tables, and
    the entropy segment are hand-derived from the T.81 coding rules
    (DC diff 2 -> category 2 -> canonical code 011 + bits 10, EOB 0,
    1-pad -> 0x73), NOT produced by the module's encoder — pins the
    decoder against an independent construction."""
    import struct

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    dc_bits = bytes((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0))
    ac_bits = bytes((1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
    qtab = bytes((8,) + (16,) * 63)
    jpg = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + qtab)
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, b"\x00" + dc_bits + bytes(range(12)))
        + seg(0xFFC4, b"\x10" + ac_bits + bytes([0x00]))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes([0x73])
        + b"\xff\xd9"
    )
    return jpg


def test_jpeg_decoder_known_vector():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _parse_jpeg,
    )

    w, h, ch, px = _parse_jpeg(_handmade_jpeg())
    assert (w, h, ch) == (8, 8, 1)
    assert px == bytes([130] * 64)


def test_jpeg_roundtrip_constant_blocks_exact():
    """The driver-entry construction is bit-exact: any 0..255 block
    values survive encode -> full Huffman+IDCT decode unchanged, for
    every fixture geometry."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_jpeg,
        _jpeg_block_values,
        _jpeg_dims,
        _parse_jpeg,
    )

    for doc_id in range(24):
        w, h = _jpeg_dims(doc_id)
        bx = w // 8
        vals = _jpeg_block_values(doc_id, bx * (h // 8))
        dw, dh, dc, px = _parse_jpeg(_build_jpeg(w, h, [vals]))
        assert (dw, dh, dc) == (w, h, 1)
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == vals[(y // 8) * bx + x // 8]


def test_jpeg_color_and_subsampling():
    """YCbCr conversion and 4:2:0 chroma upsampling, hand-checked."""
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_jpeg,
        _parse_jpeg,
    )

    y_, cb, cr = 120, 140, 90
    w, h, ch, px = _parse_jpeg(_build_jpeg(8, 8, [[y_], [cb], [cr]]))
    assert (w, h, ch) == (8, 8, 3)
    want = (
        round(y_ + 1.402 * (cr - 128)),
        round(y_ - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        round(y_ + 1.772 * (cb - 128)),
    )
    assert tuple(px[:3]) == want
    assert px == bytes(want) * 64  # constant everywhere
    # 4:2:0: one 16x16 MCU, luma blocks (0,0)..(1,1) = 100/110/120/130,
    # constant chroma -> R differences equal the luma differences
    w, h, ch, px = _parse_jpeg(_build_jpeg(
        16, 16, [[100, 110, 120, 130], [140], [90]],
        sampling=[(2, 2), (1, 1), (1, 1)],
    ))
    assert (w, h, ch) == (16, 16, 3)
    r00 = px[0]
    assert px[8 * 3] - r00 == 10          # right luma block
    assert px[8 * 16 * 3] - r00 == 20     # lower luma block
    assert px[(8 * 16 + 8) * 3] - r00 == 30


def test_jpeg_restart_markers_and_cropping():
    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_jpeg,
        _parse_jpeg,
    )

    # DRI=1: a RSTn between every MCU, DC prediction resets each time
    vals = [10, 250, 130, 66]
    w, h, ch, px = _parse_jpeg(_build_jpeg(32, 8, [vals], dri=1))
    assert [px[0], px[8], px[16], px[24]] == vals
    # non-multiple-of-8 dims crop the padded blocks
    w, h, ch, px = _parse_jpeg(_build_jpeg(12, 10, [[50, 60, 70, 80]]))
    assert (w, h) == (12, 10) and len(px) == 120
    assert (px[0], px[11], px[9 * 12], px[9 * 12 + 11]) == (50, 60, 70, 80)


def test_jpeg_decoder_rejects_malformed():
    import struct

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_jpeg,
        _parse_jpeg,
    )

    good = _build_jpeg(8, 8, [[130]])
    with pytest.raises(ValueError, match="no SOI"):
        _parse_jpeg(b"JU" + good[2:])
    # progressive (SOF2) must be rejected loudly, not mis-decoded
    prog = good.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="baseline SOF0"):
        _parse_jpeg(prog)
    # truncated entropy stream
    with pytest.raises(ValueError, match="truncated|marker"):
        _parse_jpeg(good[:-3])
    # an all-ones entropy stream matches no canonical DC code
    bad = good[:-3] + bytes([0xFF, 0x00, 0xFF, 0x00]) + b"\xff\xd9"
    with pytest.raises(ValueError, match="invalid Huffman|marker"):
        _parse_jpeg(bad)
    # a scan referencing an undeclared table
    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    hdr_end = good.index(b"\xff\xda")
    bad_sos = good[:hdr_end] + seg(
        0xFFDA, bytes([1, 1, 0x33, 0, 63, 0])
    ) + good[hdr_end + 10:]
    with pytest.raises(ValueError, match="undeclared table"):
        _parse_jpeg(bad_sos)


def test_jpeg_roundtrip_property():
    """PROPERTY: any constant-block geometry (dims not necessarily
    multiples of 8, any 0..255 block values, 1 or 3 components at
    4:4:4) survives encode -> full decode bit-exactly on the sampled
    pixels that map to a block's interior."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from golang_db_query_engine_elasticsearch_indexer_spark.operators.multimodal import (
        _build_jpeg,
        _parse_jpeg,
    )

    @given(
        bw=st.integers(1, 4), bh=st.integers(1, 3),
        crop_x=st.integers(0, 7), crop_y=st.integers(0, 7),
        seed=st.integers(0, 2**31),
    )
    @settings(max_examples=30, deadline=None)
    def prop(bw, bh, crop_x, crop_y, seed):
        import random

        rnd = random.Random(seed)
        vals = [rnd.randrange(256) for _ in range(bw * bh)]
        w = bw * 8 - crop_x
        h = bh * 8 - crop_y
        dw, dh, dc, px = _parse_jpeg(_build_jpeg(w, h, [vals]))
        assert (dw, dh, dc) == (w, h, 1)
        for y in range(h):
            for x in range(w):
                assert px[y * w + x] == vals[(y // 8) * bw + x // 8]

    prop()
