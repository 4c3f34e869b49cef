"""Unit tests for the ANN/similarity operators, including the BLAS
(mapInPandas GEMM) path and its self-match candidate-count regression."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bodo_spark.operators import similarity as S

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    from bodo_spark.queries._util import tbl
    return tbl(spark, SF_DIR, "embeddings")


def _queries_df(emb, n=3):
    from pyspark.sql import functions as F
    return (emb.where(F.col("vec_id") < n)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))


def test_topk_pandas_matches_brute_force(spark, emb):
    """The GEMM path must agree with the exact brute-force baseline on
    (q_id, vec_id) sets. Cosines are rounded to 6 digits in both."""
    q = _queries_df(emb).toPandas()
    got = (S.topk_pandas(emb, q, k=5).toPandas()
           .sort_values(["q_id", "rn"]).reset_index(drop=True))
    exp = (S.brute_force_topk(emb, _queries_df(emb), k=5).toPandas()
           .sort_values(["q_id", "rn"]).reset_index(drop=True))
    assert len(got) == len(exp)
    pd.testing.assert_frame_equal(got[["q_id", "vec_id"]],
                                  exp[["q_id", "vec_id"]])


def test_topk_pandas_self_match_keeps_k_candidates(spark):
    """Regression: a single batch containing the query's own vector must
    still yield k non-self neighbors (the local top-k takes k+1)."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(6, 4))
    sdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(6),
                      "embedding": [list(map(float, v)) for v in vecs]})
    ).coalesce(1)
    q = pd.DataFrame({"q_id": [0], "q_vec": [vecs[0]]})
    out = S.topk_pandas(sdf, q, k=5).toPandas()
    assert len(out) == 5
    assert 0 not in set(out["vec_id"])


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with all cells probed equals brute force exactly; 2-probe
    search keeps high recall on the test corpus."""
    from bodo_spark.operators import similarity as S
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F
    emb = tbl(spark, SF_DIR, "embeddings")
    q = (emb.where(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    exact = {(r.q_id, r.vec_id)
             for r in S.brute_force_topk(emb, q, k=5).collect()}
    full = {(r.q_id, r.vec_id)
            for r in S.ivf_topk(emb, q, k=5, n_centroids=4,
                                n_probe=4).collect()}
    assert full == exact  # probing every cell == exact search
    probed = {(r.q_id, r.vec_id)
              for r in S.ivf_topk(emb, q, k=5, n_centroids=8,
                                  n_probe=2).collect()}
    recall = len(probed & exact) / len(exact)
    assert recall >= 0.5, recall


def test_ivf_kmeans_centroids_recall(spark):
    """Sampled-k-means centroids (train_ivf_centroids) on a CLUSTERED
    corpus: recall@5 must be at least that of the lowest-id centroid
    mode (which samples all its cells from one corner of the data) and
    decently high in absolute terms; all-cells-probed stays exact."""
    rng = np.random.default_rng(7)
    dim, n_clusters, per = 16, 8, 100
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            v = c + 0.15 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = (corpus.where("vec_id % 100 = 3")
         .selectExpr("vec_id as q_id", "embedding as q_vec"))

    exact = {}
    for r in S.brute_force_topk(corpus, q, k=5).collect():
        exact.setdefault(r.q_id, set()).add(r.vec_id)

    def recall(res):
        got = {}
        for r in res:
            got.setdefault(r.q_id, set()).add(r.vec_id)
        return sum(len(got.get(k, set()) & v) for k, v in exact.items()) \
            / sum(len(v) for v in exact.values())

    lowid = recall(S.ivf_topk(corpus, q, k=5, n_centroids=8,
                              n_probe=2).collect())
    km = S.train_ivf_centroids(corpus, n_centroids=8, sample_size=400,
                               iters=10, seed=0)
    assert len(km) == 8 and all(len(c) == 16 for c in km)
    kmeans = recall(S.ivf_topk(corpus, q, k=5, n_probe=2,
                               centroids=km).collect())
    assert kmeans >= lowid, (kmeans, lowid)
    assert kmeans >= 0.8, kmeans
    # sanity: probing every trained cell == exact search
    allprobe = recall(S.ivf_topk(corpus, q, k=5, n_probe=8,
                                 centroids=km).collect())
    assert allprobe == 1.0


def test_neardup_blas_scorer_matches_expr(spark):
    """The BLAS (applyInPandas matmul) scorer must produce EXACTLY the
    expression scorer's pairs -- same blocking, same round-6 cosines --
    on the salted corpus the gate uses."""
    from pyspark.sql import functions as F

    from bodo_spark.queries._util import tbl

    emb = tbl(spark, SF_DIR, "embeddings")
    planted = (emb.where(F.col("vec_id") < 3)
               .withColumn("vec_id", F.col("vec_id") + F.lit(10000)))
    corpus = emb.unionByName(planted)
    expr_pairs = {(r.id_a, r.id_b, r.cos) for r in
                  S.embedding_neardup_pairs(corpus, threshold=0.9,
                                            block_bits=4).collect()}
    blas_pairs = {(r.id_a, r.id_b, r.cos) for r in
                  S.embedding_neardup_pairs(corpus, threshold=0.9,
                                            block_bits=4,
                                            scorer="blas").collect()}
    assert expr_pairs == blas_pairs and len(expr_pairs) >= 3
    # "auto" resolves to one of the two equivalent backends, so its
    # output must match as well (at this corpus size it picks expr)
    auto_pairs = {(r.id_a, r.id_b, r.cos) for r in
                  S.embedding_neardup_pairs(corpus, threshold=0.9,
                                            block_bits=4,
                                            scorer="auto").collect()}
    assert auto_pairs == expr_pairs


def test_auto_scorer_cutover():
    """Chooser is driven by ESTIMATED PAIRS n*(n/2^bits)/2, not corpus
    size: the same n flips backend as bits shrink (occupancy grows)."""
    # sf0.1-scale corpus, auto bits: ~9.8M pairs -> stays on expr
    assert S.auto_scorer(200_000, S.auto_block_bits(200_000)) == "expr"
    # 1000x-probe shape: 2M vectors / 14 bits ~ 122M pairs -> blas
    assert S.auto_scorer(2_000_000, S.auto_block_bits(2_000_000)) == "blas"
    # same 200k corpus under coarse 4-bit blocking: 1.25B pairs -> blas
    assert S.auto_scorer(200_000, 4) == "blas"


# --------------------------------------------------------------------------
# semantic_dedup (SemDeDup)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_drops_higher_id_twin(spark):
    """Exact duplicate vectors land in the same cell and the higher id
    is dropped (keep-first); unrelated vectors survive."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]), (10, [1.0, 0.0, 0.0])]
    out = sorted(r["vec_id"] for r in S.semantic_dedup(
        _vecs(spark, rows), n_cells=3, eps=0.99, coarse_dim=3).collect())
    assert out == [0, 1, 2]


def test_semantic_dedup_eps_controls_aggressiveness(spark):
    """cos(v3, v0) ~ 0.894: dropped at eps=0.8, kept at eps=0.95."""
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (3, [2.0, 1.0])]
    loose = sorted(r["vec_id"] for r in S.semantic_dedup(
        _vecs(spark, rows), n_cells=2, eps=0.8, coarse_dim=2).collect())
    strict = sorted(r["vec_id"] for r in S.semantic_dedup(
        _vecs(spark, rows), n_cells=2, eps=0.95, coarse_dim=2).collect())
    assert loose == [0, 1]
    assert strict == [0, 1, 3]


def test_semantic_dedup_cross_cell_pairs_ignored(spark):
    """SemDeDup only compares within a cell: with centroids pinned to
    two orthogonal seeds, near-dups split across cells both survive --
    the documented approximation that makes the operator linear-ish."""
    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [(0, [1.0, 0.05]), (1, [0.05, 1.0]),
            # cos(2,0)=0.99+ but vec 2 routes to cell 1? no: [0.7,0.72]
            # routes to cell 1 while its near-twin 0 sits in cell 0
            (2, [0.70, 0.72])]
    out = sorted(r["vec_id"] for r in S.semantic_dedup(
        _vecs(spark, rows), eps=0.9, centroids=cents,
        coarse_dim=2).collect())
    assert out == [0, 1, 2]


def test_semantic_dedup_trained_centroids_path(spark):
    """The train_ivf_centroids seam plugs in unchanged: same survivors
    as the planted-duplicate case demands, with k-means cells."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    rows += [(100 + i, list(rows[i][1])) for i in range(3)]  # exact twins
    df = _vecs(spark, rows)
    cents = S.train_ivf_centroids(df, n_centroids=4, coarse_dim=8, seed=1)
    kept = sorted(r["vec_id"] for r in S.semantic_dedup(
        df, eps=0.999, centroids=cents, coarse_dim=8).collect())
    assert kept == list(range(40))  # twins dropped, originals kept


def test_semantic_dedup_blas_matches_expr_default_centroids(spark):
    """scorer='blas' without trained centroids derives the same
    deterministic lowest-id seeds (bounded driver collect) -- survivor
    set must equal the expr path's exactly."""
    import random
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    rows += [(200 + i, list(rows[i][1])) for i in range(4)]
    df = _vecs(spark, rows)
    e = sorted(r["vec_id"] for r in S.semantic_dedup(
        df, n_cells=6, eps=0.8, coarse_dim=8, scorer="expr").collect())
    b = sorted(r["vec_id"] for r in S.semantic_dedup(
        df, n_cells=6, eps=0.8, coarse_dim=8, scorer="blas").collect())
    assert e == b and len(e) < 64


def test_semantic_dedup_zero_norm_survivor_identity(spark):
    """Zero-norm vectors must survive identically on both scorers: the
    expr cosine dot/(0*x) is NaN and NaN >= eps is TRUE in Spark SQL
    (NaN sorts above every double), which silently dropped zero vectors
    on the expr path while the blas path's norm clamp kept them. Both
    paths now score a zero-vector pair cos 0 (kept)."""
    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    rows += [(100, [0.0] * 8), (101, [0.0] * 8), (102, list(rows[3][1]))]
    df = _vecs(spark, rows)
    e = sorted(r["vec_id"] for r in S.semantic_dedup(
        df, n_cells=3, eps=0.8, coarse_dim=8, scorer="expr").collect())
    b = sorted(r["vec_id"] for r in S.semantic_dedup(
        df, n_cells=3, eps=0.8, coarse_dim=8, scorer="blas").collect())
    assert e == b
    # the zero vectors are cos-0 to everything (both clamps agree): kept
    assert 100 in e and 101 in e
    # while the planted exact twin of row 3 is dropped -- non-vacuous
    assert 102 not in e


def test_pq_encode_expr_matches_blas_and_guards(spark):
    """PQ codes from the expression path and the gemm path are
    identical (same rounding, same ties); dim % m guard raises."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    a = {r.vec_id: list(r.code) for r in P.pq_encode(emb, cbs).collect()}
    b = {r.vec_id: list(r.code)
         for r in P.pq_encode(emb, cbs, scorer="blas").collect()}
    assert a == b and len(a) > 0
    assert all(len(c) == 4 and all(0 <= x < 16 for x in c)
               for c in a.values())
    with pytest.raises(ValueError):
        P.lowest_id_pq_codebooks(emb, m=5, k=16)  # 64 % 5 != 0


def test_pq_seed_vectors_reconstruct_exactly(spark):
    """A vector that IS a codebook seed encodes to its own slices and
    ADC-scores itself at exactly -||v||^2 (perfect reconstruction) --
    rank 1 for its own query."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F
    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    codes = P.pq_encode(emb, cbs)
    q = (emb.where(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    top1 = {r.q_id: r.vec_id
            for r in P.pq_topk(codes, q, cbs, k=1).collect()}
    assert top1 == {0: 0, 1: 1}


def test_pq_trained_codebooks_recall_on_clustered_corpus(spark):
    """Trained per-subspace k-means codebooks (train_pq_codebooks) on a
    clustered corpus: ADC top-5 recall vs exact l2 must clear a floor
    well above chance (5/800), and beat the lowest-id codebooks which
    sample every codeword from one corner of the data."""
    from bodo_spark.operators import pq as P
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bodo_spark.operators.similarity import dot

    rng = np.random.default_rng(11)
    dim, n_clusters, per = 32, 8, 100
    centers = rng.normal(size=(n_clusters, dim))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            v = c + 0.15 * rng.normal(size=dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>")
    q = (corpus.where("vec_id % 100 = 3")
         .selectExpr("vec_id as q_id", "embedding as q_vec"))

    # exact l2 top-5 via the same two-dot rank key PQ uses
    d2 = (dot(F.col("embedding"), F.col("embedding"))
          - 2 * dot(F.col("embedding"), F.col("q_vec")))
    wnd = W.partitionBy("q_id").orderBy(F.col("_d"), F.col("vec_id"))
    exact = {}
    for r in (corpus.crossJoin(q).where("vec_id != q_id")
              .withColumn("_d", d2)
              .withColumn("rn", F.row_number().over(wnd))
              .where("rn <= 5").collect()):
        exact.setdefault(r.q_id, set()).add(r.vec_id)

    def recall(cbs, **kw):
        codes = P.pq_encode(corpus, cbs)
        got = {}
        for r in (P.pq_topk(codes, q, cbs, k=6, **kw)
                  .where("vec_id != q_id").collect()):
            got.setdefault(r.q_id, set()).add(r.vec_id)
        hits = sum(len(got.get(k, set()) & v) for k, v in exact.items())
        return hits / sum(len(v) for v in exact.values())

    trained_cbs = P.train_pq_codebooks(
        corpus, m=4, k=32, sample_size=800, seed=3)
    trained = recall(trained_cbs)
    lowest = recall(P.lowest_id_pq_codebooks(corpus, m=4, k=32))
    # raw ADC on tight clusters: quantization error >> the 0.15-sigma
    # within-cluster noise, so absolute recall is modest -- the floor
    # pins "well above the 6/800 chance rate" and the trained-vs-corner
    # ordering, not a number PQ never promised
    assert trained >= 0.10, (trained, lowest)
    assert trained >= lowest, (trained, lowest)
    # the production protocol: ADC shortlist -> exact re-rank (refine)
    refined = recall(trained_cbs, refine=corpus, shortlist=60)
    assert refined >= 0.65, (refined, trained)
    assert refined > trained


def test_ivf_pq_full_probe_equals_flat_pq(spark):
    """IVF-PQ with every cell probed returns exactly the flat PQ ADC
    ranking (cell pruning is the ONLY difference); 2-probe search
    still finds each seed query's own code row first."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    idx = P.ivf_pq_index(emb, cbs, n_cells=4)
    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    full = sorted(map(tuple, P.ivf_pq_topk(
        idx, q, emb, cbs, k=5, n_probe=4, n_cells=4).collect()))
    flat = sorted(map(tuple, P.pq_topk(
        P.pq_encode(emb, cbs), q, cbs, k=5).collect()))
    assert full == flat
    probed = {r.q_id: r.vec_id for r in
              P.ivf_pq_topk(idx, q, emb, cbs, k=1, n_probe=2,
                            n_cells=4).collect()}
    assert probed == {0: 0, 1: 1, 2: 2}

def test_pq_append_equals_one_shot_build(spark):
    """Index built as two disjoint batches with pinned codebooks and a
    pinned centroid seed frame is ROW-IDENTICAL to the one-shot build
    (the lifecycle invariant pq_append documents), and searches over
    both indexes agree exactly."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    one = P.ivf_pq_index(emb, cbs, n_cells=4)
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    staged = P.pq_append(
        P.ivf_pq_index(b1, cbs, n_cells=4, seed_vectors=emb),
        b2, cbs, n_cells=4, seed_vectors=emb)
    a = sorted((r.vec_id, r.cell, tuple(r.code)) for r in one.collect())
    b = sorted((r.vec_id, r.cell, tuple(r.code)) for r in staged.collect())
    assert a == b
    q = _queries_df(emb, 3).withColumnRenamed("vec_id", "q_id")
    s1 = sorted(map(tuple, P.ivf_pq_topk(one, q, emb, cbs, k=5,
                                         n_probe=2, n_cells=4).collect()))
    s2 = sorted(map(tuple, P.ivf_pq_topk(staged, q, emb, cbs, k=5,
                                         n_probe=2, n_cells=4).collect()))
    assert s1 == s2


def test_pq_append_without_seed_pin_diverges(spark):
    """Negative control: letting the second batch derive its own
    centroid seeds routes rows differently -- the failure mode the
    seed_vectors contract exists to prevent."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    one = {r.vec_id: r.cell for r in
           P.ivf_pq_index(emb, cbs, n_cells=4).collect()}
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    unpinned = {r.vec_id: r.cell for r in
                P.ivf_pq_index(b2, cbs, n_cells=4).collect()}
    assert any(unpinned[v] != one[v] for v in unpinned)


def test_pq_reconstruction_mse_drops_after_compaction(spark):
    """Staleness loop: append a drifted batch encoded with the stale
    codebooks, measure reconstruction MSE, compact (retrain+re-encode)
    and the MSE must improve; the compacted index equals a fresh
    one-shot build over the same corpus."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    emb = tbl(spark, SF_DIR, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 9).select("vec_id", "embedding")
    drift = (emb.where(F.col("vec_id") % 10 == 9)
             .select((F.col("vec_id") + 100000).alias("vec_id"),
                     F.transform("embedding",
                                 lambda x: x * 3 + 5).alias("embedding")))
    union = base.unionByName(drift)
    cbs0 = P.lowest_id_pq_codebooks(base, m=4, k=16)
    idx0 = P.pq_append(P.ivf_pq_index(base, cbs0, n_cells=4),
                       drift, cbs0, n_cells=4, seed_vectors=base)
    stale = P.pq_reconstruction_mse(union, idx0, cbs0).collect()[0]
    idx1, cbs1 = P.pq_compact(union, m=4, k=16, n_cells=4,
                              trainer="kmeans", sample_size=500, iters=5)
    fresh = P.pq_reconstruction_mse(union, idx1, cbs1).collect()[0]
    assert stale.n == fresh.n == union.count()
    assert fresh.mse < stale.mse
    with pytest.raises(ValueError):
        P.pq_compact(union, trainer="nope")


def test_train_pq_codebooks_reseeds_empty_clusters(spark):
    """A k-means cluster that empties is re-seeded to the worst-served
    point, so no two codewords stay duplicates: with k=8 codewords over
    a 2-point sample repeated 50x, stale-centroid behavior would leave
    duplicated rows; re-seeding keeps all seeds distinct from the
    iteration's survivors."""
    import numpy as np
    from bodo_spark.operators import pq as P

    rows = [(i, ([1.0] * 64 if i % 2 else [-1.0] * 64)) for i in range(100)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cbs = P.train_pq_codebooks(df, m=4, k=8, sample_size=100, iters=3)
    # two natural clusters; 6 empties re-seed to members of {+1,-1} rows
    for book in cbs:
        for cw in book:
            assert np.allclose(cw, 1.0) or np.allclose(cw, -1.0)


def test_pq_topk_refine_vec_col_validation(spark):
    """Refine frame with a non-array column listed first must not be
    silently re-ranked on; explicit refine_vec_col and the array-type
    fallback both pick the embedding."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    codes = P.pq_encode(emb, cbs)
    q = _queries_df(emb, 2)
    # label (int) listed before embedding: fallback must skip it
    messy = emb.select("vec_id", "label", "embedding")
    got = sorted(map(tuple, P.pq_topk(codes, q, cbs, k=3, shortlist=10,
                                      refine=messy).collect()))
    want = sorted(map(tuple, P.pq_topk(
        codes, q, cbs, k=3, shortlist=10,
        refine=emb.select("vec_id", "embedding"),
        refine_vec_col="embedding").collect()))
    assert got == want
    with pytest.raises(ValueError):
        P.pq_topk(codes, q, cbs, k=3, shortlist=10,
                  refine=emb.select("vec_id", "label"))
    with pytest.raises(ValueError):
        P.pq_topk(codes, q, cbs, k=3, shortlist=10,
                  refine=emb.select("vec_id", "embedding"),
                  refine_vec_col="nope")


def test_audio_fingerprint_spectral_bits_guard(spark):
    """mode='spectral' with n_bits not a multiple of 8 raises instead of
    silently truncating the fingerprint width."""
    from bodo_spark.operators import multimodal as M

    df = spark.createDataFrame([(1, bytearray(b"x"))],
                               "doc_id long, media binary")
    with pytest.raises(ValueError, match="n_bits % 8"):
        M.audio_fingerprint(df, n_bits=60, mode="spectral")


def test_ivf_explicit_centroids_double_precision_roundtrip(spark):
    """Explicit float64 centroids survive into the probe table without a
    float32 downcast: a centroid value unrepresentable in float32 must
    come back from _centroid_table bit-identical (the index/probe
    precision-mismatch fix)."""
    from bodo_spark.operators.similarity import _centroid_table
    from bodo_spark.queries._util import tbl

    emb = tbl(spark, SF_DIR, "embeddings")
    c0 = [0.1] * 16  # 0.1 has no exact float32 representation
    rows = _centroid_table(emb, [c0], 1, 16, "vec_id", "embedding").collect()
    assert list(rows[0]["_cvec"]) == [0.1] * 16


def test_ivf_pq_segments_degenerate_and_mixed(spark):
    """Segmented search with ONE segment (or identical codebooks split
    across two) equals ivf_pq_topk exactly; mixed codebook generations
    score each segment under its own LUTs (guard: empty segments
    rejected)."""
    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    idx = P.ivf_pq_index(emb, cbs, n_cells=4)
    q = _queries_df(emb, 3).withColumnRenamed("vec_id", "q_id")
    want = sorted(map(tuple, P.ivf_pq_topk(
        idx, q, emb, cbs, k=5, n_probe=2, n_cells=4).collect()))
    one = sorted(map(tuple, P.ivf_pq_topk_segments(
        [(idx, cbs)], q, emb, k=5, n_probe=2, n_cells=4).collect()))
    assert one == want
    a = idx.where(F.col("vec_id") % 2 == 0)
    b = idx.where(F.col("vec_id") % 2 == 1)
    two = sorted(map(tuple, P.ivf_pq_topk_segments(
        [(a, cbs), (b, cbs)], q, emb, k=5, n_probe=2,
        n_cells=4).collect()))
    assert two == want
    # mixed generations: old rows under old codebooks, new under new
    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    cbs_old = P.lowest_id_pq_codebooks(old, m=4, k=16)
    segs = [(P.ivf_pq_index(old, cbs_old, n_cells=4, seed_vectors=emb),
             cbs_old),
            (P.ivf_pq_index(new, cbs, n_cells=4, seed_vectors=emb), cbs)]
    mixed = P.ivf_pq_topk_segments(segs, q, emb, k=5, n_probe=4,
                                   n_cells=4).collect()
    by_q = {}
    for r in mixed:
        by_q.setdefault(r.q_id, []).append((r.rn, r.adist, r.vec_id))
    for rows in by_q.values():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        assert rows == sorted(rows, key=lambda t: (t[1], t[2]))
    # each seed query must find its own row first (it lives in SOME
    # segment, scored under that segment's codebooks)
    firsts = {r.q_id: r.vec_id for r in mixed if r.rn == 1}
    assert firsts == {0: 0, 1: 1, 2: 2}
    import pytest as _pt
    with _pt.raises(ValueError):
        P.ivf_pq_topk_segments([], q, emb)


def test_pq_search_fused_matches_jvm_ranking(spark):
    """The small-shape fused Arrow path (one mapInPandas pass, driver
    LUTs) must rank exactly like the JVM encode+LUT path -- same
    round-half-up 9dp keys, first-min ties, 6dp sums."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import pq as PQ
    from bodo_spark.queries._util import tbl

    from .conftest import SF_DIR
    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    jvm = (PQ.pq_topk(PQ.pq_encode(emb, cbs), q, cbs, k=5,
                      luts="spark").toPandas()
           .sort_values(["q_id", "rn"]).reset_index(drop=True))
    fused = (PQ._pq_search_fused(emb, cbs, q.collect(), k=5,
                                 id_col="vec_id", vec_col="embedding",
                                 q_id_col="q_id", q_vec_col="q_vec")
             .toPandas().sort_values(["q_id", "rn"])
             .reset_index(drop=True))
    assert jvm[["q_id", "vec_id", "rn"]].values.tolist() == \
        fused[["q_id", "vec_id", "rn"]].values.tolist()
    assert (jvm.adist - fused.adist).abs().max() <= 1e-6


def test_pq_topk_empty_query_frame_all_lut_modes(spark):
    """An empty query batch must return an empty result in EVERY luts
    mode (driver/auto previously crashed indexing the first query
    row), and a custom q_id_col must survive the fused path."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import pq as PQ
    from bodo_spark.queries._util import tbl

    from .conftest import SF_DIR
    emb = tbl(spark, SF_DIR, "embeddings").limit(50)
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=8)
    codes = PQ.pq_encode(emb, cbs)
    empty = (emb.where(F.lit(False))
             .select(F.col("vec_id").alias("q_id"),
                     F.col("embedding").alias("q_vec")))
    for luts in ("spark", "driver", "auto"):
        assert PQ.pq_topk(codes, empty, cbs, k=3, luts=luts).count() == 0
    assert PQ.pq_search(emb, cbs, empty, k=3).count() == 0
    # custom q_id_col: both pq_search paths share one output schema
    q = (emb.where(F.col("vec_id") < 2)
         .select(F.col("vec_id").alias("qq"),
                 F.col("embedding").alias("q_vec")))
    fused = PQ._pq_search_fused(emb, cbs, q.collect(), k=2,
                                id_col="vec_id", vec_col="embedding",
                                q_id_col="qq", q_vec_col="q_vec")
    assert fused.columns == ["qq", "vec_id", "adist", "rn"]


def test_seeded_hash_sample_pred_full_fraction(spark):
    """frac=1.0 quantizes to n=256, whose '100' hex literal compares
    lexically ABOVE every 2-char md5 prefix only for '0f'-and-below --
    the upper bound must special-case to keep-everything (r13 ADVICE)."""
    from pyspark.sql import functions as F
    df = spark.range(1000).select(F.col("id").alias("vec_id"))
    full = df.where(S.seeded_hash_sample_pred("vec_id", 1.0)).count()
    assert full == 1000
    # interior fractions still sample a strict, deterministic subset
    half = df.where(S.seeded_hash_sample_pred("vec_id", 0.5, seed=7))
    n1, n2 = half.count(), half.count()
    assert n1 == n2 and 0 < n1 < 1000
    with pytest.raises(ValueError):
        S.seeded_hash_sample_pred("vec_id", 1.0 / 1024)


def test_pq_stored_compact_threads_seed_vectors(spark, tmp_path):
    """pq_stored_compact(seed_vectors=) must rebuild the inverted file
    under the SAME routing source it stores as the probe table (r13
    ADVICE: the rebuild seeded from the corpus while the probe table
    came from seed_vectors -- queries probed cells the corpus was not
    routed by). Twin: in-memory pq_compact with the pinned seeds."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import pq as PQ
    from bodo_spark.queries._util import tbl

    from .conftest import SF_DIR
    emb = tbl(spark, SF_DIR, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "pqstore")
    cbs = PQ.lowest_id_pq_codebooks(b1, m=4, k=8)
    idx = PQ.ivf_pq_index(b1, cbs, n_cells=8, seed_vectors=b1)
    PQ.pq_store_index(idx, path, cbs, n_cells=8, seed_vectors=b1)
    PQ.pq_stored_compact(emb, path, m=4, k=8, n_cells=8,
                         seed_vectors=b1)
    queries = (emb.where(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    served = PQ.pq_stored_topk(spark, path, queries, k=5, n_probe=2)
    idx2, cbs2 = PQ.pq_compact(emb, m=4, k=8, n_cells=8,
                               seed_vectors=b1)
    expect = PQ.ivf_pq_topk(idx2, queries, b1, cbs2, k=5, n_probe=2,
                            n_cells=8)
    got = {tuple(r) for r in served.collect()}
    want = {tuple(r) for r in expect.collect()}
    assert got == want and len(want) > 0


def _element_at_luts(queries, cbs):
    """The reference LUT formulation: every query's m*k cells collected
    into one (j, cid)-sorted list, reshaped by element_at(j*k + c + 1)
    inside transform(sequence(m), transform(sequence(k)))."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import pq as PQ
    m, kk, d = len(cbs), len(cbs[0]), len(cbs[0][0])
    qsub = F.slice(F.col("q_vec"), F.col("_j") * d + 1, d)
    flat = (queries.crossJoin(F.broadcast(
        PQ._codebook_frame(queries.sparkSession, cbs)))
        .withColumn("_lv", F.round(
            F.col("_cc") - 2 * S.dot(qsub, F.col("_cw")), 9))
        .groupBy("q_id").agg(F.array_sort(F.collect_list(
            F.struct("_j", "_cid", "_lv"))).alias("_flat")))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.transform(
            F.sequence(F.lit(0), F.lit(kk - 1)),
            lambda c: F.element_at(
                F.col("_flat"), (j * kk + c + 1).cast("int"))["_lv"]))
    return flat.select("q_id", lut.alias("_lut"))


@pytest.fixture(scope="module")
def production_pq(spark):
    """The production codebook shape, m=8 subspaces of k=256 codewords,
    over the embeddings table, with two query rows."""
    from bodo_spark.operators import pq as PQ
    from bodo_spark.queries._util import tbl
    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = PQ.lowest_id_pq_codebooks(emb, m=8, k=256)
    q = (emb.where("vec_id IN (3, 77)")
         .selectExpr("vec_id AS q_id",
                     "CAST(embedding AS array<double>) AS q_vec"))
    return emb, cbs, q


def test_query_luts_production_shape_equal_reference(spark, production_pq):
    """At m=8, k=256 the per-subspace sorted LUT rows, schema included,
    equal the element_at reshape's exactly."""
    from bodo_spark.operators import pq as PQ
    _, cbs, q = production_pq
    got, ref = PQ._query_luts(q, cbs), _element_at_luts(q, cbs)
    assert got.schema == ref.schema
    rows = sorted(map(tuple, got.collect()))
    assert len(rows) == 2 and len(rows[0][1]) == 8
    assert all(len(lut) == 256 for _, luts in rows for lut in luts)
    assert rows == sorted(map(tuple, ref.collect()))


@pytest.mark.parametrize("exact", ["0", "1"])
def test_pq_stored_topk_production_shape_equals_memory(
        spark, production_pq, tmp_path, monkeypatch, exact):
    """The stored IVF-PQ serve at the production codebook shape returns
    exactly the in-memory IVF search's rows, in both numeric modes."""
    from bodo_spark.operators import pq as PQ
    monkeypatch.setenv("BODO_SPARK_EXACT", exact)
    emb, cbs, q = production_pq
    idx = PQ.ivf_pq_index(emb, cbs, n_cells=8)
    path = str(tmp_path / "pq")
    PQ.pq_store_index(idx, path, cbs, n_cells=8, seed_vectors=emb)
    stored = sorted(map(tuple, PQ.pq_stored_topk(
        spark, path, q, k=5, n_probe=3).collect()))
    memory = sorted(map(tuple, PQ.ivf_pq_topk(
        idx, q, emb, cbs, k=5, n_probe=3, n_cells=8).collect()))
    assert len(stored) == 10 and stored == memory
