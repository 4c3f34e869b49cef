"""Unit tests for scalar quantization (operators/sq.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bodo_spark.operators import similarity as S
from bodo_spark.operators import sq as Q

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def emb(spark):
    from bodo_spark.queries._util import tbl
    return tbl(spark, SF_DIR, "embeddings")


def test_bounds_are_exact_min_max(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 5.0]), (1, [2.0, -3.0]), (2, [1.0, 1.0])],
        "vec_id bigint, embedding array<float>")
    los, his = Q.sq_train(df)
    assert los == [0.0, -3.0] and his == [2.0, 5.0]


def test_encode_endpoints_and_constant_dim(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 7.0]), (1, [10.0, 7.0]), (2, [5.0, 7.0])],
        "vec_id bigint, embedding array<float>")
    los, his = Q.sq_train(df)
    codes = {r.vec_id: r.code
             for r in Q.sq_encode(df, los, his).collect()}
    assert codes[0][0] == 0          # lo endpoint
    assert codes[1][0] == 255        # hi endpoint -> exactly levels
    assert codes[2][0] == 127        # floor(0.5 * 255)
    assert [c[1] for c in codes.values()] == [0, 0, 0]  # hi == lo dim


def test_encode_clamps_out_of_bounds_batch(spark):
    train = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 1.0])],
        "vec_id bigint, embedding array<float>")
    los, his = Q.sq_train(train)
    drifted = spark.createDataFrame(
        [(9, [-5.0, 2.0])], "vec_id bigint, embedding array<float>")
    (code,) = [r.code for r in Q.sq_encode(drifted, los, his).collect()]
    assert code[0] == 0 and code[1] == 255


def test_bits_validation(spark, emb):
    los, his = ([0.0], [1.0])
    with pytest.raises(ValueError):
        Q.sq_encode(emb, los, his, bits=1)
    with pytest.raises(ValueError):
        Q.sq_encode(emb, los, his, bits=17)


def test_sq8_topk_recall_vs_exact(spark, emb):
    """SQ8 reconstruction error is tiny relative to inter-point
    distances on this data: the top-5 sets should almost coincide with
    exact brute force (>= 80% recall across 5 queries)."""
    los, his = Q.sq_train(emb)
    codes = Q.sq_encode(emb, los, his)
    q = (emb.where(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    got = (Q.sq_topk(codes, q, los, his, k=6)
           .where(F.col("vec_id") != F.col("q_id"))
           .toPandas())
    # ground truth: exact two-dot l2 ranking on the raw vectors
    from pyspark.sql import Window as W
    qv = q.select(F.col("q_id"), F.col("q_vec").alias("_qv"))
    d2 = (emb.crossJoin(F.broadcast(qv))
          .where(F.col("vec_id") != F.col("q_id"))
          .select("q_id", "vec_id",
                  F.round(S.dot(F.col("embedding"), F.col("embedding"))
                          - 2 * S.dot(F.col("embedding"), F.col("_qv")), 6)
                  .alias("d"))
          .withColumn("rn", F.row_number().over(
              W.partitionBy("q_id").orderBy("d", "vec_id")))
          .where(F.col("rn") <= 5).toPandas())
    hits = tot = 0
    for qid in d2.q_id.unique():
        truth = set(d2[d2.q_id == qid].vec_id)
        approx = set(got[got.q_id == qid].vec_id)
        hits += len(truth & approx)
        tot += len(truth)
    assert hits / tot >= 0.8, f"SQ8 recall {hits}/{tot}"


def test_ivf_sq_full_probe_equals_flat_sq(spark, emb):
    """Probing ALL cells must reproduce the flat SQ ranking exactly
    (cell pruning is the only approximation IVF adds); 2-probe must
    still find each seed vector's own row at adist ~ 0."""
    los, his = Q.sq_train(emb)
    idx = Q.ivf_sq_index(emb, los, his, n_cells=8)
    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    full = Q.ivf_sq_topk(idx, q, emb, los, his, k=5, n_probe=8,
                         n_cells=8).toPandas()
    flat = Q.sq_topk(Q.sq_encode(emb, los, his), q, los, his,
                     k=5).toPandas()
    key = ["q_id", "rn"]
    assert (full.sort_values(key)[["q_id", "vec_id", "adist", "rn"]]
            .values.tolist()
            == flat.sort_values(key)[["q_id", "vec_id", "adist", "rn"]]
            .values.tolist())
    two = Q.ivf_sq_topk(idx, q, emb, los, his, k=1, n_probe=2,
                        n_cells=8).toPandas()
    assert (two.vec_id == two.q_id).all()  # own row ranks first


def test_sq_append_equals_one_shot(spark, emb):
    """Two-batch append under pinned bounds + seeds is row-identical
    to the one-shot build (per-row pure functions over disjoint ids)."""
    b1 = emb.where(F.col("vec_id") % 2 == 0)
    b2 = emb.where(F.col("vec_id") % 2 == 1)
    los, his = Q.sq_train(emb)
    staged = Q.sq_append(
        Q.ivf_sq_index(b1, los, his, n_cells=8, seed_vectors=emb),
        b2, los, his, n_cells=8, seed_vectors=emb)
    oneshot = Q.ivf_sq_index(emb, los, his, n_cells=8, seed_vectors=emb)
    key = lambda r: (r.vec_id, r.cell, list(r.code))  # noqa: E731
    assert sorted(map(key, staged.collect())) == \
        sorted(map(key, oneshot.collect()))


def test_sq_staleness_signals_and_compact(spark, emb):
    """Drifted append under stale bounds: clamp fraction and MSE both
    rise; compaction (re-trained bounds) drives clamp to 0 and MSE
    back to the in-distribution level."""
    ev = emb.select("vec_id", "embedding")
    base = ev.where(F.col("vec_id") % 5 != 4)
    drift = (ev.where(F.col("vec_id") % 5 == 4)
             .select((F.col("vec_id") + 1000000).alias("vec_id"),
                     F.transform("embedding",
                                 lambda x: (x * F.lit(3.0)).cast("float"))
                     .alias("embedding")))
    un = base.unionByName(drift)
    los0, his0 = Q.sq_train(base)
    idx0 = Q.sq_append(
        Q.ivf_sq_index(base, los0, his0, n_cells=4, seed_vectors=base),
        drift, los0, his0, n_cells=4, seed_vectors=base)
    c0 = Q.sq_clamp_fraction(un, los0, his0).collect()[0]
    m0 = Q.sq_reconstruction_mse(un, idx0, los0, his0).collect()[0]
    assert c0.clamp_frac > 0.01 and c0.n_clamped > 0
    assert c0.n_values == un.count() * 64
    # in-distribution sanity: base under its own bounds clamps nothing
    cb = Q.sq_clamp_fraction(base, los0, his0).collect()[0]
    assert cb.n_clamped == 0
    idx1, los1, his1 = Q.sq_compact(un, n_cells=4, seed_vectors=un)
    c1 = Q.sq_clamp_fraction(un, los1, his1).collect()[0]
    m1 = Q.sq_reconstruction_mse(un, idx1, los1, his1).collect()[0]
    assert c1.n_clamped == 0
    assert m1.mse < m0.mse
    assert m0.n == m1.n == un.count()


def test_sq_segments_degenerate_and_mixed(spark, emb):
    """With identical bounds in both segments the mixed search equals
    plain ivf_sq_topk exactly; with different bounds each segment must
    dequantize under its own generation (cross-checked against the
    per-segment flat scores)."""
    ev = emb.select("vec_id", "embedding")
    los, his = Q.sq_train(ev)
    a = ev.where(F.col("vec_id") % 2 == 0)
    b = ev.where(F.col("vec_id") % 2 == 1)
    seg_a = Q.ivf_sq_index(a, los, his, n_cells=8, seed_vectors=ev)
    seg_b = Q.ivf_sq_index(b, los, his, n_cells=8, seed_vectors=ev)
    q = (ev.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    mixed = Q.ivf_sq_topk_segments(
        [(seg_a, los, his), (seg_b, los, his)], q, ev, k=5, n_probe=8,
        n_cells=8)
    whole = Q.ivf_sq_topk(
        seg_a.unionByName(seg_b), q, ev, los, his, k=5, n_probe=8,
        n_cells=8)
    key = lambda r: (r.q_id, r.rn, r.vec_id, r.adist)  # noqa: E731
    assert sorted(map(key, mixed.collect())) == \
        sorted(map(key, whole.collect()))
    with pytest.raises(ValueError):
        Q.ivf_sq_topk_segments([], q, ev)


def test_sampled_reconstruction_mse_deterministic_and_sane(spark):
    """sample_frac must pick a deterministic seeded-md5 subset: same
    seed -> identical (n, mse) on re-run; different seed -> (almost
    surely) different n; and the sampled estimate sits in the same
    ballpark as the full MSE (it is an unbiased mean estimate)."""
    from bodo_spark.operators import pq as PQ
    from bodo_spark.operators import sq as Q
    from bodo_spark.queries._util import tbl

    from .conftest import SF_DIR
    emb = tbl(spark, SF_DIR, "embeddings")
    los, his = Q.sq_train(emb)
    idx = Q.ivf_sq_index(emb, los, his, n_cells=4)
    full = Q.sq_reconstruction_mse(emb, idx, los, his).collect()[0]
    s1 = Q.sq_reconstruction_mse(emb, idx, los, his,
                                 sample_frac=0.5,
                                 sample_seed=3).collect()[0]
    s1b = Q.sq_reconstruction_mse(emb, idx, los, his,
                                  sample_frac=0.5,
                                  sample_seed=3).collect()[0]
    assert tuple(s1) == tuple(s1b)
    assert 0 < s1["n"] < full["n"]
    assert s1["mse"] <= 4 * full["mse"] and full["mse"] <= 4 * s1["mse"]
    # PQ twin shares the discipline
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=8)
    pidx = PQ.pq_encode(emb, cbs)
    pf = PQ.pq_reconstruction_mse(emb, pidx, cbs).collect()[0]
    ps = PQ.pq_reconstruction_mse(emb, pidx, cbs, sample_frac=0.5,
                                  sample_seed=3).collect()[0]
    assert 0 < ps["n"] < pf["n"]
    import pytest

    with pytest.raises(ValueError, match="quantize"):
        Q.sq_reconstruction_mse(emb, idx, los, his, sample_frac=0.001)


def test_bound_zip_equals_element_at_form(spark, emb):
    """sq_code_expr and sq_dequantize zip each element with one literal
    bounds struct; codes and reconstructions, schemas included, equal
    the per-element element_at lookups into two bound arrays -- over a
    constant dimension and a NaN-bounded one too."""
    los, his = Q.sq_train(emb)
    los[5] = his[5] = 0.25
    los[7] = his[7] = float("nan")
    lo = F.array(*[F.lit(v) for v in los])
    hi = F.array(*[F.lit(v) for v in his])

    def at(a, i):
        return F.element_at(a, i + 1)

    def code_ref(bits):
        levels = (1 << bits) - 1
        return F.transform("embedding", lambda x, i: F.when(
            at(hi, i) == at(lo, i), F.lit(0)).otherwise(F.least(
                F.lit(levels), F.greatest(F.lit(0), F.floor(
                    (x.cast("double") - at(lo, i)) / (at(hi, i) - at(lo, i))
                    * levels).cast("int")))).cast("int"))

    def dq_ref(bits):
        return F.transform("code", lambda v, i: at(lo, i) + v.cast("double")
                           * ((at(hi, i) - at(lo, i))
                              / F.lit(float((1 << bits) - 1))))

    def same(a, b):
        assert a.schema == b.schema
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        assert len(ra) == len(rb) == 500
        for (ia, va), (ib, vb) in zip(ra, rb):
            assert ia == ib and len(va) == len(vb)
            assert all(x == y or (x != x and y != y) for x, y in zip(va, vb))

    for bits in (8, 4):
        codes = emb.select("vec_id", Q.sq_code_expr(
            "embedding", los, his, bits=bits).alias("code"))
        same(codes, emb.select("vec_id", code_ref(bits).alias("code")))
        same(codes.select("vec_id", Q.sq_dequantize(
            "code", los, his, bits=bits).alias("dq")),
            codes.select("vec_id", dq_ref(bits).alias("dq")))
