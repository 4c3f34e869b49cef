"""Similarity search over embedding columns (array<float>).

Reference parity: the reference ships vector search as an S3 Vectors
sink/query (reference bodo/pandas/frame.py:721 to_s3_vectors,
series.py:2236 query_s3_vectors); here the engine itself provides
  - brute_force_topk: exact cosine top-k via expressions (baseline)
  - blocked_topk:     bucketed search -- prune to a candidate bucket set
  - topk_pandas:      Arrow-batched numpy matmul path (the single-node
                      throughput winner when k queries are broadcast)

Scale notes: brute force is one narrow pass over n rows per query
batch (no shuffle; top-k via per-partition heap then global limit).
The blocked variant prunes by a deterministic sign-bucket (LSH-style)
so each query touches ~n/2^b rows. The pandas path keeps the same plan
shape but does the dot products in BLAS.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold double dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def dot_sql(a: str, b: str) -> str:
    """``dot`` as SQL text over two array expressions: the same fold,
    parsed by ONE JVM call (``F.expr``) instead of one py4j round trip
    per Column node -- 126-300 of them for a Column-built dot."""
    return (f"aggregate(zip_with({a}, {b}, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "0.0D, (acc, x) -> acc + x)")


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def seeded_hash_sample_pred(id_col, frac: float, seed: int = 0) -> Column:
    """Deterministic seeded row-sample predicate: keep rows whose
    md5(seed:id) first hex byte falls under the quantized fraction
    (``frac`` rounds to n/256). md5 of the same string is identical in
    every engine (unlike xxhash64), so a DuckDB oracle re-derives the
    EXACT sample -- the property the sampled staleness gates pin; and
    it is content- and partitioning-independent, the train_pq_codebooks
    sampling requirement (a .sample().limit() would see only the first
    partitions). Lowercase fixed-width hex compares lexically ==
    numerically, so both engines can use a plain string comparison."""
    n = int(round(frac * 256))
    if not 1 <= n <= 256:
        raise ValueError(
            f"frac must quantize to [1/256, 1], got {frac}")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    if n == 256:
        # format(256,'02x') is the 3-char '100', and a LEXICAL compare
        # of 2-char prefixes against it keeps only '00'..'0f' -- frac=1
        # would silently sample ~6.6%. Every byte is < 256, so the
        # full-sample predicate is simply TRUE.
        return F.lit(True)
    return (F.substring(
        F.md5(F.concat(F.lit(f"{int(seed)}:"), c.cast("string"))),
        1, 2) < F.lit(format(n, "02x")))


def sign_bucket(vec: Column, bits: int = 4) -> Column:
    """LSH-ish bucket: sign pattern of the first ``bits`` components.
    Deterministic, computable on both engines."""
    out = None
    for j in range(bits):
        bit = F.when(F.element_at(vec, j + 1) >= 0, F.lit(2 ** j)) \
               .otherwise(F.lit(0))
        out = bit if out is None else out + bit
    return out.cast("int")


from ..plans import ensure_scan_width as _ensure_scan_width


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (desc), id asc.

    The query side is broadcast (small); scoring is a narrow map over
    the vector table; ranking is a window partitioned by query id.
    Scores are rounded to 6 digits before ranking so ordering is stable
    across float low-bits.
    """
    # Precompute each side's L2 norm ONCE (a per-row column) instead of
    # re-evaluating dot(v,v)/dot(q,q) inside cosine() for every
    # (vector, query) pair -- at q queries that saves 2q redundant
    # dim-length folds per row.
    v = (_ensure_scan_width(vectors)
         .withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))))
    q = queries.withColumn("_qn", F.sqrt(dot(F.col(q_vec_col), F.col(q_vec_col))))
    scored = (v.crossJoin(F.broadcast(q))
              .where(F.col(id_col) != F.col(q_id_col))
              .select(F.col(q_id_col), F.col(id_col),
                      F.round(dot(F.col(vec_col), F.col(q_vec_col))
                              / (F.col("_vn") * F.col("_qn")), 6)
                      .alias("cos")))
    w = W.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(q_id_col, id_col, "cos", F.col("rn").cast("bigint").alias("rn")))


def blocked_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Approximate top-k: only vectors sharing the query's sign-bucket
    are scored (2^bits-fold pruning; recall depends on data)."""
    v = (_ensure_scan_width(vectors)
         .withColumn("_bkt", sign_bucket(F.col(vec_col), bits))
         .withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))))
    q = (queries.withColumn("_qbkt", sign_bucket(F.col(q_vec_col), bits))
         .withColumn("_qn", F.sqrt(dot(F.col(q_vec_col), F.col(q_vec_col)))))
    scored = (v.join(F.broadcast(q), F.col("_bkt") == F.col("_qbkt"))
              .where(F.col(id_col) != F.col(q_id_col))
              .select(F.col(q_id_col), F.col(id_col),
                      F.round(dot(F.col(vec_col), F.col(q_vec_col))
                              / (F.col("_vn") * F.col("_qn")), 6)
                      .alias("cos")))
    w = W.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(q_id_col, id_col, "cos", F.col("rn").cast("bigint").alias("rn")))


def train_ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 8,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 0,
    vec_col: str = "embedding",
    coarse_dim: int = 16,
) -> list:
    """Spherical k-means over a bounded driver-side sample -> centroid
    list for ivf_topk(centroids=...).

    Scale design: the TRAINING set is a fixed-size random sample
    (seeded, so deterministic per (data, seed)) -- collecting it is
    O(sample_size * coarse_dim), independent of corpus size; the
    k-means itself is a few numpy matmuls on that sample. The trained
    centroids then broadcast exactly like the lowest-id ones, so the
    ivf_topk plan shape is unchanged. Training happens in the SAME
    truncated coarse subspace the quantizer routes in (training
    full-dim then routing truncated would optimize the wrong metric).

    The lowest-id mode remains the oracle-deterministic default in
    ivf_topk; this is the recall path for real distributions (the
    reference delegates to a managed index, bodo/pandas/frame.py:721)."""
    import numpy as np

    # hash-ordered sample (see train_pq_codebooks): .sample().limit()
    # keeps only the FIRST partitions' sampled rows, so appended-batch
    # tails never reach training -- the probe-caught compaction defect.
    sample = (vectors.select(vec_col)
              .orderBy(F.xxhash64(F.lit(seed), F.col(vec_col)))
              .limit(sample_size).collect())
    X = np.array([list(r[0])[:coarse_dim] for r in sample],
                 dtype=np.float64)
    if len(X) == 0:
        raise ValueError("train_ivf_centroids: empty sample")
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = X / norms
    rng = np.random.default_rng(seed)
    k = min(n_centroids, len(Xn))
    C = Xn[rng.choice(len(Xn), size=k, replace=False)]
    for _ in range(iters):
        sim = Xn @ C.T
        labels = np.argmax(sim, axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = Xn[labels == j]
            if len(members) == 0:
                # re-seed an empty cell to the worst-served point
                worst = int(np.argmin(np.max(sim, axis=1)))
                newC[j] = Xn[worst]
            else:
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                newC[j] = m / nm if nm > 0 else m
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    return [c.astype(np.float32) for c in C]


def _centroid_table(vectors: DataFrame, centroids: list | None,
                    n_centroids: int, coarse_dim: int, id_col: str,
                    vec_col: str) -> DataFrame:
    """The tiny (_cid, _cvec, _cn) centroid frame both IVF and SemDeDup
    broadcast: explicit centroid list if given (train_ivf_centroids),
    else the n lowest-id vectors -- deterministic, so a SQL oracle can
    re-derive the identical cells."""
    if centroids is not None:
        # array<double>, not array<float>: the gemm assigner
        # (cell_assigner_udf) ranks against float64 centroid values, so
        # the probe side must carry the SAME representation -- a float32
        # downcast here could route a near-tie vector to a cell the
        # matching query never probes (silent recall loss). float32
        # inputs (train_ivf_centroids) are unchanged: their float64
        # image is exact.
        rows = [(i, [float(x) for x in list(c)[:coarse_dim]])
                for i, c in enumerate(centroids)]
        from ..rowframe import local_df
        return (local_df(vectors.sparkSession, rows,
                         "_cid bigint, _cvec array<double>")
                .withColumn("_cn",
                            F.sqrt(dot(F.col("_cvec"), F.col("_cvec")))))
    trunc = F.slice(F.col("_cvec"), 1, coarse_dim)
    return (vectors.select(F.col(id_col).alias("_cid"),
                           F.col(vec_col).alias("_cvec"))
            .orderBy("_cid").limit(n_centroids)
            .withColumn("_cvec", trunc)
            .withColumn("_cn",
                        F.sqrt(dot(F.col("_cvec"), F.col("_cvec")))))


def _cell_cosines(df: DataFrame, cents: DataFrame, vec_col: str,
                  coarse_dim: int) -> DataFrame:
    """Every row x the broadcast centroid table, with ``_ccos`` the
    cosine of the row's first ``coarse_dim`` components against the
    centroid, rounded to 9 dp -- the one routing score every IVF path
    ranks cells by (rows x n_centroids narrow intermediates; no literal
    expression trees, which cost seconds of codegen at even 8x64
    floats). SQL text: one JVM parse, not one py4j call per node."""
    tv = f"slice({sql_ident(vec_col)}, 1, {int(coarse_dim)})"
    return (df.crossJoin(F.broadcast(cents))
            .withColumn("_ccos", F.expr(
                f"round({dot_sql(tv, '_cvec')} "
                f"/ (sqrt({dot_sql(tv, tv)}) * _cn), 9)")))


def assign_nearest_cell(df: DataFrame, cents: DataFrame, *, vec_col: str,
                        key_col: str, coarse_dim: int = 16,
                        out_col: str = "_cell") -> DataFrame:
    """Nearest-centroid id per row: broadcast cross join against the
    tiny centroid table, max_by reduction keyed on (cosine, -cid) --
    the map-side partial combine collapses the n_centroids candidate
    rows per key BEFORE the exchange, so the shuffle carries one row
    per input row and no sort happens (1/n_centroids the shuffle rows
    of a window rank; with a widened corpus scan this measured 8.4 ->
    4.2 s on the assignment-dominated ann_ivf_topk at the 100x probe).
    Ties are impossible: _cid is unique."""
    scored = _cell_cosines(df, cents, vec_col, coarse_dim)
    val = F.struct(*[F.col(c) for c in df.columns],
                   F.col("_cid").alias(out_col))
    ordkey = F.struct(F.col("_ccos").alias("c"), (-F.col("_cid")).alias("nc"))
    return (scored.groupBy(key_col)
            .agg(F.max_by(val, ordkey).alias("_m"))
            .select("_m.*"))


def probe_cells(df: DataFrame, cents: DataFrame, *, n_probe: int,
                vec_col: str, key_col: str, coarse_dim: int = 16,
                out_col: str = "cell") -> DataFrame:
    """The ``n_probe`` nearest cells per row (the query-side IVF probe):
    ``df``'s columns plus ``out_col``, one row per probed cell, ranked
    by (cosine desc, lowest cid) in a window per ``key_col`` -- the
    n > 1 twin of assign_nearest_cell, for the tiny query side."""
    w = W.partitionBy(key_col).orderBy(F.col("_ccos").desc(), F.col("_cid"))
    return (_cell_cosines(df, cents, vec_col, coarse_dim)
            .withColumn("_crn", F.row_number().over(w))
            .where(F.col("_crn") <= n_probe)
            .select(*df.columns, F.col("_cid").alias(out_col)))


def probe_cells_local(qvecs: list, cent_rows: list, *, n_probe: int,
                      coarse_dim: int = 16) -> list | None:
    """The driver twin of probe_cells for a bounded query batch: per
    query vector, its ``n_probe`` cell ids ranked by (round-half-up 9 dp
    cosine desc, lowest ``_cid``), from the ``(_cid, _cvec, _cn)``
    centroid rows as plain dicts. The cosine is cell_assigner_udf's
    (unit rows, one gemm), which can differ from the JVM's sequential
    fold only in the last bits, so this is a fast-mode path. Returns
    None -- the caller keeps the Spark probe -- where the JVM cosine is
    null or NaN: a null, short or non-finite vector, or a zero norm on
    either side."""
    import numpy as np

    if not qvecs or not cent_rows or any(v is None for v in qvecs):
        return None
    cids = np.array([r["_cid"] for r in cent_rows])
    C = [list(r["_cvec"] or []) for r in cent_rows]
    X = [list(v)[:coarse_dim] for v in qvecs]
    width = len(C[0])
    if not 0 < width <= coarse_dim or any(len(v) != width for v in C + X):
        return None
    C, X = (np.array(M, dtype=np.float64) for M in (C, X))
    if not (np.isfinite(C).all() and np.isfinite(X).all()
            and np.linalg.norm(C, axis=1).all()
            and np.linalg.norm(X, axis=1).all()):
        return None
    sim = _cell_cosines_np(X, _unit_rows(C))
    return [[int(cids[i]) for i in np.lexsort((cids, -row))[:n_probe]]
            for row in sim]


def _round_half_up(x, ndigits: int):
    """numpy twin of Spark's F.round (HALF_UP, away from zero):
    np.round is banker's rounding (HALF_EVEN), which can disagree with
    the JVM on exactly-representable .5 boundaries -- the expr<->blas
    survivor-identity claims require the same tie rule on both paths."""
    import numpy as np
    f = 10.0 ** ndigits
    return np.sign(x) * np.floor(np.abs(x) * f + 0.5) / f


def semantic_dedup(vectors: DataFrame, *, n_cells: int = 8,
                   eps: float = 0.9, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   centroids: list | None = None,
                   coarse_dim: int = 16,
                   scorer: str = "expr") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication of an embedding-indexed corpus. Cluster the embedding
    space with k-means; WITHIN each cluster, any vector whose cosine to
    a lower-id cluster-mate is >= ``eps`` is a semantic duplicate and
    is dropped (keep-first -- deterministic, so the DuckDB oracle
    reproduces the survivor set exactly). Returns the surviving rows.

    Scale design: centroids broadcast; assignment is the same
    map-side-combined max_by pass IVF uses (one narrow shuffle, on the
    row key); the duplicate test is a self-join ON the cell id -- the
    one hash shuffle, partitioned by cell. The intra-cell pair cost is
    the algorithm's intrinsic O(sum c_i^2); SemDeDup's published
    mitigation is k proportional to corpus size (50k clusters for
    LAION-440M, keeping cells at ~10^4 rows), which this shape inherits
    directly: more cells = smaller c_i with an unchanged plan. Pass
    ``centroids=train_ivf_centroids(...)`` for real k-means cells; the
    default lowest-id seeding is the oracle-deterministic gate mode.
    Duplicate decision uses full-dimension cosine rounded to 6 dp
    (routing uses the truncated coarse subspace, as in IVF).

    ``scorer``: 'expr' (default) scores with JVM expressions --
    oracle-exact, right at gate sizes; 'blas' (requires driver-side
    ``centroids``) vectorizes BOTH stages: assignment as one
    (batch x k) gemm per Arrow batch in a scalar pandas_udf (no
    crossJoin -- the n*k interpreted fold-dots, not pair scoring, were
    the measured bottleneck) and within-cell scoring as one numpy gram
    matrix per cell via applyInPandas. Measured 149.7 -> 7.2 s on
    200k x 64d at 781 trained cells, survivor-identical (SCALE.md r9).
    Same expr<->BLAS duality as embedding_neardup_pairs' scorer."""
    from pyspark import StorageLevel

    from .dedup import _PERSISTED

    if scorer == "blas" and centroids is None:
        # the deterministic lowest-id seeds are a bounded driver
        # collect (n_cells rows of coarse_dim floats) -- fetching them
        # makes the gemm assignment available without trained centroids
        rows = (vectors.select(id_col, vec_col).orderBy(id_col)
                .limit(n_cells).collect())
        centroids = [list(r[vec_col])[:coarse_dim] for r in rows]
    if scorer == "blas" and centroids is not None:
        # vectorized assignment: the centroid matrix is driver-side
        # already, so the gemm assigner does one (batch x k) gemm per
        # Arrow batch -- NO crossJoin, NO shuffle (the expr path's
        # broadcast-crossJoin max_by materializes n*k rows of
        # interpreted fold-dots; at 200k x 781 cells that assignment --
        # not pair scoring -- was the probe's bottleneck)
        assigned = (_ensure_scan_width(vectors)
                    .withColumn("_cell", cell_assigner_udf(
                        centroids, coarse_dim)(F.col(vec_col))))
    else:
        cents = _centroid_table(vectors, centroids, n_cells, coarse_dim,
                                id_col, vec_col)
        assigned = assign_nearest_cell(_ensure_scan_width(vectors), cents,
                                       vec_col=vec_col, key_col=id_col,
                                       coarse_dim=coarse_dim)
    # persist: the assignment subtree feeds BOTH sides of the cell
    # self-join AND the final anti join -- without this the corpus-wide
    # assignment pass runs three times (released by
    # dedup.unpersist_cached)
    v = (assigned
         .withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col))))
         .persist(StorageLevel.MEMORY_AND_DISK))
    _PERSISTED.append(v)
    if scorer == "blas":
        import numpy as np

        def drop_in_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) < 2:
                return pd.DataFrame({"_did": np.array([], dtype="int64")})
            pdf = pdf.sort_values("_id").reset_index(drop=True)
            X = np.array(pdf["_vec"].tolist(), dtype=np.float64)
            nrm = np.linalg.norm(X, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            G = _round_half_up((X / nrm) @ (X / nrm).T, 6)
            # row i is dropped iff some EARLIER (lower-id) row matches
            hit = (np.tril(G, -1) >= eps).any(axis=1)
            return pd.DataFrame({"_did": pdf["_id"][hit].to_numpy()})

        dropped = (v.select(F.col(id_col).alias("_id"),
                            F.col(vec_col).alias("_vec"), "_cell")
                   .groupBy("_cell")
                   .applyInPandas(drop_in_cell, "_did long")
                   .select(F.col("_did").alias(id_col)))
    else:
        right = v.select(F.col(id_col).alias("_rid"),
                         F.col(vec_col).alias("_rvec"),
                         F.col("_vn").alias("_rn"), "_cell")
        # zero-norm guard: dot/(0*x) is NaN, and NaN >= eps is TRUE in
        # Spark SQL (NaN sorts above every double) -- the blas path
        # clamps zero norms to 1 giving cos 0, so mirror that exactly
        # or the two scorers diverge on zero vectors
        cos = F.when(F.col("_vn") * F.col("_rn") > 0,
                     F.round(dot(F.col(vec_col), F.col("_rvec"))
                             / (F.col("_vn") * F.col("_rn")), 6)) \
               .otherwise(F.lit(0.0))
        dropped = (v.join(right, "_cell")
                   .where(F.col("_rid") < F.col(id_col))
                   .where(cos >= F.lit(eps))
                   .select(F.col(id_col)).distinct())
    return (v.join(dropped, id_col, "left_anti")
            .drop("_cell", "_vn"))


def cell_assigner_udf(centroids: list, coarse_dim: int = 16):
    """Shuffle-free nearest-cell assignment as a scalar pandas_udf
    (one (batch x k) gemm per Arrow batch): the streaming-legal twin
    of assign_nearest_cell -- no crossJoin, no aggregation, so it runs
    identically inside a micro-batch plan. Rounding and tie rule
    mirror assign_nearest_cell exactly (round(cos, 9), ties to the
    lowest cid via first-argmax)."""
    import numpy as np

    Cn = _unit_rows(np.array([list(c)[:coarse_dim] for c in centroids],
                             dtype=np.float64))

    @F.pandas_udf("long")
    def _cell_of(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)[:, :coarse_dim]
        return pd.Series(np.argmax(_cell_cosines_np(X, Cn),
                                   axis=1).astype("int64"))

    return _cell_of


def _unit_rows(M):
    """The rows of float64 matrix ``M`` scaled to unit l2 norm (a zero
    row stays zero)."""
    import numpy as np
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-300)


def _cell_cosines_np(X, Cn):
    """``_ccos`` in numpy: round-half-up 9 dp cosine of every row of
    ``X`` against every unit centroid row of ``Cn`` -- one gemm, shared
    by the gemm cell assigner and the driver probe."""
    return _round_half_up(_unit_rows(X) @ Cn.T, 9)


def semantic_cell_index(vectors: DataFrame, centroids: list, *,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        coarse_dim: int = 16) -> DataFrame:
    """The durable SemDeDup ingest artifact: the corpus with its cell
    assignment, ``(id_col, vec_col, cell)`` -- write it to parquet once
    and every future batch dedups against it without re-assigning the
    corpus (the r9 index-once pattern: MinHash signature index, Bloom
    word table, gram/line indexes -- now for the semantic tier)."""
    return (_ensure_scan_width(vectors)
            .select(id_col, vec_col)
            .withColumn("cell",
                        cell_assigner_udf(centroids, coarse_dim)(
                            F.col(vec_col))))


def semantic_dedup_between(batch: DataFrame, index: DataFrame,
                           centroids: list, *, eps: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           coarse_dim: int = 16) -> DataFrame:
    """Incremental SemDeDup: keep only the batch rows that are NOT a
    semantic duplicate of the INDEXED corpus (cosine >= eps to any
    same-cell index member). The corpus already holds the canonical
    copy of everything it contains, so every batch hit is
    non-canonical by construction -- work is proportional to
    batch x cell-occupancy, never corpus x corpus (intra-batch
    first-occurrence resolution stays semantic_dedup's job, run at
    index-append time).

    Streaming-legal by construction (this IS the streaming twin's
    kernel, streaming/dedup.stream_semantic_new_rows): assignment is
    the shuffle-free gemm pandas_udf, and the duplicate test is ONE
    stream-static LEFT ANTI join on (cell, cosine >= eps) -- no
    aggregation, no state. Zero-norm vectors score cosine 0 against
    everything (the semantic_dedup guard, mirrored)."""
    a = (batch.withColumn(
        "_cell", cell_assigner_udf(centroids, coarse_dim)(F.col(vec_col)))
        .withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))))
    idx = index.select(F.col("cell").alias("_icell"),
                       F.col(vec_col).alias("_ivec"))
    idx = idx.withColumn("_in", F.sqrt(dot(F.col("_ivec"), F.col("_ivec"))))
    cos = F.when(F.col("_vn") * F.col("_in") > 0,
                 F.round(dot(F.col(vec_col), F.col("_ivec"))
                         / (F.col("_vn") * F.col("_in")), 6)) \
           .otherwise(F.lit(0.0))
    cond = (F.col("_cell") == F.col("_icell")) & (cos >= F.lit(eps))
    return a.join(idx, cond, "left_anti").drop("_cell", "_vn")


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    centroids: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a coarse quantizer assigns
    every vector to its nearest centroid; each query scores only the
    vectors in its ``n_probe`` closest cells (~n_probe/n_centroids of
    the corpus).

    Scale design: centroids are a tiny broadcast table (n_centroids x
    dim); cell assignment is a narrow per-row expression (no shuffle);
    the probe join hash-partitions on cell id -- the single shuffle.
    This is the classic IVF-Flat layout (the reference delegates vector
    search to a managed index, bodo/pandas/frame.py:721; here the
    engine provides the index itself).

    Centroid choice: by default the ``n_centroids`` lowest-id vectors --
    deterministic, so results are engine-reproducible (the DuckDB
    oracle re-derives the identical cells). Pass
    ``centroids=train_ivf_centroids(...)`` for sampled-k-means cells
    (better recall on clustered distributions); the plan shape is
    identical either way.
    """
    # Coarse quantizer works in a TRUNCATED subspace (first ``coarse_dim``
    # components): cell assignment is a routing decision, not a scoring
    # one, so reduced precision is the standard IVF trade -- it cuts the
    # corpus-wide assignment pass (the operator's dominant cost; the
    # fold-based dot is interpreted per element) by dim/coarse_dim while
    # candidate scoring below stays full-precision.
    coarse_dim = 16
    cents = _centroid_table(vectors, centroids, n_centroids, coarse_dim,
                            id_col, vec_col)
    v = assign_nearest_cell(
        _ensure_scan_width(vectors)
        .withColumn("_vn", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))),
        cents, vec_col=vec_col, key_col=id_col, coarse_dim=coarse_dim)
    q = probe_cells(
        queries.withColumn("_qn",
                           F.sqrt(dot(F.col(q_vec_col), F.col(q_vec_col)))),
        cents, n_probe=n_probe, vec_col=q_vec_col, key_col=q_id_col,
        coarse_dim=coarse_dim, out_col="_cell") \
        .select(q_id_col, q_vec_col, "_qn", "_cell")
    scored = (v.join(F.broadcast(q), "_cell")
              .where(F.col(id_col) != F.col(q_id_col))
              .select(F.col(q_id_col), F.col(id_col),
                      F.round(dot(F.col(vec_col), F.col(q_vec_col))
                              / (F.col("_vn") * F.col("_qn")), 6)
                      .alias("cos")))
    w = W.partitionBy(q_id_col).orderBy(F.col("cos").desc(), F.col(id_col))
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(q_id_col, id_col, "cos",
                    F.col("rn").cast("bigint").alias("rn")))


def topk_pandas(
    vectors: DataFrame,
    query_matrix: "pd.DataFrame",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched BLAS path: queries (id, vector) are shipped to every
    partition; each batch does one numpy matmul and emits its local
    top-k; a final window keeps the global top-k. At 1000 executors this
    is the throughput plan: n_rows x dim GEMM per batch, k*q rows out.
    """
    import numpy as np
    spark = vectors.sparkSession
    q_ids = query_matrix["q_id"].to_numpy()
    qm = np.stack(query_matrix["q_vec"].to_numpy()).astype("float64")
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bqm = spark.sparkContext.broadcast(qm)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            vm /= np.maximum(np.linalg.norm(vm, axis=1, keepdims=True), 1e-12)
            sims = vm @ bqm.value.T  # (n, q)
            # k+1 local candidates: self-matches are filtered AFTER the
            # local top-k, so a batch containing the query's own vector
            # must still surrender k non-self rows
            n_loc = min(k + 1, sims.shape[0])
            idx = np.argpartition(-sims, n_loc - 1, axis=0)[:n_loc]
            out = {
                "q_id": np.repeat(bq_ids.value, n_loc),
                id_col: pdf[id_col].to_numpy()[idx.T.ravel()],
                "cos": np.round(np.take_along_axis(sims, idx, 0).T.ravel(), 6),
            }
            yield pd.DataFrame(out)

    schema = f"q_id long, {id_col} long, cos double"
    local = vectors.select(id_col, vec_col).mapInPandas(score, schema)
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col(id_col))
    return (local.where(F.col(id_col) != F.col("q_id"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select("q_id", id_col, "cos", F.col("rn").cast("bigint").alias("rn")))


def auto_block_bits(n: int, target_per_block: int = 128,
                    lo: int = 4, hi: int = 16) -> int:
    """Sign-bucket width that keeps expected block occupancy ~target:
    bits = ceil(log2(n / target)), clamped. The 10x scale exercise
    (SCALE.md) showed why this must GROW with the corpus: at fixed
    bits, occupancy rises linearly and candidate pairs quadratically
    (4-bit blocking measured 11x wall at 10x data; 8-bit restored
    sublinearity)."""
    import math
    if n <= target_per_block:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_per_block))))


def auto_scorer(n: int, block_bits: int,
                pair_cutover: int = 15_000_000) -> str:
    """Pick the pair-scoring backend from the ESTIMATED candidate-pair
    count n * (n / 2^bits) / 2, not from corpus bytes: interpreted
    Catalyst folds cost ~O(dim) per pair (fine to ~10M pairs), while
    the per-block numpy matmul amortizes to a few ns per pair but pays
    an Arrow round-trip for the whole corpus. The 1000x probe is the
    motivating data point: at 2M vectors / 14 bits the candidate set is
    ~122M pairs and the expr path went 8.7x for 3.3x data; blas keeps
    the segment linear. Below the cutover, expr stays the default --
    pure JVM, no Python workers in the plan."""
    est_pairs = n * (n / float(1 << block_bits)) / 2.0
    return "blas" if est_pairs >= pair_cutover else "expr"


def embedding_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    block_col: str | None = None,
    block_bits: int | str | None = "auto",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scorer: str = "expr",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >=
    threshold), blocked to bound the quadratic join.

    Block key, in priority order: ``block_col`` if given (must be a
    BOUNDED-cardinality key whose block sizes stay O(1) as the corpus
    grows -- an LSH bucket or length band, never a semantic label);
    else the ``block_bits``-bit sign-bucket LSH of the vector itself
    (2^bits blocks, so per-block pair count shrinks quadratically with
    added bits -- grow bits with the corpus). ``block_bits=None`` with
    no block_col means all-pairs: only valid on provably small inputs.
    High-cosine pairs almost always share the sign pattern, so recall
    loss at near-dup thresholds is minimal; the DuckDB oracle mirrors
    the same blocking, so results are engine-exact.

    ``scorer``: "expr" (default) scores pairs with Catalyst fold
    expressions -- pure JVM, the oracle-checked path. "blas" scores
    each block's pairs with one numpy matmul in applyInPandas -- the
    scale path when within-block pair counts make interpreted
    per-element folds the bottleneck (measured 96 s -> 3.8 s, 25x, on
    a 200k-vector corpus with 8.2M candidate pairs; identical output).
    Same blocking, same round-6 cosines, same (id_a < id_b) contract.
    "auto" picks between them from the estimated candidate-pair count
    (see auto_scorer) -- expr below the cutover, blas above it.
    """
    n_rows = None
    if block_bits == "auto" or scorer == "auto":
        # one count job; bits track corpus size so block occupancy (and
        # with it the quadratic within-block pair count) stays bounded
        n_rows = vectors.count()
    if block_bits == "auto":
        block_bits = auto_block_bits(n_rows)
    if scorer == "auto":
        scorer = (auto_scorer(n_rows, block_bits)
                  if block_bits is not None and not block_col
                  else "expr")
    if block_bits is not None and block_bits <= 0:
        raise ValueError(
            "block_bits must be >= 1; pass block_bits=None to request an "
            "explicit all-pairs comparison (quadratic -- small inputs only)")
    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    d = vectors.select(*cols)
    if block_col:
        d = d.withColumn("blk", vectors[block_col])
    elif block_bits is not None:
        d = d.withColumn("blk", sign_bucket(F.col("v"), block_bits))
    else:
        d = d.withColumn("blk", F.lit(1))
    if scorer == "blas":
        import numpy as np

        thr = float(threshold)

        def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf["id"].to_numpy()
            X = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["v"]])
            n = np.linalg.norm(X, axis=1)
            n[n == 0] = 1.0
            C = np.round((X @ X.T) / np.outer(n, n), 6)
            iu, ju = np.triu_indices(len(ids), k=1)
            # id_a < id_b contract regardless of within-block order
            a, b = ids[iu], ids[ju]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            cos = C[iu, ju]
            keep = cos >= thr
            return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep],
                                 "cos": cos[keep]})

        # same byte-vs-work lesson as the expr path below: the matmul
        # work is O(sum block_size^2) while AQE sizes the groupBy
        # exchange by Arrow BYTES (a 2M x 64-float corpus is ~1 GB ->
        # ~16 post-coalesce partitions on a 64 MB advisory = half the
        # cluster idle). Explicit hash distribution on blk at cluster
        # width is exempt from AQE coalescing, and groupBy reuses it
        # (no second exchange).
        npart = max(d.sparkSession.sparkContext.defaultParallelism, 16)
        return (d.repartition(npart, F.col("blk"))
                .groupBy("blk")
                .applyInPandas(score_block,
                               "id_a long, id_b long, cos double"))

    # per-row norm computed once below the self-join (not per pair)
    d = d.withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    # Scoring work is O(pairs) = O(sum block_size^2), NOT O(input
    # bytes) -- both the parquet file-split parallelism AND AQE's
    # byte-targeted coalescing mis-size this stage (a 200k-vector
    # corpus is ~50 MB = one scan partition / one post-coalesce
    # partition, so ~10M candidate pairs score on ONE core; measured
    # 51 s -> 2 s at the 100x probe). Hash-distribute on blk at an
    # EXPLICIT partition count (user-specified counts are exempt from
    # AQE coalescing) = cluster width; blocks are occupancy-bounded by
    # auto_block_bits, so tasks stay even. Both join sides share the
    # partitioning, so the join adds no second shuffle.
    npart = max(d.sparkSession.sparkContext.defaultParallelism, 16)
    if block_col or block_bits is not None:
        d = d.repartition(npart, F.col("blk"))
    else:
        # all-pairs mode: blk is the constant lit(1) -- hashing it would
        # collapse every row into ONE partition and serialize scoring.
        # Round-robin keeps the scan work-parallel; the constant-key
        # equi-join broadcasts the (provably small) side under AQE.
        d = d.repartition(npart)
    a = d.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"),
                 F.col("nrm").alias("n_a"), "blk")
    b = d.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"),
                 F.col("nrm").alias("n_b"), "blk")
    pairs = a.join(b, "blk").where(F.col("id_a") < F.col("id_b"))
    return (pairs.select(
        "id_a", "id_b",
        F.round(dot(F.col("v_a"), F.col("v_b"))
                / (F.col("n_a") * F.col("n_b")), 6).alias("cos"))
        .where(F.col("cos") >= threshold))
