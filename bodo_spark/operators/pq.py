"""Product-quantization ANN: the compression tier under IVF.

PQ (Jegou et al. 2011, "Product Quantization for Nearest Neighbor
Search"): split each d-dim vector into ``m`` subvectors, quantize each
subvector against its own ``k``-codeword codebook, and store only the
m small code ids. ADC (asymmetric distance computation) then scores a
query against the CODES: per query, an m x k lookup table of exact
subspace distances is built once, and every corpus row costs m table
lookups instead of d multiplies.

Scale design (the reason PQ exists): the encoded corpus is m ints per
vector instead of d floats -- 16-64x smaller, which is the lever that
keeps a 100-TB embedding corpus's search structure inside cluster
memory. The codes frame is the durable artifact (write it to parquet
next to the raw vectors; scans of the raw corpus happen once, at
encode time). Scoring shuffles NOTHING: the per-query LUTs are a tiny
broadcast and the top-k window partitions by query id.

Distance bookkeeping: for a fixed query, argmin over l2(q, x) is
unchanged by dropping the ||q||^2 term, so both the encoder and the
ADC scorer rank by the two-dot form ``dot(c, c) - 2 * dot(v, c)``
(rounded to 9 dp; ties to the lowest code id / corpus id). This keeps
every floating-point term a sequential-fold dot product -- the exact
shape the DuckDB oracles already reproduce bit-for-bit -- and never
forms the cancellation-prone three-term difference.

The IVF-PQ index (routing, stored serving, append/compact lifecycle)
is ivf.py's with the ``PQ`` codec below; the IVF functions here keep
the PQ-specific names and signatures as thin wrappers.

Reference parity: the reference delegates vector search to a managed
external index (bodo/pandas/frame.py:721 S3 Vectors); here the engine
provides the index structure itself, like ivf_topk and the IVF
centroid trainer (operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import ivf
from .ivf import Codec, _topk_by_adist
from .similarity import _ensure_scan_width, _round_half_up, dot

__all__ = ["lowest_id_pq_codebooks", "train_pq_codebooks", "pq_encode",
           "pq_topk", "pq_search", "ivf_pq_index", "ivf_pq_topk",
           "pq_reconstruction_mse", "pq_compact", "pq_append",
           "ivf_pq_topk_segments", "pq_store_index", "pq_stored_topk",
           "pq_stored_append", "pq_stored_compact"]


def lowest_id_pq_codebooks(vectors: DataFrame, *, m: int = 4, k: int = 16,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> list:
    """Deterministic codebooks: the ``k`` lowest-id vectors, each split
    into ``m`` subvectors -- codeword ``c`` of subspace ``j`` is the
    j-th slice of the (c+1)-th lowest-id vector. A bounded k-row
    collect (like the IVF centroid table); deterministic, so a SQL
    oracle re-derives the identical codebooks. Returns
    ``cbs[j][c] = list[float]`` of length d/m."""
    rows = (vectors.select(id_col, vec_col).orderBy(id_col)
            .limit(k).collect())
    if len(rows) < k:
        raise ValueError(f"need >= {k} vectors, got {len(rows)}")
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [[[float(x) for x in r[vec_col][j * d:(j + 1) * d]]
             for r in rows] for j in range(m)]


def train_pq_codebooks(vectors: DataFrame, *, m: int = 8, k: int = 256,
                       sample_size: int = 4096, iters: int = 10,
                       seed: int = 0, vec_col: str = "embedding") -> list:
    """Production codebooks: per-subspace k-means over ONE bounded
    seeded driver sample (the train_ivf_centroids recipe -- collecting
    it is O(sample_size * d) regardless of corpus size). Lloyd
    iterations per subspace are a few numpy matmuls on the sample."""
    import numpy as np

    # hash-ordered sample, NOT .sample(frac).limit(n): limit takes the
    # FIRST partitions' rows, so after .sample a corpus whose tail
    # partitions hold an appended (drifted) batch trains on ZERO rows of
    # it -- probe_pq_lifecycle measured compaction silently not
    # compacting (drift MSE unchanged at 10x). Ordering by a seeded
    # content hash is uniform over rows, order- and
    # partitioning-independent, and compiles to TakeOrderedAndProject
    # (per-partition top-n + driver merge, no global sort).
    sample = (vectors.select(vec_col)
              .orderBy(F.xxhash64(F.lit(seed), F.col(vec_col)))
              .limit(sample_size).collect())
    X = np.array([list(r[vec_col]) for r in sample], dtype=np.float64)
    if len(X) < k:
        raise ValueError(f"sample {len(X)} smaller than k={k}")
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    rng = np.random.default_rng(seed)
    cbs = []
    for j in range(m):
        S = X[:, j * d:(j + 1) * d]
        C = S[rng.choice(len(S), size=k, replace=False)].copy()
        for _ in range(iters):
            # argmin l2 via the same two-dot form the engine ranks by
            dist = (C * C).sum(axis=1)[None, :] - 2.0 * (S @ C.T)
            a = dist.argmin(axis=1)
            # re-seed empty clusters to the worst-served point (largest
            # distance to its assigned centroid -- the train_ivf_centroids
            # recipe): a stale centroid would duplicate a codeword and
            # waste code space
            best = dist.min(axis=1)
            for c in range(k):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
                else:
                    worst = int(np.argmax(best))
                    C[c] = S[worst]
                    best[worst] = -np.inf  # don't reuse for another empty
        cbs.append([[float(x) for x in row] for row in C])
    return cbs


def _codebook_frame(spark, cbs: list) -> DataFrame:
    """(_j, _cid, _cw, _cc) rows -- the tiny broadcast table both the
    encoder and the LUT builder cross-join against (m*k rows; literal
    expression trees at m*k*d floats cost seconds of codegen, the same
    trap the IVF centroid table avoids)."""
    rows = [(j, c, cw) for j, book in enumerate(cbs)
            for c, cw in enumerate(book)]
    from ..rowframe import local_df
    return (local_df(spark, rows, "_j int, _cid int, _cw array<double>")
            .withColumn("_cc", dot(F.col("_cw"), F.col("_cw"))))


def _books(codebooks: list):
    """numpy codebooks ``CW[j]`` (k x d) and their squared norms
    ``CC[j]`` -- the driver- and worker-side form of _codebook_frame."""
    import numpy as np
    CW = [np.array(b, dtype=np.float64) for b in codebooks]
    return CW, [(c * c).sum(axis=1) for c in CW]


def _blas_encoder(codebooks: list):
    """The blas PQ encode kernel: ``codes_of(X)`` maps an (n x dim)
    float64 batch to its (n x m) int32 nearest-codeword ids -- one
    (n x k) gemm per subspace on the round-half-up 9 dp two-dot
    distance, first-min ties (code-identical to pq_encode's 'expr'
    path by construction)."""
    import numpy as np
    CW, CC = _books(codebooks)
    m, d = len(CW), CW[0].shape[1]

    def codes_of(X):
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * d:(j + 1) * d]
            dist = _round_half_up(CC[j][None, :] - 2.0 * (S @ CW[j].T), 9)
            codes[:, j] = dist.argmin(axis=1)  # first-min tie
        return codes
    return codes_of


def _blas_encode(rows: DataFrame, codebooks: list, *, id_col: str,
                 vec_col: str, out_col: str = "code",
                 cell_col: str | None = None) -> DataFrame:
    """``(id_col[, cell], out_col)`` from ``(id_col[, cell_col],
    vec_col)`` rows: the blas encode kernel per Arrow batch
    (mapInPandas -- no join, no shuffle), passing the cell through."""
    import numpy as np
    import pandas as pd
    codes_of = _blas_encoder(codebooks)
    cells = [] if cell_col is None else [cell_col]

    def enc(it):
        for pdf in it:
            out = {id_col: pdf[id_col]}
            if cell_col is not None:
                out["cell"] = pdf[cell_col]
            out[out_col] = list(map(list, codes_of(
                np.array(pdf[vec_col].tolist(), dtype=np.float64))))
            yield pd.DataFrame(out)

    cell = "cell long, " if cells else ""
    return rows.select(id_col, *cells, vec_col).mapInPandas(
        enc, f"{id_col} long, {cell}{out_col} array<int>")


def pq_encode(vectors: DataFrame, codebooks: list, *,
              id_col: str = "vec_id", vec_col: str = "embedding",
              out_col: str = "code",
              scorer: str = "auto") -> DataFrame:
    """Encode every vector as its m nearest-codeword ids:
    ``(id_col, out_col array<int>)`` -- the compressed search artifact.

    ``scorer='auto'`` resolves to 'blas': one (batch x k) argmin gemm
    per subspace per Arrow batch (mapInPandas, no join, no shuffle) --
    measured faster at EVERY probed point (2k rows 5.5x, 20k 4.3x at
    m=4/k=16, 50x at the production m=8/k=256 shape: 31.4 s -> 0.63 s),
    because the 'expr' alternative materializes an m*k-way crossJoin of
    interpreted fold-dots -- the same defect class the IVF cell
    assigner hit (SCALE.md r10/r11). 'expr' is retained as the
    zero-Python twin: ONE cross join against the broadcast m*k codebook
    frame, rounded two-dot distance, a single map-side-combined
    groupBy(id) of m min_by aggregates. The two paths are
    code-IDENTICAL by construction (same round-half-up 9dp key, same
    first-min/lowest-cid ties; equivalence-tested), so oracles and
    gates hold under either."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    if scorer == "auto":
        scorer = "blas"
    if scorer == "blas":
        return _blas_encode(
            _ensure_scan_width(vectors).select(id_col, vec_col), codebooks,
            id_col=id_col, vec_col=vec_col, out_col=out_col)

    cb = _codebook_frame(vectors.sparkSession, codebooks)
    sub = F.slice(F.col(vec_col), F.col("_j") * d + 1, d)
    dist = F.round(F.col("_cc") - 2 * dot(sub, F.col("_cw")), 9)
    scored = (_ensure_scan_width(vectors).select(id_col, vec_col)
              .crossJoin(F.broadcast(cb))
              .withColumn("_d", dist))
    inf = F.lit(float("inf"))
    aggs = [F.min_by(
        "_cid",
        F.struct(F.when(F.col("_j") == j, F.col("_d")).otherwise(inf)
                 .alias("d"), F.col("_cid").alias("c"))).alias(f"_c{j}")
        for j in range(m)]
    return (scored.groupBy(id_col).agg(*aggs)
            .select(id_col, F.array(*[f"_c{j}" for j in range(m)])
                    .alias(out_col)))


def _query_luts(queries: DataFrame, codebooks: list, *,
                q_id_col: str = "q_id",
                q_vec_col: str = "q_vec") -> DataFrame:
    """Per-query ADC lookup tables: one (q_id, _lut array<array<double>>)
    row per query -- subspace-major, codeword-minor, each entry the
    rounded two-dot distance term. Built by cross-joining the tiny
    query frame against the broadcast codebook frame and folding back;
    all intermediates are ~queries * m * k rows."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    cb = _codebook_frame(queries.sparkSession, codebooks)
    qsub = F.slice(F.col(q_vec_col), F.col("_j") * d + 1, d)
    lut_cell = (queries.select(q_id_col, q_vec_col)
                .crossJoin(F.broadcast(cb))
                .withColumn("_lv", F.round(
                    F.col("_cc") - 2 * dot(qsub, F.col("_cw")), 9)))
    # ONE aggregation, one sorted list per subspace: collect_list skips
    # the NULL of every other subspace's cells, and sorting by _cid
    # (unique) puts codeword c at position c. Each list is the array
    # argument of its transform, so it is sorted once per query. No
    # aggregate output may be referenced inside a lambda: one referenced
    # once is inlined into its consumer (CollapseProject) and so
    # re-evaluated per element -- reshaping one (j, cid)-sorted list by
    # element_at(j*k + c + 1) sorts all m*k cells once per LUT ENTRY,
    # seconds per query at m=8, k=256 (tests/test_plans.py pins this).
    # SQL text: one py4j call per expression, not one per Column node.
    rows = lut_cell.groupBy(q_id_col).agg(*[F.expr(
        f"sort_array(collect_list(IF(_j = {j}, struct(_cid, _lv), NULL)))"
        f" AS _s{j}") for j in range(m)])
    lut = F.expr("array(%s)" % ", ".join(
        f"transform(_s{j}, x -> x._lv)" for j in range(m)))
    return rows.select(q_id_col, lut.alias("_lut"))


def _np_luts(books: tuple, qv) -> list:
    """One query's m ADC lookup rows from ``_books`` output: entry
    (j, c) is the round-half-up 9 dp ``cc - 2 * dot(q_j, cw)`` (numpy
    gemv)."""
    CW, CC = books
    d = CW[0].shape[1]
    return [_round_half_up(CC[j] - 2.0 * (CW[j] @ qv[j * d:(j + 1) * d]), 9)
            for j in range(len(CW))]


def _driver_luts(spark, qrows: list, codebooks: list, *,
                 q_id_col: str = "q_id",
                 q_vec_col: str = "q_vec") -> DataFrame:
    """Small-shape LUT fast path: for a HANDFUL of queries the Spark
    LUT job (_query_luts' cross-join + aggregation exchanges) is pure
    fixed latency, so compute the m x k tables on the driver (numpy
    gemm over the in-hand codebooks) and ship them as a local one-row-
    per-query relation -- zero LUT-build Spark jobs; the scored pass is
    unchanged. Numpy's gemm is a pairwise/SIMD summation, not the
    sequential fold the DuckDB oracles replay, so a 9-dp boundary can
    round differently in rare ulp cases -- this path is therefore
    FAST-MODE ONLY (pq_topk keeps the Spark LUTs under the exact gate,
    the retrieval-tier _sum6 policy)."""
    import numpy as np
    books = _books(codebooks)
    data = [(r[q_id_col], [lut.tolist() for lut in _np_luts(
        books, np.array(list(r[q_vec_col]), dtype=np.float64))])
        for r in qrows]
    from pyspark.sql.types import (ArrayType, DoubleType, StructField,
                                   StructType)
    schema = StructType([
        StructField(q_id_col, _py_type(data[0][0])),
        StructField("_lut", ArrayType(ArrayType(DoubleType())))])
    from ..rowframe import local_df
    return local_df(spark, data, schema)


def _py_type(v):
    from pyspark.sql.types import DoubleType, LongType, StringType
    if isinstance(v, bool):
        raise ValueError("boolean query ids are unsupported")
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    return StringType()


def adc_score(exact: bool, code_col: str = "code") -> Column:
    """The ADC distance of a code row against its query's ``_lut``: the
    m looked-up LUT entries summed, rounded to 6 dp. ``exact`` folds in
    decimal(28,9) (the queries/_util.py decimal-sum policy: the terms
    are exact 9 dp decimals, so the sum is order-independent and
    bit-identical to the oracle's SUM(DECIMAL)); otherwise a plain
    double fold -- the fold order is fixed (sequential over m), only
    the representation differs, and fast mode trades the cross-engine
    bit guarantee for m plain adds per row."""
    looked = F.zip_with(F.col(code_col), F.col("_lut"),
                        lambda c, row: F.element_at(row, c + 1))
    if exact:
        return F.round(F.aggregate(
            looked, F.lit(0).cast("decimal(28,9)"),
            lambda acc, x: (acc + x.cast("decimal(28,9)"))
            .cast("decimal(28,9)")).cast("double"), 6)
    return F.round(F.aggregate(looked, F.lit(0.0),
                               lambda acc, x: acc + x), 6)


def pq_topk(codes: DataFrame, queries: DataFrame, codebooks: list, *,
            k: int = 5, id_col: str = "vec_id", code_col: str = "code",
            q_id_col: str = "q_id", q_vec_col: str = "q_vec",
            refine: DataFrame | None = None,
            refine_vec_col: str | None = None,
            shortlist: int = 0, luts: str = "auto",
            max_driver_queries: int = 32) -> DataFrame:
    """ADC top-k over the encoded corpus: returns
    ``(q_id, vec_id, adist, rn)`` with rn 1..k by ascending approximate
    distance (ties to the lowest corpus id). ``adist`` is the two-dot
    form summed over subspaces -- query-constant terms dropped, so it
    ranks exactly like approximate l2.

    Plan: the m x k LUT per query is built by cross-joining the (tiny)
    query frame against the broadcast codebook frame and folding back
    to one array<array<double>> row per query -- all narrow; the scored
    pass is corpus x broadcast(LUTs) with the score a pure array-fold
    expression (m element_at lookups per row, zero Python); the only
    exchange is the per-query top-k window.

    ``refine``: the standard shortlist-then-rerank protocol (IVF-PQ
    "refine"): ADC picks a ``shortlist`` (default 4*k) of candidates
    per query from the CODES, then only those rows' raw vectors are
    fetched from ``refine`` (a frame carrying id_col + q_vec_col-typed
    raw vectors under ``id_col``/the corpus vector column) and
    re-ranked by exact l2. At scale the refine join touches
    queries*shortlist rows of the raw corpus -- the 99%+ of raw-vector
    IO the codes pass avoided stays avoided. ``adist`` is then the
    EXACT two-dot distance.

    ``luts``: 'spark' (the cross-join LUT job -- always used under the
    exact gate), 'driver' (numpy LUTs on the driver, shipped as a local
    relation -- the small-query-set fast path; caller asserts the query
    frame is tiny), or 'auto' (default: in fast mode, probe the query
    count with take(max_driver_queries + 1) and take the driver path
    when it fits -- the A/B-measured crossover; exact mode always takes
    the Spark path because numpy's pairwise gemm summation can round a
    9-dp LUT boundary differently from the oracle's sequential fold)."""
    from ..modes import exact_mode
    if luts not in ("auto", "spark", "driver"):
        raise ValueError(f"luts must be auto|spark|driver, got {luts!r}")
    m = len(codebooks)
    qrows = None
    if luts == "driver":
        qrows = queries.select(q_id_col, q_vec_col).collect()
    elif luts == "auto" and not exact_mode():
        head = (queries.select(q_id_col, q_vec_col)
                .take(max_driver_queries + 1))
        if len(head) <= max_driver_queries:
            qrows = head
    # an EMPTY query frame must take the Spark-LUT path in every mode:
    # _driver_luts derives the q_id type from the first row, so [] would
    # crash where the Spark path correctly returns an empty result
    if qrows:
        luts_df = _driver_luts(queries.sparkSession, qrows, codebooks,
                               q_id_col=q_id_col, q_vec_col=q_vec_col)
    else:
        luts_df = _query_luts(queries, codebooks, q_id_col=q_id_col,
                              q_vec_col=q_vec_col)
    scored = (codes.crossJoin(F.broadcast(luts_df))
              .select(q_id_col, id_col,
                      adc_score(exact_mode(), code_col).alias("adist")))
    if refine is None:
        return _topk_by_adist(scored, k, q_id_col, id_col)
    w = W.partitionBy(q_id_col).orderBy("adist", id_col)
    short = shortlist or 4 * k
    cand = (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= short).drop("rn", "adist"))
    # explicit refine_vec_col wins; the positional fallback validates the
    # chosen column IS an array (a refine frame with, e.g., a label column
    # listed first would otherwise silently re-rank on the wrong column)
    from pyspark.sql.types import ArrayType
    if refine_vec_col is not None:
        vec_col = refine_vec_col
        if vec_col not in refine.columns:
            raise ValueError(f"refine_vec_col {vec_col!r} not in refine "
                             f"columns {refine.columns}")
    else:
        arrays = [f.name for f in refine.schema.fields
                  if f.name != id_col and isinstance(f.dataType, ArrayType)]
        if not arrays:
            raise ValueError("refine frame has no array-typed vector "
                             f"column besides {id_col!r}; pass "
                             "refine_vec_col explicitly")
        vec_col = arrays[0]
    raw = refine.select(id_col, vec_col)
    qv = queries.select(F.col(q_id_col).alias("_qid"),
                        F.col(q_vec_col).alias("_qv"))
    exact = F.round(dot(F.col(vec_col), F.col(vec_col))
                    - 2 * dot(F.col(vec_col), F.col("_qv")), 6)
    rescored = (cand.join(raw, id_col)
                .join(F.broadcast(qv), F.col(q_id_col) == F.col("_qid"))
                .select(q_id_col, id_col, exact.alias("adist")))
    return _topk_by_adist(rescored, k, q_id_col, id_col)


def pq_search(vectors: DataFrame, codebooks: list, queries: DataFrame, *,
              k: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding", q_id_col: str = "q_id",
              q_vec_col: str = "q_vec",
              max_driver_queries: int = 32) -> DataFrame:
    """Encode + ADC top-k in one composition -- the flat-PQ search
    entry point. Exact mode always runs ``pq_encode`` + ``pq_topk``
    (the oracle-exact JVM path). Fast mode with a TINY query set
    (<= max_driver_queries, probed with one take()) takes the FUSED
    Arrow pass instead: ONE mapInPandas over the raw corpus computes
    the per-subspace argmin codes (the blas encoder's gemm) and the
    ADC scores against driver-computed LUTs in the same batch --
    zero LUT-build jobs, zero separate encode pass, exactly the plan
    a hand numpy/PySpark implementation reaches (the ann_pq_topk A/B
    twin), while the corpus stays fully distributed (only the m*k*q
    LUT floats ride the task closure). Identical math: round-half-up
    9-dp encode keys and LUT entries, first-min ties, 6-dp rounded
    sums; the pq_search unit test pins rank equality between the two
    paths."""
    from ..modes import exact_mode
    if not exact_mode():
        qrows = (queries.select(q_id_col, q_vec_col)
                 .take(max_driver_queries + 1))
        if len(qrows) <= max_driver_queries and qrows:
            return _pq_search_fused(vectors, codebooks, qrows, k=k,
                                    id_col=id_col, vec_col=vec_col,
                                    q_id_col=q_id_col,
                                    q_vec_col=q_vec_col)
    codes = pq_encode(vectors, codebooks, id_col=id_col,
                      vec_col=vec_col)
    return pq_topk(codes, queries, codebooks, k=k, id_col=id_col,
                   q_id_col=q_id_col, q_vec_col=q_vec_col)


def _pq_search_fused(vectors: DataFrame, codebooks: list, qrows: list,
                     *, k: int, id_col: str, vec_col: str,
                     q_id_col: str, q_vec_col: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    m = len(codebooks)
    books = _books(codebooks)
    codes_of = _blas_encoder(codebooks)
    q_ids = [r[q_id_col] for r in qrows]
    QL = np.stack([np.stack(_np_luts(
        books, np.array(list(r[q_vec_col]), dtype=np.float64)))
        for r in qrows])

    id_typ = vectors.schema[id_col].dataType.simpleString()
    q_typ = ("bigint" if isinstance(q_ids[0], int) else
             "double" if isinstance(q_ids[0], float) else "string")

    def enc_score(it):
        for pdf in it:
            if not len(pdf):
                continue
            codes = codes_of(np.array(pdf[vec_col].tolist(),
                                      dtype=np.float64))
            for qi, qid in enumerate(q_ids):
                adist = np.zeros(len(pdf))
                for j in range(m):
                    adist += QL[qi, j][codes[:, j]]
                yield pd.DataFrame({
                    q_id_col: np.full(len(pdf), qid),
                    id_col: pdf[id_col].to_numpy(),
                    "adist": _round_half_up(adist, 6)})

    scored = (vectors.select(id_col, vec_col)
              .mapInPandas(enc_score,
                           f"{q_id_col} {q_typ}, {id_col} {id_typ}, "
                           "adist double"))
    return _topk_by_adist(scored, k, q_id_col, id_col)


class PQ(Codec):
    """The IVF codec for PQ codes: m codeword ids per vector under
    ``codebooks`` (cbs[j][c] = list[float] of length d/m), scored by ADC
    against per-query Spark LUTs in the decimal fold (value-identical
    in both modes). No row prep: the score reads the code directly."""

    name = "pq"
    meta_ddl = "codebooks array<array<array<double>>>"

    def __init__(self, codebooks: list):
        self.codebooks = codebooks

    @classmethod
    def train(cls, vectors: DataFrame, *, m: int = 4, k: int = 16,
              trainer: str = "lowest_id", sample_size: int = 4096,
              iters: int = 10, seed: int = 0, id_col: str = "vec_id",
              vec_col: str = "embedding") -> PQ:
        """``trainer='lowest_id'``: the deterministic oracle-derivable
        codebooks; ``'kmeans'``: train_pq_codebooks."""
        if trainer == "lowest_id":
            return cls(lowest_id_pq_codebooks(vectors, m=m, k=k,
                                              id_col=id_col, vec_col=vec_col))
        if trainer == "kmeans":
            return cls(train_pq_codebooks(vectors, m=m, k=k,
                                          sample_size=sample_size,
                                          iters=iters, seed=seed,
                                          vec_col=vec_col))
        raise ValueError(f"unknown trainer {trainer!r}")

    @classmethod
    def from_meta(cls, meta: dict) -> PQ:
        return cls([[list(cw) for cw in book] for book in meta["codebooks"]])

    def meta_values(self) -> tuple:
        return ([[[float(x) for x in cw] for cw in book]
                 for book in self.codebooks],)

    def encode_assigned(self, assigned: DataFrame, *, id_col: str,
                        vec_col: str, cell_col: str) -> DataFrame:
        return _blas_encode(assigned, self.codebooks, id_col=id_col,
                            vec_col=vec_col, cell_col=cell_col)

    def query_side(self, queries: DataFrame, q_id_col: str,
                   q_vec_col: str) -> DataFrame:
        return _query_luts(queries, self.codebooks, q_id_col=q_id_col,
                           q_vec_col=q_vec_col)

    def score(self) -> Column:
        return adc_score(True)


def ivf_pq_index(vectors: DataFrame, codebooks: list, *,
                 n_cells: int = 8, centroids: list | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 coarse_dim: int = 16,
                 seed_vectors: DataFrame | None = None,
                 scorer: str = "auto") -> DataFrame:
    """The combined IVF-PQ search artifact: ``(id, cell, code)`` -- the
    coarse cell route plus the m-int PQ code, i.e. the classic
    FAISS-style IVF-PQ inverted file as a plain DataFrame (write it to
    parquet once; searches never touch the raw vectors).

    ``seed_vectors``: the frame whose lowest-id rows seed the
    deterministic centroid table (default: ``vectors`` itself). An
    incremental build MUST pin this to the original corpus (or pass
    explicit ``centroids``): letting each batch derive its own seeds
    would route the same vector to different cells across batches --
    the index-lifecycle invariant pq_append relies on.

    The default blas scorer is ONE pass over the corpus
    (ivf.build_index): the encode gemm runs over the SAME rows the cell
    assignment produces. The 'expr' scorer keeps an id join of
    pq_encode's zero-Python codes onto the routed cells."""
    routing = dict(n_cells=n_cells, centroids=centroids, id_col=id_col,
                   vec_col=vec_col, coarse_dim=coarse_dim,
                   seed_vectors=seed_vectors)
    if scorer in ("auto", "blas"):
        return ivf.build_index(vectors, PQ(codebooks), **routing)
    cells = ivf.route(vectors, **routing).select(id_col, "_cell")
    codes = pq_encode(vectors, codebooks, id_col=id_col, vec_col=vec_col,
                      scorer=scorer)
    return (codes.join(cells, id_col)
            .select(id_col, F.col("_cell").alias("cell"), "code"))


# --------------------------------------------------------------------------
# index lifecycle: append / staleness / compaction
#
# Every other index family in the engine (MinHash signatures, Bloom LSM,
# gram/line indexes, semantic cell index) has an append + compaction
# story; these close the same loop for the PQ tier. The lifecycle
# invariant: appending batches encoded with the SAME codebooks and the
# SAME centroid source is row-identical to a one-shot build (per-row
# deterministic encode + per-row deterministic cell routing over disjoint
# ids), so searches over a staged index equal searches over a fresh one
# -- pinned by the ann_index_append gate. Codebook drift is measured by
# pq_reconstruction_mse and repaired by pq_compact (retrain + re-encode).

def pq_append(index: DataFrame, new_vectors: DataFrame, codebooks: list,
              *, n_cells: int = 8, centroids: list | None = None,
              id_col: str = "vec_id", vec_col: str = "embedding",
              coarse_dim: int = 16,
              seed_vectors: DataFrame | None = None,
              scorer: str = "auto") -> DataFrame:
    """Append a batch to an IVF-PQ inverted file using the EXISTING
    codebooks and centroid source: encode + route only the new rows
    (work strictly proportional to the batch -- the indexed corpus is
    never re-read) and union onto the stored index. In production the
    returned frame is parquet-appended next to the old segments (the
    append_signature_index pattern); duplicate-id batches are the
    caller's contract, as with every other index family.

    Provably one-shot-equivalent: pq_encode and the cell assignment are
    per-row pure functions of (vector, codebooks, centroid table), so
    batch-wise construction over disjoint id sets yields the identical
    (id, cell, code) relation -- the ann_index_append gate pins a
    search over a two-batch index against the one-shot oracle."""
    batch = ivf_pq_index(new_vectors, codebooks, n_cells=n_cells,
                         centroids=centroids, id_col=id_col,
                         vec_col=vec_col, coarse_dim=coarse_dim,
                         seed_vectors=seed_vectors, scorer=scorer)
    return index.unionByName(batch)


def pq_reconstruction_mse(vectors: DataFrame, index: DataFrame,
                          codebooks: list, *, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          code_col: str = "code",
                          sample_frac: float | None = None,
                          sample_seed: int = 0) -> DataFrame:
    """Codebook staleness measure: the mean squared reconstruction
    error ``mean_i ||x_i - decode(code_i)||^2`` of the indexed corpus
    under its codebooks -- one row ``(n, mse)``. Rising MSE after
    appends means the appended data drifted from the codebook training
    distribution (ADC distances degrade even though search still
    runs); the maintenance loop compares it against the freshly
    -trained MSE (pq_compact) to decide when re-encoding pays.

    Per-subspace error expands to the all-dots form
    ``dot(sub,sub) - 2*dot(sub,cw) + dot(cw,cw)`` (exact algebra, no
    subtraction of reconstructed coordinates), each term rounded to
    9 dp and decimal-summed -- order-independent, so the DuckDB oracle
    reproduces every bit. One corpus scan, one broadcast of the m*k
    codebook frame, one global aggregate; this is a maintenance pass,
    not a search-path cost. ``sample_frac``: estimate on a
    deterministic seeded-hash row sample instead (the
    sq_reconstruction_mse sampling discipline -- md5-based, unbiased
    for a mean, engine-reproducible) to bound the cost on a huge
    corpus."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    if sample_frac is not None:
        from .similarity import seeded_hash_sample_pred
        vectors = vectors.where(
            seeded_hash_sample_pred(id_col, sample_frac, sample_seed))
    cb = _codebook_frame(vectors.sparkSession, codebooks)
    ex = (vectors.select(id_col, vec_col)
          .join(index.select(id_col, code_col), id_col)
          .select(id_col, vec_col,
                  F.posexplode(code_col).alias("_j", "_cid")))
    sub = F.slice(F.col(vec_col), F.col("_j") * d + 1, d)
    term = F.round(dot(sub, sub) - 2 * dot(sub, F.col("_cw"))
                   + F.col("_cc"), 9)
    per_vec = (ex.join(F.broadcast(cb), ["_j", "_cid"])
               .groupBy(id_col)
               .agg(F.sum(term.cast("decimal(28,9)")).alias("_e")))
    # decimal-sum-then-ONE-double-division (the repo's avg policy):
    # the decimal total is exact and order-independent; the single IEEE
    # division then agrees bit-for-bit across engines
    return (per_vec.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("_e").cast("double") / F.count(F.lit(1)), 6)
        .alias("mse")))


def pq_compact(vectors: DataFrame, *, m: int = 4, k: int = 16,
               n_cells: int = 8, id_col: str = "vec_id",
               vec_col: str = "embedding", coarse_dim: int = 16,
               trainer: str = "lowest_id", sample_size: int = 4096,
               iters: int = 10, seed: int = 0,
               centroids: list | None = None,
               seed_vectors: DataFrame | None = None,
               scorer: str = "auto") -> tuple[DataFrame, list]:
    """Re-train + re-encode compaction: derive fresh codebooks from the
    CURRENT corpus (``trainer='lowest_id'`` for the deterministic
    oracle-derivable recipe, ``'kmeans'`` for train_pq_codebooks) and
    rebuild the inverted file in one pass. Returns ``(index,
    codebooks)`` -- write both; searches spanning the compaction must
    switch codebooks and index together (ADC LUTs are codebook-bound,
    so mixing an old segment with new codebooks is a correctness bug,
    not a recall loss). By construction the compacted index equals a
    fresh one-shot build over the same corpus.

    ``centroids``/``seed_vectors`` pin the CELL ROUTING source exactly
    as in ivf_pq_index -- a caller that serves under a stored centroid
    probe table (pq_stored_compact) must rebuild under the same source,
    or queries would probe cells the corpus was not routed by."""
    cbs = PQ.train(vectors, m=m, k=k, trainer=trainer,
                   sample_size=sample_size, iters=iters, seed=seed,
                   id_col=id_col, vec_col=vec_col).codebooks
    idx = ivf_pq_index(vectors, cbs, n_cells=n_cells, id_col=id_col,
                       vec_col=vec_col, coarse_dim=coarse_dim,
                       centroids=centroids, seed_vectors=seed_vectors,
                       scorer=scorer)
    return idx, cbs


def ivf_pq_topk(index: DataFrame, queries: DataFrame, vectors: DataFrame,
                codebooks: list, *, k: int = 5, n_probe: int = 2,
                n_cells: int = 8, centroids: list | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                coarse_dim: int = 16) -> DataFrame:
    """IVF-PQ search over the inverted file: each query probes its
    ``n_probe`` nearest cells and ADC-scores ONLY those cells' code
    rows. Returns (q_id, vec_id, adist, rn).

    Scale design -- the point of the whole structure: the scored pass
    reads m ints per vector for ~n_probe/n_cells of the corpus (cell
    pruning x PQ compression multiply), against broadcast LUTs; the
    raw vector column is never touched at search time (``vectors`` is
    used only to derive the deterministic centroid table -- pass
    ``centroids`` and it is not read at all). The only exchange on
    corpus-sized data is the hash join on the cell id."""
    return ivf.search([(index, PQ(codebooks), centroids)], queries, vectors,
                      k=k, n_probe=n_probe, n_cells=n_cells, id_col=id_col,
                      vec_col=vec_col, q_id_col=q_id_col,
                      q_vec_col=q_vec_col, coarse_dim=coarse_dim)


def ivf_pq_topk_segments(segments: list, queries: DataFrame,
                         vectors: DataFrame, *, k: int = 5,
                         n_probe: int = 2, n_cells: int = 8,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         q_id_col: str = "q_id",
                         q_vec_col: str = "q_vec",
                         coarse_dim: int = 16) -> DataFrame:
    """Search SPANNING index segments encoded under DIFFERENT codebook
    versions -- the mid-migration state every compaction protocol
    passes through (old segments still on the previous codebooks, new
    batches on the retrained ones). ``segments`` is a list of
    ``(index, codebooks)`` or ``(index, codebooks, centroids)`` tuples;
    each segment's rows are ADC-scored under ITS OWN codebooks (LUTs
    are codebook-bound -- this is exactly the mixing bug pq_compact's
    docstring warns against, handled correctly), the per-segment scored
    passes union, and one global per-query top-k ranks them.

    Correctness: every segment's adist approximates the same true
    two-dot l2 (quantization error differs per codebook generation, as
    in any FAISS-style staged migration), so cross-segment ranking is
    apples-to-apples up to quantization error; with fixed codebooks
    (one segment, or identical codebooks) this degenerates to
    ivf_pq_topk exactly."""
    segs = [(idx, PQ(cbs), rest[0] if rest else None)
            for idx, cbs, *rest in segments]
    return ivf.search(segs, queries, vectors, k=k, n_probe=n_probe,
                      n_cells=n_cells, id_col=id_col, vec_col=vec_col,
                      q_id_col=q_id_col, q_vec_col=q_vec_col,
                      coarse_dim=coarse_dim)


# --------------------------------------------------------------------------
# Stored serving: ivf.py's cell-partitioned store with the codebooks in
# ``meta/`` -- a query batch's probed-cell set prunes the index scan to
# those cell directories (asserted in test_plans).

def pq_store_index(index: DataFrame, path: str, codebooks: list, *,
                   n_cells: int = 8, centroids: list | None = None,
                   seed_vectors: DataFrame | None = None,
                   coarse_dim: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   mode: str = "errorifexists") -> None:
    """Persist an IVF-PQ inverted file as the serving artifact
    (ivf.store): ``index/`` hive-partitioned by cell, ``centroids/``
    the (_cid, _cvec, _cn) probe table, ``meta/`` one row pinning the
    m x k x d codebooks, coarse_dim and id_col. Pass the SAME centroid
    source as the build so the stored probe table routes queries
    exactly like the build routed the corpus."""
    ivf.store(index, path, PQ(codebooks), n_cells=n_cells,
              centroids=centroids, seed_vectors=seed_vectors,
              coarse_dim=coarse_dim, id_col=id_col, vec_col=vec_col,
              mode=mode)


def pq_stored_append(new_vectors: DataFrame, path: str, *,
                     vec_col: str = "embedding") -> None:
    """Append a batch into the STORED cell-partitioned IVF-PQ index
    under the stored codebooks and centroid probe table
    (ivf.stored_append): O(batch), existing index files never opened.
    Single-writer: holds the store's publish lock so an append cannot
    interleave with a compaction swap."""
    ivf.stored_append(new_vectors, path, vec_col=vec_col)


def pq_stored_compact(vectors: DataFrame, path: str, *, m: int = 4,
                      k: int = 16, n_cells: int = 8,
                      coarse_dim: int = 16, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      trainer: str = "lowest_id",
                      sample_size: int = 4096, iters: int = 10,
                      seed: int = 0, centroids: list | None = None,
                      seed_vectors: DataFrame | None = None,
                      retain_history: bool = False) -> int | None:
    """Re-train + re-encode compaction of a STORED IVF-PQ index: fresh
    codebooks from the CURRENT raw corpus (PQ.train, as pq_compact), a
    rebuilt inverted file, and the whole store -- index, centroids,
    codebooks -- replaced in one guarded swap (ivf.stored_compact; ADC
    LUTs are codebook-bound: a reader sees old or new store, never a
    mix). ``centroids``/``seed_vectors`` pin the routing source of BOTH
    the rebuild and the stored probe table. ``retain_history``: keep
    the superseded store as a numbered generation under
    ``<path>/archive`` for rollback (store_swap.restore_store_generation);
    returns the generation number (else None)."""
    codec = PQ.train(vectors, m=m, k=k, trainer=trainer,
                     sample_size=sample_size, iters=iters, seed=seed,
                     id_col=id_col, vec_col=vec_col)
    return ivf.stored_compact(
        vectors, path, codec, n_cells=n_cells, centroids=centroids,
        coarse_dim=coarse_dim, id_col=id_col, vec_col=vec_col,
        seed_vectors=seed_vectors, retain_history=retain_history)


def pq_stored_topk(spark, path: str, queries: DataFrame, *,
                   k: int = 5, n_probe: int = 2,
                   q_id_col: str = "q_id",
                   q_vec_col: str = "q_vec") -> DataFrame:
    """Serving-path IVF-PQ search over a stored index (ivf.stored_topk):
    the probed-cell set prunes the index scan to those partition
    directories, and the ranking is the shared broadcast-LUT ADC pass
    -- value-identical to ivf_pq_topk over the in-memory index (the
    ann_pq_stored_prune gate shares ann_ivf_pq_topk's oracle)."""
    return ivf.stored_topk(spark, path, queries, k=k, n_probe=n_probe,
                           q_id_col=q_id_col, q_vec_col=q_vec_col)
