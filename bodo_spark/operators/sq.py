"""Scalar quantization (SQ8): the 4x embedding-compression tier.

Per-dimension linear quantization to ``bits``-bit integer codes
(Faiss's SQ8 / Milvus IVF_SQ8 recipe): train exact per-dim [lo, hi]
bounds in ONE aggregation pass, encode each float to
``floor((x - lo) / (hi - lo) * levels)``, and search by exact l2
against the DEQUANTIZED codes. Sits between raw vectors (4 bytes/dim)
and PQ (pq.py, m ints/vector): 1 byte/dim, near-lossless recall,
no codebook training -- the default first compression step for a
100-TB embedding corpus.

Scale design: bounds are a d-pair model artifact (collected once,
O(d) regardless of corpus size -- the codebook-table pattern); the
codes frame is the durable index (write next to the raw vectors);
the scoring pass is corpus-codes x broadcast(queries) with the score
a pure JVM array-fold expression, zero Python, zero corpus shuffle;
top-k is a per-query WindowGroupLimit. Out-of-range values in LATER
batches (drift past the trained bounds) clamp to [0, levels] --
re-train + re-encode compaction applies exactly as in pq_compact.

Distance bookkeeping mirrors pq.py: rank by the two-dot form
``dot(dq, dq) - 2 * dot(dq, q)`` (query-constant ||q||^2 dropped,
round 6 dp, ties to the lowest corpus id) -- every float term a
sequential-fold dot product the DuckDB oracle reproduces bit-for-bit.

The IVF-SQ8 index (routing, stored serving, append/compact lifecycle)
is ivf.py's with the ``SQ8`` codec below; the functions here keep the
SQ-specific names and signatures as thin wrappers.

Reference parity: the reference delegates vector search to a managed
external index (bodo/pandas/frame.py:721 S3 Vectors); here the engine
provides the compression tier itself, like pq.py.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import ivf
from .ivf import Codec, _topk_by_adist
from .similarity import dot

__all__ = ["sq_train", "sq_encode", "sq_code_expr", "sq_topk",
           "ivf_sq_index",
           "ivf_sq_topk", "sq_append", "sq_clamp_fraction",
           "sq_reconstruction_mse", "sq_compact",
           "ivf_sq_topk_segments", "sq_store_index", "sq_stored_topk",
           "sq_stored_append", "sq_stored_compact"]


def sq_train(vectors: DataFrame, *,
             vec_col: str = "embedding") -> tuple[list, list]:
    """Exact per-dimension [lo, hi] bounds over the corpus: ONE
    posexplode + 64-key aggregation (map-side partials emit d rows per
    task, so the exchange is tiny at any corpus size), collected as a
    d-pair model artifact (the bounded-collect pattern of the IVF
    centroid/PQ codebook tables). Returns ``(los, his)`` lists of
    python floats -- deterministic, so a SQL oracle re-derives them."""
    rows = (vectors.select(F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("pos")
            .agg(F.min(F.col("x").cast("double")).alias("lo"),
                 F.max(F.col("x").cast("double")).alias("hi"))
            .collect())
    if not rows:
        raise ValueError("sq_train needs a non-empty corpus")
    # sort the d-row model driver-side: a Spark orderBy on a bounded
    # aggregate output costs a range-partitioning exchange plus its
    # sampling job per call (measured: sq_train ran 4 AQE jobs, 2 of
    # them only for the sort of <=64 rows)
    rows.sort(key=lambda r: r["pos"])
    return ([float(r["lo"]) for r in rows], [float(r["hi"]) for r in rows])


def _sql_double(v: float) -> str:
    """``v`` as SQL text that parses back to the same IEEE double
    (repr is the shortest round-tripping decimal)."""
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _bound_arrays(los: list, his: list):
    lo = F.array(*[F.lit(float(v)) for v in los])
    hi = F.array(*[F.lit(float(v)) for v in his])
    return lo, hi


def _bounds(los: list, his: list, levels: int) -> Column:
    """The d per-dimension bounds as ONE literal array<struct<lo, rng,
    step, flat>>, zipped element-wise with a vector or code array:
    rng = hi - lo and step = rng / levels are the IEEE doubles the
    per-element expression would compute, and flat is Spark's hi == lo
    (NaN equals NaN), so each element reads struct fields and does no
    index lookup.

    The literal is SQL text parsed by one JVM call: built as a Column
    per value, every value is a py4j round trip -- about 0.5 s per
    call for this struct array at d=64."""
    items = []
    for lo, hi in zip(map(float, los), map(float, his)):
        flat = lo == hi or (math.isnan(lo) and math.isnan(hi))
        items.append(
            f"named_struct('lo', {_sql_double(lo)}, "
            f"'rng', {_sql_double(hi - lo)}, "
            f"'step', {_sql_double((hi - lo) / levels)}, "
            f"'flat', {str(flat).lower()})")
    return F.expr(f"array({', '.join(items)})")


def sq_code_expr(vec_col, los: list, his: list, *,
                 bits: int = 8):
    """The SQ code as a COLUMN over a vector column: code_i =
    clamp(floor((x_i - lo_i) / (hi_i - lo_i) * levels), 0, levels)
    with levels = 2^bits - 1; a constant dimension (hi == lo) encodes
    0. Pure JVM zip_with expression over one d-struct bounds literal,
    so a consumer can compute it in the SAME pass that assigns cells
    -- no second scan, no id join (ivf_sq_index / sq_stored_append
    fuse on it)."""
    if not 2 <= bits <= 16:
        raise ValueError(f"bits must be in [2, 16], got {bits}")
    levels = (1 << bits) - 1
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.zip_with(
        v, _bounds(los, his, levels),
        lambda x, b: F.when(b["flat"], F.lit(0)).otherwise(
            F.least(F.lit(levels), F.greatest(F.lit(0), F.floor(
                (x.cast("double") - b["lo"]) / b["rng"]
                * levels).cast("int")))).cast("int"))


def sq_encode(vectors: DataFrame, los: list, his: list, *,
              id_col: str = "vec_id", vec_col: str = "embedding",
              bits: int = 8) -> DataFrame:
    """Encode to ``(id_col, code array<int>)`` -- the durable 1-byte/dim
    index artifact (sq_code_expr over the vector column), no shuffle."""
    code = sq_code_expr(vec_col, los, his, bits=bits)
    return vectors.select(id_col, code.alias("code"))


def sq_dequantize(code_col, los: list, his: list, *,
                  bits: int = 8):
    """Column expression reconstructing array<double> from a code
    array: dq_i = lo_i + code_i * ((hi_i - lo_i) / levels)."""
    c = F.col(code_col) if isinstance(code_col, str) else code_col
    return F.zip_with(
        c, _bounds(los, his, (1 << bits) - 1),
        lambda v, b: b["lo"] + v.cast("double") * b["step"])


def sq_topk(codes: DataFrame, queries: DataFrame, los: list, his: list, *,
            k: int = 5, bits: int = 8, id_col: str = "vec_id",
            code_col: str = "code", q_id_col: str = "q_id",
            q_vec_col: str = "q_vec") -> DataFrame:
    """Top-k by exact l2 against the dequantized codes: returns
    ``(q_id, vec_id, adist, rn)`` with rn 1..k ascending (ties to the
    lowest corpus id); ``adist`` is the two-dot form. Plan: codes x
    broadcast(queries), score = one fold expression over the
    reconstructed array, per-query WindowGroupLimit -- the raw corpus
    is never read at search time."""
    codec = SQ8(los, his, bits)
    qv = queries.select(F.col(q_id_col).alias("q_id"),
                        F.col(q_vec_col).alias("_qv"))
    scored = (codec.prep(codes, code_col).crossJoin(F.broadcast(qv))
              .select(F.col("q_id"), F.col(id_col),
                      codec.score().alias("adist")))
    return _topk_by_adist(scored, k, "q_id", id_col)


class SQ8(Codec):
    """The IVF codec for SQ codes: per-dimension ``(los, his)`` bounds
    and ``bits``-bit codes, scored by exact l2 against the dequantized
    code in the two-dot form ``dot(dq, dq) - 2 * dot(dq, q)``. Row prep
    is the dequantize plus the query-independent self-dot, so it runs
    once per index row and only after the cell prune."""

    name = "sq"
    meta_ddl = "los array<double>, his array<double>, bits int"
    prep_folds = True

    def __init__(self, los: list, his: list, bits: int = 8):
        self.los, self.his, self.bits = list(los), list(his), int(bits)

    @classmethod
    def train(cls, vectors: DataFrame, *, vec_col: str = "embedding",
              bits: int = 8) -> SQ8:
        return cls(*sq_train(vectors, vec_col=vec_col), bits)

    @classmethod
    def from_meta(cls, meta: dict) -> SQ8:
        return cls(meta["los"], meta["his"], meta["bits"])

    def meta_values(self) -> tuple:
        return ([float(v) for v in self.los], [float(v) for v in self.his],
                self.bits)

    def encode_assigned(self, assigned: DataFrame, *, id_col: str,
                        vec_col: str, cell_col: str) -> DataFrame:
        code = sq_code_expr(vec_col, self.los, self.his, bits=self.bits)
        return assigned.select(id_col, F.col(cell_col).alias("cell"),
                               code.alias("code"))

    def prep(self, rows: DataFrame, code_col: str = "code") -> DataFrame:
        # dot(dq, dq) is query-independent: evaluate it ONCE per index
        # row before the query join (the brute_force_topk norm trick)
        dq = sq_dequantize(code_col, self.los, self.his, bits=self.bits)
        return (rows.withColumn("_dq", dq)
                .withColumn("_dd", dot(F.col("_dq"), F.col("_dq"))))

    def query_side(self, queries: DataFrame, q_id_col: str,
                   q_vec_col: str) -> DataFrame:
        return queries.select(q_id_col, F.col(q_vec_col).alias("_qv"))

    def score(self) -> Column:
        return F.round(F.col("_dd") - 2 * dot(F.col("_dq"), F.col("_qv")), 6)


# --------------------------------------------------------------------------
# IVF-SQ8: the Faiss IVF_SQ8 index type -- coarse cells x SQ codes. The
# same composition as ivf_pq_index (pq.py), with the SQ code column in
# place of PQ codes: cell pruning and 4x compression multiply, recall
# stays near-exact (SQ reconstruction error << inter-point distances),
# no codebook training. The right default when memory allows 1 byte/dim.

def ivf_sq_index(vectors: DataFrame, los: list, his: list, *,
                 n_cells: int = 8, centroids: list | None = None,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 coarse_dim: int = 16,
                 seed_vectors: DataFrame | None = None,
                 bits: int = 8) -> DataFrame:
    """The IVF-SQ inverted file: ``(id, cell, code)`` in one corpus pass
    (ivf.build_index). Cells come from the deterministic lowest-id
    centroid table, or explicit ``centroids`` via the gemm assigner;
    codes are sq_code_expr's. Pin ``seed_vectors``/``centroids`` across
    incremental builds so batches route identically."""
    return ivf.build_index(vectors, SQ8(los, his, bits), n_cells=n_cells,
                           centroids=centroids, id_col=id_col,
                           vec_col=vec_col, coarse_dim=coarse_dim,
                           seed_vectors=seed_vectors)


def ivf_sq_topk(index: DataFrame, queries: DataFrame, vectors: DataFrame,
                los: list, his: list, *, k: int = 5, n_probe: int = 2,
                n_cells: int = 8, centroids: list | None = None,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec",
                coarse_dim: int = 16, bits: int = 8) -> DataFrame:
    """IVF-SQ search: each query probes its ``n_probe`` nearest cells
    and l2-scores ONLY those cells' rows against the dequantized codes.
    Returns (q_id, vec_id, adist, rn).

    Scale shape: the scored pass reads 1 byte/dim for ~n_probe/n_cells
    of the corpus, and the d-length dequantize/self-dot folds run over
    that SAME pruned fraction -- the index is semi-joined against the
    probed-cell set BEFORE the reconstruction projection (pinned by
    test_ivf_sq_prunes_before_dequantize). Raw vectors are never
    touched at search time (``vectors`` only seeds the deterministic
    centroid table -- pass ``centroids`` and it is not read at all)."""
    return ivf.search([(index, SQ8(los, his, bits), centroids)], queries,
                      vectors, k=k, n_probe=n_probe, n_cells=n_cells,
                      id_col=id_col, vec_col=vec_col, q_id_col=q_id_col,
                      q_vec_col=q_vec_col, coarse_dim=coarse_dim)


def ivf_sq_topk_segments(segments: list, queries: DataFrame,
                         vectors: DataFrame, *, k: int = 5,
                         n_probe: int = 2, n_cells: int = 8,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         q_id_col: str = "q_id",
                         q_vec_col: str = "q_vec",
                         coarse_dim: int = 16,
                         bits: int = 8) -> DataFrame:
    """Search SPANNING index segments encoded under DIFFERENT bounds
    versions -- the mid-migration state the SQ lifecycle passes through
    (old segments on the previous [lo, hi], new batches on retrained
    bounds). ``segments`` is a list of ``(index, los, his)`` or
    ``(index, los, his, centroids)``; each segment's rows are
    dequantized under ITS OWN bounds (dequantization is bounds-bound),
    the per-segment scored passes union, and one global per-query top-k
    ranks them. Cell routing stays the SHARED centroid source (pin
    ``vectors``/centroids across segments so all generations live in
    one cell space)."""
    segs = [(idx, SQ8(los, his, bits), rest[0] if rest else None)
            for idx, los, his, *rest in segments]
    return ivf.search(segs, queries, vectors, k=k, n_probe=n_probe,
                      n_cells=n_cells, id_col=id_col, vec_col=vec_col,
                      q_id_col=q_id_col, q_vec_col=q_vec_col,
                      coarse_dim=coarse_dim)


# --------------------------------------------------------------------------
# Stored serving: ivf.py's cell-partitioned store with the (lo, hi) bounds
# in ``meta/`` -- a query batch's probed-cell set prunes the index scan to
# those cell directories (asserted in test_plans).

def sq_store_index(index: DataFrame, path: str, los: list, his: list, *,
                   n_cells: int = 8, centroids: list | None = None,
                   seed_vectors: DataFrame | None = None,
                   coarse_dim: int = 16, bits: int = 8,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   mode: str = "errorifexists") -> None:
    """Persist an IVF-SQ inverted file as the serving artifact
    (ivf.store): ``index/`` hive-partitioned by cell, ``centroids/``
    the (_cid, _cvec, _cn) probe table, ``meta/`` one row pinning (los,
    his, bits, coarse_dim, id_col). Pass the SAME centroid source as
    the build (centroids/seed_vectors) so the stored probe table routes
    queries exactly like the build routed the corpus."""
    ivf.store(index, path, SQ8(los, his, bits), n_cells=n_cells,
              centroids=centroids, seed_vectors=seed_vectors,
              coarse_dim=coarse_dim, id_col=id_col, vec_col=vec_col,
              mode=mode)


def sq_stored_append(new_vectors: DataFrame, path: str, *,
                     vec_col: str = "embedding") -> None:
    """Append a batch into the STORED cell-partitioned index under the
    stored bounds and centroid probe table (ivf.stored_append): O(batch),
    the existing index files are never opened, and batches route
    identically to the original build. Out-of-range values clamp to the
    stored bounds by the sq_encode contract -- watch sq_clamp_fraction
    and compact. Single-writer: holds the store's publish lock."""
    ivf.stored_append(new_vectors, path, vec_col=vec_col)


def sq_stored_compact(vectors: DataFrame, path: str, *,
                      n_cells: int = 8, centroids: list | None = None,
                      coarse_dim: int = 16, bits: int = 8,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      seed_vectors: DataFrame | None = None,
                      retain_history: bool = False) -> int | None:
    """Re-train + re-encode compaction of a STORED index: fresh bounds
    from the CURRENT raw corpus, a rebuilt inverted file, and the whole
    store -- index, centroids, bounds -- replaced in one guarded swap
    (ivf.stored_compact; bounds and codes switch together). Needs the
    raw ``vectors`` (codes alone cannot retrain). ``retain_history``
    keeps the superseded store as a numbered generation under
    ``<path>/archive`` for store_swap.restore_store_generation and
    returns its number (else None)."""
    return ivf.stored_compact(
        vectors, path, SQ8.train(vectors, vec_col=vec_col, bits=bits),
        n_cells=n_cells, centroids=centroids, coarse_dim=coarse_dim,
        id_col=id_col, vec_col=vec_col, seed_vectors=seed_vectors,
        retain_history=retain_history)


def sq_stored_topk(spark, path: str, queries: DataFrame, *,
                   k: int = 5, n_probe: int = 2,
                   q_id_col: str = "q_id",
                   q_vec_col: str = "q_vec") -> DataFrame:
    """Serving-path IVF-SQ search over a stored index (ivf.stored_topk):
    the probed-cell set prunes the index scan to those partition
    directories, and the ranking is the shared dequantize-and-fold pass
    -- value-identical to ivf_sq_topk over the in-memory index (the
    ann_sq_stored_prune gate shares ann_ivf_sq_topk's oracle)."""
    return ivf.stored_topk(spark, path, queries, k=k, n_probe=n_probe,
                           q_id_col=q_id_col, q_vec_col=q_vec_col)


# --------------------------------------------------------------------------
# SQ index lifecycle: append / staleness / compact -- the pq.py
# lifecycle contract (pq_append / pq_reconstruction_mse / pq_compact)
# applied to the bounds-model family. The model artifact here is the
# (los, his) pair instead of codebooks; drift shows up as LATER batches
# clamping to [0, levels] at encode time, which both signals below
# measure and sq_compact repairs by re-training bounds + re-encoding.

def sq_append(index: DataFrame, new_vectors: DataFrame,
              los: list, his: list, *, n_cells: int = 8,
              centroids: list | None = None, id_col: str = "vec_id",
              vec_col: str = "embedding", coarse_dim: int = 16,
              seed_vectors: DataFrame | None = None,
              bits: int = 8) -> DataFrame:
    """Append a batch to an IVF-SQ inverted file using the EXISTING
    stored bounds and centroid source: encode + route only the new
    rows (work strictly proportional to the batch) and union onto the
    stored index. Pin ``seed_vectors``/``centroids`` to the original
    build's so batches route identically (the pq_append contract).

    Provably one-shot-equivalent: sq_encode and cell routing are
    per-row pure functions of (vector, bounds, centroid table), so
    batch-wise construction over disjoint ids yields the identical
    (id, cell, code) relation -- the ann_sq_append gate pins a search
    over a two-batch index against the one-shot oracle. Out-of-range
    values in the new batch CLAMP (by design); watch
    sq_clamp_fraction / sq_reconstruction_mse for when that starts
    costing recall, then sq_compact."""
    batch = ivf_sq_index(new_vectors, los, his, n_cells=n_cells,
                         centroids=centroids, id_col=id_col,
                         vec_col=vec_col, coarse_dim=coarse_dim,
                         seed_vectors=seed_vectors, bits=bits)
    return index.unionByName(batch)

def sq_clamp_fraction(vectors: DataFrame, los: list, his: list, *,
                      vec_col: str = "embedding") -> DataFrame:
    """Bounds-staleness signal #1 (cheap): the fraction of (row, dim)
    values falling OUTSIDE the stored [lo, hi] -- exactly the values
    sq_encode clamps. One scan, one global aggregate; returns
    ``(n_values, n_clamped, clamp_frac)``. A fresh in-distribution
    batch clamps ~0; a drifted batch clamps a visible fraction long
    before reconstruction error dominates -- the trigger metric for
    scheduling sq_compact."""
    lo, hi = _bound_arrays(los, his)
    ex = vectors.select(F.posexplode(vec_col).alias("pos", "x"))
    xd = F.col("x").cast("double")
    oob = ((xd < F.element_at(lo, F.col("pos") + 1))
           | (xd > F.element_at(hi, F.col("pos") + 1)))
    return ex.agg(
        F.count(F.lit(1)).alias("n_values"),
        F.sum(F.when(oob, 1).otherwise(0)).cast("bigint")
        .alias("n_clamped"),
        F.round(F.sum(F.when(oob, 1).otherwise(0))
                / F.count(F.lit(1)), 6).alias("clamp_frac"))


def sq_reconstruction_mse(vectors: DataFrame, index: DataFrame,
                          los: list, his: list, *, bits: int = 8,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          code_col: str = "code",
                          sample_frac: float | None = None,
                          sample_seed: int = 0) -> DataFrame:
    """Bounds-staleness signal #2: mean squared reconstruction error
    ``mean_i ||x_i - dq(code_i)||^2`` of the indexed corpus under the
    STORED bounds -- the pq_reconstruction_mse analogue, one row
    ``(n, mse)``. Rising MSE after appends means the appended data
    drifted outside the trained bounds (codes clamp, distances
    degrade); compare against the freshly-trained MSE (sq_compact) to
    decide when re-encoding pays. Per-element error rounded to 9 dp
    and decimal-summed per vector (order-independent, so the DuckDB
    oracle reproduces every bit), then ONE double division.

    ``sample_frac``: bound the maintenance cost on a 100x corpus by
    measuring a deterministic seeded-hash sample of the rows
    (similarity.seeded_hash_sample_pred -- md5-based, so the sample is
    engine-reproducible and partitioning-independent). MSE is a mean,
    so a uniform row sample is an unbiased estimator; the
    ann_sq_staleness_sampled gate pins sample and full values exactly
    and their agreement is visible in the pinned numbers."""
    levels = (1 << bits) - 1
    lo, hi = _bound_arrays(los, his)
    if sample_frac is not None:
        from .similarity import seeded_hash_sample_pred
        vectors = vectors.where(
            seeded_hash_sample_pred(id_col, sample_frac, sample_seed))
    ex = (vectors.select(id_col, vec_col)
          .join(index.select(id_col, code_col), id_col)
          .select(id_col, vec_col,
                  F.posexplode(code_col).alias("_p", "_c")))
    loi = F.element_at(lo, F.col("_p") + 1)
    hii = F.element_at(hi, F.col("_p") + 1)
    dqi = loi + F.col("_c").cast("double") * ((hii - loi)
                                              / F.lit(float(levels)))
    xi = F.element_at(F.col(vec_col), F.col("_p") + 1).cast("double")
    term = F.round((xi - dqi) * (xi - dqi), 9)
    per_vec = (ex.groupBy(id_col)
               .agg(F.sum(term.cast("decimal(28,9)")).alias("_e")))
    return (per_vec.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("_e").cast("double") / F.count(F.lit(1)), 6)
        .alias("mse")))


def sq_compact(vectors: DataFrame, *, n_cells: int = 8,
               centroids: list | None = None, id_col: str = "vec_id",
               vec_col: str = "embedding", coarse_dim: int = 16,
               seed_vectors: DataFrame | None = None,
               bits: int = 8) -> tuple[DataFrame, list, list]:
    """Re-train + re-encode compaction: derive fresh [lo, hi] bounds
    from the CURRENT corpus (sq_train's exact aggregation) and rebuild
    the inverted file in one pass. Returns ``(index, los, his)`` --
    write all three together; searches spanning the compaction must
    switch bounds and index atomically (dequantization is
    bounds-bound, exactly the pq_compact codebook contract). By
    construction the compacted index equals a fresh one-shot build."""
    codec = SQ8.train(vectors, vec_col=vec_col, bits=bits)
    idx = ivf.build_index(vectors, codec, n_cells=n_cells,
                          centroids=centroids, id_col=id_col,
                          vec_col=vec_col, coarse_dim=coarse_dim,
                          seed_vectors=seed_vectors)
    return idx, codec.los, codec.his
