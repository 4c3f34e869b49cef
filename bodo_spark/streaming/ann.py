"""Streaming ANN serving: incoming query vectors searched against a
STORED IVF-PQ inverted file (operators/pq.py) -- the serving-side twin
of the batch ivf_pq_topk. The ingest side of the semantic tier already
streams (stream_semantic_new_rows); this closes the search side: a
recommendation/retrieval service replays query traffic against the
parquet index without ever touching raw corpus vectors.

Plan shape (all streaming-legal, mirroring the batch search exactly):
  stream queries -> per-row probe list + ADC LUT (narrow expressions
  over the driver-side centroid/codebook artifacts -- no window, no
  aggregation) -> explode probes -> ONE stream-static join against the
  stored (id, cell, code) index on the cell id -> the SAME zip_with/
  element_at decimal-fold score as batch -> per-query top-k in
  applyInPandasWithState (grouping vehicle only: a query's candidates
  land in one micro-batch together, state unused).

The per-query work (probe ranking + m x k LUT) runs on the QUERY
stream -- tiny next to the index -- while the corpus-sized side stays
a hash join on the cell id + m array lookups per candidate row, the
batch search's exact economics.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves the hints
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["stream_ivf_pq_topk", "serve_sq_stored_stream",
           "serve_pq_stored_stream"]


def _probe_expr(centroids: list[tuple[int, list[float]]], n_probe: int,
                coarse_dim: int, q_vec_col: str):
    """Per-row n_probe nearest cells as a pure expression: cosine of the
    truncated query against each centroid LITERAL (the same sequential
    -fold dot, round-9, lower-cid ties as the batch centroid table --
    bit-identical, so the stream shares the batch oracle), array_sort
    on (-cos, cid), slice n_probe. No window, no shuffle."""
    from ..operators.similarity import dot
    tv = F.slice(F.col(q_vec_col), 1, coarse_dim)
    tn = F.sqrt(dot(tv, tv))
    cells = []
    for cid, cvec in centroids:
        cv = F.array(*[F.lit(float(x)) for x in list(cvec)[:coarse_dim]])
        cn = F.sqrt(dot(cv, cv))
        cos = F.round(dot(tv, cv) / (tn * cn), 9)
        cells.append(F.struct((-cos).alias("nc"),
                              F.lit(int(cid)).cast("bigint").alias("cid")))
    ranked = F.array_sort(F.array(*cells))
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cid"])


def _lut_expr(codebooks: list, q_vec_col: str):
    """Per-row ADC LUT as a nested-array expression over codeword
    LITERALS: entry (j, c) = round(cc - 2*dot(qsub_j, cw), 9), the
    identical fold the batch LUT builder computes. The literal tree is
    m*k*d doubles -- exact and fine at gate shapes (4*16*16); for
    production-wide codebooks (8*256*8 = 16k literals) pass
    luts='blas' to stream_ivf_pq_topk instead."""
    from ..operators.similarity import dot
    m = len(codebooks)
    d = len(codebooks[0][0])
    rows = []
    for j in range(m):
        qsub = F.slice(F.col(q_vec_col), j * d + 1, d)
        ents = []
        for cw in codebooks[j]:
            cwa = F.array(*[F.lit(float(x)) for x in cw])
            cc = F.aggregate(cwa, F.lit(0.0),
                             lambda a, x: a + x * x)
            ents.append(F.round(cc - 2 * dot(qsub, cwa), 9))
        rows.append(F.array(*ents))
    return F.array(*rows)


def _lut_blas_udf(codebooks: list):
    """Gemm LUT twin for production-wide codebooks: one (k x d) matmul
    per subspace per Arrow batch of QUERY rows (the corpus never enters
    Python). Same round-half-up 9 dp entries as the expression path."""
    import numpy as np

    from ..operators.pq import _books
    from ..operators.similarity import _round_half_up
    CW, CC = _books(codebooks)
    m = len(CW)
    d = CW[0].shape[1]

    @F.pandas_udf("array<array<double>>")
    def _lut_of(vs: pd.Series) -> pd.Series:
        X = np.array(vs.tolist(), dtype=np.float64)
        out = []
        luts = np.stack([
            _round_half_up(CC[j][None, :]
                           - 2.0 * (X[:, j * d:(j + 1) * d] @ CW[j].T), 9)
            for j in range(m)], axis=1)  # (n, m, k)
        for row in luts:
            out.append([list(r) for r in row])
        return pd.Series(out)

    return _lut_of


def stream_ivf_pq_topk(
    stream_queries: DataFrame,
    index: DataFrame,
    codebooks: list,
    centroids: list[tuple[int, list[float]]],
    *,
    k: int = 5,
    n_probe: int = 2,
    coarse_dim: int = 16,
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    id_col: str = "vec_id",
    luts: str = "expr",
) -> DataFrame:
    """Streaming IVF-PQ search: each arriving query probes its
    ``n_probe`` nearest cells of the stored ``index`` ((id, cell, code)
    -- reload it from parquet and persist) and ADC-scores ONLY those
    cells' code rows. Emits (q_id, vec_id, adist, rn), rn 1..k --
    value-identical to batch ivf_pq_topk over the same inputs (the
    stream_ann_topk gate shares the batch oracle verbatim).

    ``centroids`` is the stored [(cell_id, vector)] probe artifact (the
    batch centroid table's rows; cell ids must match the ones the index
    was routed with). ``luts='expr'`` computes the per-query LUT as an
    exact literal-tree expression (gate shapes); 'blas' is the gemm
    pandas_udf for production-wide m*k (query stream only -- the
    corpus-sized side never enters Python either way)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.pq import adc_score
    lut = (_lut_expr(codebooks, q_vec_col) if luts == "expr"
           else _lut_blas_udf(codebooks)(F.col(q_vec_col)))
    q = (stream_queries
         .withColumn("_probes", _probe_expr(centroids, n_probe,
                                            coarse_dim, q_vec_col))
         .withColumn("_lut", lut)
         .select(q_id_col, F.explode("_probes").alias("cell"), "_lut"))
    cand = q.join(index.select(id_col, "cell", "code"), "cell")
    scored = cand.select(q_id_col, id_col, adc_score(True).alias("adist"))

    def topk(key, pdfs, state):
        import pandas as pd
        parts = [pdf for pdf in pdfs if len(pdf)]
        state.update((0,))
        if not parts:
            return
        allc = (pd.concat(parts)
                .sort_values(["adist", id_col])
                .head(k).reset_index(drop=True))
        yield pd.DataFrame({
            q_id_col: allc[q_id_col],
            id_col: allc[id_col],
            "adist": allc["adist"],
            "rn": pd.RangeIndex(1, len(allc) + 1).astype("int64")})

    return (scored.groupBy(q_id_col)
            .applyInPandasWithState(
                topk,
                f"{q_id_col} long, {id_col} long, adist double, rn long",
                "dummy int", "update", GroupStateTimeout.NoTimeout))


def _serve_stored(queries_stream, index_path: str, out_path: str, *,
                  k: int, n_probe: int, q_id_col: str, q_vec_col: str,
                  query_name: str, available_now: bool):
    """Streaming serving over a CELL-PARTITIONED stored IVF index of any
    codec (operators/ivf.store): each query micro-batch probes its cells
    against the stored centroid table and reads ONLY those partition
    directories through ivf.stored_topk (the probed-cell
    PartitionFilters list is a per-batch bounded driver value, which is
    exactly why this runs in foreachBatch rather than as a pure stream
    transform), appending ranked results to ``out_path``. Per batch,
    I/O is bound by the probed shards -- the stored-serving economics
    under a query stream."""
    from ..operators.ivf import stored_topk

    def serve(bdf, batch_id: int) -> None:
        if not bdf.take(1):
            return
        out = stored_topk(bdf.sparkSession, index_path, bdf, k=k,
                          n_probe=n_probe, q_id_col=q_id_col,
                          q_vec_col=q_vec_col)
        out.write.mode("append").parquet(out_path)

    q = (queries_stream.writeStream.queryName(query_name)
         .foreachBatch(serve)
         .option("checkpointLocation", f"{out_path}__ckpt"))
    if available_now:
        sq = q.trigger(availableNow=True).start()
        sq.awaitTermination()
        return sq
    return q.start()


def serve_sq_stored_stream(queries_stream, index_path: str,
                           out_path: str, *, k: int = 5,
                           n_probe: int = 2, q_id_col: str = "q_id",
                           q_vec_col: str = "q_vec",
                           query_name: str = "sq_stored_serve",
                           available_now: bool = True):
    """Streaming serving over the stored IVF-SQ index
    (operators/sq.sq_store_index), as sq_stored_topk per micro-batch;
    the stream_ann_stored_topk gate pins the served results against the
    batch search's oracle."""
    return _serve_stored(queries_stream, index_path, out_path, k=k,
                         n_probe=n_probe, q_id_col=q_id_col,
                         q_vec_col=q_vec_col, query_name=query_name,
                         available_now=available_now)


def serve_pq_stored_stream(queries_stream, index_path: str,
                           out_path: str, *, k: int = 5,
                           n_probe: int = 2, q_id_col: str = "q_id",
                           q_vec_col: str = "q_vec",
                           query_name: str = "pq_stored_serve",
                           available_now: bool = True):
    """Streaming serving over the stored IVF-PQ index
    (operators/pq.pq_store_index), as pq_stored_topk per micro-batch:
    the IVF pruning and PQ compression multiply under a query stream
    just as in batch; the stream_ann_pq_stored_topk gate pins the
    served results against the batch search's oracle."""
    return _serve_stored(queries_stream, index_path, out_path, k=k,
                         n_probe=n_probe, q_id_col=q_id_col,
                         q_vec_col=q_vec_col, query_name=query_name,
                         available_now=available_now)
