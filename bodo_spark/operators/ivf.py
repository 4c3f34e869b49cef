"""One IVF tier with a pluggable codec: the routing, probing, stored
layout and lifecycle that IVF-SQ8 (sq.py) and IVF-PQ (pq.py) share.

An IVF index is ``(id, cell, code)``: the coarse cell a vector routes
to (its nearest centroid by cosine on the first ``coarse_dim``
components) plus the codec's compressed code. Everything but the code
is the same for every codec, so it is written here once:

- routing: the deterministic lowest-id centroid table
  (similarity._centroid_table + assign_nearest_cell), or explicit
  ``centroids`` through the gemm assigner (cells = list positions);
- the query-side probe (similarity.probe_cells): each query's
  ``n_probe`` nearest cells against the broadcast centroid table;
- the probed scoring join and the per-query top-k window;
- the multi-segment union (segments encoded under different codec
  versions, one global top-k);
- the stored layout: ``index/`` hive-partitioned by cell,
  ``centroids/`` the (_cid, _cvec, _cn) probe table, ``meta/`` one row
  of codec fields plus ``coarse_dim`` and ``id_col``;
- store, stored append, stored compaction (one guarded_store_swap) and
  stored top-k.

A ``Codec`` supplies the rest: training, encoding rows that already
carry a cell, the per-row prep applied after the cell prune, the query
side and expression of the score, and the meta round-trip. In memory,
an append is ``build_index`` over the batch unioned onto the index
(the same codec and routing source give the rows a one-shot build
would), and a compaction is ``<Codec>.train`` then ``build_index``.
This is REPOSE's (ICDE'21) one partition-and-prune framework with a
pluggable distance, and FAISS's codec-behind-a-common-IVF split.

Reference parity: the reference hands vector search to a managed
external index (bodo/pandas/frame.py:721 S3 Vectors); here the engine
provides the index itself.
"""

from __future__ import annotations

from abc import ABC, abstractmethod
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..rowframe import (artifact_df, localize_if_small, read_artifact_rows,
                        table_schema, write_artifact_rows)
from .merge import publish_lock
from .similarity import (_centroid_table, _ensure_scan_width,
                         assign_nearest_cell, cell_assigner_udf, probe_cells)
from .store_swap import guarded_store_swap

__all__ = ["Codec", "route", "build_index", "search", "store",
           "stored_append", "stored_compact", "stored_topk"]


class Codec(ABC):
    """The per-variant half of an IVF index. Each codec also has a
    ``train`` classmethod (its own knobs) returning a fitted codec.

    ``name`` tags lock owners and staging directories; ``meta_ddl``
    declares the codec's columns of the stored meta row (they precede
    ``coarse_dim`` and ``id_col``); ``prep_folds`` says ``prep`` folds
    over every row, so in-memory search semi-joins the index to the
    probed cells first (Catalyst does not push a join below a Project,
    so prepping first would fold over 100% of the index -- pinned by
    test_ivf_sq_prunes_before_dequantize)."""

    name: str
    meta_ddl: str
    prep_folds = False

    @classmethod
    def matches(cls, meta: dict) -> bool:
        """True when a stored meta row carries this codec's fields."""
        return all(f.split()[0] in meta for f in cls.meta_ddl.split(", "))

    @classmethod
    @abstractmethod
    def from_meta(cls, meta: dict) -> Codec:
        """The codec a stored meta row pins."""

    @abstractmethod
    def meta_values(self) -> tuple:
        """This codec's meta fields, in ``meta_ddl`` order."""

    @abstractmethod
    def encode_assigned(self, assigned: DataFrame, *, id_col: str,
                        vec_col: str, cell_col: str) -> DataFrame:
        """``(id_col, cell, code)`` for rows that already carry a cell
        in ``cell_col`` -- encoded in the same pass, no id join."""

    def prep(self, rows: DataFrame) -> DataFrame:
        """Per-row columns ``score`` reads, added after the cell prune."""
        return rows

    @abstractmethod
    def query_side(self, queries: DataFrame, q_id_col: str,
                   q_vec_col: str) -> DataFrame:
        """One row per query: ``q_id_col`` plus what ``score`` reads."""

    @abstractmethod
    def score(self) -> Column:
        """The ``adist`` expression over a prepped index row joined to
        its query side (two-dot l2 form, rounded to 6 dp)."""


def route(vectors: DataFrame, *, n_cells: int = 8,
          centroids: list | None = None, id_col: str = "vec_id",
          vec_col: str = "embedding", coarse_dim: int = 16,
          seed_vectors: DataFrame | None = None) -> DataFrame:
    """``(id_col, vec_col, _cell)``: every vector's coarse cell. Pin
    ``seed_vectors``/``centroids`` across incremental builds so batches
    route identically (the append/compact lifecycle contract)."""
    rows = _ensure_scan_width(vectors).select(id_col, vec_col)
    if centroids is not None:
        # per-row gemm assignment: zero shuffles
        return rows.withColumn("_cell", cell_assigner_udf(
            centroids, coarse_dim)(F.col(vec_col)))
    cents = _centroid_table(
        seed_vectors if seed_vectors is not None else vectors,
        None, n_cells, coarse_dim, id_col, vec_col)
    return assign_nearest_cell(rows, cents, vec_col=vec_col,
                               key_col=id_col, coarse_dim=coarse_dim)


def build_index(vectors: DataFrame, codec: Codec, *, n_cells: int = 8,
                centroids: list | None = None, id_col: str = "vec_id",
                vec_col: str = "embedding", coarse_dim: int = 16,
                seed_vectors: DataFrame | None = None) -> DataFrame:
    """The inverted file ``(id, cell, code)`` in ONE corpus pass: the
    codec encodes the same rows the cell assignment carries through
    (no second scan, no id join)."""
    routed = route(vectors, n_cells=n_cells, centroids=centroids,
                   id_col=id_col, vec_col=vec_col, coarse_dim=coarse_dim,
                   seed_vectors=seed_vectors)
    return codec.encode_assigned(routed, id_col=id_col, vec_col=vec_col,
                                 cell_col="_cell")


def _probe(queries: DataFrame, cents: DataFrame, *, n_probe: int,
           coarse_dim: int, q_id_col: str, q_vec_col: str) -> DataFrame:
    """``(q_id_col, cell)``: each query's ``n_probe`` nearest cells."""
    return probe_cells(queries.select(q_id_col, q_vec_col), cents,
                       n_probe=n_probe, vec_col=q_vec_col,
                       key_col=q_id_col,
                       coarse_dim=coarse_dim).select(q_id_col, "cell")


def _score_probed(rows: DataFrame, qprobe: DataFrame, queries: DataFrame,
                  codec: Codec, *, id_col: str, q_id_col: str,
                  q_vec_col: str) -> DataFrame:
    """``(q_id, id, adist)`` for index rows already pruned to the probed
    cells: prep, then join each row to the queries that probe its cell
    and to their query side (both broadcast -- top-n_probe per query is
    tiny); the only corpus-sized exchange is the join on the cell id."""
    qside = codec.query_side(queries, q_id_col, q_vec_col)
    cand = (codec.prep(rows).join(F.broadcast(qprobe), "cell")
            .join(F.broadcast(qside), q_id_col))
    return cand.select(q_id_col, id_col, codec.score().alias("adist"))


def _topk_by_adist(scored: DataFrame, k: int, q_id_col: str,
                   id_col: str) -> DataFrame:
    """Per-query top-k by ascending adist, ties to the lowest id:
    ``(q_id, id, adist, rn)`` with rn 1..k (a WindowGroupLimit)."""
    w = W.partitionBy(q_id_col).orderBy("adist", id_col)
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k)
            .select(q_id_col, id_col, "adist",
                    F.col("rn").cast("bigint").alias("rn")))


def search(segments: list, queries: DataFrame, vectors: DataFrame, *,
           k: int = 5, n_probe: int = 2, n_cells: int = 8,
           id_col: str = "vec_id", vec_col: str = "embedding",
           q_id_col: str = "q_id", q_vec_col: str = "q_vec",
           coarse_dim: int = 16) -> DataFrame:
    """Probed top-k over in-memory index segments: ``segments`` is a
    list of ``(index, codec, centroids or None)``. Each segment is
    scored under ITS OWN codec (codes are codec-bound: mixing
    generations is the bug compaction must avoid), the scored passes
    union without a shuffle, and one per-query top-k ranks them. Cells
    come from ``vectors``' lowest-id centroid table unless a segment
    pins ``centroids``; ``vectors`` is not otherwise read."""
    if not segments:
        raise ValueError("segments must be non-empty")
    parts = []
    for index, codec, centroids in segments:
        cents = _centroid_table(vectors, centroids, n_cells, coarse_dim,
                                id_col, vec_col)
        qprobe = _probe(queries, cents, n_probe=n_probe,
                        coarse_dim=coarse_dim, q_id_col=q_id_col,
                        q_vec_col=q_vec_col)
        if codec.prep_folds:
            # qprobe's distinct cell set is tiny and broadcasts
            index = index.join(F.broadcast(qprobe.select("cell").distinct()),
                               "cell", "left_semi")
        parts.append(_score_probed(index, qprobe, queries, codec,
                                   id_col=id_col, q_id_col=q_id_col,
                                   q_vec_col=q_vec_col))
    return _topk_by_adist(reduce(DataFrame.unionByName, parts), k,
                          q_id_col, id_col)


# --------------------------------------------------------------------------
# Stored serving: the inverted file persisted hive-partitioned BY CELL, so
# a query batch's probed-cell set (a bounded driver value, <= n_probe x
# n_queries ints) becomes a PartitionFilters IN list on the index scan --
# serving I/O is bound by the probed cells' directories (asserted in
# test_plans). The centroid table and the codec's model artifacts ride
# along as tiny driver-local tables, so serving never touches the raw
# vectors or recomputes a model artifact.

def store(index: DataFrame, path: str, codec: Codec, *, n_cells: int = 8,
          centroids: list | None = None,
          seed_vectors: DataFrame | None = None, coarse_dim: int = 16,
          id_col: str = "vec_id", vec_col: str = "embedding",
          mode: str = "errorifexists") -> None:
    """Persist an inverted file as the serving artifact. ``index/`` is
    repartitioned BY the cell first (one file per cell directory);
    ``centroids/`` and ``meta/`` are bounded driver values written
    driver-locally (rowframe.write_artifact_rows -- no Spark job), so
    only the index write is a job. Pass the SAME centroid source as the
    build so the stored probe table routes queries like the build
    routed the corpus."""
    if seed_vectors is None and centroids is None:
        raise ValueError("pass centroids or seed_vectors (the stored "
                         "probe table must match the build's routing)")
    cents = _centroid_table(
        seed_vectors if seed_vectors is not None else index,
        centroids, n_cells, coarse_dim, id_col, vec_col)
    (index.repartition(int(n_cells), F.col("cell"))
     .write.mode(mode).partitionBy("cell").parquet(f"{path}/index"))
    write_artifact_rows(
        f"{path}/centroids", [tuple(r) for r in cents.collect()],
        cents.schema, mode=mode)
    write_artifact_rows(
        f"{path}/meta", [(*codec.meta_values(), int(coarse_dim), id_col)],
        codec.meta_ddl + ", coarse_dim int, id_col string", mode=mode)


def _stored_meta(path: str) -> tuple[Codec, int, str]:
    """``(codec, coarse_dim, id_col)`` from a store's meta row, the
    codec recognised by its fields (a driver-local read, no job)."""
    from .pq import PQ
    from .sq import SQ8
    m = read_artifact_rows(f"{path}/meta")[0][0]
    codec = next((c for c in (SQ8, PQ) if c.matches(m)), None)
    if codec is None:
        raise ValueError(f"unrecognised IVF store meta fields {sorted(m)}")
    return codec.from_meta(m), int(m["coarse_dim"]), m["id_col"]


def stored_append(new_vectors: DataFrame, path: str, *,
                  vec_col: str = "embedding") -> None:
    """Encode + route ONLY the batch under the stored codec and centroid
    table, then dynamic-partition-append its rows into the touched cell
    directories: O(batch), existing index files never opened. Holds the
    store's publish lock so an append cannot land in a tree a compaction
    swap is superseding."""
    codec, coarse_dim, id_col = _stored_meta(path)
    cents = artifact_df(new_vectors.sparkSession, f"{path}/centroids")
    assigned = assign_nearest_cell(
        _ensure_scan_width(new_vectors).select(id_col, vec_col), cents,
        vec_col=vec_col, key_col=id_col, coarse_dim=coarse_dim)
    batch = codec.encode_assigned(assigned, id_col=id_col,
                                  vec_col=vec_col, cell_col="_cell")
    with publish_lock(path.rstrip("/"), owner=f"{codec.name}_stored_append"):
        (batch.repartition(F.col("cell"))
         .write.mode("append").partitionBy("cell")
         .parquet(f"{path}/index"))


def stored_compact(vectors: DataFrame, path: str, codec: Codec, *,
                   n_cells: int = 8, centroids: list | None = None,
                   coarse_dim: int = 16, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   seed_vectors: DataFrame | None = None,
                   retain_history: bool = False) -> int | None:
    """Rebuild the inverted file from the raw ``vectors`` under a freshly
    trained ``codec`` and REPLACE the whole store -- index, centroids,
    meta -- in one guarded swap: codes and the model that decodes them
    switch together, so a reader sees the old store or the new one.
    ``centroids``/``seed_vectors`` pin the routing source of BOTH the
    rebuild and the stored probe table. ``retain_history`` keeps the
    superseded store as a numbered generation under ``<path>/archive``
    (store_swap.restore_store_generation rolls back) and returns its
    number, else None. The rebuild runs under the store's publish lock,
    so an append that lands meanwhile raises instead of being swapped
    away."""
    def build(staging: str) -> None:
        idx = build_index(vectors, codec, n_cells=n_cells,
                          centroids=centroids, id_col=id_col,
                          vec_col=vec_col, coarse_dim=coarse_dim,
                          seed_vectors=seed_vectors)
        store(idx, staging, codec, n_cells=n_cells, centroids=centroids,
              seed_vectors=(seed_vectors if seed_vectors is not None
                            else vectors),
              coarse_dim=coarse_dim, id_col=id_col, vec_col=vec_col)

    return guarded_store_swap(path, build, retain_history=retain_history)


def stored_topk(spark, path: str, queries: DataFrame, *, k: int = 5,
                n_probe: int = 2, q_id_col: str = "q_id",
                q_vec_col: str = "q_vec") -> DataFrame:
    """Serving-path search over a stored index of any codec: queries
    probe the stored centroid table, the probed-cell set prunes the
    index scan to those partition directories (static
    PartitionFilters), and the ranking is ``search``'s scoring pass --
    value-identical to the in-memory search over the same index."""
    codec, coarse_dim, id_col = _stored_meta(path)
    cents = artifact_df(spark, f"{path}/centroids")
    qprobe = _probe(queries, cents, n_probe=n_probe, coarse_dim=coarse_dim,
                    q_id_col=q_id_col, q_vec_col=q_vec_col)
    # qprobe is consumed twice -- the probed-cell collect and the
    # candidate join. For the bounded serving case ONE limit-collect
    # localizes it instead of paying a localCheckpoint job plus a
    # distinct+collect job per serve; an over-budget query batch keeps
    # the distributed form (no unbounded driver collect).
    qlocal, qrows = localize_if_small(qprobe)
    if qlocal is not None:
        qprobe, cells = qlocal, sorted({r[1] for r in qrows})
    else:
        qprobe = qprobe.localCheckpoint(eager=True)
        cells = [r[0] for r in qprobe.select("cell").distinct().collect()]
    # explicit footer-derived schema: no inference job per serve; the
    # probed-cell IN list stays a static PartitionFilters prune
    isch = table_schema(f"{path}/index", {"cell": IntegerType()})
    ird = spark.read if isch is None else spark.read.schema(isch)
    pruned = ird.parquet(f"{path}/index").where(F.col("cell").isin(cells))
    scored = _score_probed(pruned, qprobe, queries, codec, id_col=id_col,
                           q_id_col=q_id_col, q_vec_col=q_vec_col)
    return _topk_by_adist(scored, k, q_id_col, id_col)
