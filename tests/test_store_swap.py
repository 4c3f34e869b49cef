"""Stored-index generation retention (operators/store_swap.py): the
whole-store swap keeps numbered snapshots, rollback restores a prior
generation (and is itself undoable), expiry bounds the archive, and the
BM25 stored append is all-or-nothing under the swap."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bodo_spark.operators import sq as Q
from bodo_spark.operators import store_swap as SS
from bodo_spark.queries._util import tbl

from .conftest import SF_DIR


def _queries(emb):
    return (emb.where(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))


def _served(spark, path, queries):
    return sorted(map(tuple, Q.sq_stored_topk(
        spark, path, queries, k=5, n_probe=2)
        .where(F.col("vec_id") != F.col("q_id")).collect()))


def test_sq_store_generation_rollback_and_expiry(spark, tmp_path):
    emb = tbl(spark, SF_DIR, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    path = str(tmp_path / "store")
    los, his = Q.sq_train(b1)
    idx = Q.ivf_sq_index(b1, los, his, n_cells=8, seed_vectors=b1)
    Q.sq_store_index(idx, path, los, his, n_cells=8, seed_vectors=b1)
    queries = _queries(emb)
    served_v0 = _served(spark, path, queries)
    # compact over the FULL corpus, retaining the b1-only store
    g0 = Q.sq_stored_compact(emb, path, n_cells=8,
                             retain_history=True)
    assert g0 == 0 and SS.store_generations(path) == [0]
    served_v1 = _served(spark, path, queries)
    assert served_v1 != served_v0  # the corpus genuinely changed
    # roll back the bad compaction: gen 0 becomes live again, the
    # rolled-back-FROM store is retained as gen 1 (rollback undoable)
    g1 = SS.restore_store_generation(path, 0)
    assert g1 == 1 and SS.store_generations(path) == [0, 1]
    assert _served(spark, path, queries) == served_v0
    # ... and forward again
    SS.restore_store_generation(path, 1)
    assert _served(spark, path, queries) == served_v1
    assert SS.store_generations(path) == [0, 1, 2]
    # expiry keeps the newest generations only
    out = SS.expire_store_generations(path, keep_last=1)
    assert out == {"expired": 2, "kept": [2]}
    assert SS.store_generations(path) == [2]
    with pytest.raises(ValueError, match="expired|never"):
        SS.restore_store_generation(path, 0)
    # no retention -> swap deletes the superseded store
    assert Q.sq_stored_compact(emb, path, n_cells=8) is None
    assert SS.store_generations(path) == []
    assert not os.path.exists(f"{path}.__lock")


def test_bm25_stored_append_is_atomic(spark, tmp_path):
    """A failing append must leave the live store byte-identical (the
    r13 ADVICE torn-window: postings appended but stats not yet) --
    the staging-copy + whole-store swap guarantees it."""
    from bodo_spark.operators import retrieval as R
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta delta"),
         (3, "gamma alpha alpha")], "doc_id long, text string")
    path = str(tmp_path / "bm")
    R.bm25_store_index(R.bm25_index(docs), path, n_term_buckets=8)

    def snap(p):
        out = {}
        for root, _d, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                out[os.path.relpath(fp, p)] = os.path.getsize(fp)
        return out

    before = snap(path)
    bad = spark.createDataFrame([(4, None)], "doc_id long, text string")
    with pytest.raises(Exception):
        R.bm25_stored_append(bad, path)
    assert snap(path) == before
    assert not glob.glob(f"{path}.__*")
    # a good append still serves one-shot-identically and can retain
    more = spark.createDataFrame([(4, "delta epsilon alpha")],
                                 "doc_id long, text string")
    gen = R.bm25_stored_append(more, path, retain_history=True)
    assert gen == 0 and SS.store_generations(path) == [0]
    q = spark.createDataFrame([(0, "alpha delta")],
                              "q_id long, q_text string")
    got = sorted(map(tuple, R.bm25_stored_topk(spark, path, q, k=10)
                     .collect()))
    fresh = R.bm25_index(docs.unionByName(more))
    want = sorted(map(tuple, R.bm25_topk(fresh, q, k=10).collect()))
    assert got == want
