"""The one guarded publish (operators/merge.guarded_swap) under faults
and contention: every table, store and index mutator stages, then swaps
under the publish lock. A failed rename restores the live tree exactly;
a held lock makes the mutator raise before it stages anything."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bodo_spark.operators import bloom as B
from bodo_spark.operators import retrieval as R
from bodo_spark.operators import sq as Q
from bodo_spark.operators.merge import (ConcurrentWriteError, cow_publish,
                                        merge_into_partitioned,
                                        publish_lock,
                                        write_bucket_partitioned)
from bodo_spark.queries._util import tbl
from bodo_spark.sources.io import compact_parquet

from .conftest import SF_DIR


def _cow(spark, path):
    spark.createDataFrame([(1, "a"), (2, "b")],
                          "k long, v string").write.parquet(path)
    return lambda: cow_publish(spark.read.parquet(path).union(
        spark.createDataFrame([(3, "c")], "k long, v string")), path)


def _partitioned(spark, path):
    write_bucket_partitioned(spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, bal double"),
        path, ["k"], 8)
    src = spark.createDataFrame([(3, 1.0), (11, 2.0)], "k long, add double")
    return lambda: merge_into_partitioned(
        spark, path, src, ["k"], n_buckets=8,
        when_matched_update={"bal": F.col("bal") + F.col("src_add")})


def _sq_compact(spark, path):
    emb = tbl(spark, SF_DIR, "embeddings")
    b1 = emb.where(F.col("vec_id") % 3 != 0)
    los, his = Q.sq_train(b1)
    Q.sq_store_index(Q.ivf_sq_index(b1, los, his, n_cells=8,
                                    seed_vectors=b1),
                     path, los, his, n_cells=8, seed_vectors=b1)
    return lambda: Q.sq_stored_compact(emb, path, n_cells=8,
                                       retain_history=True)


def _bm25_append(spark, path):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta delta"),
         (3, "gamma alpha alpha")], "doc_id long, text string")
    R.bm25_store_index(R.bm25_index(docs), path, n_term_buckets=8)
    more = spark.createDataFrame([(4, "delta epsilon alpha")],
                                 "doc_id long, text string")
    return lambda: R.bm25_stored_append(more, path)


def _bloom_compact(spark, path):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "id long, text string")
    B.write_bloom_index(docs.where(F.col("id") < 20), path, F.md5("text"),
                        m_bits=1 << 10, k=3)
    B.append_bloom_index(docs.where(F.col("id") >= 30), path,
                         F.md5("text"), m_bits=1 << 10, k=3)
    batch = docs.where((F.col("id") >= 20) & (F.col("id") < 30))
    return lambda: B.append_bloom_index(batch, path, F.md5("text"),
                                        m_bits=1 << 10, k=3,
                                        compact_after=True)


def _compact(spark, path):
    for i in range(4):
        spark.range(i * 10, (i + 1) * 10).write.mode("append").parquet(path)
    return lambda: compact_parquet(spark, path, target_file_bytes=1 << 30)


PUBLISHERS = {"cow_publish": _cow, "merge_partitioned": _partitioned,
              "sq_stored_compact": _sq_compact,
              "bm25_stored_append": _bm25_append,
              "bloom_compact": _bloom_compact,
              "compact_parquet": _compact}


def _tree(path):
    """Every directory and file under ``path`` with the file bytes."""
    out = {}
    for root, dirs, files in os.walk(path):
        for d in dirs:
            out[os.path.relpath(os.path.join(root, d), path)] = None
        for f in files:
            fp = os.path.join(root, f)
            with open(fp, "rb") as fh:
                out[os.path.relpath(fp, path)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(PUBLISHERS))
def test_failed_swap_restores_live_tree(spark, tmp_path, monkeypatch,
                                        name):
    """The second rename of the swap raises: the live tree must be
    byte-identical to before, no ``<path>.__*`` sibling may remain, the
    lock must be free, and a retried mutation must succeed."""
    path = str(tmp_path / "t")
    mutate = PUBLISHERS[name](spark, path)
    before = _tree(path)
    rename, seen = os.rename, []

    def failing_rename(src, dst, *a, **kw):
        # only the swap of this tree: the live dir or its children
        # (the BM25 append's inner term_stats swap is not counted)
        if path in (src, dst, os.path.dirname(src), os.path.dirname(dst)):
            seen.append((src, dst))
            if len(seen) == 2:
                raise OSError("injected rename failure")
        return rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        mutate()
    monkeypatch.setattr(os, "rename", rename)
    assert len(seen) >= 3  # two forward renames + at least one undo
    assert _tree(path) == before
    assert glob.glob(f"{path}.__*") == []
    with publish_lock(path):
        pass
    mutate()
    assert _tree(path) != before
    assert glob.glob(f"{path}.__*") == []


@pytest.mark.parametrize("name", sorted(PUBLISHERS))
def test_mutator_raises_while_lock_held(spark, tmp_path, name):
    """Another holder of publish_lock(path) makes every mutator raise
    ConcurrentWriteError before it creates any staging sibling, and the
    live tree is left as it was."""
    path = str(tmp_path / "t")
    mutate = PUBLISHERS[name](spark, path)
    before = _tree(path)
    with publish_lock(path, owner="other"):
        with pytest.raises(ConcurrentWriteError):
            mutate()
        assert glob.glob(f"{path}.__*") == [f"{path}.__lock"]
    assert _tree(path) == before
