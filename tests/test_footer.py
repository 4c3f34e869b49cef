"""The footer-schema path (rowframe.data_files / table_schema /
table_reader): every reader that derives a table's schema from a
parquet footer sees the files a Spark scan reads.

Fault matrix: leftovers a Spark scan never reads -- a crashed writer's
``_temporary/`` holding a foreign schema, a hidden ``.x.parquet``, a
zero-byte first ``part-*.parquet`` -- are planted into clean copies of
each table, and every reader must return the rows it returns on the
clean table. Fast-path pins: on the engine's partitioned layouts the
footer schema is derived (no silent fallback to inference) and equals
the inference read's, and building the reader runs no Spark job."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as papq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from bodo_spark.operators import mor as M
from bodo_spark.queries._util import tbl
from bodo_spark.rowframe import table_reader, table_schema

from .conftest import SF_DIR
from .test_plans import spark_jobs

_ROW = "k long, v string, _cdc_seq long"
_CHANGE = "k long, v string, op string, seq long"
# the bucketed table's read schema, explicit: an inference read of a
# tree with a zero-byte first file fails inside Spark itself
_BUCKETED = f"{_ROW}, mbucket int"
_KINDS = ["temporary", "hidden", "zero"]


def _plant(root: str, kind: str) -> None:
    """Plant leftover ``kind`` on the way to every data file under
    ``root``: ``temporary`` and ``hidden`` in every directory from
    ``root`` down to each data directory (a foreign ``zz double``
    schema, so a reader that takes its footer breaks), ``zero`` as a
    zero-byte ``part-0.parquet`` that sorts before Spark's part files
    in each data directory."""
    data_dirs = {os.path.dirname(f) for f in
                 glob.glob(os.path.join(root, "**", "*.parquet"),
                           recursive=True)}
    if kind == "zero":
        for d in data_dirs:
            open(os.path.join(d, "part-0.parquet"), "wb").close()
        return
    on_way = set()
    for d in data_dirs:
        while d.startswith(root):
            on_way.add(d)
            d = os.path.dirname(d)
    foreign = pa.table({"zz": [1.0]})
    for d in on_way:
        if kind == "temporary":
            os.makedirs(os.path.join(d, "_temporary", "0"), exist_ok=True)
            papq.write_table(foreign, os.path.join(
                d, "_temporary", "0", "part-9.parquet"))
        else:
            papq.write_table(foreign, os.path.join(d, ".x.parquet"))


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _mor_state(spark, path):
    return _rows(M.mor_read(spark, path, key_cols=["k"])
                 .select("k", "v", "_cdc_seq"))


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """Clean trees, built once: name -> path."""
    from bodo_spark.operators import retrieval as R
    from bodo_spark.operators import sq as Q
    from bodo_spark.operators.merge import write_bucket_partitioned

    root = str(tmp_path_factory.mktemp("footer_src"))
    init = spark.createDataFrame(
        [(i, f"v{i}", 0) for i in range(24)], _ROW)
    first = spark.createDataFrame(
        [(1, "a1", "U", 1), (2, None, "D", 1), (40, "n", "U", 1)],
        _CHANGE)
    src = {}
    for name, nb in (("mor", None), ("mor_b", 4)):
        src[name] = f"{root}/{name}"
        M.mor_init(init, src[name], key_cols=["k"], n_buckets=nb)
        M.mor_apply(first, src[name], key_cols=["k"])
    src["bucketed"] = f"{root}/bucketed"
    write_bucket_partitioned(init, src["bucketed"], ["k"], 4)
    src["plain"] = f"{root}/plain"
    init.write.parquet(src["plain"])
    src["natural"] = f"{root}/natural"
    (init.withColumn("region", F.concat(F.lit("r"), F.col("k") % 3))
     .write.partitionBy("region").parquet(src["natural"]))
    emb = tbl(spark, SF_DIR, "embeddings")
    los, his = Q.sq_train(emb)
    src["sq"] = f"{root}/sq"
    Q.sq_store_index(Q.ivf_sq_index(emb, los, his, n_cells=8), src["sq"],
                     los, his, n_cells=8, seed_vectors=emb)
    docs = (tbl(spark, SF_DIR, "documents")
            .select("doc_id", "text").limit(200))
    src["bm25"] = f"{root}/bm25"
    R.bm25_store_index(R.bm25_index(docs), src["bm25"], n_term_buckets=8)
    return src


def _apply(spark, path):
    M.mor_apply(spark.createDataFrame(
        [(3, "a3", "U", 2), (41, "m", "U", 2)], _CHANGE),
        path, key_cols=["k"])
    return _mor_state(spark, path)


def _lookup(spark, path):
    return _rows(M.mor_lookup(spark, path, [1, 2, 5, 40],
                              key_cols=["k"]))


def _compact(spark, path):
    M.mor_compact(spark, path, key_cols=["k"])
    return _mor_state(spark, path)


def _merge(spark, path):
    from bodo_spark.operators.merge import merge_into_partitioned
    merge_into_partitioned(
        spark, path, spark.createDataFrame(
            [(3, "x"), (99, "y")], "k long, w string"),
        ["k"], n_buckets=4,
        when_matched_update={"v": F.col("src_w")},
        when_not_matched_insert={"k": F.col("src_k"), "v": F.col("src_w"),
                                 "_cdc_seq": F.lit(0).cast("long")})
    return _rows(spark.read.schema(_BUCKETED).parquet(path)
                 .select("k", "v", "_cdc_seq"))


def _upsert(**insert):
    """Clauses of a ``k, w`` source: update ``v``, insert new keys."""
    return dict(when_matched_update={"v": F.col("src_w")},
                when_not_matched_insert={
                    "k": F.col("src_k"), "v": F.col("src_w"),
                    "_cdc_seq": F.lit(0).cast("long"), **insert})


def _merge_plain(spark, path):
    from bodo_spark.operators.merge import merge_into_parquet
    merge_into_parquet(spark, path, spark.createDataFrame(
        [(3, "x"), (99, "y")], "k long, w string"), ["k"], **_upsert())
    return _rows(spark.read.schema(_ROW).parquet(path))


def _merge_natural(spark, path):
    """Natural-mode merge, with the cross-partition check (on by
    default at this size), which reads the untouched partitions."""
    from bodo_spark.operators.merge import merge_into_partitioned
    merge_into_partitioned(
        spark, path, spark.createDataFrame(
            [(3, "x", "r0"), (99, "y", "r1")],
            "k long, w string, region string"),
        ["k"], part_col="region", **_upsert(region=F.col("src_region")))
    return _rows(spark.read.schema(f"{_ROW}, region string").parquet(path))


def _compact_plain(spark, path):
    from bodo_spark.sources.io import compact_parquet
    compact_parquet(spark, path)
    return _rows(spark.read.schema(_ROW).parquet(path))


def _rollup_stream(spark, path):
    """A rollup stream folding fact counts into ``_cdc_seq``; new keys
    insert with ``v`` NULL."""
    import uuid

    from bodo_spark.streaming import (maintain_rollup_stream,
                                      read_stream_parquet)
    facts = f"{path}__facts"
    spark.createDataFrame([(3, 2), (3, 1), (77, 4)], "k long, n long") \
        .coalesce(1).write.parquet(facts)
    maintain_rollup_stream(
        read_stream_parquet(spark, facts, spark.read.parquet(facts).schema),
        path, keys=["k"], aggs={"_cdc_seq": F.sum("n")},
        add_cols=["_cdc_seq"],
        query_name=f"footer_{uuid.uuid4().hex[:8]}")
    return _rows(spark.read.schema(_ROW).parquet(path))


def _cdc(spark, path):
    import uuid

    from bodo_spark.streaming import apply_cdc_stream, read_stream_parquet
    ch = f"{path}__changes"
    spark.createDataFrame(
        [(3, "c3", "U", 5), (4, None, "D", 5), (77, "z", "U", 5)],
        _CHANGE).coalesce(1).write.parquet(ch)
    apply_cdc_stream(
        read_stream_parquet(spark, ch, spark.read.parquet(ch).schema),
        path, key_cols=["k"], n_buckets=4,
        query_name=f"footer_{uuid.uuid4().hex[:8]}")
    return _rows(spark.read.schema(_BUCKETED).parquet(path)
                 .select("k", "v", "_cdc_seq"))


def _sq_serve(spark, path):
    from bodo_spark.operators import sq as Q
    q = (tbl(spark, SF_DIR, "embeddings").where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    return _rows(Q.sq_stored_topk(spark, path, q, k=5, n_probe=2))


def _bm25_serve(spark, path):
    from bodo_spark.operators import retrieval as R
    q = spark.createDataFrame([(1, "the quick fox"), (2, "data table")],
                              "q_id long, q_text string")
    return _rows(R.bm25_stored_topk(spark, path, q, k=5))


_READERS = {
    "mor_apply": ("mor_b", _apply),
    "mor_read": ("mor", _mor_state),
    "mor_read_bucketed": ("mor_b", _mor_state),
    "mor_lookup": ("mor_b", _lookup),
    "mor_compact_bucketed": ("mor_b", _compact),
    "merge_partitioned": ("bucketed", _merge),
    "merge_natural": ("natural", _merge_natural),
    "merge_parquet": ("plain", _merge_plain),
    "compact_parquet": ("plain", _compact_plain),
    "rollup_stream": ("plain", _rollup_stream),
    "apply_cdc_stream": ("bucketed", _cdc),
    "sq_stored_topk": ("sq", _sq_serve),
    "bm25_stored_topk": ("bm25", _bm25_serve),
}


@pytest.fixture(scope="module")
def run(spark, sources, tmp_path_factory):
    """``run(reader, kind)``: the reader's rows on a fresh copy of its
    source, with leftover ``kind`` planted (None: clean)."""
    work = tmp_path_factory.mktemp("footer_work")

    def go(reader, kind):
        name, fn = _READERS[reader]
        path = str(work / f"{reader}-{kind}")
        shutil.copytree(sources[name], path)
        if kind is not None:
            _plant(path, kind)
        return fn(spark, path)
    return go


@pytest.fixture(scope="module")
def clean(run):
    cache = {}

    def get(reader):
        if reader not in cache:
            cache[reader] = run(reader, None)
        return cache[reader]
    return get


@pytest.mark.parametrize("kind", _KINDS)
@pytest.mark.parametrize("reader", sorted(_READERS))
def test_leftovers_do_not_change_rows(run, clean, reader, kind):
    want = clean(reader)
    assert want
    assert run(reader, kind) == want


def test_delta_stats_unreadable_footer_and_zero_byte(spark, sources,
                                                     tmp_path,
                                                     monkeypatch):
    """mor_delta_stats counts what Spark counts: an unreadable footer
    falls back to the distributed count instead of raising, and a
    zero-byte .parquet in a delta segment holds no rows."""
    path = str(tmp_path / "t")
    shutil.copytree(sources["mor"], path)
    want = M.mor_delta_stats(spark, path)
    assert want["delta_rows"] == 3 and want["base_rows"] == 24

    def unreadable(*_a, **_k):
        raise pa.ArrowInvalid("unreadable footer")
    with monkeypatch.context() as m:
        m.setattr(papq, "ParquetFile", unreadable)
        assert M.mor_delta_stats(spark, path) == want
    seg = M._delta_dirs(path)[0]
    open(os.path.join(seg, "part-0.parquet"), "wb").close()
    assert M.mor_delta_stats(spark, path) == want


def _pins(sources):
    """(root, declared partition cols) of the engine's partitioned
    layouts whose readers take the footer schema."""
    return [(f"{sources['mor_b']}/base", {"mbucket": IntegerType()}),
            (f"{sources['sq']}/index", {"cell": IntegerType()}),
            (f"{sources['bm25']}/postings", {"tbucket": IntegerType()})]


def test_footer_schema_equals_inference(spark, sources):
    for root, parts in _pins(sources):
        sch = table_schema(root, parts)
        assert sch is not None, root
        inferred = spark.read.parquet(root).schema
        # names and types; nullability differs (arrow keeps the
        # writer's non-null list elements) until the reader below
        # makes every field nullable, as the inference read does
        assert sch.simpleString() == inferred.simpleString(), root
        assert (table_reader(spark, root, parts).parquet(root).schema
                == inferred), root


def test_footer_reader_runs_no_job(spark, sources):
    for root, parts in _pins(sources):
        _, jobs = spark_jobs(
            spark, lambda: table_reader(spark, root, parts).parquet(root))
        assert jobs == 0, (root, jobs)
        # the pin measures something: the inference read runs a job
        _, inferred = spark_jobs(spark, lambda: spark.read.parquet(root))
        assert inferred >= 1, (root, inferred)
