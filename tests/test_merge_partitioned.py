"""File-pruned MERGE (operators/merge.merge_into_partitioned): value
parity with the unpartitioned merge, physical evidence that untouched
partition files are never rewritten, deletion emptying a partition,
the cross-partition-update guard, and failure restore."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from bodo_spark.operators.merge import (merge_into, merge_into_partitioned,
                                        write_bucket_partitioned)


def _tbl(spark):
    return spark.createDataFrame(
        [(i, f"seg{i % 3}", float(i)) for i in range(40)],
        "k long, seg string, bal double")


def _files(path):
    return {(p, os.path.getmtime(p), os.path.getsize(p))
            for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                               recursive=True)}


def test_pruned_merge_matches_unpartitioned(spark, tmp_path):
    t = _tbl(spark)
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(t, path, ["k"], 8)
    src = spark.createDataFrame(
        [(3, 100.0), (7, 200.0), (999, 5.0)], "k long, add double")
    clauses = dict(
        when_matched_update={"bal": F.col("bal") + F.col("src_add")},
        when_matched_delete=F.col("src_add") > 150,
        when_not_matched_insert={"k": F.col("src_k"),
                                 "seg": F.lit("NEW"),
                                 "bal": F.col("src_add")})
    touched = merge_into_partitioned(spark, path, src, ["k"],
                                     n_buckets=8, **clauses)
    assert 0 < len(touched) <= 3
    got = sorted(map(tuple, spark.read.parquet(path)
                     .select("k", "seg", "bal").collect()))
    want = sorted(map(tuple,
                      merge_into(t, src, ["k"], **clauses).collect()))
    assert got == want
    assert (3, "seg0", 103.0) in got and (999, "NEW", 5.0) in got
    assert not any(k == 7 for k, _, _ in got)


def test_untouched_partition_files_never_rewritten(spark, tmp_path):
    t = _tbl(spark)
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(t, path, ["k"], 8)
    src = spark.createDataFrame([(3, 1.0)], "k long, add double")
    tset = merge_into_partitioned(
        spark, path, src, ["k"], n_buckets=8,
        when_matched_update={"bal": F.col("bal") + F.col("src_add")})
    assert len(tset) == 1
    touched_dir = os.path.join(path, f"mbucket={tset[0]}")
    before = {f for f in _files(path)
              if not f[0].startswith(touched_dir)}
    # second merge on the same key: every file OUTSIDE the touched
    # bucket must be byte-for-byte the same file (path+mtime+size)
    merge_into_partitioned(
        spark, path, src, ["k"], n_buckets=8,
        when_matched_update={"bal": F.col("bal") + F.col("src_add")})
    after = {f for f in _files(path)
             if not f[0].startswith(touched_dir)}
    assert before == after and before
    assert not glob.glob(str(tmp_path / "tbl.__*"))


def test_delete_empties_partition_dir(spark, tmp_path):
    # single key in its own bucket of 64: deleting it must REMOVE the
    # partition directory, and the read-back must drop the row
    t = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(t, path, ["k"], 64)
    src = spark.createDataFrame([(1,)], "k long")
    merge_into_partitioned(spark, path, src, ["k"], n_buckets=64,
                           when_matched_delete=F.lit(True))
    assert [tuple(r) for r in spark.read.parquet(path)
            .select("k", "v").collect()] == [(2, 2.0)]
    dirs = {d for d in os.listdir(path) if d.startswith("mbucket=")}
    assert len(dirs) == 1


def test_natural_part_col_and_cross_partition_guard(spark, tmp_path):
    t = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)],
        "k long, region string, v double")
    path = str(tmp_path / "tbl")
    t.write.partitionBy("region").parquet(path)
    ok = spark.createDataFrame([(1, "a", 10.0)],
                               "k long, region string, v double")
    touched = merge_into_partitioned(
        spark, path, ok, ["k"], part_col="region",
        when_matched_update={"v": F.col("src_v")})
    assert touched == ["a"]
    got = sorted(map(tuple, spark.read.parquet(path)
                     .select("k", "v", "region").collect()))
    assert got == [(1, 10.0, "a"), (2, 2.0, "a"), (3, 3.0, "b")]
    # an update that MOVES the row to another partition must raise and
    # leave the table unchanged
    bad = spark.createDataFrame([(2, "a", 0.0)],
                                "k long, region string, v double")
    with pytest.raises(ValueError, match="touched set"):
        merge_into_partitioned(
            spark, path, bad, ["k"], part_col="region",
            when_matched_update={"v": F.col("src_v"),
                                 "region": F.lit("c")})
    assert sorted(map(tuple, spark.read.parquet(path)
                      .select("k", "v", "region").collect())) == got
    assert not glob.glob(str(tmp_path / "tbl.__*"))


def test_empty_source_is_noop(spark, tmp_path):
    t = _tbl(spark)
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(t, path, ["k"], 8)
    before = _files(path)
    src = spark.createDataFrame([], "k long, add double")
    assert merge_into_partitioned(
        spark, path, src, ["k"], n_buckets=8,
        when_matched_update={"bal": F.col("src_add")}) == []
    assert _files(path) == before


def test_pruned_failed_staging_leaves_table(spark, tmp_path):
    t = _tbl(spark)
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(t, path, ["k"], 8)
    before = sorted(map(tuple, spark.read.parquet(path)
                        .select("k", "seg", "bal").collect()))
    src = spark.createDataFrame([(3, 1.0)], "k long, add double")
    with pytest.raises(Exception):
        merge_into_partitioned(
            spark, path, src, ["k"], n_buckets=8,
            when_matched_update={
                "bal": F.expr("raise_error('staged failure')")
                .cast("double")})
    assert sorted(map(tuple, spark.read.parquet(path)
                      .select("k", "seg", "bal").collect())) == before
    assert not glob.glob(str(tmp_path / "tbl.__*"))


def test_arg_validation(spark, tmp_path):
    src = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="exactly one"):
        merge_into_partitioned(spark, "/nope", src, ["k"])
    with pytest.raises(ValueError, match="exactly one"):
        merge_into_partitioned(spark, "/nope", src, ["k"],
                               part_col="p", n_buckets=4)
    with pytest.raises(ValueError, match="lacks partition column"):
        merge_into_partitioned(spark, "/nope", src, ["k"],
                               part_col="region")


def test_natural_mode_null_part_value_refused(spark, tmp_path):
    """A NULL partition value in the source must raise, not silently
    drop the NULL-partition directory's other rows (isin never matches
    NULL, so the slice-and-swap would replace that dir with only the
    batch rows)."""
    t = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, None, 3.0)],
        "k long, region string, v double")
    path = str(tmp_path / "tbl")
    t.write.partitionBy("region").parquet(path)
    before = sorted(map(tuple, spark.read.parquet(path)
                        .select("k", "v").collect()))
    bad = spark.createDataFrame([(2, None, 9.0)],
                                "k long, region string, v double")
    with pytest.raises(ValueError, match="NULL partition"):
        merge_into_partitioned(
            spark, path, bad, ["k"], part_col="region",
            when_matched_update={"v": F.col("src_v")})
    assert sorted(map(tuple, spark.read.parquet(path)
                      .select("k", "v").collect())) == before


def test_natural_mode_rejects_unsupported_part_types(spark, tmp_path):
    """Natural part_col mode is int/string only: str(v) diverges from
    hive directory rendering for e.g. booleans ('True' vs 'true'), so
    other types are rejected EARLY instead of failing at publish."""
    t = spark.createDataFrame([(1, True, 1.0), (2, False, 2.0)],
                              "k long, flag boolean, v double")
    path = str(tmp_path / "tbl")
    t.write.partitionBy("flag").parquet(path)
    src = spark.createDataFrame([(1, True, 9.0)],
                                "k long, flag boolean, v double")
    with pytest.raises(ValueError, match="int/string"):
        merge_into_partitioned(
            spark, path, src, ["k"], part_col="flag",
            when_matched_update={"v": F.col("src_v")})


def test_natural_mode_validate_cross_partition(spark, tmp_path):
    """validate_cross_partition=True catches a source row whose
    part_col points at the WRONG partition for its key (the silent-
    duplication hazard); without it the merge quietly duplicates."""
    t = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "k long, region string, v double")
    path = str(tmp_path / "tbl")
    t.write.partitionBy("region").parquet(path)
    # key 2 lives in region 'b' but the source claims 'a'
    bad = spark.createDataFrame([(2, "a", 9.0)],
                                "k long, region string, v double")
    with pytest.raises(ValueError, match="outside the touched set"):
        merge_into_partitioned(
            spark, path, bad, ["k"], part_col="region",
            validate_cross_partition=True,
            when_matched_update={"v": F.col("src_v")},
            when_not_matched_insert={"k": F.col("src_k"),
                                     "region": F.col("src_region"),
                                     "v": F.col("src_v")})
    # table unchanged
    got = sorted(map(tuple, spark.read.parquet(path)
                     .select("k", "region", "v").collect()))
    assert got == [(1, "a", 1.0), (2, "b", 2.0)]


def test_natural_mode_touched_cap_guards_driver(spark, tmp_path):
    t = spark.createDataFrame(
        [(i, f"r{i}", float(i)) for i in range(20)],
        "k long, region string, v double")
    path = str(tmp_path / "tbl")
    t.write.partitionBy("region").parquet(path)
    src = spark.createDataFrame(
        [(i, f"r{i}", 0.0) for i in range(20)],
        "k long, region string, v double")
    with pytest.raises(ValueError, match="max_touched"):
        merge_into_partitioned(
            spark, path, src, ["k"], part_col="region", max_touched=8,
            when_matched_update={"v": F.col("src_v")})
    # under the cap it succeeds
    touched = merge_into_partitioned(
        spark, path, src, ["k"], part_col="region", max_touched=64,
        when_matched_update={"v": F.col("src_v")})
    assert len(touched) == 20


def test_natural_mode_auto_validation_default(spark, tmp_path):
    """The None default must auto-enable the cross-partition key check
    on small tables (driver-local file count under the bound), so the
    silent-duplication hazard is caught WITHOUT the flag; above the
    bound it stays off with a warning (the pruned economics)."""
    import warnings as W
    t = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "k long, region string, v double")
    path = str(tmp_path / "tbl")
    t.write.partitionBy("region").parquet(path)
    bad = spark.createDataFrame([(2, "a", 9.0)],
                                "k long, region string, v double")
    kwargs = dict(
        when_matched_update={"v": F.col("src_v")},
        when_not_matched_insert={"k": F.col("src_k"),
                                 "region": F.col("src_region"),
                                 "v": F.col("src_v")})
    with pytest.raises(ValueError, match="outside the touched set"):
        merge_into_partitioned(spark, path, bad, ["k"],
                               part_col="region", **kwargs)
    # above the file bound the default skips the check but warns
    with W.catch_warnings(record=True) as rec:
        W.simplefilter("always")
        merge_into_partitioned(spark, path, bad, ["k"],
                               part_col="region",
                               auto_validate_max_files=0, **kwargs)
    assert any("duplicate the key" in str(w.message) for w in rec)
    # ... and the hazard really happens: key 2 now exists twice
    k2 = spark.read.parquet(path).where(F.col("k") == 2).count()
    assert k2 == 2


def test_bucket_write_one_file_per_bucket_dir(spark, tmp_path):
    """write_bucket_partitioned keys the pre-write repartition on the
    bucket column WITHOUT an explicit partition count (r14: AQE sizes
    the write tasks from the byte mass instead of pinning n_buckets
    tasks). The layout contract must survive that: every bucket value
    lands wholly in one task, so each mbucket dir holds exactly ONE
    data file."""
    t = spark.createDataFrame(
        [(i, float(i)) for i in range(500)], "k long, v double")
    path = str(tmp_path / "tbl")
    write_bucket_partitioned(t, path, ["k"], 16)
    dirs = [d for d in os.listdir(path) if d.startswith("mbucket=")]
    assert dirs
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(path, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    assert spark.read.parquet(path).count() == 500
