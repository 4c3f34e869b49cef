"""MERGE INTO + lakehouse-I/O battery: the reference's Iceberg MERGE
(COW) semantics re-expressed as a DataFrame transformation
(bodo_spark.operators.merge) with a full-outer-join CASE oracle, plus
the storage-layout operators under the gate -- partitioned-write
pruned read-back, versioned-table time travel, z-order clustered
writes, bucketed-table joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merge_into
from ..rowframe import local_df
from ._util import QueryDef, dec, tbl


def sql_merge_into(spark: SparkSession, sf: str) -> DataFrame:
    """Three-clause MERGE: customers' balances merged with their 1998+
    order spend (WHEN MATCHED UPDATE: bal += spend; WHEN MATCHED AND
    spend > 3M DELETE; WHEN NOT MATCHED INSERT: synthetic new customers
    at custkey+10M). Output aggregated per segment.

    Reference: bodo/io/iceberg/merge_into.py:33 (COW row-level ops)."""
    c = tbl(spark, sf, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg"),
        dec("c_acctbal", 12, 2).alias("bal"))
    o = tbl(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    spend = (o.groupBy("o_custkey")
             .agg(F.sum(dec("o_totalprice", 12, 2)).alias("addbal"))
             .select(F.col("o_custkey").alias("c_custkey"), "addbal"))
    newbies = (spend.where(F.col("c_custkey") < 100)
               .select((F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                       "addbal"))
    src = spend.unionByName(newbies)
    merged = merge_into(
        c, src, on=["c_custkey"],
        when_matched_update={"bal": F.col("bal") + F.col("src_addbal")},
        when_matched_delete=F.col("src_addbal") > 3_000_000,
        when_not_matched_insert={
            "c_custkey": F.col("src_c_custkey"),
            "seg": F.lit("NEW"),
            "bal": F.col("src_addbal")})
    return (merged.groupBy("seg")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("bal").cast("double").alias("total_bal"))
            .orderBy("seg"))


_MERGE_SQL = """
WITH spend AS (
  SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS addbal
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01' GROUP BY 1),
src AS (
  SELECT k, addbal FROM spend
  UNION ALL
  SELECT k + 10000000, addbal FROM spend WHERE k < 100),
merged AS (
  SELECT COALESCE(c.c_custkey, s.k) AS c_custkey,
         CASE WHEN c.c_custkey IS NULL THEN 'NEW' ELSE c.c_mktsegment END AS seg,
         CASE
           WHEN c.c_custkey IS NOT NULL AND s.k IS NOT NULL
             THEN CAST(c.c_acctbal AS DECIMAL(12,2)) + s.addbal
           WHEN c.c_custkey IS NULL THEN s.addbal
           ELSE CAST(c.c_acctbal AS DECIMAL(12,2))
         END AS bal
  FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
  WHERE NOT (c.c_custkey IS NOT NULL AND s.k IS NOT NULL
             AND s.addbal > 3000000))
SELECT seg, COUNT(*) AS n, CAST(SUM(bal) AS DOUBLE) AS total_bal
FROM merged GROUP BY seg ORDER BY seg
"""


def io_partitioned_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Partitioned-write + partition-pruned read under the correctness
    gate: events written partitionBy(day) to a fixed staging dir
    (overwrite -- bounded litter), read back with a partition-column
    filter (prunes to 3 directories; asserted in test_plans), and
    aggregated. The filter days are DERIVED from the data (3 smallest
    distinct days) so the pruned-read path is exercised at every SF --
    a hardcoded date range against synthetic data risks a vacuous 0-row
    agreement. Oracle derives the same 3 days via a subquery."""
    import os

    e = tbl(spark, sf, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd"))
    stage = f"/tmp/bodo_spark_part_demo_{os.path.basename(sf.rstrip('/'))}"
    (e.write.mode("overwrite").partitionBy("day").parquet(stage))
    # Bounded driver-side discovery (<= 3 values) of real partition
    # values, then literal IN filter -> static partition pruning.
    days = [r[0] for r in
            e.select("day").distinct().orderBy("day").limit(3).collect()]
    back = (spark.read.parquet(stage).where(F.col("day").isin(days))
            # partition-column type inference reads yyyy-MM-dd back as
            # DateType; normalize to the oracle's string day
            .withColumn("day", F.col("day").cast("string")))
    return (back.groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(dec("value", 12, 2)).cast("double").alias("sum_value"))
            .orderBy("day", "event_type"))


_IO_PART_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') IN (
    SELECT DISTINCT strftime(ts, '%Y-%m-%d') FROM events ORDER BY 1 LIMIT 3)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def io_versioned_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot-log table (sources/versioned.py): two commits, then read
    BOTH the historical snapshot and the head and compare -- time travel
    under the correctness gate. The table is rebuilt deterministically
    per run (rmtree + recommit), so the oracle states the same numbers
    straight off the source customer table."""
    import os
    import shutil

    from ..sources.versioned import read_versioned, write_versioned

    c = tbl(spark, sf, "customer").select(
        "c_custkey", dec("c_acctbal", 12, 2).alias("bal"))
    stage = f"/tmp/bodo_spark_vtab_{os.path.basename(sf.rstrip('/'))}"
    shutil.rmtree(stage, ignore_errors=True)
    write_versioned(c.where(F.col("c_custkey") < 1500), stage)
    write_versioned(
        c.where((F.col("c_custkey") >= 1500) & (F.col("c_custkey") < 3000)),
        stage, mode="append")
    first = read_versioned(spark, stage, snapshot_id=1)
    head = read_versioned(spark, stage)
    return (first.agg(
        F.count(F.lit(1)).alias("n_first"),
        F.sum("bal").cast("double").alias("bal_first"))
        .crossJoin(head.agg(
            F.count(F.lit(1)).alias("n_head"),
            F.sum("bal").cast("double").alias("bal_head"))))


_IO_VERSIONED_SQL = """
SELECT
  (SELECT COUNT(*) FROM customer WHERE c_custkey < 1500) AS n_first,
  (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
   FROM customer WHERE c_custkey < 1500) AS bal_first,
  (SELECT COUNT(*) FROM customer WHERE c_custkey < 3000) AS n_head,
  (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
   FROM customer WHERE c_custkey < 3000) AS bal_head
"""


def io_zorder_skipping(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order clustered write (sources/zorder.py) under the gate:
    lineitem written clustered on (l_quantity, l_extendedprice), read
    back with RANGE FILTERS on both clustered columns, aggregated.
    Values are layout-independent (clustering only moves rows between
    files), so the oracle states the same filter+agg on the source --
    any value drift would mean the clustered write corrupted rows.
    File-skipping effectiveness itself is asserted in test_zorder."""
    import os

    from ..sources.zorder import write_zordered

    li = tbl(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
    stage = f"/tmp/bodo_spark_zorder_{os.path.basename(sf.rstrip('/'))}"
    write_zordered(li, stage, ["l_quantity", "l_extendedprice"], bits=6)
    back = (spark.read.parquet(stage)
            .where((F.col("l_quantity") >= 10) & (F.col("l_quantity") < 20)
                   & (F.col("l_extendedprice") < 20000)))
    return (back.groupBy(F.col("l_quantity").cast("bigint").alias("qty"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(dec("l_extendedprice", 12, 2)).cast("double")
                 .alias("sum_price"))
            .orderBy("qty"))


_IO_ZORDER_SQL = """
SELECT CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS n,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price
FROM lineitem
WHERE l_quantity >= 10 AND l_quantity < 20 AND l_extendedprice < 20000
GROUP BY 1 ORDER BY 1
"""


def io_bucketed_join(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed catalog tables joined under the gate: customer and
    orders bucketed 4 ways on the customer key as EXTERNAL tables
    (explicit /tmp location), joined bucket-to-bucket -- the
    co-location layout that makes the join ZERO-shuffle (plan asserted
    in test_io; here the VALUES are gate-checked against the plain
    join the oracle states)."""
    import os

    from ..sources.io import to_table_bucketed

    tag = os.path.basename(sf.rstrip("/")).replace(".", "_")
    c = tbl(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    o = tbl(spark, sf, "orders").select(
        "o_custkey", dec("o_totalprice", 12, 2).alias("price"))
    to_table_bucketed(c, f"g_cust_b_{tag}", 4, ["c_custkey"],
                      path=f"/tmp/bodo_spark_bkt_c_{tag}")
    to_table_bucketed(o, f"g_ord_b_{tag}", 4, ["o_custkey"],
                      path=f"/tmp/bodo_spark_bkt_o_{tag}")
    cb = spark.table(f"g_cust_b_{tag}")
    ob = spark.table(f"g_ord_b_{tag}")
    return (cb.join(ob, cb["c_custkey"] == ob["o_custkey"])
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("price").cast("double").alias("sum_price"))
            .orderBy("c_mktsegment"))


_IO_BUCKETED_SQL = """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY 1 ORDER BY 1
"""


def io_compact_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction (lakehouse OPTIMIZE) under the gate: a
    deliberately fragmented write (16 files) is compacted through the
    staged-write + swap protocol, then the compacted table is
    aggregated. Output carries value-checked aggregates PLUS the
    invariant the oracle states directly: files_reduced = TRUE (16
    fragments -> ceil(bytes/target) with a target far above the table
    size = 1 file)."""
    import glob
    import os
    import shutil
    import uuid

    from ..sources.io import compact_parquet
    from .io_formats import _materialize

    e = (tbl(spark, sf, "events")
         .select("event_type", dec("value", 12, 2).alias("value")))
    # uuid-suffixed staging + materialize-then-rmtree, same discipline as
    # io_formats: a fixed per-sf path would let concurrent gate runs race
    # through compact_parquet's directory swap, and a lazy return would
    # dangle on deleted files.
    stage = f"/tmp/bodo_spark_compact_{uuid.uuid4().hex[:8]}"
    try:
        e.repartition(16).write.mode("overwrite").parquet(stage)
        before = len(glob.glob(os.path.join(stage, "*.parquet")))
        compact_parquet(spark, stage)
        after = len(glob.glob(os.path.join(stage, "*.parquet")))
        back = spark.read.parquet(stage)
        out = (back.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("value").cast("double").alias("sum_value"))
               .withColumn("files_reduced", F.lit(bool(after < before)))
               .orderBy("event_type"))
        return _materialize(
            out, "event_type string, n long, sum_value double, "
                 "files_reduced boolean")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_IO_COMPACT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       TRUE AS files_reduced
FROM events
GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# SCD2 dimension maintenance (operators/merge.scd2_apply): the customer
# table becomes a versioned dimension (every 10th key gets a planted
# closed historical row); the change batch updates segments for keys
# % 3 == 0, no-ops keys % 3 == 1, soft-deletes keys % 12 == 6, and
# inserts five brand-new keys at +1,000,000. The oracle re-derives the
# closed / kept / inserted row sets and pins the ENTIRE new dimension.

def merge_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 gate: per (is_current, eff_to) slice -- row count, key xor,
    and an order-insensitive md5 over every full dimension row."""
    from ..operators.merge import scd2_apply
    c = tbl(spark, sf, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").cast("int").alias("nat"))
    cur = c.select(
        "c_custkey", "seg", "nat",
        F.lit("2020-01-01").alias("eff_from"),
        F.lit(None).cast("string").alias("eff_to"),
        F.lit(True).alias("is_current"))
    hist = (c.where(F.col("c_custkey") % 10 == 0)
            .select("c_custkey", F.lit("OLDSEG").alias("seg"), "nat",
                    F.lit("2019-01-01").alias("eff_from"),
                    F.lit("2020-01-01").alias("eff_to"),
                    F.lit(False).alias("is_current")))
    dim = cur.unionByName(hist)
    upd = (c.where(F.col("c_custkey") % 3 < 2)
           .select("c_custkey",
                   F.when(F.col("c_custkey") % 3 == 0,
                          F.lit("SEG_CHANGED")).otherwise(F.col("seg"))
                   .alias("seg"),
                   "nat",
                   F.when(F.col("c_custkey") % 12 == 6, F.lit("D"))
                   .otherwise(F.lit("U")).alias("action")))
    ins = (c.where(F.col("c_custkey") < 5)
           .select((F.col("c_custkey") + 1_000_000).alias("c_custkey"),
                   F.lit("NEWSEG").alias("seg"),
                   F.lit(99).cast("int").alias("nat"),
                   F.lit("U").alias("action")))
    changes = upd.unionByName(ins)
    out = scd2_apply(dim, changes, key=["c_custkey"],
                     tracked=["seg", "nat"], batch_ts="2024-06-01",
                     when_deleted=F.col("src_action") == "D")
    row = F.concat_ws(
        ":", F.col("c_custkey").cast("string"), "seg",
        F.col("nat").cast("string"), "eff_from",
        F.coalesce("eff_to", F.lit("open")),
        F.col("is_current").cast("string"))
    return (out.groupBy("is_current", "eff_to").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.bit_xor("c_custkey").alias("key_xor"),
        F.md5(F.array_join(F.array_sort(F.collect_list(F.md5(row))), ""))
        .alias("row_hash"))
        .orderBy("is_current", "eff_to"))


_SCD2_SQL = """
WITH c AS (
  SELECT c_custkey, c_mktsegment AS seg, CAST(c_nationkey AS INT) AS nat
  FROM customer),
cur AS (
  SELECT c_custkey, seg, nat, '2020-01-01' AS eff_from,
         CAST(NULL AS VARCHAR) AS eff_to, TRUE AS is_current
  FROM c),
hist AS (
  SELECT c_custkey, 'OLDSEG' AS seg, nat, '2019-01-01' AS eff_from,
         '2020-01-01' AS eff_to, FALSE AS is_current
  FROM c WHERE c_custkey % 10 = 0),
changes AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN 'SEG_CHANGED' ELSE seg END
           AS seg,
         nat,
         CASE WHEN c_custkey % 12 = 6 THEN 'D' ELSE 'U' END AS action
  FROM c WHERE c_custkey % 3 < 2
  UNION ALL
  SELECT c_custkey + 1000000 AS c_custkey, 'NEWSEG' AS seg,
         CAST(99 AS INT) AS nat, 'U' AS action
  FROM c WHERE c_custkey < 5),
j AS (
  SELECT t.c_custkey AS t_key, t.seg AS t_seg, t.nat AS t_nat,
         t.eff_from, t.eff_to, t.is_current,
         s.c_custkey AS s_key, s.seg AS s_seg, s.nat AS s_nat, s.action,
         (t.c_custkey IS NOT NULL) AS t_ex, (s.c_custkey IS NOT NULL) AS s_ex
  FROM cur t FULL OUTER JOIN changes s ON t.c_custkey = s.c_custkey),
flags AS (
  SELECT *,
         (t_seg IS DISTINCT FROM s_seg OR t_nat IS DISTINCT FROM s_nat)
           AS differs,
         COALESCE(action = 'D', FALSE) AS deleted
  FROM j),
oldrows AS (
  SELECT t_key AS c_custkey, t_seg AS seg, t_nat AS nat, eff_from,
         CASE WHEN t_ex AND s_ex AND (deleted OR differs)
              THEN '2024-06-01' ELSE eff_to END AS eff_to,
         CASE WHEN t_ex AND s_ex AND (deleted OR differs)
              THEN FALSE ELSE is_current END AS is_current
  FROM flags WHERE t_ex),
newrows AS (
  SELECT s_key AS c_custkey, s_seg AS seg, s_nat AS nat,
         '2024-06-01' AS eff_from, CAST(NULL AS VARCHAR) AS eff_to,
         TRUE AS is_current
  FROM flags WHERE s_ex AND NOT deleted AND (NOT t_ex OR differs)),
result AS (
  SELECT * FROM hist
  UNION ALL SELECT * FROM oldrows
  UNION ALL SELECT * FROM newrows),
rowstr AS (
  SELECT is_current, eff_to, c_custkey,
         md5(concat_ws(':', CAST(c_custkey AS VARCHAR), seg,
                       CAST(nat AS VARCHAR), eff_from,
                       COALESCE(eff_to, 'open'),
                       CASE WHEN is_current THEN 'true'
                            ELSE 'false' END)) AS rh
  FROM result)
SELECT is_current, eff_to, COUNT(*) AS n_rows,
       bit_xor(c_custkey) AS key_xor,
       md5(string_agg(rh, '' ORDER BY rh)) AS row_hash
FROM rowstr GROUP BY is_current, eff_to
ORDER BY is_current, eff_to
"""


# --------------------------------------------------------------------------
# Incremental rollup maintenance (operators/merge.merge_rollup): orders
# split into two batches at the median key; batch 1's per-priority
# rollup is maintained with batch 2's aggregates; the result must equal
# the one-shot aggregation of everything -- the additive-maintenance
# invariant, exact because the measures are DECIMAL sums and counts.

def merge_rollup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Two-batch rollup == one-shot groupBy, pinned per priority:
    order counts and decimal price mass."""
    from ..operators.merge import merge_rollup
    o = tbl(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority",
        dec("o_totalprice", 12, 2).alias("price"))

    def agg(df):
        return (df.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                     F.sum(dec("price", 12, 2)).alias("sum_price")))

    b1 = agg(o.where(F.col("o_orderkey") % 2 == 0))
    b2 = agg(o.where(F.col("o_orderkey") % 2 != 0))
    merged = merge_rollup(b1, b2, keys=["o_orderpriority"],
                          add_cols=["n_orders", "sum_price"])
    return (merged.select("o_orderpriority", "n_orders",
                          F.col("sum_price").cast("double")
                          .alias("sum_price"))
            .orderBy("o_orderpriority"))


_ROLLUP_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
         AS sum_price
FROM orders GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# File-pruned MERGE (operators/merge.merge_into_partitioned): the
# customer table is stored hash-bucket-partitioned on the key (256
# buckets); a three-clause merge whose source touches only c_custkey %
# 100 == 0 keys must (a) land on the exact same values as the full
# logical MERGE -- the oracle re-derives it with the full-outer CASE --
# and (b) leave every file in every UNTOUCHED bucket byte-identical
# (path+mtime+size recorded before/after), which is the file-pruning
# claim itself, stated as a gate column the oracle pins TRUE.

def merge_file_pruned(spark: SparkSession, sf: str) -> DataFrame:
    """Bucket-pruned MERGE: update + delete + conditional insert over a
    256-bucket table, touching ~15 keys; untouched bucket files must
    survive physically unmodified."""
    import glob
    import os
    import shutil
    import uuid

    from ..operators.merge import (merge_into_partitioned,
                                   write_bucket_partitioned)

    c = tbl(spark, sf, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg"),
        dec("c_acctbal", 12, 2).alias("bal"))
    o = tbl(spark, sf, "orders")
    spend = (o.where(F.col("o_custkey") % 100 == 0)
             .groupBy("o_custkey")
             .agg(F.sum(dec("o_totalprice", 12, 2)).alias("addbal"))
             .select(F.col("o_custkey").alias("c_custkey"), "addbal"))
    newbies = (spend.where(F.col("c_custkey") < 1000)
               .select((F.col("c_custkey") + 10_000_000)
                       .alias("c_custkey"), "addbal"))
    src = spend.unionByName(newbies)
    stage = f"/tmp/bodo_spark_fpmerge_{uuid.uuid4().hex[:8]}"
    try:
        write_bucket_partitioned(c, stage, ["c_custkey"], 256)

        def files(exclude_dirs):
            return {(p, os.path.getmtime(p), os.path.getsize(p))
                    for p in glob.glob(os.path.join(stage, "**",
                                                    "*.parquet"),
                                       recursive=True)
                    if not any(os.sep + d + os.sep in p
                               for d in exclude_dirs)}

        touched = merge_into_partitioned(
            spark, stage, src, ["c_custkey"], n_buckets=256,
            # cast back to the stored decimal(12,2): Spark widens
            # decimal arithmetic, and a touched bucket written at a
            # wider precision would type-clash with untouched buckets
            # at read time (partitioned tables must keep ONE schema)
            when_matched_update={"bal": (F.col("bal")
                                         + F.col("src_addbal"))
                                 .cast("decimal(12,2)")},
            when_matched_delete=F.col("src_addbal") > 300_000,
            when_not_matched_insert={
                "c_custkey": F.col("src_c_custkey"),
                "seg": F.lit("NEW"),
                "bal": F.col("src_addbal").cast("decimal(12,2)")})
        # pruning evidence: re-run the SAME merge (idempotence is not
        # claimed -- bal drifts -- but the file check needs a second
        # write); files outside the touched buckets must be identical
        tdirs = [f"mbucket={t}" for t in touched]
        before = files(tdirs)
        merge_into_partitioned(
            spark, stage, src, ["c_custkey"], n_buckets=256,
            when_matched_update={"bal": F.col("bal")})
        intact = files(tdirs) == before and len(touched) < 256
        back = spark.read.parquet(stage).drop("mbucket")
        out = (back.groupBy("seg")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum("bal").cast("double").alias("total_bal"))
               .withColumn("untouched_intact", F.lit(bool(intact)))
               .orderBy("seg"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "seg string, n bigint, total_bal double, "
                  "untouched_intact boolean")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        for d in glob.glob(f"{stage}.__*"):
            shutil.rmtree(d, ignore_errors=True)


_MERGE_PRUNED_SQL = """
WITH spend AS (
  SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS addbal
  FROM orders WHERE o_custkey % 100 = 0 GROUP BY 1),
src AS (
  SELECT k, addbal FROM spend
  UNION ALL
  SELECT k + 10000000, addbal FROM spend WHERE k < 1000),
merged AS (
  SELECT COALESCE(c.c_custkey, s.k) AS c_custkey,
         CASE WHEN c.c_custkey IS NULL THEN 'NEW' ELSE c.c_mktsegment END AS seg,
         CASE
           WHEN c.c_custkey IS NOT NULL AND s.k IS NOT NULL
             THEN CAST(c.c_acctbal AS DECIMAL(12,2)) + s.addbal
           WHEN c.c_custkey IS NULL THEN s.addbal
           ELSE CAST(c.c_acctbal AS DECIMAL(12,2))
         END AS bal
  FROM customer c FULL OUTER JOIN src s ON c.c_custkey = s.k
  WHERE NOT (c.c_custkey IS NOT NULL AND s.k IS NOT NULL
             AND s.addbal > 300000))
SELECT seg, COUNT(*) AS n, CAST(SUM(bal) AS DOUBLE) AS total_bal,
       TRUE AS untouched_intact
FROM merged GROUP BY seg ORDER BY seg
"""


# --------------------------------------------------------------------------
# MoR time travel (operators/mor.mor_read(as_of_segment=)): the delta
# log doubles as snapshot history -- reading the table as of segment 0
# (the base), 1 (after batch A) and 2 (head) must reproduce each
# historical state exactly; the oracle re-derives all three from the
# change definitions.

def merge_mor_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Three snapshots of a MoR-maintained dimension, each pinned:
    (phase, n_rows, key_xor, max_seq)."""
    import shutil
    import uuid

    from ..operators import mor as M

    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"))
    stage = f"/tmp/bodo_spark_mortt_{uuid.uuid4().hex[:8]}"
    try:
        M.mor_init(c.withColumn("_cdc_seq", F.lit(0).cast("long")),
                   stage)

        def ch(pred, seg, op, seq, shift=0):
            return (c.where(pred)
                    .select((F.col("k") + shift).alias("k"),
                            seg.alias("seg"), F.lit(op).alias("op"),
                            F.lit(seq).cast("long").alias("seq")))

        batch_a = ch(F.col("k") % 3 == 0, F.lit("SEG_V1"), "U", 1) \
            .unionByName(ch(F.col("k") < 5, F.lit("NEWSEG"), "U", 1,
                            shift=1_000_000))
        batch_b = ch(F.col("k") % 6 == 0, F.lit("SEG_V2"), "U", 2) \
            .unionByName(ch(F.col("k") % 5 == 0,
                            F.lit(None).cast("string"), "D", 3))
        M.mor_apply(batch_a, stage, key_cols=["k"])
        M.mor_apply(batch_b, stage, key_cols=["k"])
        rows = []
        for phase, n in (("asof0", 0), ("asof1", 1), ("head", 2)):
            st = M.mor_read(spark, stage, key_cols=["k"],
                            as_of_segment=n)
            a = st.agg(F.count(F.lit(1)).alias("n_rows"),
                       F.bit_xor("k").alias("key_xor"),
                       F.max("_cdc_seq").alias("max_seq")).collect()[0]
            rows.append((phase, a["n_rows"], a["key_xor"],
                         a["max_seq"]))
        return local_df(
            spark,
            rows, "phase string, n_rows bigint, key_xor bigint, "
                  "max_seq bigint")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_MOR_TT_SQL = """
WITH init AS (
  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS sq FROM customer),
cha AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(1 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'U', 1 FROM customer WHERE c_custkey < 5),
chb AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(2 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 6 = 0
  UNION ALL
  SELECT c_custkey, 'D', 3 FROM customer WHERE c_custkey % 5 = 0),
asof1 AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM cha QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D'),
head AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM (SELECT * FROM cha UNION ALL SELECT * FROM chb)
    QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D')
SELECT * FROM (
  SELECT 'asof0' AS phase, COUNT(*) AS n_rows, bit_xor(k) AS key_xor,
         CAST(MAX(sq) AS BIGINT) AS max_seq FROM init
  UNION ALL
  SELECT 'asof1', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM asof1
  UNION ALL
  SELECT 'head', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM head)
ORDER BY phase
"""


def merge_mor_retained_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot retention ACROSS compaction: after batches A and B the
    log is compacted with retain_history=True (hardlink base snapshot +
    archived segments), then batch C lands; as-of reads for segments
    0/1/2 must replay the PRE-compaction states from the archive and
    the head must reflect all three batches -- the Iceberg
    retained-snapshot economics over plain parquet."""
    import shutil
    import uuid

    from ..operators import mor as M

    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"))
    stage = f"/tmp/bodo_spark_morrt_{uuid.uuid4().hex[:8]}"
    try:
        M.mor_init(c.withColumn("_cdc_seq", F.lit(0).cast("long")),
                   stage)

        def ch(pred, seg, op, seq, shift=0):
            return (c.where(pred)
                    .select((F.col("k") + shift).alias("k"),
                            seg.alias("seg"), F.lit(op).alias("op"),
                            F.lit(seq).cast("long").alias("seq")))

        batch_a = ch(F.col("k") % 3 == 0, F.lit("SEG_V1"), "U", 1) \
            .unionByName(ch(F.col("k") < 5, F.lit("NEWSEG"), "U", 1,
                            shift=1_000_000))
        batch_b = ch(F.col("k") % 6 == 0, F.lit("SEG_V2"), "U", 2) \
            .unionByName(ch(F.col("k") % 5 == 0,
                            F.lit(None).cast("string"), "D", 3))
        batch_c = ch(F.col("k") % 7 == 0, F.lit("SEG_V3"), "U", 4)
        M.mor_apply(batch_a, stage, key_cols=["k"])
        M.mor_apply(batch_b, stage, key_cols=["k"])
        M.mor_compact(spark, stage, key_cols=["k"],
                      retain_history=True)
        M.mor_apply(batch_c, stage, key_cols=["k"])
        rows = []
        for phase, n in (("asof0", 0), ("asof1", 1), ("asof2", 2),
                         ("head", 3)):
            st = M.mor_read(spark, stage, key_cols=["k"],
                            as_of_segment=n)
            a = st.agg(F.count(F.lit(1)).alias("n_rows"),
                       F.bit_xor("k").alias("key_xor"),
                       F.max("_cdc_seq").alias("max_seq")).collect()[0]
            rows.append((phase, a["n_rows"], a["key_xor"],
                         a["max_seq"]))
        return local_df(
            spark,
            rows, "phase string, n_rows bigint, key_xor bigint, "
                  "max_seq bigint")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_MOR_RETAINED_TT_SQL = """
WITH init AS (
  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS sq FROM customer),
cha AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(1 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'U', 1 FROM customer WHERE c_custkey < 5),
chb AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(2 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 6 = 0
  UNION ALL
  SELECT c_custkey, 'D', 3 FROM customer WHERE c_custkey % 5 = 0),
chc AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(4 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 7 = 0),
state1 AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM cha QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D'),
state2 AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM (SELECT * FROM cha UNION ALL SELECT * FROM chb)
    QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D'),
state3 AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM (SELECT * FROM cha UNION ALL SELECT * FROM chb
          UNION ALL SELECT * FROM chc)
    QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D')
SELECT * FROM (
  SELECT 'asof0' AS phase, COUNT(*) AS n_rows, bit_xor(k) AS key_xor,
         CAST(MAX(sq) AS BIGINT) AS max_seq FROM init
  UNION ALL
  SELECT 'asof1', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM state1
  UNION ALL
  SELECT 'asof2', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM state2
  UNION ALL
  SELECT 'head', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM state3)
ORDER BY phase
"""


def merge_mor_incremental_pull(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental pull (operators/mor.mor_changes -- the Hudi
    incremental-query economics): after batches A, B, a retained
    compaction, and batch C, pull the net changes of segments [1, 3)
    (spanning the archive) and apply them onto the as-of-1 snapshot in
    a SECOND MoR table; the replayed table must equal the head state
    exactly. The gate pins BOTH the direct head read and the
    replayed-from-pull state against one SQL head derivation."""
    import shutil
    import uuid

    from ..operators import mor as M

    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"))
    stage = f"/tmp/bodo_spark_morip_{uuid.uuid4().hex[:8]}"
    try:
        M.mor_init(c.withColumn("_cdc_seq", F.lit(0).cast("long")),
                   f"{stage}/t")

        def ch(pred, seg, op, seq, shift=0):
            return (c.where(pred)
                    .select((F.col("k") + shift).alias("k"),
                            seg.alias("seg"), F.lit(op).alias("op"),
                            F.lit(seq).cast("long").alias("seq")))

        batch_a = ch(F.col("k") % 3 == 0, F.lit("SEG_V1"), "U", 1) \
            .unionByName(ch(F.col("k") < 5, F.lit("NEWSEG"), "U", 1,
                            shift=1_000_000))
        batch_b = ch(F.col("k") % 6 == 0, F.lit("SEG_V2"), "U", 2) \
            .unionByName(ch(F.col("k") % 5 == 0,
                            F.lit(None).cast("string"), "D", 3))
        batch_c = ch(F.col("k") % 7 == 0, F.lit("SEG_V3"), "U", 4)
        M.mor_apply(batch_a, f"{stage}/t", key_cols=["k"])
        M.mor_apply(batch_b, f"{stage}/t", key_cols=["k"])
        M.mor_compact(spark, f"{stage}/t", key_cols=["k"],
                      retain_history=True)
        M.mor_apply(batch_c, f"{stage}/t", key_cols=["k"])
        snap1 = M.mor_read(spark, f"{stage}/t", key_cols=["k"],
                           as_of_segment=1)
        pull = M.mor_changes(spark, f"{stage}/t", key_cols=["k"],
                             since_segment=1)
        M.mor_init(snap1, f"{stage}/replay")
        M.mor_apply(pull, f"{stage}/replay", key_cols=["k"],
                    op_col="op", src_seq_col="_cdc_seq")

        def agg(df, phase):
            a = df.agg(F.count(F.lit(1)).alias("n_rows"),
                       F.bit_xor("k").alias("key_xor"),
                       F.max("_cdc_seq").alias("max_seq")).collect()[0]
            return (phase, a["n_rows"], a["key_xor"], a["max_seq"])

        rows = [agg(M.mor_read(spark, f"{stage}/t", key_cols=["k"]),
                    "direct"),
                agg(M.mor_read(spark, f"{stage}/replay",
                               key_cols=["k"]), "replayed")]
        return local_df(
            spark,
            rows, "phase string, n_rows bigint, key_xor bigint, "
                  "max_seq bigint")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_MOR_PULL_SQL = """
WITH init AS (
  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS sq FROM customer),
ch AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(1 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'U', 1 FROM customer WHERE c_custkey < 5
  UNION ALL
  SELECT c_custkey, 'U', 2 FROM customer WHERE c_custkey % 6 = 0
  UNION ALL
  SELECT c_custkey, 'D', 3 FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey, 'U', 4 FROM customer WHERE c_custkey % 7 = 0),
head AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM ch QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D')
SELECT * FROM (
  SELECT 'direct' AS phase, COUNT(*) AS n_rows, bit_xor(k) AS key_xor,
         CAST(MAX(sq) AS BIGINT) AS max_seq FROM head
  UNION ALL
  SELECT 'replayed', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM head)
ORDER BY phase
"""


def merge_mor_auto_read(spark: SparkSession, sf: str) -> DataFrame:
    """Self-defending MoR read (operators/mor.mor_read pruned='auto'
    + _resolve_pruned): the pruned reconcile BROADCASTS the full-width
    delta winner set, so the default read keys its plan choice off the
    on-disk delta byte mass -- under the broadcast budget it takes the
    anti/semi split, past it the shuffle-based full window, with no
    operator discipline required. The gate reads the SAME table under
    a normal budget (pruned plan) and a 1-byte budget (forced
    full-window plan) and pins BOTH aggregate states against one SQL
    head derivation: two physical plans, one truth."""
    import shutil
    import uuid

    from ..operators import mor as M

    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"))
    stage = f"/tmp/bodo_spark_morar_{uuid.uuid4().hex[:8]}"
    try:
        M.mor_init(c.withColumn("_cdc_seq", F.lit(0).cast("long")),
                   f"{stage}/t")

        def ch(pred, seg, op, seq, shift=0):
            return (c.where(pred)
                    .select((F.col("k") + shift).alias("k"),
                            seg.alias("seg"), F.lit(op).alias("op"),
                            F.lit(seq).cast("long").alias("seq")))

        M.mor_apply(
            ch(F.col("k") % 3 == 0, F.lit("SEG_V1"), "U", 1)
            .unionByName(ch(F.col("k") < 5, F.lit("NEWSEG"), "U", 1,
                            shift=1_000_000)),
            f"{stage}/t", key_cols=["k"])
        M.mor_apply(
            ch(F.col("k") % 6 == 0, F.lit("SEG_V2"), "U", 2)
            .unionByName(ch(F.col("k") % 5 == 0,
                            F.lit(None).cast("string"), "D", 3)),
            f"{stage}/t", key_cols=["k"])

        def agg(df, phase):
            a = df.agg(F.count(F.lit(1)).alias("n"),
                       F.bit_xor("k").alias("kx"),
                       F.max("_cdc_seq").alias("ms")).collect()[0]
            return (phase, a["n"], a["kx"], a["ms"])

        rows = [agg(M.mor_read(spark, f"{stage}/t", key_cols=["k"]),
                    "auto_pruned"),
                agg(M.mor_read(spark, f"{stage}/t", key_cols=["k"],
                               broadcast_budget_bytes=1),
                    "auto_window")]
        return local_df(
            spark,
            rows, "phase string, n_rows bigint, key_xor bigint, "
                  "max_seq bigint").orderBy("phase")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def merge_mor_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """MoR SCHEMA EVOLUTION (operators/mor.py mor_apply(
    allow_schema_evolution=True) + _widen_evolved -- the Iceberg/Delta
    add-column path without a catalog; the reference gets this from
    Iceberg schema evolution): a normal batch versions the table, then
    an EVOLVED batch adds a ``tier`` column -- refused without the
    flag (unknown columns used to be silently dropped at read time,
    the worst failure mode; the gate asserts the refusal), accepted
    with it. Reads reconcile over the union schema: pre-evolution rows
    read NULL tier (pinned via tier_nulls per segment group), evolved
    winners carry their values (tier_sum). The compaction folds the
    column into the base, after which the SAME aggregate state must
    hold -- two physical layouts (delta-widened and base-folded), one
    truth, both pinned against one SQL derivation."""
    import shutil
    import uuid

    from ..operators import mor as M

    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"))
    stage = f"/tmp/bodo_spark_morse_{uuid.uuid4().hex[:8]}"
    try:
        M.mor_init(c.withColumn("_cdc_seq", F.lit(0).cast("long")),
                   f"{stage}/t")
        M.mor_apply(
            c.where(F.col("k") % 3 == 0)
            .select("k", F.lit("SEG_V1").alias("seg"),
                    F.lit("U").alias("op"),
                    F.lit(1).cast("long").alias("seq")),
            f"{stage}/t", key_cols=["k"])
        evolved = (c.where(F.col("k") % 4 == 0)
                   .select("k", F.lit("SEG_V2").alias("seg"),
                           (F.col("k") % 7).cast("long").alias("tier"),
                           F.lit("U").alias("op"),
                           F.lit(2).cast("long").alias("seq"))
                   .unionByName(
                       c.where(F.col("k") % 5 == 0)
                       .select("k", F.lit(None).cast("string")
                               .alias("seg"),
                               F.lit(None).cast("long").alias("tier"),
                               F.lit("D").alias("op"),
                               F.lit(3).cast("long").alias("seq"))))
        try:
            M.mor_apply(evolved, f"{stage}/t", key_cols=["k"])
            raise AssertionError(
                "unknown column must be refused without "
                "allow_schema_evolution")
        except ValueError:
            pass
        M.mor_apply(evolved, f"{stage}/t", key_cols=["k"],
                    allow_schema_evolution=True)

        def agg(phase):
            df = (M.mor_read(spark, f"{stage}/t", key_cols=["k"])
                  .groupBy("seg").agg(
                      F.count(F.lit(1)).alias("n_rows"),
                      F.bit_xor("k").alias("key_xor"),
                      F.sum("tier").alias("tier_sum"),
                      F.sum(F.when(F.col("tier").isNull(), 1)
                            .otherwise(0)).cast("long")
                      .alias("tier_nulls"),
                      F.max("_cdc_seq").alias("max_seq")))
            return [(phase, *r) for r in
                    sorted(map(tuple, df.collect()))]
        rows = agg("a_pre_compact")
        M.mor_compact(spark, f"{stage}/t", key_cols=["k"])
        assert "tier" in spark.read.parquet(
            f"{stage}/t/base").columns, \
            "compaction must fold the evolved column into the base"
        rows += agg("b_post_compact")
        return local_df(
            spark,
            rows, "phase string, seg string, n_rows bigint, "
                  "key_xor bigint, tier_sum bigint, "
                  "tier_nulls bigint, max_seq bigint") \
            .orderBy("phase", "seg")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def merge_mor_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """MoR POINT LOOKUP -- the serving-side read (operators/mor.py
    mor_lookup): on a bucketed table the looked-up keys' buckets are
    computed engine-side (tiny-frame evaluation of the same bucket
    hash -- never reimplemented driver-side) and the base is read with
    a literal bucket IN partition filter plus the key predicate, so
    the lookup opens a few bucket dirs + the delta log instead of the
    whole base (a plain filtered read can never prune the dirs: the
    bucket hash is underivable from ``k = 7``; plan-contract-tested in
    test_mor). The key list spans every reconcile case -- updated,
    re-updated, deleted, untouched, delta-only insert, and absent --
    and the returned rows pin exact values against the head SQL
    derivation restricted to the same keys."""
    import shutil
    import uuid

    from ..operators import mor as M

    c = tbl(spark, sf, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"))
    stage = f"/tmp/bodo_spark_morpl_{uuid.uuid4().hex[:8]}"
    try:
        M.mor_init(c.withColumn("_cdc_seq", F.lit(0).cast("long")),
                   f"{stage}/t", key_cols=["k"], n_buckets=16)

        def ch(pred, seg, op, seq, shift=0):
            return (c.where(pred)
                    .select((F.col("k") + shift).alias("k"),
                            seg.alias("seg"), F.lit(op).alias("op"),
                            F.lit(seq).cast("long").alias("seq")))

        M.mor_apply(
            ch(F.col("k") % 3 == 0, F.lit("SEG_V1"), "U", 1)
            .unionByName(ch(F.col("k") < 5, F.lit("NEWSEG"), "U", 1,
                            shift=1_000_000)),
            f"{stage}/t", key_cols=["k"])
        M.mor_apply(
            ch(F.col("k") % 6 == 0, F.lit("SEG_V2"), "U", 2)
            .unionByName(ch(F.col("k") % 5 == 0,
                            F.lit(None).cast("string"), "D", 3)),
            f"{stage}/t", key_cols=["k"])
        keys = [3, 4, 5, 6, 12, 30, 1000001, 999999]
        out = (M.mor_lookup(spark, f"{stage}/t", keys,
                            key_cols=["k"])
               .orderBy("k"))
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "k bigint, seg string, _cdc_seq bigint")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_MOR_LOOKUP_SQL = """
WITH init AS (
  SELECT c_custkey AS k, c_mktsegment AS seg, CAST(0 AS BIGINT) AS sq
  FROM customer),
ch AS (
  SELECT c_custkey AS k, 'SEG_V1' AS seg, CAST(1 AS BIGINT) AS sq,
         'U' AS op
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEWSEG', 1, 'U'
  FROM customer WHERE c_custkey < 5
  UNION ALL
  SELECT c_custkey, 'SEG_V2', 2, 'U'
  FROM customer WHERE c_custkey % 6 = 0
  UNION ALL
  SELECT c_custkey, NULL, 3, 'D'
  FROM customer WHERE c_custkey % 5 = 0),
head AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.seg ELSE l.seg END AS seg,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, seg, sq, op,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM ch QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D')
SELECT k, seg, CAST(sq AS BIGINT) AS _cdc_seq
FROM head WHERE k IN (3, 4, 5, 6, 12, 30, 1000001, 999999)
ORDER BY k
"""


_MOR_EVOLVE_SQL = """
WITH init AS (
  SELECT c_custkey AS k, c_mktsegment AS seg,
         CAST(NULL AS BIGINT) AS tier, CAST(0 AS BIGINT) AS sq
  FROM customer),
ch AS (
  SELECT c_custkey AS k, 'SEG_V1' AS seg,
         CAST(NULL AS BIGINT) AS tier, CAST(1 AS BIGINT) AS sq,
         'U' AS op
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey, 'SEG_V2', CAST(c_custkey % 7 AS BIGINT), 2, 'U'
  FROM customer WHERE c_custkey % 4 = 0
  UNION ALL
  SELECT c_custkey, NULL, NULL, 3, 'D'
  FROM customer WHERE c_custkey % 5 = 0),
head AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.seg ELSE l.seg END AS seg,
         CASE WHEN l.k IS NULL THEN i.tier ELSE l.tier END AS tier,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, seg, tier, sq, op,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM ch QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D'),
agg AS (
  SELECT seg, COUNT(*) AS n_rows, bit_xor(k) AS key_xor,
         CAST(SUM(tier) AS BIGINT) AS tier_sum,
         CAST(SUM(CASE WHEN tier IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS tier_nulls,
         CAST(MAX(sq) AS BIGINT) AS max_seq
  FROM head GROUP BY seg)
SELECT * FROM (
  SELECT 'a_pre_compact' AS phase, * FROM agg
  UNION ALL
  SELECT 'b_post_compact', * FROM agg)
ORDER BY phase, seg
"""


_MOR_AUTO_SQL = """
WITH init AS (
  SELECT c_custkey AS k, CAST(0 AS BIGINT) AS sq FROM customer),
ch AS (
  SELECT c_custkey AS k, 'U' AS op, CAST(1 AS BIGINT) AS sq
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  SELECT c_custkey + 1000000, 'U', 1 FROM customer WHERE c_custkey < 5
  UNION ALL
  SELECT c_custkey, 'U', 2 FROM customer WHERE c_custkey % 6 = 0
  UNION ALL
  SELECT c_custkey, 'D', 3 FROM customer WHERE c_custkey % 5 = 0),
head AS (
  SELECT COALESCE(l.k, i.k) AS k,
         CASE WHEN l.k IS NULL THEN i.sq ELSE l.sq END AS sq
  FROM init i FULL OUTER JOIN (
    SELECT k, op, sq,
           row_number() OVER (PARTITION BY k
                              ORDER BY sq DESC, op ASC) AS rn
    FROM ch QUALIFY rn = 1) l ON i.k = l.k
  WHERE COALESCE(l.op, 'U') <> 'D')
SELECT * FROM (
  SELECT 'auto_pruned' AS phase, COUNT(*) AS n_rows,
         bit_xor(k) AS key_xor, CAST(MAX(sq) AS BIGINT) AS max_seq
  FROM head
  UNION ALL
  SELECT 'auto_window', COUNT(*), bit_xor(k), CAST(MAX(sq) AS BIGINT)
  FROM head)
ORDER BY phase
"""


QUERIES: dict[str, QueryDef] = {
    "merge_mor_auto_read": QueryDef(
        merge_mor_auto_read, _MOR_AUTO_SQL,
        doc="self-defending MoR read: broadcast-budget auto plan "
            "choice, pruned and full-window states pinned equal"),
    "merge_mor_point_lookup": QueryDef(
        merge_mor_point_lookup, _MOR_LOOKUP_SQL,
        doc="serving-side point lookup: engine-derived bucket IN "
            "partition filter + key pushdown, reconcile over the "
            "sliver; every reconcile case in the key list"),
    "merge_mor_schema_evolution": QueryDef(
        merge_mor_schema_evolution, _MOR_EVOLVE_SQL,
        doc="MoR add-column schema evolution: refused without the "
            "flag, union-schema reads (pre-evolution rows NULL), "
            "compaction folds the column -- both layouts pinned"),
    "merge_mor_incremental_pull": QueryDef(
        merge_mor_incremental_pull, _MOR_PULL_SQL,
        doc="Hudi-style incremental pull: net changes [since, until) "
            "replayed onto the since snapshot == head, both pinned"),
    "merge_mor_retained_time_travel": QueryDef(
        merge_mor_retained_time_travel, _MOR_RETAINED_TT_SQL,
        doc="MoR snapshot retention: pre-compaction as-of states "
            "replayed from the hardlink archive"),
    "merge_mor_time_travel": QueryDef(
        merge_mor_time_travel, _MOR_TT_SQL,
        doc="MoR delta log as snapshot history: three as-of states "
            "pinned"),
    "merge_file_pruned": QueryDef(
        merge_file_pruned, _MERGE_PRUNED_SQL,
        doc="file-pruned MERGE: only touched key-hash buckets rewritten"),
    "merge_rollup_incremental": QueryDef(merge_rollup_incremental,
                                         _ROLLUP_SQL),
    "merge_scd2": QueryDef(
        merge_scd2, _SCD2_SQL,
        doc="SCD2 dimension maintenance: close/insert/soft-delete"),
    "io_compact_roundtrip": QueryDef(io_compact_roundtrip, _IO_COMPACT_SQL),
    "io_zorder_skipping": QueryDef(io_zorder_skipping, _IO_ZORDER_SQL),
    "io_bucketed_join": QueryDef(io_bucketed_join, _IO_BUCKETED_SQL),
    "io_versioned_time_travel": QueryDef(io_versioned_time_travel,
                                         _IO_VERSIONED_SQL),
    "io_partitioned_roundtrip": QueryDef(io_partitioned_roundtrip,
                                         _IO_PART_SQL),
    "sql_merge_into": QueryDef(
        sql_merge_into, _MERGE_SQL,
        doc="MERGE INTO (update+delete+insert) as full-outer-join COW"),
}
