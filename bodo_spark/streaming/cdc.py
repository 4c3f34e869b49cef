"""Streaming CDC apply: an upsert/delete change stream maintained into
a parquet table -- the lakehouse "apply changes" primitive (Debezium ->
MERGE per micro-batch), built from the engine's own COW MERGE
(operators/merge.merge_into_parquet) inside foreachBatch.

Change rows carry the key columns, the payload columns, an ``op``
column ('U' upsert / 'D' delete) and a monotone ``seq``. Per batch:

  1. last-change-per-key WITHIN the batch (row_number by seq desc --
     intra-batch disorder is fully handled);
  2. ONE MERGE against the table: matched + 'D' + newer seq -> delete;
     matched + newer seq -> update payload and stored seq; unmatched
     AND op != 'D' -> insert (the conditional-insert clause -- a
     delete for a never-existing key is a no-op, not a row).

The table stores the applied ``seq`` per row (``seq_col``), and every
matched clause is guarded by ``src_seq > seq``, so a batch REPLAYED or
delivered late can never regress a row to an older version (the
exactly-once-effect guard foreachBatch needs, since it is
at-least-once). Ordering contract, stated honestly: per-key changes
must not be SPLIT across batches out of order (the Debezium/Kafka
per-key-partition guarantee) -- a physical delete leaves no tombstone,
so an older upsert arriving in a LATER batch would resurrect the row;
within a batch any order is fine.

Scale: each micro-batch costs one MERGE join (current table x
last-per-key batch -- the batch side broadcasts when small) and one
COW rewrite; on a real lakehouse the same foreachBatch body targets
an Iceberg/Delta MERGE and the rewrite becomes a snapshot commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["apply_cdc_stream", "maintain_rollup_stream"]


def apply_cdc_stream(changes: DataFrame, path: str, *,
                     key_cols: list[str], op_col: str = "op",
                     seq_col: str = "_cdc_seq",
                     src_seq_col: str = "seq",
                     query_name: str = "cdc_apply",
                     available_now: bool = True,
                     n_buckets: int | None = None,
                     bucket_col: str = "mbucket"):
    """Start (and, under AvailableNow, await) the CDC maintenance
    query. The table at ``path`` must already exist with the payload
    schema plus ``seq_col``; payload columns are every table column
    except keys and ``seq_col``.

    ``n_buckets``: file-pruned mode -- the table was initialized with
    merge.write_bucket_partitioned on ``key_cols`` and each micro-batch
    MERGEs through merge_into_partitioned, reading and rewriting ONLY
    the key-hash partitions the batch touches. Per-batch cost is then
    bound by the touched-partition size instead of the table size (the
    plain mode's COW rewrite is table-sized per batch -- the one cost
    that grows with the TABLE at 100 TB). Values are identical in both
    modes (the stream_cdc_apply_pruned gate shares the plain oracle)."""
    from pyspark.sql import Window as W
    from pyspark.sql.types import IntegerType

    from ..operators.merge import merge_into_parquet, merge_into_partitioned
    from ..rowframe import table_schema

    spark = changes.sparkSession
    parts = ({bucket_col: IntegerType()} if n_buckets is not None
             else None)

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.take(1):
            return
        # deterministic tiebreak: two changes with EQUAL seq for one key
        # in one batch pick the delete ('D' < 'U', ascending op after
        # seq desc -- delete-wins at equal version), instead of an
        # arbitrary partition-order winner. The monotone-seq contract
        # makes ties a producer bug, but the outcome must still be
        # stable under replay.
        w = (W.partitionBy(*key_cols)
             .orderBy(F.col(src_seq_col).desc(), F.col(op_col).asc()))
        last = (bdf.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1).drop("_rn"))
        # column NAMES only, from the footer schema (data fields, then
        # the bucket partition col: the Spark read's order) -- a
        # spark.read.parquet(path).columns here costs a listing +
        # schema-inference job PER MICRO-BATCH on a 256-bucket table,
        # and runs only when no footer schema is derivable
        sch = table_schema(path, parts)
        table_cols = (sch.fieldNames() if sch is not None
                      else spark.read.parquet(path).columns)
        # bucket_col is bookkeeping ONLY in file-pruned mode; in plain
        # mode a real table column that happens to share the name is
        # ordinary payload and must keep updating
        skip = {seq_col, bucket_col} if n_buckets is not None else {seq_col}
        payload = [c for c in table_cols
                   if c not in key_cols and c not in skip]
        newer = F.col(f"src_{src_seq_col}") > F.col(seq_col)
        upd = {c: F.when(newer, F.col(f"src_{c}")).otherwise(F.col(c))
               for c in payload}
        upd[seq_col] = (F.when(newer, F.col(f"src_{src_seq_col}"))
                        .otherwise(F.col(seq_col)))
        ins = {c: F.col(f"src_{c}") for c in key_cols + payload}
        ins[seq_col] = F.col(f"src_{src_seq_col}")
        clauses = dict(
            when_matched_delete=(F.col(f"src_{op_col}") == "D") & newer,
            when_matched_update=upd,
            when_not_matched_insert=ins,
            when_not_matched_insert_condition=(
                F.col(f"src_{op_col}") != "D"))
        if n_buckets is not None:
            merge_into_partitioned(
                spark, path, last, on=list(key_cols),
                n_buckets=n_buckets, bucket_col=bucket_col, **clauses)
        else:
            merge_into_parquet(spark, path, last, on=list(key_cols),
                               **clauses)

    q = (changes.writeStream.queryName(query_name)
         .foreachBatch(apply_batch)
         .option("checkpointLocation", f"{path}__cdc_ckpt"))
    if available_now:
        sq = q.trigger(availableNow=True).start()
        sq.awaitTermination()
        return sq
    return q.start()


def maintain_rollup_stream(facts: DataFrame, path: str, *,
                           keys: list[str], aggs: dict,
                           add_cols: list[str],
                           query_name: str = "rollup_maintain",
                           available_now: bool = True):
    """Streaming rollup maintenance: each micro-batch of FACT rows is
    aggregated to the rollup grain and folded into the stored rollup
    table via merge_rollup (matched groups ADD, new groups insert) --
    the incremental-ETL loop as a stream, additive-exact by the same
    argument as the batch operator (the stream_rollup gate pins the
    replayed stream against the one-shot aggregation oracle). The
    publish step is merge.cow_publish (guarded_swap), so a failure
    anywhere in the staging write or the swap leaves the stored rollup
    intact.

    ``aggs``: {out_col: Column} aggregate expressions at the grain
    (counts / DECIMAL sums -- additive measures only); ``add_cols``
    lists which output columns fold additively (usually all of them).
    The table at ``path`` must exist with keys + add_cols. At-least-
    once caveat, stated honestly: unlike apply_cdc_stream's seq guard,
    ADDITION is not idempotent -- a REPLAYED batch double-counts, so
    production pairs this with foreachBatch's batch-id dedup (persist
    last applied batch id next to the table) or an idempotent sink;
    the checkpoint already prevents replays within one query's life.
    DECIMAL sums: Spark widens precision by 1 per addition (capped at
    38) -- declare rollup decimal columns at (38, s) up front if exact
    schema stability across many batches matters."""
    from ..operators.merge import cow_publish, merge_rollup
    from ..rowframe import table_reader

    spark = facts.sparkSession

    def apply_batch(bdf: DataFrame, batch_id: int) -> None:
        if not bdf.take(1):
            return
        batch_agg = bdf.groupBy(*keys).agg(
            *[c.alias(n) for n, c in aggs.items()])
        cur = table_reader(spark, path).parquet(path)
        merged = merge_rollup(cur, batch_agg, keys=keys,
                              add_cols=add_cols)
        cow_publish(merged, path)

    q = (facts.writeStream.queryName(query_name)
         .foreachBatch(apply_batch)
         .option("checkpointLocation", f"{path}__rollup_ckpt"))
    if available_now:
        sq = q.trigger(availableNow=True).start()
        sq.awaitTermination()
        return sq
    return q.start()
