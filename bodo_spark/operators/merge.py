"""MERGE INTO as a DataFrame transformation (copy-on-write semantics).

Reference parity: Iceberg MERGE INTO COW (reference
bodo/io/iceberg/merge_into.py:33, BodoSQL/bodosql/libs/iceberg_merge_into.py)
executes MERGE as: join target rows against the source, rewrite affected
files. The Spark-first re-expression is exactly that join -- a full outer
join on the merge key with per-row outcome selection -- independent of any
table format. ``merge_into`` returns the merged frame (usable with any
sink); ``merge_into_parquet`` applies it to a parquet table path
copy-on-write style.

Scale design: one shuffle join on the merge key (broadcast when the source
is small -- Catalyst/AQE decides from stats); every other step is a narrow
projection. No collect, no driver loop; the COW rewrite is a distributed
parquet write.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from typing import Callable, Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..rowframe import data_files, table_reader
from .similarity import sql_ident


class ConcurrentWriteError(RuntimeError):
    """A second writer holds (or took) the table's publish lock.

    The reference gets real commit-conflict detection from Iceberg's
    optimistic transactions (reference bodo/io/iceberg/merge_into.py:33
    commits through the catalog, which rejects a stale snapshot); plain
    parquet directories have no catalog, so the engine enforces the
    SINGLE-WRITER contract explicitly -- every table, store and index
    mutator holds the publish lock for the whole operation, staging
    write included (the directory swaps all through guarded_swap; MoR
    apply/compact and the stored append take publish_lock directly),
    and a concurrent mutator raises THIS as soon as it starts instead
    of silently folding past or double-publishing. Readers never take
    the lock. The window that
    remains: between guarded_swap's two renames of a directory, a
    reader listing that path can find it missing (an atomic manifest
    commit would remove it)."""


@contextlib.contextmanager
def publish_lock(path: str, *, owner: str = ""):
    """Single-writer lockfile scoped to one table/store directory:
    ``O_CREAT|O_EXCL`` on ``<path>.__lock`` is atomic on POSIX (and on
    the object-store emulations that matter), so exactly one mutator
    enters; the file records pid/owner for the error message. Crash
    recovery is explicit by design -- a dead writer leaves the lock and
    the next mutator raises with its identity, and the operator removes
    the stale file after confirming the writer is gone (auto-breaking
    on pid-liveness would be wrong across hosts)."""
    lock = f"{path.rstrip('/')}.__lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        try:
            with open(lock) as f:
                holder = f.read().strip()
        except OSError:
            holder = "<unreadable>"
        raise ConcurrentWriteError(
            f"another writer holds {lock} ({holder}) -- concurrent "
            "mutations of one table are unsupported (single-writer "
            "contract); retry after it finishes, or remove the "
            "lockfile if that writer crashed") from None
    try:
        os.write(fd, json.dumps(
            {"pid": os.getpid(), "owner": owner,
             "ts": int(time.time())}).encode())
        os.close(fd)
        yield
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def guarded_swap(path: str, write: Callable[[str], object], *,
                 children: Iterable[str] | None = None,
                 retire: Callable[[str, str], object] | None = None,
                 owner: str = ""):
    """The one guarded publish: every table, store and index mutator
    replaces its directory through here. Under ``path``'s publish_lock:

    1. ``write(staging)`` builds the new content in a private
       ``<path>.__staging_<tag>`` directory, removed on any failure;
    2. the staging directory is swapped in by renames through
       ``<path>.__backup_<tag>`` -- the whole directory, or with
       ``children`` only those child directories (a named child missing
       from staging is deleted from the live tree). If any rename
       fails, every directory already moved is moved back;
    3. the superseded copy is deleted, or handed to ``retire(path,
       backup)`` still under the lock (store_swap's generation
       archiver), whose result is returned.

    Readers see the old tree or the new one, except between the two
    renames of a directory, when a reader listing it finds it missing.
    Local-FS renames; on object stores the staged layout would feed a
    catalog commit instead."""
    norm = path.rstrip("/")
    tag = uuid.uuid4().hex[:8]
    staging, backup = f"{norm}.__staging_{tag}", f"{norm}.__backup_{tag}"
    dirs = ([(norm, backup, staging)] if children is None else
            [(os.path.join(norm, c), os.path.join(backup, c),
              os.path.join(staging, c)) for c in sorted(children)])
    with publish_lock(norm, owner=owner):
        moved = []
        try:
            write(staging)
            if children is not None:
                os.makedirs(backup)
            for live, old, new in dirs:
                for src, dst in ((live, old), (new, live)):
                    if children is None or os.path.isdir(src):
                        os.rename(src, dst)
                        moved.append((src, dst))
        except BaseException:
            for src, dst in reversed(moved):
                os.rename(dst, src)
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(backup, ignore_errors=True)
            raise
        shutil.rmtree(staging, ignore_errors=True)
        if retire is not None:
            return retire(norm, backup)
        shutil.rmtree(backup, ignore_errors=True)
        return None


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    when_matched_update: Mapping[str, Column] | None = None,
    when_matched_delete: Column | None = None,
    when_not_matched_insert: Mapping[str, Column] | None = None,
    when_not_matched_insert_condition: Column | None = None,
) -> DataFrame:
    """ANSI MERGE semantics over DataFrames; returns the merged target.

    - ``on``: equi-join key column names (present in both frames).
    - ``when_matched_update``: {target_col: expr}; exprs may reference
      target columns by name and source columns as ``src_<col>``.
    - ``when_matched_delete``: optional boolean expr (same references);
      matched rows where it holds are dropped. Evaluated before update,
      mirroring MERGE WHEN MATCHED THEN DELETE clause order.
    - ``when_not_matched_insert``: {target_col: expr} building inserted
      rows from source-only keys (exprs reference ``src_<col>``); omit
      to ignore unmatched source rows.
    - ``when_not_matched_insert_condition``: optional boolean over
      ``src_<col>`` columns gating the insert (ANSI ``WHEN NOT MATCHED
      AND <cond> THEN INSERT``); unmatched source rows failing it are
      ignored (e.g. a CDC delete for a key that never existed).

    Target rows with no source match pass through unchanged. Duplicate
    source keys are the caller's responsibility (ANSI MERGE raises on
    them; here each duplicate emits a row -- pre-aggregate the source;
    checking would cost an extra shuffle).
    """
    t_cols = target.columns
    t = target.withColumn("_t_ex", F.lit(True))
    s = (source.select([F.col(c).alias(f"src_{c}") for c in source.columns])
         .withColumn("_s_ex", F.lit(True)))
    cond = [t[k] == s[f"src_{k}"] for k in on]
    j = t.join(s, cond, "full_outer").select(
        *[t[c].alias(c) for c in t_cols],
        *[s[f"src_{c}"].alias(f"src_{c}") for c in source.columns],
        F.coalesce(t["_t_ex"], F.lit(False)).alias("_t_ex"),
        F.coalesce(s["_s_ex"], F.lit(False)).alias("_s_ex"))
    matched = F.col("_t_ex") & F.col("_s_ex")

    if when_matched_delete is not None:
        # ANSI MERGE deletes only when the condition is TRUE; NULL (3VL
        # unknown) keeps the row, so coalesce before negating -- ~NULL is
        # NULL and where() would otherwise drop the row.
        delete = F.coalesce(when_matched_delete, F.lit(False))
        j = j.where(~F.when(matched, delete).otherwise(F.lit(False)))

    out_cols = []
    for c in t_cols:
        val = F.col(c)
        if when_matched_update and c in when_matched_update:
            val = F.when(matched, when_matched_update[c]).otherwise(val)
        if when_not_matched_insert is not None:
            ins = when_not_matched_insert.get(c)
            if ins is None:
                ins = F.lit(None).cast(target.schema[c].dataType)
            val = F.when(~F.col("_t_ex"), ins).otherwise(val)
        out_cols.append(val.alias(c))

    if when_not_matched_insert is None:
        j = j.where(F.col("_t_ex"))
    elif when_not_matched_insert_condition is not None:
        # 3VL as in the delete clause: NULL condition -> no insert
        j = j.where(F.col("_t_ex")
                    | F.coalesce(when_not_matched_insert_condition,
                                 F.lit(False)))
    return j.select(*out_cols)


def merge_rollup(
    rollup: DataFrame,
    batch: DataFrame,
    *,
    keys: list[str],
    add_cols: list[str],
) -> DataFrame:
    """Incremental rollup-table maintenance: fold a NEW batch's
    aggregates into a stored rollup -- matched groups ADD (the batch
    side must already be aggregated to the same grain), new groups
    insert. The incremental-ETL primitive for additive measures
    (counts, sums; keep avg as sum+count and divide at read).
    Provably one-shot-equivalent for additive columns: addition is
    associative/commutative over disjoint row sets, so batch-wise
    maintenance equals re-aggregating everything -- the
    merge_rollup_incremental gate pins a two-batch rollup against the
    one-shot oracle (DECIMAL columns keep this exact; see the
    determinism contract).

    Plan: ONE equi join on the grain keys (the batch side is
    group-cardinality, usually broadcast); nothing else moves. Apply
    via merge_into_parquet for the stored-table loop."""
    return merge_into(
        rollup, batch, on=list(keys),
        when_matched_update={c: F.col(c) + F.col(f"src_{c}")
                             for c in add_cols},
        when_not_matched_insert={c: F.col(f"src_{c}")
                                 for c in list(keys) + list(add_cols)})


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    *,
    key: list[str],
    tracked: list[str],
    batch_ts,
    eff_from: str = "eff_from",
    eff_to: str = "eff_to",
    is_current: str = "is_current",
    when_deleted: Column | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type 2 maintenance (Kimball): apply a
    change batch to a versioned dimension, returning the new dimension.

    ``dim`` carries ``key`` + ``tracked`` (+ any other columns) plus the
    three SCD bookkeeping columns; ``changes`` carries key + tracked
    (extra columns are reachable as ``src_<col>`` in ``when_deleted``).
    Per change row, against the key's CURRENT dim row:

      - no current row        -> insert a new version (eff_from =
        batch_ts, open-ended, current)
      - any tracked column differs (null-safe) -> close the old row
        (eff_to = batch_ts, not current) AND insert the new version
      - identical             -> no-op
      - ``when_deleted`` true -> close the old row only (soft delete)

    Historical (non-current) rows pass through untouched; a change for
    a key that exists only historically re-inserts it. Duplicate change
    keys are the caller's responsibility (as in ``merge_into``).

    Plan: ONE equi join (current slice x changes; broadcast when the
    batch is small), each matched row emitting up to two output rows
    via an array-explode (no second join, no window), and a union with
    the untouched history -- at a 100-TB dimension the history
    partition (eff_to IS NOT NULL) is never shuffled at all.
    """
    kcols, tcols = list(key), list(tracked)
    ts = batch_ts if isinstance(batch_ts, Column) else F.lit(batch_ts)
    missing = [c for c in (eff_from, eff_to, is_current)
               if c not in dim.columns]
    if missing:
        raise ValueError(f"dim lacks SCD columns {missing}")
    cur = dim.where(F.col(is_current))
    hist = dim.where(~F.col(is_current))
    t = cur.withColumn("_t_ex", F.lit(True))
    s = (changes.select([F.col(c).alias(f"src_{c}")
                         for c in changes.columns])
         .withColumn("_s_ex", F.lit(True)))
    cond = [t[k] == s[f"src_{k}"] for k in kcols]
    j = t.join(s, cond, "full_outer")
    t_ex = F.coalesce(F.col("_t_ex"), F.lit(False))
    s_ex = F.coalesce(F.col("_s_ex"), F.lit(False))
    deleted = (F.coalesce(when_deleted, F.lit(False))
               if when_deleted is not None else F.lit(False))
    differs = F.lit(False)
    for c in tcols:
        differs = differs | ~F.col(c).eqNullSafe(F.col(f"src_{c}"))
    close = t_ex & s_ex & (deleted | differs)
    mk_new = s_ex & ~deleted & (~t_ex | differs)

    def _typ(c):
        return dim.schema[c].dataType

    old_fields, new_fields = [], []
    for c in dim.columns:
        if c == eff_to:
            old_fields.append(F.when(close, ts.cast(_typ(c)))
                              .otherwise(F.col(c)).alias(c))
            new_fields.append(F.lit(None).cast(_typ(c)).alias(c))
        elif c == is_current:
            old_fields.append(F.when(close, F.lit(False))
                              .otherwise(F.col(c)).alias(c))
            new_fields.append(F.lit(True).alias(c))
        elif c == eff_from:
            old_fields.append(F.col(c).alias(c))
            new_fields.append(ts.cast(_typ(c)).alias(c))
        elif c in kcols or c in tcols:
            old_fields.append(F.col(c).alias(c))
            new_fields.append(F.col(f"src_{c}").cast(_typ(c)).alias(c))
        else:
            old_fields.append(F.col(c).alias(c))
            new_fields.append(F.lit(None).cast(_typ(c)).alias(c))
    old_struct = F.when(t_ex, F.struct(*old_fields))
    new_struct = F.when(mk_new, F.struct(*new_fields))
    rows = F.filter(F.array(old_struct, new_struct),
                    lambda x: x.isNotNull())
    out = j.select(F.explode(rows).alias("_r")).select("_r.*")
    return hist.unionByName(out)


def merge_into_parquet(
    spark,
    path: str,
    source: DataFrame,
    on: list[str],
    **merge_kwargs,
) -> None:
    """Copy-on-write MERGE against a parquet table directory.

    Spark cannot overwrite its own input, and materializing via
    localCheckpoint() before an in-place overwrite is unsafe (blocks live
    on non-replicated executor storage; an executor loss mid-overwrite
    destroys the original with no recovery). So: write the merged result
    to a sibling staging directory first -- a fully durable distributed
    write while the original is untouched -- then swap directories. The
    swap itself is the only non-atomic window and is driver-local metadata
    work; a real lakehouse table (Iceberg/Delta) is this exact operation
    plus an atomic snapshot-pointer commit. The swap is cow_publish's
    guarded_swap; between its two renames a reader listing ``path``
    can find it missing."""
    target = table_reader(spark, path).parquet(path)
    merged = merge_into(target, source, on, **merge_kwargs)
    cow_publish(merged, path)


def _bucket_expr(key_cols: list[str], n_buckets: int):
    """The int key-hash bucket ``pmod(xxhash64(keys), n_buckets)``, as
    SQL text: one py4j call instead of one per Column node."""
    keys = ", ".join(sql_ident(c) for c in key_cols)
    return F.expr(f"CAST(pmod(xxhash64({keys}), {int(n_buckets)}) AS INT)")


def _keyed_write_width(df: DataFrame, n_values: int) -> int:
    """Task width for a keyed repartition feeding a dynamic-partition
    write: one task per partition value, capped by the cluster's
    parallelism -- both scale-derived, no constants. The no-count
    (AQE-coalesced) form sizes tasks by BYTES, which under-parallelizes
    exactly here: a small staged write coalesces to 1-2 tasks that then
    create hundreds of partition directories/files SERIALLY (file
    creation is per-file fixed cost, invisible to byte-based sizing).
    Measured on a 256-bucket stage write at sf0.1 (min of 4):
    no-count 0.72 s (2 tasks) / explicit-256 1.33 s (task-launch bound)
    / min(n_values, defaultParallelism) 0.42 s. At cluster scale
    defaultParallelism >> n_values, so this pins one task per partition
    value -- the one-file-per-dir layout contract unchanged."""
    dp = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(int(n_values), dp))


def write_bucket_partitioned(df: DataFrame, path: str,
                             key_cols: list[str], n_buckets: int, *,
                             bucket_col: str = "mbucket",
                             mode: str = "errorifexists",
                             files_per_bucket: int = 1) -> None:
    """Initialize a table for file-pruned MERGE maintenance: stored
    hash-bucket-partitioned on the merge key (``bucket_col =
    pmod(xxhash64(keys), n_buckets)`` as a hive partition directory).
    Because the bucket derives from the key alone, every future change
    row routes to exactly one partition directory -- the property
    merge_into_partitioned prunes on."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if files_per_bucket < 1:
        raise ValueError(f"files_per_bucket must be >= 1, "
                         f"got {files_per_bucket}")
    if bucket_col in df.columns:
        raise ValueError(
            f"column {bucket_col!r} collides with the bucket "
            "bookkeeping column -- rename it or pass bucket_col=")
    # repartition keyed on (bucket [, intra-bucket salt]) before the
    # dynamic-partition write: otherwise every task writes into every
    # bucket directory -- tasks x n_buckets tiny files whose per-file
    # writer overhead dominates (measured 5x on the BM25 store, same
    # pattern; SCALE.md r12). files_per_bucket > 1 restores
    # within-bucket write parallelism for big tables. Width =
    # min(partition values, defaultParallelism) -- see
    # _keyed_write_width for the measured rationale (byte-based AQE
    # coalescing serializes the per-file creation cost).
    b = df.withColumn(bucket_col, _bucket_expr(key_cols, n_buckets))
    if files_per_bucket == 1:
        b = b.repartition(_keyed_write_width(df, n_buckets),
                          F.col(bucket_col))
    else:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols],
                                 F.lit(7)), F.lit(files_per_bucket))
        b = b.repartition(
            _keyed_write_width(df, n_buckets * files_per_bucket),
            F.col(bucket_col), salt)
    b.write.mode(mode).partitionBy(bucket_col).parquet(path)


def merge_into_partitioned(
    spark,
    path: str,
    source: DataFrame,
    on: list[str],
    *,
    part_col: str | None = None,
    n_buckets: int | None = None,
    bucket_col: str = "mbucket",
    max_touched: int = 4096,
    validate_cross_partition: bool | None = None,
    auto_validate_max_files: int = 256,
    **merge_kwargs,
) -> list:
    """File-pruned MERGE against a partitioned parquet table: only the
    partitions containing the batch's keys are read, merged, and
    rewritten -- per-batch cost is bound by the TOUCHED-partition size,
    not the table size (the lakehouse merge-on-read/file-pruned-COW
    economics; the plain merge_into_parquet rewrites the whole table
    per batch, which at 100 TB is the one cost that grows with the
    table instead of the batch). Reference parity: Iceberg MERGE COW
    rewrites matched *files*, not the table (reference
    bodo/io/iceberg/merge_into.py:33); here the pruning unit is the
    hive partition directory.

    Exactly one of:
    - ``n_buckets``: the table was written by write_bucket_partitioned
      with the same key/bucket config. The batch's buckets derive from
      its keys (bounded collect, <= n_buckets values); inserts/updates/
      deletes can never escape the touched set by construction.
    - ``part_col``: a natural partition column, present in ``source``
      and IMMUTABLE under the merge (the hive-partition contract), with
      int/string values only (other types render differently in hive
      directory names than ``str()`` -- rejected early). Each source
      row's ``part_col`` must equal its matched row's STORED partition:
      the pruned scan only reads the source's partitions, so a source
      row pointing at the wrong partition never sees its match and
      would INSERT A DUPLICATE key while the stored row survives.
      Updates that move a row across partitions are caught at publish
      time only when the staged partition falls outside the touched
      set; ``validate_cross_partition=True`` closes the remaining gap
      by anti-checking source keys against the table OUTSIDE the
      touched slice (one extra scan of the untouched partitions --
      key-only, broadcast semi join, no shuffle). The default (None)
      AUTO-VALIDATES when the check is provably cheap -- the table has
      at most ``auto_validate_max_files`` data files (a driver-local
      listing) -- and otherwise stays off with a one-line warning, so
      small tables get the duplication hazard closed for free while
      big tables keep the pruned economics and opt in explicitly.
      ``when_not_matched_insert`` must map ``part_col``.

    ``max_touched``: driver-memory guard -- the touched-partition list
    is collected, bounded by ``n_buckets`` in bucket mode but unbounded
    in principle in natural mode; a batch touching more distinct
    partition values than this raises with guidance (fall back to
    merge_into_parquet or use n_buckets mode) instead of risking the
    driver.

    Plan shape: the target scan carries ``part_col IN (touched)`` --
    static partition pruning, asserted in test_plans -- then ONE merge
    join sized by the touched slice; the rewrite stages only the
    touched partitions and swaps those directories (guarded: restore
    on failure). Untouched partition files are never opened. Partition
    values must be simple (no hive-escaped characters); bucket mode's
    int buckets always are. Returns the sorted touched values.

    Schema stability contract: update/insert expressions must produce
    the STORED column types -- a partitioned table keeps one schema
    across directories, and e.g. Spark's decimal arithmetic widens
    precision, so an uncast ``bal + src_bal`` would write a wider
    decimal into the touched buckets and type-clash with untouched
    ones at read time. Cast back explicitly (the merge_file_pruned
    gate does).
    """
    if (part_col is None) == (n_buckets is None):
        raise ValueError("pass exactly one of part_col / n_buckets")
    src_cached = None
    if n_buckets is not None:
        pcol = bucket_col
        src_p = source.withColumn(pcol, _bucket_expr(list(on), n_buckets))
        # the source is evaluated twice (touched-value collect + the
        # merge join) and is change-mass-sized by contract -- persist
        # it for the operation (measured ~10% off the pruned-merge
        # gate). Only in bucket mode: src_p is OUR derived frame, so
        # the unpersist below cannot clear a caller's cache of the
        # same plan (in natural mode src_p IS the caller's frame).
        from pyspark.storagelevel import StorageLevel
        src_p = src_p.persist(StorageLevel.MEMORY_AND_DISK)
        src_cached = src_p
        source = src_p.drop(pcol)  # same columns, reads the cache
    else:
        pcol = part_col
        if pcol not in source.columns:
            raise ValueError(f"source lacks partition column {pcol!r}")
        from pyspark.sql import types as T
        ptyp = source.schema[pcol].dataType
        if not isinstance(ptyp, (T.ByteType, T.ShortType, T.IntegerType,
                                 T.LongType, T.StringType)):
            raise ValueError(
                f"part_col {pcol!r} has type {ptyp.simpleString()} -- "
                "natural part_col mode supports int/string values only "
                "(hive renders other types differently than str()); "
                "use n_buckets mode")
        src_p = source
    cap = max(int(max_touched), n_buckets or 0)
    if n_buckets is not None:
        # bucket mode: the distinct value set is bounded by n_buckets
        # (<= cap always, the limit guard can never bind), so ONE
        # collect_set aggregate replaces the distinct+limit collect --
        # the same values in 1-2 stages instead of the 4-5 AQE jobs
        # the distinct exchange + CollectLimit ran per merge (measured
        # on merge_file_pruned's timeline: ~5 jobs x 2 merges).
        tvals = list(src_p.agg(
            F.collect_set(F.col(pcol)).alias("_t")).collect()[0][0])
    else:
        tvals = [r[0] for r in
                 src_p.select(pcol).distinct().limit(cap + 1).collect()]
    if len(tvals) > cap:
        raise ValueError(
            f"batch touches more than {cap} distinct {pcol!r} values "
            "-- the touched-partition list would not be driver-safe; "
            "raise max_touched, use n_buckets mode, or fall back to "
            "merge_into_parquet (full COW) for this batch")
    touched = sorted(tvals, key=lambda v: (v is None, v))
    if not touched:
        if src_cached is not None:
            src_cached.unpersist()
        return []
    if touched[-1] is None or (touched and touched[0] is None):
        # isin() never matches NULL, so the target slice would miss the
        # NULL-partition rows and the swap would then REPLACE that
        # directory with only the batch's rows -- silent data loss.
        # Refuse; bucket mode cannot produce NULL buckets (xxhash64 is
        # total), which is the supported route for nullable keys.
        raise ValueError(
            "source contains NULL partition values -- unsupported in "
            "natural part_col mode (the pruned scan cannot match them); "
            "use n_buckets mode")
    if n_buckets is not None:
        tgt = _read_bucket_slice(spark, path, pcol, touched)
    else:
        # the partition values read as the source's part_col type, the
        # type the slice filter and the merge compare them in
        reader = table_reader(spark, path, {pcol: ptyp})
        tgt = reader.parquet(path).where(F.col(pcol).isin(touched))
    validate = validate_cross_partition
    if validate is None and n_buckets is None:
        nfiles = len(data_files(path))
        validate = nfiles <= int(auto_validate_max_files)
        if not validate:
            import warnings
            warnings.warn(
                f"natural-mode merge on {path!r} ({nfiles} files) "
                "skips the cross-partition key validation above "
                f"auto_validate_max_files={auto_validate_max_files}; "
                "a source row whose part_col mismatches its key's "
                "stored partition would duplicate the key -- pass "
                "validate_cross_partition=True to force the check",
                stacklevel=2)
    if validate and n_buckets is None:
        # natural mode's silent-duplication hazard: a source row whose
        # part_col differs from its key's STORED partition never meets
        # its match in the pruned slice. Check: no source key may exist
        # in the table outside the touched partitions. Key-only scan of
        # the untouched slice x broadcast(source keys), stop at one hit.
        src_keys = source.select(*on).distinct()
        outside = (reader.parquet(path)
                   .where(~F.col(pcol).isin(touched))
                   .select(*on)
                   .join(F.broadcast(src_keys), list(on), "left_semi"))
        hit = outside.take(1)
        if hit:
            raise ValueError(
                f"source key {tuple(hit[0])} exists in a partition "
                f"outside the touched set -- its source row's "
                f"{pcol!r} does not match the stored partition; the "
                "pruned merge would duplicate the key (part_col must "
                "equal the stored row's partition)")
    if n_buckets is not None:
        # the bucket is a pure function of the key: drop it through the
        # merge and recompute for every output row (insert exprs need
        # not mention it)
        merged = merge_into(tgt.drop(pcol), source, on, **merge_kwargs)
        merged = merged.withColumn(pcol, _bucket_expr(list(on),
                                                      n_buckets))
    else:
        merged = merge_into(tgt, source, on, **merge_kwargs)
    _publish_partitions(merged, path, pcol, touched)
    if src_cached is not None:
        # publish materialized everything; on an exception above the
        # leaked persist is reclaimed by the ContextCleaner when the
        # frame is garbage-collected
        src_cached.unpersist()
    return touched


def _read_bucket_slice(spark, path: str, pcol: str, touched: list):
    """Touched-bucket slice of a bucket-partitioned table: the touched
    bucket dirs as direct paths under basePath -- listing O(touched)
    instead of O(n_buckets) -- with the first touched dir's footer
    schema (rowframe.table_reader: no schema-inference job per merge).
    Value-identical to
    ``spark.read.parquet(path).where(pcol.isin(touched))``: bucket dirs
    are int-valued by _bucket_expr and the caller drops the bucket
    column, so partition-type inference cannot differ."""
    from pyspark.sql.types import IntegerType

    norm = path.rstrip("/")
    paths = [os.path.join(norm, f"{pcol}={int(v)}") for v in touched]
    paths = [p for p in paths if os.path.isdir(p)]
    if not paths:
        return (table_reader(spark, norm, {pcol: IntegerType()})
                .parquet(norm).where(F.col(pcol).isin(list(touched))))
    return (table_reader(spark, paths[0], {pcol: IntegerType()})
            .option("basePath", norm).parquet(*paths))


def _escape_part(v) -> str:
    """Hive partition directory value for simple values; raises on
    values that hive-escapes (use bucket mode for arbitrary keys)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(v)
    unsafe = set('\\/:=%#?*"\'{}[]^ \t\n\r')
    if not s or any(c in unsafe or ord(c) < 0x20 for c in s):
        raise ValueError(
            f"partition value {s!r} needs hive escaping -- unsupported "
            "in the file-pruned merge; use n_buckets mode")
    return s




def _publish_partitions(merged: DataFrame, path: str, pcol: str,
                        touched: list) -> None:
    """Stage ONLY the touched partitions and swap their directories in
    through guarded_swap's partition form: a touched partition absent
    from the staged output (every row deleted) is removed. A staged
    partition outside the touched set (an update moved a row across
    partitions) fails the write step, so nothing is swapped."""
    expected = {f"{pcol}={_escape_part(v)}" for v in touched}

    def write(staging: str) -> None:
        # one shuffle keyed on the partition col bounds the staged
        # write to ~one file per touched partition (vs tasks x touched
        # tiny files -- the per-file overhead measured on the BM25
        # store); width = min(touched, defaultParallelism) so the
        # per-dir file creations run in parallel (_keyed_write_width)
        (merged.repartition(_keyed_write_width(merged, len(touched)),
                            F.col(pcol))
         .write.mode("errorifexists").partitionBy(pcol)
         .parquet(staging))
        stray = {d for d in os.listdir(staging)
                 if d.startswith(f"{pcol}=")} - expected
        if stray:
            raise ValueError(
                f"merge produced partitions outside the touched set "
                f"({sorted(stray)[:5]}): part_col must be immutable "
                "under the merge -- an update moved a row across "
                "partitions")

    guarded_swap(path, write, children=expected,
                 owner="publish_partitions")


def cow_publish(merged: DataFrame, path: str, *,
                partition_by: list[str] | None = None) -> None:
    """Publish ``merged`` as the new content of the parquet table at
    ``path``: a durable staging write, then guarded_swap's
    whole-directory swap (shared by merge_into_parquet,
    maintain_rollup_stream, compact_parquet, bloom compaction and the
    MoR compactions). A failed write or swap leaves the table as it
    was."""
    w = merged.write.mode("errorifexists")
    if partition_by:
        w = w.partitionBy(*partition_by)
    guarded_swap(path, w.parquet, owner="cow_publish")
