"""I/O entry points (reference parity: SURVEY.md 2.1).

Design notes for scale:
  - Reads are lazy scans; never collect/inspect data at read time so that
    predicate pushdown / partition pruning stay available to Catalyst.
  - Writes go through the DataFrame writer so they distribute; callers can
    pass partition_cols to get hive-style partitioned layouts (the 100 TB
    path: partitioned+sorted parquet, one file per task).
"""

from __future__ import annotations

from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..session import get_spark


def read_parquet(path: str | list[str], columns: list[str] | None = None,
                 filters: list[tuple] | None = None,
                 spark: SparkSession | None = None, **options: Any) -> DataFrame:
    """Parquet scan. Reference: bodo/pandas/base.py:183, physical/read_parquet.h:23.

    Column selection is applied as a .select so Catalyst prunes the
    ReadSchema down to exactly these columns. ``filters`` takes the
    pandas/pyarrow triple form [(col, op, value), ...] (AND-combined)
    and lands as ordinary Catalyst filters -- pushed into the scan as
    PushedFilters/partition pruning like any predicate.
    """
    spark = spark or get_spark()
    paths = path if isinstance(path, list) else [path]
    df = spark.read.options(**options).parquet(*paths)
    if filters:
        from pyspark.sql import functions as F
        ops = {"=": "__eq__", "==": "__eq__", "!=": "__ne__",
               "<": "__lt__", "<=": "__le__", ">": "__gt__",
               ">=": "__ge__"}
        for col, op, val in filters:
            c = F.col(col)
            if op == "in":
                df = df.where(c.isin(list(val)))
            elif op == "not in":
                df = df.where(~c.isin(list(val)))
            elif op in ops:
                df = df.where(getattr(c, ops[op])(val))
            else:
                raise ValueError(f"unsupported filter op {op!r}")
    if columns is not None:
        df = df.select(*columns)
    return df


def to_parquet(df: DataFrame, path: str, mode: str = "overwrite",
               partition_cols: Iterable[str] | None = None,
               max_records_per_file: int | None = None) -> None:
    """Parquet sink. Reference: bodo/pandas/frame.py:455, physical/write_parquet.h:25."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def to_table_bucketed(df: DataFrame, table: str, buckets: int,
                      bucket_cols: Iterable[str],
                      sort_cols: Iterable[str] | None = None,
                      mode: str = "overwrite",
                      path: str | None = None) -> None:
    """Bucketed parquet table (catalog-managed): rows are hash-placed
    into ``buckets`` files per partition by ``bucket_cols``, optionally
    sorted within each bucket.

    This is THE co-location tool at 100 TB: two tables bucketed on the
    same key with the same bucket count join with ZERO shuffle (both
    sides' output partitioning already satisfies the join's
    distribution; verified in tests via plan assertion). The reference
    gets the same effect from its MPI hash-partitioned table layout;
    Spark expresses it through the catalog so Catalyst can prove the
    partitioning and elide the exchanges.
    """
    writer = (df.write.mode(mode).format("parquet")
              .bucketBy(buckets, *bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:  # EXTERNAL table: explicit location instead of warehouse dir
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_csv(path: str, header: bool = True, sep: str = ",",
             schema: Any | None = None, infer_schema: bool = True,
             spark: SparkSession | None = None, **options: Any) -> DataFrame:
    """CSV scan. Reference: bodo/pandas/base.py:392, bodo/ir/csv_ext.py.

    Defaults are round-trip-safe with :func:`to_csv`: RFC-4180 quoting
    (escape = the quote char, not Spark's backslash default). Pass
    ``multiLine=True`` when fields may contain embedded newlines
    (disables the per-line input split, so use only when needed -- it
    costs scan parallelism within a file). Known loss, identical to
    pandas read_csv/to_csv: empty string and NULL both serialize to an
    empty field and read back as NULL."""
    spark = spark or get_spark()
    options.setdefault("escape", '"')
    reader = spark.read.options(header=header, sep=sep, **options)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def to_csv(df: DataFrame, path: str, mode: str = "overwrite",
           header: bool = True, sep: str = ",", **options: Any) -> None:
    """CSV sink. Reference: bodo/pandas/frame.py (to_csv).

    Round-trip-safe defaults: RFC-4180 quote-doubling (escape='\"';
    Spark's own default backslash-escape is not understood by its
    reader's defaults), and NO whitespace trimming (Spark's write-side
    ignore*WhiteSpace defaults silently strip leading/trailing spaces
    from every field). Empty string vs NULL is NOT preserved (both
    write as an empty field -- the same loss pandas.to_csv has);
    round-trip through JSON or parquet when that distinction matters."""
    options.setdefault("escape", '"')
    options.setdefault("ignoreLeadingWhiteSpace", False)
    options.setdefault("ignoreTrailingWhiteSpace", False)
    df.write.mode(mode).options(header=header, sep=sep, **options).csv(path)


def read_json(path: str, lines: bool = True, schema: Any | None = None,
              spark: SparkSession | None = None, **options: Any) -> DataFrame:
    """JSON scan. Reference: bodo/ir/json_ext.py."""
    spark = spark or get_spark()
    reader = spark.read.options(multiLine=not lines, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def to_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink. Reference: bodo/pandas/frame.py:942."""
    df.write.mode(mode).json(path)


def read_orc(path: str, spark: SparkSession | None = None,
             **options: Any) -> DataFrame:
    """ORC scan (columnar, predicate-pushdown + column-pruning capable
    like parquet -- Spark's reader applies PushedFilters and ReadSchema
    pruning to ORC natively). The reference's lakehouse surface is
    parquet/Iceberg-first; ORC is the other columnar warehouse
    interchange format a Spark-native engine gets for free."""
    spark = spark or get_spark()
    return spark.read.options(**options).orc(path)


def read_binary_files(path: str, spark: SparkSession | None = None,
                      glob: str | None = None,
                      recursive: bool = False) -> DataFrame:
    """Raw-media ingest: Spark's ``binaryFile`` source -- one row per
    file with (path, modificationTime, length, content binary). The
    entry point of the multimodal tier (operators/multimodal.py):
    image/audio/video lakes land as opaque bytes + typed metadata,
    then decode/fingerprint stages run over the ``content`` column.

    Scale notes: files are distributed across tasks by size (each task
    reads whole files -- no splitting, so a 100-TB media lake wants
    many small-to-medium objects, not few giant ones); ``glob`` maps
    to pathGlobFilter (evaluated at listing time, so non-matching
    files are never opened); filters on ``length`` and
    ``modificationTime`` push down to the file listing too."""
    spark = spark or get_spark()
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return r.load(path)


def to_orc(df: DataFrame, path: str, mode: str = "overwrite",
           partition_by: list[str] | None = None,
           **options: Any) -> None:
    """ORC sink (+ optional hive-style partitioning, same layout
    contract as to_parquet)."""
    w = df.write.mode(mode).options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_sql(query_or_table: str, url: str, spark: SparkSession | None = None,
             partition_column: str | None = None, lower_bound: Any = None,
             upper_bound: Any = None, num_partitions: int | None = None,
             **options: Any) -> DataFrame:
    """JDBC scan. Reference: bodo/ir/sql_ext.py:140 (distributed batch fetch).

    The reference parallelizes Snowflake fetches across workers; the Spark
    analogue is JDBC partitioned reads (partitionColumn/lowerBound/
    upperBound/numPartitions) -- pass them for any large table or the read
    is a single task.
    """
    spark = spark or get_spark()
    reader = spark.read.format("jdbc").option("url", url)
    q = query_or_table.strip()
    if q.lower().startswith("select"):
        reader = reader.option("query", q)
    else:
        reader = reader.option("dbtable", q)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("lowerBound", str(lower_bound))
                  .option("upperBound", str(upper_bound))
                  .option("numPartitions", str(num_partitions or 32)))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_sql_table(table_name: str, con: str, schema: str | None = None,
                   spark: SparkSession | None = None,
                   **options: Any) -> DataFrame:
    """pd.read_sql_table (reference docs io/read_sql_table.md: Iceberg
    warehouse URLs or JDBC): iceberg:// URLs route to the Iceberg
    reader, anything else is a JDBC table scan."""
    if con.startswith("iceberg"):
        name = f"{schema}.{table_name}" if schema else table_name
        return read_iceberg(name, spark=spark, **options)
    name = f"{schema}.{table_name}" if schema else table_name
    return read_sql(name, con, spark=spark, **options)


def read_excel(path: str, sheet_name: int | str = 0,
               spark: SparkSession | None = None,
               **options: Any) -> DataFrame:
    """pd.read_excel (reference docs io/read_excel.md): Spark has no
    native xlsx source, so the file is parsed driver-side by pandas
    (openpyxl) and shipped as an Arrow frame -- correct for the
    config-workbook sizes Excel implies; raises cleanly if the engine
    is absent in this container."""
    import pandas as _pd
    try:
        pdf = _pd.read_excel(path, sheet_name=sheet_name, **options)
    except ImportError as e:  # openpyxl/xlrd not shipped offline
        raise NotImplementedError(
            "read_excel needs an excel engine (openpyxl); not available "
            "in this container") from e
    return from_pandas(pdf, spark=spark)


def compact_parquet(spark: SparkSession, path: str,
                    target_file_bytes: int = 128 * 1024 * 1024) -> int:
    """Small-file compaction (the lakehouse OPTIMIZE primitive; the
    reference's MPI writer sizes files at write time, a long-lived table
    still degrades under trickle appends). Rewrites the directory to
    ceil(bytes/target) files via repartition, published through
    operators.merge.cow_publish (staged write + guarded_swap under the
    table's publish lock) -- the original is untouched until the
    compacted copy is fully durable. Returns the new file count."""
    import math
    import os

    from ..operators.merge import cow_publish
    from ..rowframe import data_files, table_reader

    norm = path.rstrip("/")
    total = sum(os.path.getsize(f) for f in data_files(norm))
    n_files = max(1, math.ceil(total / target_file_bytes))
    cow_publish(table_reader(spark, norm).parquet(norm)
                .repartition(n_files), norm)
    return n_files


def to_sql(df: DataFrame, table: str, url: str, mode: str = "append",
           **options: Any) -> None:
    """JDBC sink. Reference: bodo/pandas/frame.py:775."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def read_iceberg(table: str, spark: SparkSession | None = None,
                 snapshot_id: int | None = None,
                 as_of_timestamp: str | None = None) -> DataFrame:
    """Iceberg scan. Reference: bodo/pandas/base.py:313, bodo/io/iceberg/.

    Requires an Iceberg catalog configured on the session
    (spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog).
    The iceberg-spark-runtime jar is a public Maven artifact but is not
    present in this container (verified: no copy in the pyspark jars dir
    or any local artifact cache, and the environment has no network), so
    this raises a clear error when the format is unavailable; the API
    surface and time-travel options mirror the reference. The row-level
    MERGE the reference layers on Iceberg (bodo/io/iceberg/merge_into.py)
    is available format-independently as operators/merge.py (COW merge =
    key join + rewrite, which is what the Iceberg path executes too).
    """
    spark = spark or get_spark()
    reader = spark.read
    if snapshot_id is not None:
        reader = reader.option("snapshot-id", str(snapshot_id))
    if as_of_timestamp is not None:
        reader = reader.option("as-of-timestamp", as_of_timestamp)
    try:
        return reader.format("iceberg").load(table)
    except Exception as e:  # pragma: no cover - depends on runtime jars
        raise NotImplementedError(
            "Iceberg runtime not available in this environment; on a real "
            "cluster add the iceberg-spark-runtime jar and a catalog conf."
        ) from e


def read_iceberg_table(table, spark: SparkSession | None = None) -> DataFrame:
    """reference base.py:364 read_iceberg_table(PyIcebergTable): accept
    a pyiceberg Table handle and route to read_iceberg by its dotted
    identifier. The pyiceberg package (like the Spark Iceberg runtime)
    is absent in this container, so the argument is duck-typed: any
    object exposing ``_identifier`` (or ``name()``) works."""
    ident = getattr(table, "_identifier", None)
    if ident is None and hasattr(table, "name"):
        ident = table.name()
    if ident is None:
        raise TypeError(
            "read_iceberg_table expects a pyiceberg Table (or any object "
            "with an _identifier tuple / name())")
    dotted = ".".join(ident) if not isinstance(ident, str) else ident
    return read_iceberg(dotted, spark=spark)


def to_iceberg(df: DataFrame, table: str, mode: str = "append") -> None:
    """Iceberg sink. Reference: bodo/pandas/frame.py:507, physical/write_iceberg.h."""
    try:
        if mode == "append":
            df.writeTo(table).append()
        elif mode == "overwrite":
            df.writeTo(table).overwritePartitions()
        else:
            df.writeTo(table).create()
    except Exception as e:  # pragma: no cover - depends on runtime jars
        raise NotImplementedError(
            "Iceberg runtime not available in this environment."
        ) from e


def from_pandas(pdf: pd.DataFrame, spark: SparkSession | None = None,
                num_partitions: int | None = None) -> DataFrame:
    """In-memory scan. Reference: bodo/pandas/base.py:74 (LogicalGetPandasRead*).

    Arrow-backed createDataFrame; repartition only when asked (the
    reference distinguishes seq/parallel scatter -- Spark broadcasts the
    plan and parallelizes automatically).
    """
    spark = spark or get_spark()
    df = spark.createDataFrame(pdf)
    if num_partitions:
        df = df.repartition(num_partitions)
    return df
