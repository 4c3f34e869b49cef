"""Driver-local tiny-frame constructor without the fan-out.

``SparkSession.createDataFrame(list_of_rows)`` parallelizes the rows
across ``defaultParallelism`` partitions -- on local[32] a 4-row result
frame becomes a 32-task PythonRDD whose FIRST evaluation spawns up to
32 Python worker processes behind one global lock (SparkEnv.
createPythonWorker is synchronized; measured ~0.5 s per spawn, ~16 s
serialized for a single tiny frame). Every bounded driver-side artifact
here (collected gate results, meta one-rowers, centroid/codebook seed
tables, lookup key frames) is a handful of rows, so they all go through
ONE partition instead: one task, one Python worker, identical row
values -- the pickle/verify conversion path is byte-for-byte the same
as the stock ``createDataFrame``; only the slice count changes.

This is the guide's "the driver should do almost no data work" rule
applied to the return leg: a driver-local result must not fan out into
a cluster-wide empty-task storm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _arrow_safe(dt) -> bool:
    """Types whose python -> arrow -> spark conversion is value-exact
    and semantics-free: numerics, strings, booleans, binary, dates, and
    arrays/structs thereof. Timestamps (session-timezone application
    differs between the arrow and pickle ingestion paths), decimals and
    maps stay on the pickle path."""
    from pyspark.sql import types as T
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                       T.LongType, T.FloatType, T.DoubleType,
                       T.StringType, T.BooleanType, T.BinaryType,
                       T.DateType, T.NullType)):
        return True
    if isinstance(dt, T.ArrayType):
        return _arrow_safe(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_arrow_safe(f.dataType) for f in dt.fields)
    return False


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` without distributed
    fan-out OR Python-worker evaluation.

    For arrow-safe schemas the rows are converted driver-side to ONE
    arrow batch (``pa.Table.from_pylist`` under ``to_arrow_schema`` --
    the exact inverse of the ``from_arrow_schema`` the artifact readers
    apply) and handed to ``spark.createDataFrame(pa.Table)``, which
    plans as a **LocalTableScan**: evaluation is pure JVM -- no
    PythonRDD, no Python worker round-trip per action. Measured warm at
    sf0.1: 164 -> 39 ms per noop evaluation of a tiny frame, and these
    frames are evaluated dozens of times per bench (gate results, probe
    tables, meta one-rowers feeding broadcasts). Value parity is pinned
    by test_rowframe (both paths collected and compared across the type
    battery).

    Schemas outside the safe set (timestamps, decimals, maps) -- and
    any conversion surprise -- fall back to the prior pickle path
    pinned to ONE partition: identical row values, one task, one Python
    worker.

    ``rows``: a list of tuples/Rows (NOT a pandas frame -- those take
    the Arrow fast path already). ``schema``: DDL string or StructType,
    required (these frames carry exact driver-computed values; inference
    has no place here)."""
    rows = list(rows)
    if not rows:
        # createDataFrame on an empty RDD needs the schema anyway; the
        # plain list form builds the empty relation without a job.
        return spark.createDataFrame([], schema)
    from pyspark.sql.types import StructType
    st = schema
    if isinstance(st, str):
        try:
            st = StructType.fromDDL(st)
        except Exception:
            st = None
    if not isinstance(st, StructType):
        st = None  # e.g. a bare column-name list: stock pickle path
    if st is not None and all(_arrow_safe(f.dataType) for f in st.fields):
        try:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema
            names = [f.name for f in st.fields]
            pylist = [r if isinstance(r, dict)
                      else dict(zip(names, r)) for r in rows]
            return spark.createDataFrame(
                pa.Table.from_pylist(pylist,
                                     schema=to_arrow_schema(st)))
        except Exception:
            pass  # fall through to the pickle path
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=1), schema)


def localize_if_small(df: DataFrame, budget_rows: int = 4096):
    """Collect a PROBABLY-tiny frame and rebuild it as a one-batch
    local frame: returns ``(local_frame, rows)`` when the frame holds
    at most ``budget_rows`` rows, else ``(None, None)`` -- the caller
    keeps its scale-safe distributed plan (localCheckpoint + join).

    Why: the stored-serve probe frames (qprobe: n_queries x n_probe
    rows) feed TWO consumers (a cell-list collect and the candidate
    join). The distributed form pays a localCheckpoint materialization
    job PLUS a distinct+collect job per serve; for the bounded serving
    case ONE limit-collect replaces both. The rebuilt frame is a
    local_df: on its arrow path (arrow-safe schemas, which the probe
    frames are) it plans as a LocalTableScan whose broadcast collects
    driver-locally; on the pickle fallback it is a one-partition RDD
    frame whose broadcast still schedules one small job. The limit
    probe bounds driver memory: an over-budget frame costs one wasted
    CollectLimit (which stops early) and falls back unchanged."""
    rows = df.limit(budget_rows + 1).collect()
    if len(rows) > budget_rows:
        return None, None
    return (local_df(df.sparkSession, [tuple(r) for r in rows],
                     df.schema), rows)


def read_artifact_rows(path: str):
    """Driver-local read of a TINY parquet artifact directory (store
    ``meta`` one-rowers, centroid probe tables, corpus stats -- all
    bounded by construction: <= n_cells / n_buckets rows). Returns
    ``(rows, spark_schema)`` where rows are plain-Python dicts in file
    order.

    Why not ``spark.read.parquet``: for a bounded driver-side artifact
    that is about to be ``collect()``ed (or rebuilt as a broadcast
    frame), a full Spark read costs a file-listing, a schema-inference
    footer read, AQE planning and a scheduled job -- ~0.2-0.5 s of
    driver fixed cost PER artifact, repeated on every serve/append
    call of every stored index. pyarrow reads the same bytes in
    single-digit ms with no job. Value parity: parquet is the wire
    format either way, and the Spark schema is derived from the SAME
    arrow schema the file declares (from_arrow_schema), so types match
    what spark.read.parquet would produce."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    tbl = pa.concat_tables([pq.read_table(f) for f in files])
    return tbl.to_pylist(), from_arrow_schema(tbl.schema)


def table_schema(path: str, part_cols: dict | None = None):
    """Spark StructType of a parquet table from ONE footer, driver-
    locally, with hive partition columns appended as the declared
    types -- passed to ``spark.read.schema(...)`` so reader
    construction skips the schema-inference job Spark otherwise
    schedules per read (partitioned engine layouts keep ONE schema by
    the publish contract, so any footer is representative; measured
    0.18 -> 0.04 s per reader at 256 partition dirs). ``part_cols``:
    {name: pyspark DataType} in partition order. Returns None when the
    table has no parquet files yet or the footer carries a type the
    arrow<->spark mapping cannot express -- callers fall back to the
    inference read."""
    import os

    try:
        import pyarrow.parquet as papq
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import StructField, StructType
        first = None
        for r, dirs, files in os.walk(path):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    first = os.path.join(r, fn)
                    break
            if first:
                break
        if first is None:
            return None
        fields = list(from_arrow_schema(papq.read_schema(first)).fields)
        for name, typ in (part_cols or {}).items():
            fields.append(StructField(name, typ))
        return StructType(fields)
    except Exception:
        return None


def write_artifact_rows(path: str, rows, schema, *,
                        mode: str = "errorifexists") -> None:
    """Driver-local WRITE of a TINY parquet artifact directory -- the
    symmetric twin of read_artifact_rows for the store artifacts that
    are bounded driver-side values by construction (index ``meta``
    one-rowers, centroid probe tables, corpus stats; <= n_cells /
    n_buckets rows). A Spark ``df.write.parquet`` of such a frame costs
    a local_df build, a scheduled job and the commit protocol
    (~0.2-0.5 s of fixed cost PER artifact, repeated on every store/
    compact); pyarrow writes the same bytes in single-digit ms with no
    job. Read parity: the arrow schema is derived from the SPARK schema
    (to_arrow_schema -- the exact inverse of the from_arrow_schema the
    readers apply), so both read_artifact_rows and spark.read.parquet
    see the same types the Spark writer would have produced. Artifact
    types are simple by contract (numeric/string/arrays); anything
    needing Spark writer semantics (timestamps, decimals) stays on the
    Spark path.

    ``rows``: list of tuples in field order (or dicts by field name).
    ``schema``: StructType or DDL string (DDL needs an active session,
    which every caller has). ``mode``: errorifexists | overwrite,
    mirroring the DataFrameWriter contract."""
    import os
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if os.path.exists(path):
        if mode == "overwrite":
            shutil.rmtree(path)
        elif mode == "errorifexists":
            raise FileExistsError(
                f"artifact path {path!r} already exists "
                "(mode=errorifexists)")
        else:
            raise ValueError(f"unsupported mode {mode!r}")
    names = [f.name for f in schema.fields]
    pylist = [r if isinstance(r, dict) else dict(zip(names, r))
              for r in rows]
    tbl = pa.Table.from_pylist(pylist, schema=to_arrow_schema(schema))
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        tbl, os.path.join(path,
                          f"part-00000-{uuid.uuid4().hex[:8]}.parquet"),
        compression="snappy")


def artifact_df(spark: SparkSession, path: str) -> DataFrame:
    """A TINY stored artifact as a one-partition DataFrame: the
    driver-local pyarrow read above + local_df. Drop-in for
    ``spark.read.parquet(path)`` on bounded artifact dirs whose frames
    feed broadcasts/collects -- same rows, same schema, no scan job."""
    rows, schema = read_artifact_rows(path)
    return local_df(
        spark, [tuple(r[f.name] for f in schema.fields) for r in rows],
        schema)
