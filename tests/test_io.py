"""Source/sink round-trip tests (SURVEY.md 2.1): parquet (plain +
hive-partitioned with partition pruning), CSV, JSON, pandas
interchange; Iceberg/JDBC surfaces raise cleanly without their runtimes."""

from __future__ import annotations

import contextlib
import io as _io

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bodo_spark.sources import io as bio
from bodo_spark.queries._util import tbl

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def orders(spark):
    return tbl(spark, SF_DIR, "orders")


def test_parquet_roundtrip(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pq") / "orders")
    bio.to_parquet(orders, path)
    back = bio.read_parquet(path, spark=spark)
    assert back.count() == orders.count()
    assert set(back.columns) == set(orders.columns)


def test_parquet_partitioned_write_prunes(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqp") / "orders_part")
    bio.to_parquet(orders, path, partition_cols=["o_orderstatus"])
    back = bio.read_parquet(path, spark=spark).where(
        F.col("o_orderstatus") == "F")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1][:200], \
        "partition filter did not reach the scan"
    exp = orders.where(F.col("o_orderstatus") == "F").count()
    assert back.count() == exp


def test_parquet_column_selection(spark, tmp_path_factory, orders):
    path = str(tmp_path_factory.mktemp("pqc") / "o")
    bio.to_parquet(orders, path)
    two = bio.read_parquet(path, columns=["o_orderkey", "o_totalprice"],
                           spark=spark)
    assert two.columns == ["o_orderkey", "o_totalprice"]


def test_csv_roundtrip(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "orders_csv")
    sub = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    bio.to_csv(sub, path)
    back = bio.read_csv(path, spark=spark)
    assert back.count() == sub.count()
    assert set(back.columns) == set(sub.columns)
    got = back.agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    exp = sub.agg(F.sum("o_totalprice").alias("s")).collect()[0]["s"]
    assert abs(got - exp) < 1e-6


def test_json_roundtrip(spark, orders, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("js") / "orders_json")
    sub = orders.select("o_orderkey", "o_orderpriority").limit(100)
    bio.to_json(sub, path)
    back = bio.read_json(path, spark=spark)
    assert back.count() == 100
    assert set(back.columns) == {"o_orderkey", "o_orderpriority"}


_NASTY = ["plain", "comma,inside", 'quote"inside', "both\",and,comma",
          "new\nline", "tab\tinside", "ünïcode ★", "", " leading space",
          "trailing space ", "'single'", "\\backslash\\", None]


def test_csv_roundtrip_adversarial_strings(spark, tmp_path_factory):
    """CSV quoting/escaping must survive commas, quotes, newlines,
    tabs, unicode bit-for-bit (multiLine on the read side for embedded
    newlines; Spark writes RFC-4180-quoted fields). KNOWN LOSS, same
    as pandas.to_csv/read_csv: empty string and NULL both serialize to
    an empty field and read back as NULL -- asserted below, not
    papered over."""
    import pandas as pd
    rows = pd.DataFrame({"id": range(len(_NASTY)), "s": _NASTY})
    df = spark.createDataFrame(rows, "id bigint, s string")
    path = str(tmp_path_factory.mktemp("csvadv") / "adv")
    bio.to_csv(df, path)
    back = bio.read_csv(path, schema="id bigint, s string",
                        infer_schema=False, spark=spark, multiLine=True)
    got = {r["id"]: r["s"] for r in back.collect()}
    exp = {i: s for i, s in enumerate(_NASTY)}
    # the documented ""/NULL conflation: both come back as NULL
    exp[_NASTY.index("")] = None
    exp[len(_NASTY) - 1] = None
    assert got == exp


def test_json_roundtrip_adversarial_strings(spark, tmp_path_factory):
    """JSON-lines escapes everything (quotes, newlines, unicode) and
    keeps NULL vs empty distinct -- the lossless text format."""
    import pandas as pd
    rows = pd.DataFrame({"id": range(len(_NASTY)), "s": _NASTY})
    df = spark.createDataFrame(rows, "id bigint, s string")
    path = str(tmp_path_factory.mktemp("jsadv") / "adv")
    bio.to_json(df, path)
    back = bio.read_json(path, schema="id bigint, s string", spark=spark)
    got = {r["id"]: r["s"] for r in back.collect()}
    exp = {i: s for i, s in enumerate(_NASTY)}
    assert got == exp


def test_from_pandas_arrow(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    df = bio.from_pandas(pdf, spark=spark)
    assert df.count() == 3
    assert df.orderBy("a").collect()[0]["b"] == "x"


def test_iceberg_raises_cleanly(spark):
    with pytest.raises(NotImplementedError, match="[Ii]ceberg"):
        bio.read_iceberg("nosuch.catalog.table", spark=spark)


def test_read_iceberg_table_routing(spark):
    """read_iceberg_table (reference base.py:364) routes a pyiceberg
    Table handle by its dotted identifier; duck-typed since pyiceberg
    is absent here."""
    class FakeTable:
        _identifier = ("cat", "db", "tbl")

    with pytest.raises(NotImplementedError, match="[Ii]ceberg"):
        bio.read_iceberg_table(FakeTable(), spark=spark)
    with pytest.raises(TypeError, match="pyiceberg"):
        bio.read_iceberg_table(object(), spark=spark)


def test_jdbc_surface_exists():
    assert callable(bio.read_sql) and callable(bio.to_sql)


def _derby_url(tmp_path_factory) -> str:
    # Embedded Derby ships in Spark's own jars (it backs the Hive
    # metastore), so a real in-process JDBC database needs no extra jar.
    db = tmp_path_factory.mktemp("derby") / "testdb"
    return f"jdbc:derby:{db};create=true"


def test_jdbc_write_read_roundtrip(spark, orders, tmp_path_factory):
    url = _derby_url(tmp_path_factory)
    sub = orders.select("o_orderkey", "o_custkey", "o_totalprice").limit(200)
    bio.to_sql(sub, "orders_t", url, mode="overwrite")
    back = bio.read_sql("orders_t", url, spark=spark)
    assert back.count() == 200
    assert {c.lower() for c in back.columns} == \
        {"o_orderkey", "o_custkey", "o_totalprice"}
    # query form (pushed subquery)
    q = bio.read_sql(
        'SELECT "o_custkey", COUNT(*) AS n FROM orders_t GROUP BY "o_custkey"',
        url, spark=spark)
    assert q.count() > 0


def test_jdbc_partitioned_read_parallelizes(spark, orders, tmp_path_factory):
    url = _derby_url(tmp_path_factory)
    sub = orders.select("o_orderkey", "o_totalprice").limit(500)
    bio.to_sql(sub, "orders_p", url, mode="overwrite")
    # bounds from the frame we just wrote (avoids dialect quoting games)
    bounds = sub.agg(F.min("o_orderkey"), F.max("o_orderkey")).collect()[0]
    df = bio.read_sql("orders_p", url, spark=spark,
                      partition_column="o_orderkey",
                      lower_bound=bounds[0], upper_bound=bounds[1] + 1,
                      num_partitions=4)
    assert df.rdd.getNumPartitions() == 4, \
        "partitioned JDBC read must produce numPartitions tasks"
    assert df.count() == 500


def test_bucketed_tables_join_without_shuffle(spark):
    """Two tables bucketed on the join key with equal bucket counts must
    join with NO shuffle exchange on either side -- the co-location
    contract that makes repeated big-big joins affordable at scale."""
    from bodo_spark.sources.io import to_table_bucketed
    from bodo_spark.queries._util import tbl
    from pyspark.sql import functions as F

    orders = tbl(spark, SF_DIR, "orders")
    cust = tbl(spark, SF_DIR, "customer")
    to_table_bucketed(orders, "t_orders_b", 4, ["o_custkey"])
    to_table_bucketed(cust, "t_cust_b", 4, ["c_custkey"])
    try:
        # force a non-broadcast join so the shuffle question is real
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (spark.table("t_orders_b")
             .join(spark.table("t_cust_b"),
                   F.col("o_custkey") == F.col("c_custkey"))
             .groupBy("c_mktsegment").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
        import re
        n_shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
        # one exchange allowed for the final groupBy; the JOIN itself
        # must not shuffle either bucketed side
        assert n_shuffles <= 1, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_salted_join_equals_plain_join(spark):
    """salted_join must return exactly the rows (and column order) of the
    plain equi-join while spreading each key over salt_n sub-keys."""
    from bodo_spark.operators.skew import salted_join
    from bodo_spark.queries._util import tbl
    orders = tbl(spark, SF_DIR, "orders")
    cust = tbl(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey")
    plain = orders.join(cust, "o_custkey")
    salted = salted_join(orders, cust, "o_custkey", salt_n=4)
    assert salted.columns == plain.columns
    assert salted.count() == plain.count()
    a = {tuple(r) for r in plain.collect()}
    b = {tuple(r) for r in salted.collect()}
    assert a == b
    # left join keeps unmatched left rows exactly once
    lonly = salted_join(orders, cust.where("o_custkey < 0"),
                        "o_custkey", salt_n=4, how="left")
    assert lonly.count() == orders.count()


def test_read_parquet_filters_pushdown(spark):
    """pandas-style filters triples land as PushedFilters in the scan."""
    from bodo_spark.sources.io import read_parquet
    df = read_parquet(f"{SF_DIR}/orders.parquet",
                      columns=["o_orderkey", "o_totalprice"],
                      filters=[("o_totalprice", ">", 100000.0),
                               ("o_orderstatus", "in", ["F", "O"])],
                      spark=spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice" in plan
    import pandas as pd
    exp = pd.read_parquet(f"{SF_DIR}/orders.parquet")
    exp = exp[(exp.o_totalprice > 100000.0)
              & exp.o_orderstatus.isin(["F", "O"])]
    assert df.count() == len(exp)


def test_salted_join_rejects_right_full(spark):
    import pytest
    from bodo_spark.operators.skew import salted_join
    from bodo_spark.queries._util import tbl
    orders = tbl(spark, SF_DIR, "orders")
    cust = tbl(spark, SF_DIR, "customer").withColumnRenamed(
        "c_custkey", "o_custkey")
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(orders, cust, "o_custkey", how=how)


def test_jdbc_filter_pushdown(spark, orders, tmp_path_factory):
    """Filters on a JDBC scan are pushed into the remote query
    (PushedFilters in the scan node), not evaluated Spark-side."""
    from pyspark.sql import functions as F
    url = _derby_url(tmp_path_factory)
    sub = orders.select("o_orderkey", "o_totalprice").limit(300)
    bio.to_sql(sub, "orders_f", url, mode="overwrite")
    df = (bio.read_sql("orders_f", url, spark=spark)
          .where(F.col("o_totalprice") > 100000.0))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_totalprice" in plan.split(
        "PushedFilters")[1][:200], plan
    exp = sub.where(F.col("o_totalprice") > 100000.0).count()
    assert df.count() == exp


def test_compact_parquet_reduces_files(spark, tmp_path):
    """compact_parquet rewrites a trickle-append directory into the
    target file count via staged write + swap; data identical."""
    import glob as _glob

    from bodo_spark.sources.io import compact_parquet

    path = str(tmp_path / "trickle")
    for i in range(8):
        (spark.range(i * 100, (i + 1) * 100)
         .write.mode("append").parquet(path))
    before = len(_glob.glob(f"{path}/*.parquet"))
    total_before = spark.read.parquet(path).count()
    n = compact_parquet(spark, path, target_file_bytes=1 << 30)
    after = len(_glob.glob(f"{path}/*.parquet"))
    assert n == 1 and after == 1 and before >= 8
    assert spark.read.parquet(path).count() == total_before
    assert not _glob.glob(f"{path}.__*")


def test_read_sql_table_routes(spark):
    """read_sql_table: iceberg:// goes to the Iceberg reader (clean
    error offline), JDBC URL goes to the JDBC reader."""
    import pytest as _pytest

    from bodo_spark.sources.io import read_sql_table

    with _pytest.raises(Exception):
        read_sql_table("t", "iceberg:///tmp/wh", schema="s", spark=spark)


def test_orc_roundtrip_and_pushdown(spark, orders, tmp_path_factory):
    """ORC round-trip preserves values; filters reach the ORC scan
    (PushedFilters) and hive partition pruning works on read-back."""
    path = str(tmp_path_factory.mktemp("orc") / "orders_orc")
    bio.to_orc(orders, path, partition_by=["o_orderstatus"])
    back = bio.read_orc(path, spark=spark)
    assert back.count() == orders.count()
    got = back.where(F.col("o_orderkey") < 100)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_orderkey" in \
        plan.split("PushedFilters")[1][:200]
    part = back.where(F.col("o_orderstatus") == "F")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        part.explain("formatted")
    plan = buf.getvalue()
    assert "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    a = {tuple(r) for r in
         orders.select("o_orderkey", "o_totalprice").collect()}
    b = {tuple(r) for r in
         back.select("o_orderkey", "o_totalprice").collect()}
    assert a == b
