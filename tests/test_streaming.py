"""Structured Streaming tests: stream the events table as a file source
and check windowed results equal the equivalent batch aggregation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bodo_spark.streaming import (
    read_stream_parquet,
    run_available_now,
    sessionize_stateful,
    tumbling_agg,
)

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def events_batch(spark, tmp_path_factory):
    """Events with a proper timestamp column, rewritten to a temp dir so
    the stream source reads normal us timestamps."""
    from bodo_spark.queries._util import tbl
    out = str(tmp_path_factory.mktemp("events_stream"))
    tbl(spark, SF_DIR, "events").write.mode("overwrite").parquet(out)
    return out


def test_tumbling_counts_match_batch(spark, events_batch):
    batch = spark.read.parquet(events_batch)
    stream = read_stream_parquet(spark, events_batch, batch.schema)
    got = run_available_now(
        tumbling_agg(stream, "ts", "6 hours", ["event_type"]),
        "t_tumble").toPandas()
    exp = (batch.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
           .select(F.col("win.start").alias("win_start"),
                   F.col("win.end").alias("win_end"),
                   "event_type", "n", "sum_value")
           .toPandas())
    key = ["win_start", "event_type"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = exp.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(exp_s)
    assert (got_s["n"].to_numpy() == exp_s["n"].to_numpy()).all()


def test_session_windows_stateful(spark, events_batch):
    batch = spark.read.parquet(events_batch)
    stream = read_stream_parquet(spark, events_batch, batch.schema)
    got = run_available_now(
        sessionize_stateful(stream, "ts", "user_id", gap="30 minutes"),
        "t_sess").toPandas()
    # session count per user must match the batch gaps-and-islands count
    from pyspark.sql import Window as W
    w = W.partitionBy("user_id").orderBy("ts")
    gap_flag = F.when(
        F.lag("ts").over(w).isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
           > 1800), 1).otherwise(0)
    exp = (batch.withColumn("new_sess", gap_flag)
           .groupBy("user_id").agg(F.sum("new_sess").alias("n_sessions"))
           .toPandas())
    got_counts = got.groupby("user_id").size()
    exp_counts = exp.set_index("user_id")["n_sessions"]
    for uid, n in exp_counts.items():
        assert got_counts.get(uid, 0) == n, f"user {uid}"


def test_running_totals_stateful_matches_batch(spark, events_batch):
    """applyInPandasWithState accumulator: final per-user (n, total)
    after AvailableNow equals the batch groupBy."""
    from bodo_spark.streaming import (read_stream_parquet,
                                      running_totals_stateful)
    batch = spark.read.parquet(events_batch)
    stream = read_stream_parquet(spark, events_batch, batch.schema)
    q = (running_totals_stateful(stream, "user_id", "value")
         .writeStream.format("memory").queryName("t_state")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination()
    # update mode emits one row per key per micro-batch; the LAST emit
    # per key carries the final state
    got = (spark.table("t_state").toPandas()
           .groupby("user_id").last().reset_index())
    exp = (batch.groupBy("user_id")
           .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
           .toPandas())
    g = got.sort_values("user_id").reset_index(drop=True)
    e = exp.sort_values("user_id").reset_index(drop=True)
    assert (g["n"].to_numpy() == e["n"].to_numpy()).all()
    assert abs(g["total"].to_numpy() - e["total"].to_numpy()).max() < 1e-6


def test_dedup_stream_drops_in_watermark_dupes(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark removes same-key rows within the
    horizon; batch-side count equals distinct keys for this data."""
    import pandas as pd
    from bodo_spark.streaming import dedup_stream, read_stream_parquet, \
        run_available_now
    src = str(tmp_path_factory.mktemp("dd_stream"))
    pdf = pd.DataFrame({
        "k": [1, 1, 2, 2, 3],
        "ts": pd.to_datetime(["2024-01-01 00:00:00"] * 5),
    })
    sdf = spark.createDataFrame(pdf)
    sdf.write.mode("overwrite").parquet(src)
    stream = read_stream_parquet(spark, src, sdf.schema)
    dd = dedup_stream(stream, ["k"], "ts", watermark="1 hour")
    q = (dd.writeStream.format("memory").queryName("t_dd")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    assert spark.table("t_dd").select("k").distinct().count() == 3
    assert spark.table("t_dd").count() == 3


def test_stream_csv_json_sources(spark, tmp_path_factory):
    import pandas as pd
    from bodo_spark.streaming import (read_stream_csv, read_stream_json,
                                      run_available_now, tumbling_agg)
    pdf = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 00:05:00", "2024-01-01 02:05:00",
                              "2024-01-01 02:10:00"]),
        "event_type": ["a", "a", "b"], "value": [1.0, 2.0, 3.0]})
    sdf = spark.createDataFrame(pdf)
    for fmt, reader in (("csv", read_stream_csv), ("json", read_stream_json)):
        d = str(tmp_path_factory.mktemp(f"stream_{fmt}"))
        w = sdf.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        getattr(w, fmt)(d)
        stream = reader(spark, d, sdf.schema)
        got = run_available_now(
            tumbling_agg(stream, "ts", "1 hour", ["event_type"]),
            f"t_{fmt}_src").toPandas()
        assert got["n"].sum() == 3, fmt
        assert len(got) == 3, fmt  # (00h a), (02h a), (02h b)


def test_window_aggs_generic_over_schema(spark):
    """sliding_agg/tumbling_agg stay usable on streams WITHOUT a 'value'
    column (round-6 review fix): sum_value appears only when the column
    exists or an explicit value_col is given."""
    import pandas as pd

    from bodo_spark.streaming.windows import sliding_agg, tumbling_agg

    df = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 00:05", "2024-01-01 00:20"]),
        "k": ["a", "b"], "amount": [1.0, 2.0]}))
    # no 'value' column: helpers analyze fine, no sum_value column
    out = sliding_agg(df, "ts", "1 hour", "30 minutes", ["k"])
    assert "sum_value" not in out.columns and "n" in out.columns
    out2 = tumbling_agg(df, "ts", "1 hour", ["k"], value_col="amount")
    assert "sum_amount" in out2.columns
    rows = {(r["k"], r["sum_amount"]) for r in out2.collect()}
    assert rows == {("a", 1.0), ("b", 2.0)}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path_factory):
    """Watermarked stream-stream interval join == the same join run as
    a plain batch query (AvailableNow drains everything, so no rows are
    late; state was still bounded by the watermark+interval pair)."""
    import pandas as pd

    from bodo_spark.streaming import (read_stream_parquet,
                                      run_available_now,
                                      stream_stream_interval_join)

    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame({
        "k": [1, 1, 2, 3],
        "ts": [base, base + pd.Timedelta(hours=2),
               base + pd.Timedelta(hours=1), base]})
    right = pd.DataFrame({
        "k_r": [1, 1, 2, 9],
        "ts_r": [base + pd.Timedelta(hours=1),
                 base + pd.Timedelta(hours=9),
                 base + pd.Timedelta(hours=1, minutes=30), base],
        "amt": [10.0, 20.0, 30.0, 40.0]})
    ldir = str(tmp_path_factory.mktemp("ssj_l"))
    rdir = str(tmp_path_factory.mktemp("ssj_r"))
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    ldf.coalesce(1).write.mode("overwrite").parquet(ldir)
    rdf.coalesce(1).write.mode("overwrite").parquet(rdir)

    js = stream_stream_interval_join(
        read_stream_parquet(spark, ldir, ldf.schema),
        read_stream_parquet(spark, rdir, rdf.schema),
        key="k", left_ts="ts", right_ts="ts_r",
        upper="INTERVAL 6 HOURS", watermark="1 hour")
    got = run_available_now(js, "t_ssj_test", output_mode="append")
    rows = {(r["k"], r["amt"]) for r in got.collect()}
    # k=1@0h matches amt 10 (1h later); k=1@2h matches nothing within
    # [2h, 8h] except... amt 20 at 9h is outside; k=2@1h matches amt 30;
    # k=3 and k_r=9 match nothing
    assert rows == {(1, 10.0), (2, 30.0)}


def test_minhash_signature_cols_matches_aggregate_builder(spark):
    """Per-row signature projection == aggregate builder, both modes.
    Regression pin: a two-parameter lambda in F.transform is the
    (element, index) form -- binding the permutation via a default arg
    let the array index silently override it (every lane identical to
    lane-by-position), which zeroed the streaming dedup's band
    collisions."""
    import os

    from bodo_spark.operators import dedup as D
    from bodo_spark.queries._util import tbl

    d = tbl(spark, SF_DIR, "documents").limit(40)
    for mode in ("1", "0"):
        prev = os.environ.get("BODO_SPARK_EXACT")
        os.environ["BODO_SPARK_EXACT"] = mode
        try:
            a = D.minhash_signatures(d).orderBy("id").toPandas()
            b = D.minhash_signature_cols(d).orderBy("id").toPandas()
        finally:
            if prev is None:
                os.environ.pop("BODO_SPARK_EXACT", None)
            else:
                os.environ["BODO_SPARK_EXACT"] = prev
        assert all((a[f"m{i}"] == b[f"m{i}"]).all() for i in range(16))
        assert (a["sh"].apply(sorted) == b["sh"].apply(sorted)).all()
        # lanes must differ from each other (the regression collapsed them)
        assert (a["m0"] != a["m1"]).any()


def test_stream_minhash_flags_matches_batch_between(spark, tmp_path_factory):
    """Streaming incremental dedup emits exactly the batch
    minhash_lsh_pairs_between pairs over the same inputs, across
    multiple micro-batches."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import dedup as D
    from bodo_spark.queries._util import tbl
    from bodo_spark.streaming import (read_stream_parquet,
                                      run_available_now,
                                      stream_minhash_flags)

    d = tbl(spark, SF_DIR, "documents")
    corpus_sig = D.minhash_signatures(d).persist()
    new = (d.where(F.col("doc_id") < 8)
           .withColumn("doc_id", F.col("doc_id") + F.lit(50000))
           .select("doc_id", "text"))
    batch_pairs = {(r.new_id, r.corpus_id) for r in
                   D.minhash_lsh_pairs_between(new, corpus_sig).collect()}
    stage = str(tmp_path_factory.mktemp("sid"))
    new.repartition(3).write.mode("overwrite").parquet(stage)
    stream = read_stream_parquet(spark, stage, new.schema,
                                 max_files_per_trigger=1)
    got = run_available_now(
        stream_minhash_flags(stream, corpus_sig),
        "t_sid_test", output_mode="append")
    stream_pairs = {(r.new_id, r.corpus_id) for r in got.collect()}
    assert stream_pairs == batch_pairs and batch_pairs
    corpus_sig.unpersist()


def test_stream_bloom_new_rows_matches_batch(spark, tmp_path_factory):
    """The streaming Bloom ingest admits exactly the batch
    exact_new_rows set (== plain anti join) across micro-batches,
    including under a saturated filter (m=64: every probe collides,
    the confirm join must clear every false positive)."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import bloom as B
    from bodo_spark.queries._util import tbl
    from bodo_spark.streaming import (read_stream_parquet,
                                      run_available_now,
                                      stream_bloom_new_rows)

    d = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = d.where(F.col("doc_id") % 3 != 0)
    batch = (d.where(F.col("doc_id") % 3 == 0)
             .unionByName(corpus.where(F.col("doc_id") % 5 == 1)
                          .withColumn("doc_id",
                                      F.col("doc_id") + F.lit(70000)))
             .withColumn("_key", F.md5("text")))
    keys = corpus.select(F.md5("text").alias("_key")).persist()
    for m_bits, k in [(1 << 14, 5), (64, 2)]:
        words = B.bloom_word_table(corpus, F.md5("text"),
                                   m_bits=m_bits, k=k).persist()
        expect = {r.doc_id for r in B.exact_new_rows(
            batch, corpus, F.col("_key"), F.md5("text"),
            words=words, m_bits=m_bits, k=k).collect()}
        stage = str(tmp_path_factory.mktemp(f"sbloom{m_bits}"))
        batch.repartition(3).write.mode("overwrite").parquet(stage)
        stream = read_stream_parquet(spark, stage, batch.schema,
                                     max_files_per_trigger=1)
        got = run_available_now(
            stream_bloom_new_rows(stream, words, keys, key_col="_key",
                                  m_bits=m_bits, k=k),
            f"t_sbloom_test_{m_bits}", output_mode="append")
        assert {r.doc_id for r in got.collect()} == expect and expect
        words.unpersist()
    keys.unpersist()


def test_stream_semantic_new_rows_matches_batch(spark, tmp_path_factory):
    """Streaming incremental SemDeDup admits exactly the batch
    kernel's rows (shared-kernel twin), drops planted exact replays,
    and keeps zero-norm vectors (cosine-0 guard)."""
    import numpy as np

    from bodo_spark.operators import similarity as S
    from bodo_spark.streaming import (read_stream_parquet,
                                      run_available_now,
                                      stream_semantic_new_rows)

    rng = np.random.default_rng(5)
    corpus_rows = [(i, [float(x) for x in rng.normal(size=32)])
                   for i in range(40)]
    corpus = spark.createDataFrame(
        corpus_rows, "vec_id long, embedding array<float>")
    batch_rows = (
        [(100, corpus_rows[7][1]),          # exact replay -> dropped
         (101, [0.0] * 32)] +               # zero norm -> kept
        [(110 + i, [float(x) for x in rng.normal(size=32)])
         for i in range(5)])
    batch = spark.createDataFrame(
        batch_rows, "vec_id long, embedding array<float>")
    cents = [r[1][:16] for r in corpus_rows[:4]]

    idx = S.semantic_cell_index(corpus, cents)
    b_kept = sorted(r.vec_id for r in
                    S.semantic_dedup_between(batch, idx, cents,
                                             eps=0.9).collect())
    assert 100 not in b_kept and 101 in b_kept

    stage = tmp_path_factory.mktemp("ssem")
    idx.write.mode("overwrite").parquet(str(stage / "idx"))
    batch.repartition(2).write.mode("overwrite").parquet(
        str(stage / "batch"))
    stream = read_stream_parquet(spark, str(stage / "batch"),
                                 batch.schema, max_files_per_trigger=1)
    kept = stream_semantic_new_rows(
        stream, spark.read.parquet(str(stage / "idx")), cents, eps=0.9)
    res = run_available_now(kept, "t_ssem_unit", output_mode="append")
    s_kept = sorted(r.vec_id for r in res.select("vec_id").collect())
    assert s_kept == b_kept


def test_stream_ann_topk_matches_batch_both_lut_modes(spark, tmp_path_factory):
    """Streaming IVF-PQ search equals the batch search row-for-row, under
    BOTH LUT modes (exact literal-tree expressions and the gemm
    pandas_udf twin)."""
    from pyspark.sql import functions as F

    from bodo_spark.operators import pq as P
    from bodo_spark.queries._util import tbl
    from bodo_spark.streaming import (read_stream_parquet,
                                      run_available_now,
                                      stream_ivf_pq_topk)
    from .conftest import SF_DIR

    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    idx = P.ivf_pq_index(emb, cbs, n_cells=4)
    cents = [(r["vec_id"], list(r["embedding"])[:16])
             for r in emb.select("vec_id", "embedding")
             .orderBy("vec_id").limit(4).collect()]
    q = (emb.where(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_vec")))
    batch = sorted(map(tuple, P.ivf_pq_topk(
        idx, q, emb, cbs, k=5, n_probe=2, n_cells=4).collect()))
    stage = str(tmp_path_factory.mktemp("sann"))
    idx.write.mode("overwrite").parquet(f"{stage}/idx")
    q.repartition(2).write.mode("overwrite").parquet(f"{stage}/q")
    idx2 = spark.read.parquet(f"{stage}/idx")
    for mode in ("expr", "blas"):
        stream = read_stream_parquet(spark, f"{stage}/q", q.schema,
                                     max_files_per_trigger=1)
        out = run_available_now(
            stream_ivf_pq_topk(stream, idx2, cbs, cents, k=5, n_probe=2,
                               luts=mode),
            f"t_sann_{mode}", output_mode="update")
        assert sorted(map(tuple, out.collect())) == batch


def test_stream_funnel_out_of_order_across_batches(spark, tmp_path_factory):
    """The cross-batch state design's reason to exist: a 'click'
    arriving in micro-batch 1 and the earlier 'view' only in batch 2
    must still chain (a scalar-chain state could never recover it).
    Final per-user stage equals the batch fold; emissions are
    monotone."""
    import datetime as dt

    from bodo_spark.operators.timebucket import funnel_stages
    from bodo_spark.streaming import (funnel_stream_stateful,
                                      read_stream_parquet,
                                      run_available_now)

    t = dt.datetime(2024, 1, 1)
    rows_b1 = [(2, t.replace(second=2), 1, "click"),
               (4, t.replace(second=4), 1, "purchase"),
               (11, t.replace(second=1), 2, "view")]
    rows_b2 = [(1, t.replace(second=1), 1, "view"),
               (12, t.replace(second=2), 2, "click")]
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string")
    stage = str(tmp_path_factory.mktemp("sfun"))
    spark.createDataFrame(rows_b1, schema).coalesce(1).write \
        .mode("append").parquet(f"{stage}/e")
    spark.createDataFrame(rows_b2, schema).coalesce(1).write \
        .mode("append").parquet(f"{stage}/e")
    src = spark.read.parquet(f"{stage}/e")
    stream = read_stream_parquet(spark, f"{stage}/e", src.schema,
                                 max_files_per_trigger=1)
    st = funnel_stream_stateful(stream, ["view", "click", "purchase"])
    res = run_available_now(st, "t_sfun_unit", output_mode="update")
    from pyspark.sql import functions as F
    final = {r.user_id: r.stage for r in
             res.groupBy("user_id").agg(F.max("stage").alias("stage"))
             .collect()}
    batch = {r.user_id: r.stage for r in
             funnel_stages(src, ["view", "click", "purchase"]).collect()}
    assert final == batch
    assert batch[1] == 3  # view arrived late but re-chained the funnel
    # monotone emissions per user
    emitted = [(r.user_id, r.stage) for r in res.collect()]
    per_user: dict = {}
    for u, s in emitted:
        assert s >= per_user.get(u, 0)
        per_user[u] = s


def test_stream_funnel_big_ids_string_user(spark, tmp_path_factory):
    """Two regressions pinned at once: (a) event ids >= 10^12 must sort
    correctly (Spark lpad TRUNCATES past the pad width -- a 12-char pad
    corrupted them); (b) the output schema derives the user-id type
    from the input, so string user ids stream through."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bodo_spark.operators.timebucket import funnel_stages
    from bodo_spark.streaming import (funnel_stream_stateful,
                                      read_stream_parquet,
                                      run_available_now)

    t = dt.datetime(2024, 1, 1)
    # same timestamp everywhere: ordering rides ONLY on the id pad.
    # view_id < click_id numerically, but their 12-char PREFIXES order
    # the other way ('9999...' > '1000...'), so the old truncating
    # 12-char pad would fold click-before-view and stall at stage 1.
    view_id, click_id = 999_999_999_999_999, 1_000_000_000_000_000
    rows = [(click_id, t, "u1", "click"), (view_id, t, "u1", "view"),
            (view_id + 7, t, "u2", "view")]
    schema = ("event_id long, ts timestamp, user_id string, "
              "event_type string")
    stage = str(tmp_path_factory.mktemp("sfunbig"))
    spark.createDataFrame(rows, schema).coalesce(1).write \
        .mode("append").parquet(f"{stage}/e")
    src = spark.read.parquet(f"{stage}/e")
    stream = read_stream_parquet(spark, f"{stage}/e", src.schema,
                                 max_files_per_trigger=1)
    st = funnel_stream_stateful(stream, ["view", "click", "purchase"])
    res = run_available_now(st, "t_sfun_big", output_mode="update")
    assert res.schema["user_id"].dataType.simpleString() == "string"
    final = {r.user_id: r.stage for r in
             res.groupBy("user_id").agg(F.max("stage").alias("stage"))
             .collect()}
    batch = {r.user_id: r.stage for r in
             funnel_stages(src, ["view", "click", "purchase"],
                           user_col="user_id").collect()}
    assert final == batch
    assert final["u1"] == 2  # view THEN click by true numeric id order


def test_cdc_equal_seq_tiebreak_delete_wins(spark, tmp_path_factory):
    """Two changes with EQUAL seq for one key in one micro-batch must
    pick a deterministic winner (delete-wins), not partition order."""
    from bodo_spark.streaming import apply_cdc_stream, read_stream_parquet

    stage = str(tmp_path_factory.mktemp("cdctie"))
    spark.createDataFrame([(1, "a", 0)],
                          "k long, seg string, _cdc_seq long") \
        .write.parquet(f"{stage}/tbl")
    ch = spark.createDataFrame(
        [(1, "u-wins?", "U", 5), (1, None, "D", 5)],
        "k long, seg string, op string, seq long")
    ch.coalesce(1).write.mode("append").parquet(f"{stage}/ch")
    src = spark.read.parquet(f"{stage}/ch")
    stream = read_stream_parquet(spark, f"{stage}/ch", src.schema)
    apply_cdc_stream(stream, f"{stage}/tbl", key_cols=["k"],
                     query_name="cdc_tie")
    assert spark.read.parquet(f"{stage}/tbl").count() == 0


def test_cow_publish_failed_write_leaves_table(spark, tmp_path):
    """A staging write that fails mid-flight must leave the stored
    table byte-identical and clean up the staging directory."""
    import glob

    import pytest
    from pyspark.sql import functions as F

    from bodo_spark.operators.merge import cow_publish

    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, "a")], "k long, v string").write \
        .parquet(path)
    bad = spark.read.parquet(path).withColumn(
        "boom", F.expr("raise_error('staged failure')"))
    with pytest.raises(Exception):
        cow_publish(bad, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) \
        == [(1, "a")]
    assert not glob.glob(str(tmp_path / "tbl.__*"))


def test_cdc_apply_replay_idempotent(spark, tmp_path_factory):
    """Replaying the ENTIRE change stream against the already-applied
    table (fresh checkpoint forces reprocessing) must be a no-op: the
    stored-seq guard makes every matched clause skip stale versions,
    and deletes stay deleted -- the exactly-once-effect contract
    foreachBatch (at-least-once) needs."""
    from pyspark.sql import functions as F

    from bodo_spark.streaming import apply_cdc_stream, read_stream_parquet

    stage = str(tmp_path_factory.mktemp("cdc"))
    init = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 0), (3, "c", 0)],
        "k long, seg string, _cdc_seq long")
    init.write.parquet(f"{stage}/tbl")
    ch = spark.createDataFrame(
        [(1, "a2", "U", 1), (2, None, "D", 1), (9, "new", "U", 1),
         (1, "a3", "U", 2)],
        "k long, seg string, op string, seq long")
    ch.coalesce(1).write.mode("append").parquet(f"{stage}/ch")

    def run(tag):
        src = spark.read.parquet(f"{stage}/ch")
        stream = read_stream_parquet(spark, f"{stage}/ch", src.schema,
                                     max_files_per_trigger=1)
        # fresh checkpoint each run -> the second run REPLAYS everything
        import shutil
        shutil.rmtree(f"{stage}/tbl__cdc_ckpt", ignore_errors=True)
        apply_cdc_stream(stream, f"{stage}/tbl", key_cols=["k"],
                         query_name=f"cdc_unit_{tag}")
        return sorted(map(tuple,
                          spark.read.parquet(f"{stage}/tbl").collect()))

    first = run("one")
    assert first == [(1, "a3", 2), (3, "c", 0), (9, "new", 1)]
    assert run("two") == first  # full replay is a no-op


def test_cdc_plain_mode_updates_real_mbucket_column(spark,
                                                    tmp_path_factory):
    """In plain (non-bucketed) CDC mode a real table column named
    'mbucket' is ordinary payload: it must update and insert like any
    other column (it is bookkeeping ONLY under n_buckets)."""
    from bodo_spark.streaming import apply_cdc_stream, read_stream_parquet

    stage = str(tmp_path_factory.mktemp("cdcmb"))
    spark.createDataFrame([(1, "a", 7, 0)],
                          "k long, seg string, mbucket int, "
                          "_cdc_seq long") \
        .write.parquet(f"{stage}/tbl")
    ch = spark.createDataFrame(
        [(1, "a2", 8, "U", 1), (2, "new", 9, "U", 1)],
        "k long, seg string, mbucket int, op string, seq long")
    ch.coalesce(1).write.mode("append").parquet(f"{stage}/ch")
    src = spark.read.parquet(f"{stage}/ch")
    stream = read_stream_parquet(spark, f"{stage}/ch", src.schema)
    apply_cdc_stream(stream, f"{stage}/tbl", key_cols=["k"],
                     query_name="cdc_mb")
    got = sorted(map(tuple, spark.read.parquet(f"{stage}/tbl")
                     .select("k", "seg", "mbucket").collect()))
    assert got == [(1, "a2", 8), (2, "new", 9)]
