"""Plan-shape assertions: the scale-posture contract. These fail if a
code change silently loses predicate pushdown, column pruning, broadcast
joins, whole-stage codegen, or the window-group-limit rewrite -- the
properties that make the same plan viable at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bodo_spark.queries._util import tbl
from bodo_spark.queries.tpch import q1_pricing_summary, q5_local_supplier_volume
from bodo_spark.queries.windows import win_qualify_latest_order

from .conftest import SF_DIR


def plan_str(df, mode="formatted") -> str:
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    df = (tbl(spark, SF_DIR, "lineitem")
          .where(F.col("l_shipdate") > "1997-01-01")
          .select("l_orderkey", "l_quantity"))
    p = plan_str(df)
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200], p
    # pruned read schema: only the 3 referenced columns reach the scan
    read_schema = p.split("ReadSchema")[1][:250]
    assert "l_extendedprice" not in read_schema, read_schema


def test_broadcast_join_chosen(spark):
    p = plan_str(q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p


def test_whole_stage_codegen(spark):
    # AQE wraps the plan until execution; disable it just for the check
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan_str(q1_pricing_summary(spark, SF_DIR), "codegen")
        n = int(p.split("Found ")[1].split(" WholeStageCodegen")[0])
        assert n >= 1, p[:500]
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_partial_final_aggregation(spark):
    p = plan_str(q1_pricing_summary(spark, SF_DIR))
    # map-side partial agg before the exchange, final after
    assert p.count("HashAggregate") >= 2, p
    assert "Exchange" in p, p


def test_window_group_limit_rewrite(spark):
    """QUALIFY rn=1 must plan as WindowGroupLimit (Spark 3.5+
    InferWindowGroupLimit), not a full sort of every partition."""
    p = plan_str(win_qualify_latest_order(spark, SF_DIR))
    assert "WindowGroupLimit" in p, p


def test_semi_join_stays_semi(spark):
    c = tbl(spark, SF_DIR, "customer")
    o = tbl(spark, SF_DIR, "orders")
    p = plan_str(c.join(o, c.c_custkey == o.o_custkey, "left_semi"))
    assert "LeftSemi" in p, p


def test_no_static_broadcast_on_sf_scaled_tables():
    """customer/supplier/part grow with scale factor; a static F.broadcast
    hint on them is an executor OOM at SF1000 (customer ~150M rows). Only
    fixed-cardinality dims (nation=25, region=5) and 1-row scalar-aggregate
    frames may carry a static hint; AQE makes the dynamic BHJ choice for
    everything else. Enforced as a source lint because hints on variables
    are invisible in the optimized-plan string once AQE rewrites them."""
    import pathlib
    import re
    qdir = pathlib.Path(__file__).resolve().parent.parent / "bodo_spark"
    bad = []
    for py in qdir.rglob("*.py"):
        src = py.read_text()
        for m in re.finditer(r"F\.broadcast\((\w+)", src):
            var = m.group(1)
            if var in {"cust", "supp", "part", "customer", "supplier",
                       "c", "s", "p", "li", "lineitem", "orders", "o"}:
                line = src[:m.start()].count("\n") + 1
                bad.append(f"{py.name}:{line} F.broadcast({var})")
    assert not bad, f"static broadcast hint on SF-scaled table: {bad}"


def test_limit_becomes_take_ordered(spark):
    df = (tbl(spark, SF_DIR, "orders")
          .orderBy(F.col("o_totalprice").desc()).limit(10))
    p = plan_str(df)
    assert "TakeOrderedAndProject" in p, p


def test_reuse_exchange_on_twice_referenced_aggregate(spark):
    """q15/q11 reference their grouped-aggregate subtree twice (join side
    + scalar-subquery threshold). The scan+partial-agg+shuffle must run
    ONCE: the second reference reuses the exchange (reference caches the
    sub-plan, CacheSubPlanProgram.kt; Spark expresses it as
    ReusedExchange/ReusedQueryStage under AQE)."""
    from bodo_spark.queries import all_queries
    qs = all_queries()
    for name in ("q15_top_supplier", "q11_important_parts"):
        df = qs[name].fn(spark, SF_DIR)
        df.collect()  # AQE finalizes reuse at runtime
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "Reused" in p, f"{name}: no exchange reuse\n{p}"


def test_plan_summary_and_guardrails(spark):
    from bodo_spark.plans import (assert_scaling, summarize,
                                  tune_shuffle_partitions)
    from pyspark.sql import functions as F
    import pytest
    df = (tbl(spark, SF_DIR, "orders")
          .where(F.col("o_totalprice") > 100.0)
          .groupBy("o_orderstatus").count())
    s = summarize(df, executed=False)
    assert s.scans == 1 and s.exchanges >= 1
    assert any("o_totalprice" in f for f in s.pushed_filters)
    assert_scaling(df, max_exchanges=2, require_pushdown=True,
                   forbid_python=True)
    with pytest.raises(AssertionError, match="exchanges"):
        assert_scaling(df, max_exchanges=0)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = tune_shuffle_partitions(spark, 512 * (1 << 30),
                                    target_partition_mb=128)
        assert n == 4096
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_chunker_has_no_exchange(spark):
    """chunk_with_overlap is embarrassingly parallel: split/sequence/
    slice/posexplode only -- ANY exchange in its plan is a regression
    (the operator's 100-TB contract is scan-speed streaming)."""
    from bodo_spark.operators.curation import chunk_with_overlap
    d = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    p = plan_str(chunk_with_overlap(d, chunk=16, stride=8))
    assert "Exchange" not in p, p


def test_bloom_probe_no_batch_shuffle_and_broadcast_words(spark):
    """The Bloom probe must stream the batch map-side: word-table joins
    are BroadcastHashJoins and no Exchange repartitions the batch (the
    pre-r9 explode->groupBy layout shuffled the batch on its own key)."""
    from pyspark.sql import functions as F
    from bodo_spark.operators import bloom as B
    d = tbl(spark, SF_DIR, "documents").select("doc_id", "text")
    words = B.bloom_word_table(d, F.md5("text"), m_bits=1 << 12, k=4)
    flagged = B.bloom_candidates(d, words, F.md5("text"),
                                 m_bits=1 << 12, k=4)
    p = plan_str(flagged)
    # formatted mode lists each node in tree + details: >=4 BHJs, 0 SMJs
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "SortMergeJoin" not in p, p
    # the only exchanges allowed are broadcast ones (word table) and the
    # word-table build's own aggregation exchange -- none on the batch.
    # NOTE: formatted mode puts hashpartitioning on its own Arguments
    # line, never adjacent to the word "Exchange" -- the original
    # `Exchange hashpartitioning\(` regex matched NOTHING and the
    # assertion was vacuous (r9 advice).
    import re
    shuffles = re.findall(r"hashpartitioning\(([^,]+)", p)
    assert shuffles, p  # the word-table aggregation exchange must exist
    assert all("word_idx" in s for s in shuffles), shuffles


def test_semantic_dedup_single_cell_shuffle(spark):
    """semantic_dedup's hash shuffles key ONLY on the cell id (the
    pair-test self-join) or the row id (the assignment max_by combine
    and final anti join) -- never on the corpus at large; centroids
    broadcast. Keyed like the bloom plan test: a regression that
    reintroduces a corpus-keyed shuffle (e.g. repartitioning on the
    vector column) fails the key assertion, not just node counting."""
    import re
    from bodo_spark.operators.similarity import semantic_dedup
    from bodo_spark.operators.dedup import unpersist_cached
    emb = tbl(spark, SF_DIR, "embeddings")
    out = semantic_dedup(emb, n_cells=4, eps=0.9)
    p = plan_str(out)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    shuffles = re.findall(r"hashpartitioning\(([^)]+)\)", p)
    assert shuffles, p  # the contract is FEW shuffles, not zero
    for keys in shuffles:
        first = keys.split(",")[0].strip()
        assert first.startswith("_cell") or first.startswith("vec_id"), \
            (first, shuffles)
    unpersist_cached()


def test_pq_adc_scored_pass_plan(spark):
    """PQ ADC search plan contract: the corpus-sized scored pass is
    pure JVM (zero Python eval nodes -- the only pandas_udf in the
    family is the optional blas encoder), LUTs and probe lists ride
    broadcast exchanges, and every hash shuffle keys on the query id
    (the top-k window) or the row id (the encode combine) -- never on
    the code/vector payload."""
    import re

    from bodo_spark.operators import pq as P
    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    # scorer='expr' pins the all-JVM encode twin; the default ('auto'
    # -> blas gemm) deliberately uses one Arrow encode stage -- the
    # SCORED pass below must stay zero-Python either way
    codes = P.pq_encode(emb, cbs, scorer="expr")
    q = (emb.where("vec_id < 3")
         .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
    out = P.pq_topk(codes, q, cbs, k=5)
    p = plan_str(out)
    assert "BroadcastExchange" in p, p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    shuffles = re.findall(r"hashpartitioning\(([^)]+)\)", p)
    for keys in shuffles:
        first = keys.split(",")[0].strip()
        assert first.startswith("q_id") or first.startswith("vec_id"), \
            (first, shuffles)


def test_bm25_scored_pass_plan(spark):
    """BM25 plan contract: the postings-sized scored pass is pure JVM
    (zero Python nodes), the query-term/term-stats/corpus-stats sides
    all ride broadcast exchanges (postings are never the build side),
    and the top-k compiles to WindowGroupLimit partitioned on the
    query id."""
    from bodo_spark.operators import retrieval as R
    d = tbl(spark, SF_DIR, "documents")
    postings = R.bm25_index(d)
    q = (d.where("doc_id < 3")
         .selectExpr("doc_id AS q_id", "text AS q_text"))
    p = plan_str(R.bm25_topk(postings, q, k=5))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert p.count("BroadcastExchange") >= 3, p
    assert "WindowGroupLimit" in p, p
    assert "SortMergeJoin" not in p, p


def test_sq_scored_pass_plan(spark):
    """SQ8 plan contract: encode is a zero-shuffle projection; search
    is codes x broadcast(queries) with zero Python nodes and the only
    hash shuffle keyed on the query id (top-k window)."""
    import re

    from bodo_spark.operators import sq as Q
    emb = tbl(spark, SF_DIR, "embeddings")
    los, his = Q.sq_train(emb)
    codes = Q.sq_encode(emb, los, his)
    assert "Exchange" not in plan_str(codes), plan_str(codes)
    q = (emb.where("vec_id < 3")
         .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
    p = plan_str(Q.sq_topk(codes, q, los, his, k=5))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, p
    assert "BroadcastExchange" in p, p
    shuffles = re.findall(r"hashpartitioning\(([^)]+)\)", p)
    for keys in shuffles:
        assert keys.split(",")[0].strip().startswith("q_id"), shuffles


def test_pruned_merge_target_scan_partition_filters(spark, tmp_path,
                                                    monkeypatch):
    """File-pruned MERGE plan contract, on the target slice the merge
    itself reads (merge.read_keyed, spied): the scan carries the
    touched-bucket IN list as PartitionFilters and opens only files
    under the touched bucket directories -- untouched directories are
    never listed or read, the property that bounds per-batch cost by
    the touched size."""
    import os

    from bodo_spark.operators import merge as MG
    t = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k long, v double")
    path = str(tmp_path / "tbl")
    MG.write_bucket_partitioned(t, path, ["k"], 16)
    src = spark.createDataFrame([(3, 9.0), (40, 1.0)], "k long, v double")
    slices = []

    def spy(*args, **kwargs):
        slices.append(real(*args, **kwargs))
        return slices[-1]
    real = MG.read_keyed
    monkeypatch.setattr(MG, "read_keyed", spy)
    touched = MG.merge_into_partitioned(
        spark, path, src, ["k"], n_buckets=16,
        when_matched_update={"v": F.col("src_v")})
    assert len(slices) == 1 and 1 <= len(touched) <= 2
    # plan the slice before the publish swapped its directories
    p = plan_str(slices[0])
    assert "PartitionFilters" in p, p
    seg = p.split("PartitionFilters")[1][:200]
    assert "mbucket" in seg and str(touched[0]) in seg, seg
    dirs = {f"mbucket={b}" for b in touched}
    files = slices[0].inputFiles()
    assert files
    for f in files:
        assert os.path.basename(os.path.dirname(f)) in dirs, (f, dirs)


def test_bm25_stored_serving_partition_prunes(spark, tmp_path):
    """Stored-BM25 serving plan contract: the postings scan carries
    the query terms' bucket IN list as PartitionFilters -- only the
    touched term shards are opened (the 'write partitioned by term'
    claim, read side)."""
    from bodo_spark.operators import retrieval as R
    d = (tbl(spark, SF_DIR, "documents")
         .select("doc_id", "text").limit(200))
    path = str(tmp_path / "bmidx")
    R.bm25_store_index(R.bm25_index(d), path, n_term_buckets=64)
    q = spark.createDataFrame([(1, "the quick fox")],
                              "q_id long, q_text string")
    out = R.bm25_stored_topk(spark, path, q, k=5)
    p = plan_str(out)
    assert "PartitionFilters" in p, p
    seg = p.split("PartitionFilters")[1][:300]
    assert "tbucket" in seg, seg
    # <= 3 distinct terms -> <= 3 of 64 buckets in the IN list
    import re
    m = re.search(r"tbucket[^\]]*IN \(([^)]*)\)", seg)
    assert m and len(m.group(1).split(",")) <= 3, seg


def test_ivf_sq_prunes_before_dequantize(spark, tmp_path):
    """IVF-SQ search plan contract: the probed-cell semi join must sit
    BELOW the dequantize projection, so the O(d) reconstruction folds
    run on ~n_probe/n_cells of the index, not 100% of it (Catalyst
    does not push a join below a Project -- the r11 executed-plan
    probe caught exactly this defect)."""
    from bodo_spark.operators import sq as Q
    emb = tbl(spark, SF_DIR, "embeddings")
    los, his = Q.sq_train(emb)
    # materialize the index so the only zip_with over the code column
    # in the search plan is the dequantize (an inline build would
    # contribute sq_encode's and foil the position check)
    Q.ivf_sq_index(emb, los, his, n_cells=4).write.parquet(
        str(tmp_path / "idx"))
    idx = spark.read.parquet(str(tmp_path / "idx"))
    q = (emb.where("vec_id < 3")
         .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
    out = Q.ivf_sq_topk(idx, q, emb, los, his, k=3, n_probe=2, n_cells=4)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in opt, opt
    # logical tree prints root-first: the dequantize Project must
    # appear BEFORE (above) the semi join that prunes to probed cells
    assert opt.index("zip_with(code") < opt.index("LeftSemi"), opt
    # value sanity: probing ALL cells must equal the flat SQ scan
    # bit-for-bit (n_probe=2 recall is the ann_ivf_sq_topk gate's job)
    full = Q.ivf_sq_topk(idx, q, emb, los, his, k=3, n_probe=4,
                         n_cells=4)
    flat = Q.sq_topk(idx.select("vec_id", "code"), q, los, his, k=3)
    assert sorted(map(tuple, full.collect())) == \
        sorted(map(tuple, flat.collect()))


def test_url_canonicalize_is_narrow(spark):
    """URL canonicalization is a per-row expression: no exchange, no
    Python, until the dedup aggregation asks for one."""
    from bodo_spark.operators import web as Wb
    d = (tbl(spark, SF_DIR, "documents")
         .selectExpr("doc_id", "concat('https://E.com/p/', doc_id) AS url"))
    p = plan_str(d.select(Wb.canonicalize_url("url").alias("c")))
    assert "Exchange" not in p and "EvalPython" not in p, p


def test_funnel_single_shuffle_on_user(spark):
    """Funnel plan contract: events prune to step types at the scan
    (pushed filter), then exactly one aggregation exchange keyed on
    the user id; the fold is a JVM expression (no window, no Python)."""
    import re

    from bodo_spark.operators.timebucket import funnel_stages
    e = tbl(spark, SF_DIR, "events")
    p = plan_str(funnel_stages(e, ["view", "click", "purchase"]))
    assert "EvalPython" not in p and "Window" not in p, p
    pushed = p.split("PushedFilters")[1][:200] if "PushedFilters" in p else ""
    assert "event_type" in pushed, p
    shuffles = re.findall(r"hashpartitioning\(([^)]+)\)", p)
    assert shuffles and all(
        k.split(",")[0].strip().startswith("user_id") for k in shuffles), \
        shuffles


def test_interpolate_single_group_shuffle(spark):
    """Interpolation plan contract: the four neighbor expressions share
    the per-group ordered frame -- ONE hash shuffle keyed on the group,
    no Python, no self-joins."""
    import re

    from bodo_spark.operators.timebucket import interpolate_linear
    df = (tbl(spark, SF_DIR, "events")
          .selectExpr("event_type AS g",
                      "CAST(event_id AS LONG) AS pos", "value AS v"))
    p = plan_str(interpolate_linear(df, group_cols=["g"],
                                    order_col="pos", value_col="v"))
    assert "EvalPython" not in p and "Join" not in p, p
    shuffles = re.findall(r"hashpartitioning\(([^)]+)\)", p)
    assert shuffles and all(k.split(",")[0].strip().startswith("g")
                            for k in shuffles), shuffles


def test_mmr_all_jvm(spark):
    """MMR plan contract: the unrolled greedy steps stay pure JVM
    (fold cosines, min(struct) argmax) -- zero Python nodes."""
    from bodo_spark.operators.retrieval import mmr_rerank
    emb = tbl(spark, SF_DIR, "embeddings")
    cands = (emb.where("vec_id < 20")
             .selectExpr("CAST(1 AS LONG) AS q_id", "vec_id AS doc_id",
                         "CAST(vec_id AS DOUBLE) AS score",
                         "embedding AS vec"))
    p = plan_str(mmr_rerank(cands, k=2))
    assert "EvalPython" not in p, p


def test_mor_pruned_read_no_full_base_exchange(spark, tmp_path):
    """MoR pruned-read plan contract: the base table reaches the output
    through BROADCAST joins only -- base rows are never hash-shuffled
    (the read-side analogue of the file-pruned merge); the only
    hashpartitioning exchange is delta-sized (the delta-winner window;
    the semi join takes the raw delta keys, with no exchange)."""
    import re

    from bodo_spark.operators import mor as M
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(i, "s", 0) for i in range(100)],
        "k long, seg string, _cdc_seq long"), path)
    M.mor_apply(spark.createDataFrame(
        [(1, "u", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    df = M.mor_read(spark, path, key_cols=["k"])
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in p, p
    assert "LeftAnti" in p and "LeftSemi" in p, p
    # untouched branch: the anti join is broadcast (base side streams)
    anti = p.split("LeftAnti")[0].rsplit("\n", 1)[-1]
    assert "BroadcastHashJoin" in anti, p
    # every base FileScan is the streamed child of a broadcast join --
    # base rows never enter an Exchange: each hashpartitioning exchange
    # subtree scans only delta segments
    for m in re.finditer(r"Exchange hashpartitioning[^\n]*\n", p):
        # the exchange's input is everything nested deeper until the
        # indentation returns; approximate: the next FileScan line
        tail = p[m.end():]
        scan = re.search(r"FileScan parquet[^\n]*", tail)
        # (locations are truncated in explain output; the base dir is
        # short enough to survive truncation when present)
        assert scan and "/base" not in scan.group(0), \
            scan and scan.group(0)


def _stored_ivf(spark, tmp_path, codec):
    """A cell-partitioned stored index of ``codec`` ('sq' | 'pq') over
    the embeddings table at 8 cells: ``(emb, path, stored_topk,
    memory_topk)`` where memory_topk(q, k, n_probe) is the in-memory
    search over the same index."""
    from bodo_spark.operators import pq as PQ
    from bodo_spark.operators import sq as Q
    emb = tbl(spark, SF_DIR, "embeddings")
    path = str(tmp_path / f"{codec}idx")
    if codec == "sq":
        los, his = Q.sq_train(emb)
        idx = Q.ivf_sq_index(emb, los, his, n_cells=8)
        Q.sq_store_index(idx, path, los, his, n_cells=8, seed_vectors=emb)
        return emb, path, Q.sq_stored_topk, lambda q, k, n_probe: \
            Q.ivf_sq_topk(idx, q, emb, los, his, k=k, n_probe=n_probe,
                          n_cells=8)
    cbs = PQ.lowest_id_pq_codebooks(emb, m=4, k=16)
    idx = PQ.ivf_pq_index(emb, cbs, n_cells=8)
    PQ.pq_store_index(idx, path, cbs, n_cells=8, seed_vectors=emb)
    return emb, path, PQ.pq_stored_topk, lambda q, k, n_probe: \
        PQ.ivf_pq_topk(idx, q, emb, cbs, k=k, n_probe=n_probe, n_cells=8)


@pytest.fixture(scope="module")
def stored_ivf(spark, tmp_path_factory):
    """``_stored_ivf`` built once per codec for the module's read-only
    serving tests."""
    cache = {}

    def get(codec):
        if codec not in cache:
            cache[codec] = _stored_ivf(spark, tmp_path_factory.mktemp(codec),
                                       codec)
        return cache[codec]
    return get


def _local_batch(spark, emb, n):
    """The first ``n`` corpus vectors as a serving-shaped query batch: a
    local relation, as a server holds the queries it received."""
    from bodo_spark.rowframe import local_df
    rows = emb.where(F.col("vec_id") < n).select("vec_id", "embedding")
    return local_df(spark, [tuple(r) for r in rows.collect()],
                    "q_id bigint, q_vec array<float>")


@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_stored_serving_partition_prunes(spark, stored_ivf, codec):
    """Stored-IVF serving plan contract, for every codec: the index
    scan carries the probed-cell IN list as PartitionFilters -- only
    the probed cells' directories are opened (serving I/O bound by the
    probe set, not the corpus) -- and the served rows equal the
    in-memory search's."""
    import re

    emb, path, stored_topk, memory_topk = stored_ivf(codec)
    q = (emb.where("vec_id < 2")
         .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
    out = stored_topk(spark, path, q, k=3, n_probe=2)
    p = plan_str(out)
    assert "PartitionFilters" in p, p
    seg = p.split("PartitionFilters")[1][:300]
    assert "cell" in seg, seg
    # 2 queries x 2 probes -> <= 4 of 8 cells in the IN list
    m = re.search(r"cell[^\]]*IN \(([^)]*)\)", seg)
    assert m and len(m.group(1).split(",")) <= 4, seg
    mem = sorted(map(tuple, memory_topk(q, k=3, n_probe=2).collect()))
    assert sorted(map(tuple, out.collect())) == mem


@pytest.mark.parametrize("codec,ddl", [
    ("sq", "los array<double>, his array<double>, bits int, "
           "coarse_dim int, id_col string"),
    ("pq", "codebooks array<array<array<double>>>, coarse_dim int, "
           "id_col string"),
], ids=["sq", "pq"])
def test_stored_meta_schema_pinned(stored_ivf, codec, ddl):
    """The stored ``meta`` row keeps the exact schema stores have always
    been written with, so a store written by an earlier release still
    serves (the stored top-k recognises its codec from these fields)."""
    from pyspark.sql.types import StructType

    from bodo_spark.rowframe import read_artifact_rows
    _, path, _, _ = stored_ivf(codec)
    assert read_artifact_rows(f"{path}/meta")[1] == StructType.fromDDL(ddl)


@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_stored_topk_over_budget_fallback(spark, stored_ivf, monkeypatch,
                                          codec):
    """The distributed branch of the stored top-k -- taken when the
    query batch is over the localize budget: the Spark probe is
    localCheckpointed and its cells distinct-collected, with no second
    localize attempt on the probe (the batch is known to be over
    budget) -- serves exactly the rows of the localized branch."""
    from bodo_spark.operators import ivf

    monkeypatch.setenv("BODO_SPARK_EXACT", "0")
    emb, path, stored_topk, _ = stored_ivf(codec)
    q = (emb.where("vec_id < 3")
         .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
    local = sorted(map(tuple, stored_topk(spark, path, q, k=4,
                                          n_probe=3).collect()))
    batches, probes = [], []

    def over_budget(queries, q_id_col, q_vec_col):
        batches.append(q_id_col)
        return None, None

    def localize(df, budget_rows=4096):
        probes.append(df)
        return None, None

    monkeypatch.setattr(ivf, "_local_queries", over_budget)
    monkeypatch.setattr(ivf, "localize_if_small", localize)
    out = stored_topk(spark, path, q, k=4, n_probe=3)
    assert batches and not probes
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in opt, opt  # the checkpointed probe frame
    assert sorted(map(tuple, out.collect())) == local


@pytest.mark.parametrize("codec,exact,budget", [
    ("sq", "0", 3), ("pq", "0", 3), ("sq", "1", 7), ("pq", "1", 9)])
def test_stored_topk_job_budget(spark, stored_ivf, monkeypatch, codec,
                                exact, budget):
    """Job-count contract of a stored serve over a local query batch.
    In fast mode the probe and the query side are driver work shipped
    as one local relation, so the serve runs its broadcast, the pruned
    scan and the top-k result: 3 jobs, where the Spark probe, its
    localization and (PQ) the LUT aggregation ran 7 (SQ) and 9 (PQ).
    Exact mode keeps that Spark path, at no more than those counts.
    Rows equal the in-memory search's either way."""
    monkeypatch.setenv("BODO_SPARK_EXACT", exact)
    emb, path, stored_topk, memory_topk = stored_ivf(codec)
    q = _local_batch(spark, emb, 3)
    rows, jobs = spark_jobs(spark, lambda: stored_topk(
        spark, path, q, k=4, n_probe=3).collect())
    assert jobs <= budget, jobs
    assert sorted(map(tuple, rows)) == sorted(map(tuple, memory_topk(
        q, k=4, n_probe=3).collect()))


@pytest.mark.parametrize("codec", ["sq", "pq"])
def test_stored_topk_empty_batch(spark, stored_ivf, monkeypatch, codec):
    """An empty query batch serves an empty frame with the schema of a
    non-empty serve, in both numeric modes."""
    emb, path, stored_topk, _ = stored_ivf(codec)
    q = _local_batch(spark, emb, 2)
    for exact in ("0", "1"):
        monkeypatch.setenv("BODO_SPARK_EXACT", exact)
        full = stored_topk(spark, path, q, k=3, n_probe=2)
        empty = stored_topk(spark, path, q.limit(0), k=3, n_probe=2)
        assert empty.schema == full.schema, exact
        assert empty.collect() == [], exact


def test_mor_changes_never_scans_base(spark, tmp_path):
    """Incremental pull reads ONLY the range's delta segments -- the
    base table must not appear in the plan at all (cost bound by the
    change mass, the downstream-consumer contract)."""
    from bodo_spark.operators import mor as M
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(i, "s", 0) for i in range(50)],
        "k long, seg string, _cdc_seq long"), path)
    M.mor_apply(spark.createDataFrame(
        [(1, "u", "U", 1)], "k long, seg string, op string, seq long"),
        path, key_cols=["k"])
    p = plan_str(M.mor_changes(spark, path, key_cols=["k"],
                               since_segment=0))
    assert "/base" not in p, p
    assert "d-0000" in p or "delta" in p, p


def test_mor_read_projection_pushdown(spark, tmp_path):
    """MoR projection-pushdown plan contract: selecting a payload
    subset off the reconciled read prunes EVERY scan's ReadSchema to
    (keys + selected + bookkeeping) in BOTH reconcile modes -- the
    unselected wide column never leaves parquet. At 100 TB this is
    the difference between reading 2 columns and reading 40: the
    declarative reconcile keeps Catalyst's column pruning working
    through the union/window/broadcast-join, so no columns= plumbing
    is needed."""
    import re

    from bodo_spark.operators import mor as M
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(i, float(i), "W" * 64, 0) for i in range(100)],
        "k long, v double, wide string, _cdc_seq long"), path)
    M.mor_apply(spark.createDataFrame(
        [(1, -1.0, "x", "U", 1)],
        "k long, v double, wide string, op string, seq long"),
        path, key_cols=["k"])
    for pruned in (True, False):
        df = (M.mor_read(spark, path, key_cols=["k"], pruned=pruned)
              .select("k", "v"))
        p = df._jdf.queryExecution().executedPlan().toString()
        scans = re.findall(r"FileScan parquet \[([^\]]*)\]", p)
        assert scans, p
        for cols in scans:
            names = {c.split("#")[0] for c in cols.split(",") if c}
            assert "wide" not in names, (pruned, cols, p)


def lambda_depths(plan: str, names=("array_sort", "sort_array",
                                    "collect_list", "map_from_entries")
                  ) -> dict:
    """``{name: [depth, ...]}`` over a plan string: for each call of
    ``name``, how many ``lambdafunction(`` scopes enclose it. A call at
    depth n runs once per element of n nested array lambdas -- what an
    aggregate output costs once CollapseProject has inlined it into a
    per-element lambda. Parentheses are matched per plan line."""
    import re
    token = re.compile(r"(\w*)\(|\)")
    depths = {n: [] for n in names}
    for line in plan.splitlines():
        opened = []  # per open parenthesis: does it open a lambda?
        for t in token.finditer(line):
            if t.group(0) == ")":
                if opened:
                    opened.pop()
                continue
            fn = t.group(1)
            if fn in depths:
                depths[fn].append(sum(opened))
            opened.append(fn == "lambdafunction")
    return depths


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def spark_jobs(spark, fn):
    """``(fn(), n)``: the result of ``fn`` and the number of Spark jobs
    it ran, read from the status tracker over a private job group once
    the listener bus has delivered every job-start event."""
    import uuid
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lambda_depths_parser():
    plan = ("Aggregate [q], [transform(x, lambdafunction(transform(y, "
            "lambdafunction(element_at(array_sort(collect_list(s, 0, 0), "
            "lambdafunction(if (l < r) -1 else 0, l, r, false), false), "
            "1)._lv, c, false)), j, false)) AS a, sort_array(z, true) AS b]")
    d = lambda_depths(plan)
    assert d["array_sort"] == [2] and d["collect_list"] == [2], d
    assert d["sort_array"] == [0] and d["map_from_entries"] == [], d


def test_query_luts_sort_outside_lambdas(spark):
    """PQ LUT plan contract: no sort of the collected cells runs inside
    a lambda. Reshaping one aggregated (j, cid)-sorted list with
    element_at inside transform(sequence(m), transform(sequence(k)))
    had the sort inlined at depth 2 -- m*k sorts of m*k structs per
    query; each subspace's list is now sorted once per query."""
    from bodo_spark.operators import pq as P
    emb = tbl(spark, SF_DIR, "embeddings")
    cbs = P.lowest_id_pq_codebooks(emb, m=4, k=16)
    q = (emb.where("vec_id < 2")
         .selectExpr("vec_id AS q_id", "embedding AS q_vec"))
    d = lambda_depths(optimized_plan(P._query_luts(q, cbs)))
    sorts = d["array_sort"] + d["sort_array"]
    assert sorts and max(sorts) == 0, d
    assert d["collect_list"] and max(d["collect_list"]) == 0, d


def test_wide_tfidf_map_built_once(spark):
    """Wide hashed TF-IDF plan contract (dim > 256): each doc's sparse
    bucket map is built outside every lambda -- referenced once inside
    the per-dimension transform, it was inlined there and rebuilt per
    dimension."""
    from bodo_spark.operators.text import hashed_tfidf_vectors
    d = lambda_depths(optimized_plan(hashed_tfidf_vectors(
        tbl(spark, SF_DIR, "documents"), dim=300)))
    assert d["map_from_entries"] and max(d["map_from_entries"]) == 0, d
    assert max(d["collect_list"]) == 0, d


def _bucketed_mor(spark, tmp_path):
    """A 64-key MoR table in 16 buckets with one live delta segment
    that updates key 1, deletes key 2 and inserts key 99."""
    from bodo_spark.operators import mor as M
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(k, f"s{k}", 0) for k in range(64)],
        "k long, seg string, _cdc_seq long"), path,
        key_cols=["k"], n_buckets=16)
    M.mor_apply(spark.createDataFrame(
        [(1, "u", "U", 1), (2, None, "D", 1), (99, "n", "U", 1)],
        "k long, seg string, op string, seq long"), path, key_cols=["k"])
    return path


def _bucketed_mor_state():
    return sorted([(0, "s0", 0), (1, "u", 1), (99, "n", 1)]
                  + [(k, f"s{k}", 0) for k in range(3, 64)])


def test_mor_lookup_job_budget(spark, tmp_path):
    """Job-count contract for the bucketed point lookup: the key ->
    bucket step evaluates a Project over the local key relation, folded
    and collected on the driver with zero jobs, and the key-filtered
    sliver is reconciled by the union+window form -- one sliver-sized
    exchange and the result, no broadcasts -- so the whole lookup runs
    2 jobs (the pruned reconcile ran 6)."""
    from bodo_spark.operators import mor as M
    path = _bucketed_mor(spark, tmp_path)
    rows, jobs = spark_jobs(spark, lambda: M.mor_lookup(
        spark, path, [1, 2, 3, 7, 99], key_cols=["k"]).collect())
    assert sorted(map(tuple, rows)) == [(1, "u", 1), (3, "s3", 0),
                                        (7, "s7", 0), (99, "n", 1)]
    assert jobs <= 2, jobs


def test_mor_read_job_budget(spark, tmp_path):
    """Job-count contract for the pruned read of a bucketed table with a
    live delta: the semi join that finds the delta keys already in the
    base takes the raw delta keys, so the delta log is windowed (and
    hash-shuffled) once, not twice -- 5 jobs with the collect, not 6."""
    from bodo_spark.operators import mor as M
    path = _bucketed_mor(spark, tmp_path)
    rows, jobs = spark_jobs(spark, lambda: M.mor_read(
        spark, path, key_cols=["k"], pruned=True).collect())
    assert sorted(map(tuple, rows)) == _bucketed_mor_state()
    assert jobs <= 5, jobs


def test_mor_compact_job_budget(spark, tmp_path):
    """Job-count contract for the touched-bucket compaction: the
    reconcile of the touched slice is the pruned read's plan, so the
    fold and its partition publish run 6 jobs, not 7."""
    from bodo_spark.operators import mor as M
    path = _bucketed_mor(spark, tmp_path)
    _, jobs = spark_jobs(spark, lambda: M.mor_compact(
        spark, path, key_cols=["k"]))
    assert M._delta_dirs(path) == []
    assert sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .collect())) == _bucketed_mor_state()
    assert jobs <= 6, jobs


def test_merge_into_partitioned_job_budget(spark, tmp_path):
    """Job-count contract for the bucket-mode file-pruned MERGE: the
    touched-bucket collect, the target slice read from the touched
    directories and the keyed partition publish run 7 jobs, with a few
    or with every bucket touched."""
    from bodo_spark.operators.merge import (merge_into_partitioned,
                                            write_bucket_partitioned)
    t = spark.createDataFrame([(i, float(i)) for i in range(256)],
                              "k long, v double")
    for keys in ([3, 5, 9], list(range(0, 256, 3))):
        path = str(tmp_path / f"t{len(keys)}")
        write_bucket_partitioned(t, path, ["k"], 16)
        src = spark.createDataFrame([(k, -1.0) for k in keys],
                                    "k long, v double")
        touched, jobs = spark_jobs(spark, lambda: merge_into_partitioned(
            spark, path, src, ["k"], n_buckets=16,
            when_matched_update={"v": F.col("src_v")}))
        assert len(touched) == (3 if len(keys) == 3 else 16), touched
        got = dict(map(tuple, spark.read.parquet(path)
                       .select("k", "v").collect()))
        assert got == {i: (-1.0 if i in keys else float(i))
                       for i in range(256)}
        assert jobs <= 7, (len(keys), jobs)


def test_mor_compact_whole_base_job_budget(spark, tmp_path):
    """Job-count contract for the whole-base compaction -- more than
    half the buckets touched, the branch a 16-bucket table with 86
    updated keys takes: mor_read's reconcile and one keyed publish of
    the whole base run 6 jobs."""
    from bodo_spark.operators import mor as M
    path = str(tmp_path / "t")
    M.mor_init(spark.createDataFrame(
        [(k, f"s{k}", 0) for k in range(256)],
        "k long, seg string, _cdc_seq long"), path,
        key_cols=["k"], n_buckets=16)
    upd = list(range(0, 256, 3))
    M.mor_apply(spark.createDataFrame(
        [(k, "u", "U", 1) for k in upd],
        "k long, seg string, op string, seq long"), path, key_cols=["k"])
    assert len(M._touched_from_sidecars(M._delta_dirs(path), 16)) > 8
    _, jobs = spark_jobs(spark, lambda: M.mor_compact(
        spark, path, key_cols=["k"]))
    assert M._delta_dirs(path) == []
    assert sorted(map(tuple, M.mor_read(spark, path, key_cols=["k"])
                      .collect())) == sorted(
        (k, "u", 1) if k % 3 == 0 else (k, f"s{k}", 0)
        for k in range(256))
    assert jobs <= 6, jobs
