"""Round-9 curation/dedup operator tests: line-level boilerplate
removal, the hashing-trick quality scorer (expression vs join path),
mega-cluster-safe near-dup survivors (collapse + band-occupancy cap),
and signature-index append/compact maintenance."""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from bodo_spark.operators import curation as C
from bodo_spark.operators import dedup as D


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --------------------------------------------------------------------------
# remove_boilerplate_lines


def test_line_dedup_strips_repeated_keeps_unique(spark):
    df = _docs(spark, [
        (1, "NAV HOME\nunique body one\nFOOTER"),
        (2, "NAV HOME\nunique body two\nFOOTER"),
        (3, "solo page no boilerplate"),
    ])
    out = {r["doc_id"]: r["text"] for r in
           C.remove_boilerplate_lines(df, max_doc_freq=1).collect()}
    assert out[1] == "unique body one"
    assert out[2] == "unique body two"
    assert out[3] == "solo page no boilerplate"


def test_line_dedup_all_lines_removed_yields_empty(spark):
    df = _docs(spark, [(1, "SAME\nSAME2"), (2, "SAME\nSAME2")])
    out = {r["doc_id"]: r["text"] for r in
           C.remove_boilerplate_lines(df, max_doc_freq=1).collect()}
    assert out == {1: "", 2: ""}


def test_line_dedup_normalization_and_threshold(spark):
    # 'Nav' and ' nav ' normalize together -> doc_freq 2; threshold 2
    # keeps them, threshold 1 removes them
    df = _docs(spark, [(1, "Nav\nbody a"), (2, " nav \nbody b")])
    keep2 = {r["doc_id"]: r["text"] for r in
             C.remove_boilerplate_lines(df, max_doc_freq=2).collect()}
    assert keep2[1] == "Nav\nbody a"
    drop1 = {r["doc_id"]: r["text"] for r in
             C.remove_boilerplate_lines(df, max_doc_freq=1).collect()}
    assert drop1 == {1: "body a", 2: "body b"}
    # in-doc repetition alone is NOT boilerplate (distinct-doc freq)
    df2 = _docs(spark, [(1, "dup\ndup\nbody")])
    only = C.remove_boilerplate_lines(df2, max_doc_freq=1).collect()
    assert only[0]["text"] == "dup\ndup\nbody"


def test_line_dedup_preserves_order_and_out_col(spark):
    df = _docs(spark, [(1, "z last\nBOIL\na first"),
                       (2, "BOIL\nmiddle")])
    out = {r["doc_id"]: r["clean"] for r in
           C.remove_boilerplate_lines(df, max_doc_freq=1,
                                      out_col="clean").collect()}
    assert out[1] == "z last\na first"  # original order, not sorted
    assert out[2] == "middle"


# --------------------------------------------------------------------------
# hashed quality scorer


_W = [((i * 7) % 9 - 4) / 32.0 for i in range(16)]  # dyadic


def test_quality_score_expression_vs_join_path(spark):
    d = _docs(spark, [(i, f"tok{i} tok{(i * 3) % 7} common word")
                      for i in range(20)])
    expr = d.select("doc_id",
                    C.hashed_quality_score("text", _W, bias=0.125)
                    .alias("q"))
    from bodo_spark.modes import exact_mode
    n = len(_W)
    wdf = spark.createDataFrame(list(enumerate(_W)),
                                "bucket long, weight double")
    joined = C.hashed_quality_score_df(d, wdf, bias=0.125, out_col="q")
    e = {r["doc_id"]: r["q"] for r in expr.collect()}
    j = {r["doc_id"]: r["q"] for r in joined.select("doc_id", "q").collect()}
    assert exact_mode() in (True, False)  # both paths honor the mode
    for k in e:
        assert abs(e[k] - j[k]) < 1e-12, (k, e[k], j[k])


def test_quality_score_monotone_in_weights(spark):
    d = _docs(spark, [(1, "alpha beta gamma")])
    lo = d.select(C.hashed_quality_score(
        "text", [-0.5] * 8).alias("q")).first()["q"]
    hi = d.select(C.hashed_quality_score(
        "text", [0.5] * 8).alias("q")).first()["q"]
    mid = d.select(C.hashed_quality_score(
        "text", [0.0] * 8).alias("q")).first()["q"]
    assert lo < mid < hi and abs(mid - 0.5) < 1e-12


# --------------------------------------------------------------------------
# mega-cluster-safe survivors


def _near_dup_corpus(spark):
    base = [(i, f"alpha beta gamma delta epsilon zeta doc{i} "
                f"unique{i} filler{i % 3}") for i in range(12)]
    # a genuine near-dup pair: 101 shares almost all shingles with 100
    base += [(100, "red orange yellow green blue indigo violet end"),
             (101, "red orange yellow green blue indigo violet stop")]
    return _docs(spark, base)


def test_collapse_exact_texts_keeps_min_id(spark):
    d = _docs(spark, [(5, "same text here"), (2, "same text here"),
                      (9, "other text entirely")])
    ids = sorted(r["doc_id"] for r in
                 D.collapse_exact_texts(d).collect())
    assert ids == [2, 9]


def test_near_dup_survivors_collapse_equivalence(spark):
    d = _near_dup_corpus(spark)
    doubled = d.union(d.withColumn("doc_id",
                                   F.col("doc_id") + F.lit(10_000)))
    plain = sorted(r["doc_id"] for r in
                   D.dedup_survivors(
                       d, D.minhash_lsh_pairs(d, threshold=0.5)).collect())
    collapsed = sorted(r["doc_id"] for r in
                       D.near_dup_survivors(doubled,
                                            threshold=0.5).collect())
    assert collapsed == plain  # clones AND near-dups resolved identically


def test_band_occupancy_cap_bounds_mega_cluster(spark):
    # 30 byte-identical docs (one mega-bucket) + the near-dup pair
    mega = [(1000 + i, "boiler plate mega cluster text body") for i in
            range(30)]
    d = _near_dup_corpus(spark).union(_docs(spark, mega))
    capped = D.minhash_lsh_pairs(d, threshold=0.5, max_band_occupancy=8)
    ids = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the real near-dup pair survives; no intra-mega-cluster pair does
    assert (100, 101) in ids
    assert not any(a >= 1000 and b >= 1000 for a, b in ids)
    # uncapped finds the full 30*29/2 intra-cluster pairs on top
    full = D.minhash_lsh_pairs(d, threshold=0.5).count()
    assert full == len(ids) + 30 * 29 // 2


def test_simhash_band_occupancy_cap(spark):
    mega = [(2000 + i, "boiler plate mega cluster text body") for i in
            range(30)]
    d = _near_dup_corpus(spark).union(_docs(spark, mega))
    capped = D.simhash_pairs(d, max_hamming=3, bands=4,
                             max_band_occupancy=8)
    assert not any(r["id_a"] >= 2000 and r["id_b"] >= 2000
                   for r in capped.collect())


# --------------------------------------------------------------------------
# signature-index maintenance


def test_append_index_equals_one_shot(spark):
    d = _near_dup_corpus(spark)
    stage = f"/tmp/bodo_spark_test_idx_{uuid.uuid4().hex[:8]}"
    try:
        D.write_signature_index(d.where(F.col("doc_id") < 100), stage)
        n_before = len(glob.glob(os.path.join(stage, "*.parquet")))
        D.append_signature_index(d.where(F.col("doc_id") >= 100), stage,
                                 compact_after=True)
        n_after = len(glob.glob(os.path.join(stage, "*.parquet")))
        assert n_after <= n_before  # compaction collapsed the append
        stored = spark.read.parquet(stage)
        oneshot = D.minhash_signatures(d)
        # identical relation: (id, m0..m15) row sets match; sh compared
        # as sorted sets (collect_set order is nondeterministic)
        cols = ["id"] + [f"m{i}" for i in range(16)]
        a = sorted(map(tuple, stored.select(
            *cols, F.array_sort("sh").alias("sh")).collect()))
        b = sorted(map(tuple, oneshot.select(
            *cols, F.array_sort("sh").alias("sh")).collect()))
        assert a == b
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# --------------------------------------------------------------------------
# chunk_with_overlap


def test_chunk_overlap_windows_and_tail(spark):
    df = _docs(spark, [(1, "a b c d e f g h i j")])  # 10 tokens
    out = sorted((r["chunk_no"], r["chunk_text"], r["n_tokens"])
                 for r in C.chunk_with_overlap(
                     df, chunk=4, stride=3).collect())
    assert out == [
        (0, "a b c d", 4),
        (1, "d e f g", 4),
        (2, "g h i j", 4),
        (3, "j", 1),  # tail window, shorter
    ]


def test_chunk_overlap_short_doc_single_chunk(spark):
    df = _docs(spark, [(1, "only three tokens")])
    out = C.chunk_with_overlap(df, chunk=16, stride=8).collect()
    assert len(out) == 1
    assert out[0]["chunk_text"] == "only three tokens"
    assert out[0]["n_tokens"] == 3


def test_chunk_overlap_no_overlap_partitions_exactly(spark):
    """stride == chunk is plain fixed-size chunking: every token appears
    exactly once across the chunks."""
    df = _docs(spark, [(1, " ".join(f"t{i}" for i in range(10)))])
    rows = C.chunk_with_overlap(df, chunk=4, stride=4).collect()
    toks = [t for r in sorted(rows, key=lambda r: r["chunk_no"])
            for t in r["chunk_text"].split()]
    assert toks == [f"t{i}" for i in range(10)]


def test_chunk_overlap_rejects_bad_params(spark):
    df = _docs(spark, [(1, "x")])
    import pytest as _pytest
    with _pytest.raises(ValueError):
        C.chunk_with_overlap(df, chunk=0, stride=1)
    with _pytest.raises(ValueError):
        C.chunk_with_overlap(df, chunk=4, stride=0)


def test_line_dedup_blank_lines_exempt(spark):
    """Blank separator lines normalize to the same '' key in every doc;
    they must be EXEMPT from dedup or paragraph structure collapses
    corpus-wide (r9 review finding)."""
    df = _docs(spark, [
        (1, "NAV\npara one\n\npara two"),
        (2, "NAV\nintro\n\nbody"),
    ])
    out = {r["doc_id"]: r["text"] for r in
           C.remove_boilerplate_lines(df, max_doc_freq=1).collect()}
    assert out[1] == "para one\n\npara two"
    assert out[2] == "intro\n\nbody"


def test_collapse_exact_texts_null_texts_survive(spark):
    """NULL texts are exempt from collapse: the uncollapsed LSH pipeline
    never pairs them (null jaccard), so collapsing them would break the
    survivor-set equivalence (r9 review finding)."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  D.collapse_exact_texts(df).collect())
    assert kept == [1, 3, 4]


# --------------------------------------------------------------------------
# bigram LM perplexity (CCNet filter)


def test_lm_scores_favor_in_distribution_text(spark):
    from bodo_spark.operators import text as T
    train = _docs(spark, [(i, "the cat sat on the mat") for i in range(5)])
    big, uni, v = T.bigram_lm_counts(train)
    test = _docs(spark, [
        (100, "the cat sat on the mat"),   # in-distribution
        (101, "zebra quantum flux torus"), # OOV everything
    ])
    out = {r["doc_id"]: r["avg_logprob"] for r in
           T.lm_doc_logprob(test, big, uni, v).collect()}
    assert out[100] > out[101]


def test_lm_short_docs_excluded_and_counts(spark):
    from bodo_spark.operators import text as T
    train = _docs(spark, [(1, "a b a b")])
    big, uni, v = T.bigram_lm_counts(train)
    # vocab is a LAZY one-row frame (no eager count job at train time)
    assert v.collect()[0]["vocab"] == 2  # vocab {a, b}
    bc = {(r["w1"], r["w2"]): r["c12"] for r in big.collect()}
    assert bc == {("a", "b"): 2, ("b", "a"): 1}
    test = _docs(spark, [(10, "a b"), (11, "solo")])
    rows = T.lm_doc_logprob(test, big, uni, v).collect()
    assert {r["doc_id"] for r in rows} == {10}  # <2 tokens -> no score
    assert rows[0]["n_bigrams"] == 1


def test_tfidf_ranks_distinctive_terms_first(spark):
    from bodo_spark.operators import text as T
    df = _docs(spark, [
        (1, "common zebra"),
        (2, "common yak"),
        (3, "common"),
    ])
    top = {(r["doc_id"], r["rn"]): r["term"] for r in
           T.tf_idf_terms(df, top_n=2).collect()}
    # at equal tf the doc-unique term outranks the everywhere-term
    # (idf: ln(4/2)+1 = 1.693 vs ln(4/4)+1 = 1.0)
    assert top[(1, 1)] == "zebra" and top[(2, 1)] == "yak"
    assert top[(1, 2)] == "common"
    assert top[(3, 1)] == "common"  # only term in doc 3


def test_normalize_text_lite_matches_full_nfc(spark):
    """The JVM replace-chain kernel (nfc='lite') must agree with the
    Arrow-batched unicodedata path (nfc='full') wherever the combining
    sequences are in the lite table; the full path must BE true NFC
    plus the shared cleanup stages."""
    from bodo_spark.operators import text as T
    cases = [
        "cafe\u0301 latte",                    # decomposed acute
        "u\u0308ber a\u0300 c\u0327a",       # diaeresis/grave/cedilla
        "na\u00c3\u00afve",                   # cp1252 mojibake
        "\u00e2\u20ac\u0153q\u00e2\u20ac\u009d",  # both quote garbles
        "a\u200bb\u00a0c\u0007d",            # zw / nbsp / control
        "plain ascii stays",
        "",
    ]
    df = _docs(spark, list(enumerate(cases)))
    got = (df.select("doc_id",
                     T.normalize_text("text").alias("lite"),
                     T.normalize_text("text", nfc="full").alias("full"))
           .orderBy("doc_id").collect())
    for r, raw in zip(got, cases):
        assert r["lite"] == r["full"], (raw, r["lite"], r["full"])
    # spot-pin the actual outputs
    assert got[0]["lite"] == "caf\u00e9 latte"
    assert got[2]["lite"] == "na\u00efve"
    assert got[3]["lite"] == "\u201cq\u201d"
    assert got[4]["lite"] == "ab cd"


def test_normalize_text_full_handles_uncovered_scripts(spark):
    """Beyond the lite table (Greek/combining sequences not in the
    replace chain) the full path still produces exact NFC."""
    import unicodedata
    from bodo_spark.operators import text as T
    raw = "\u03b1\u0301 s\u030c e\u0304"  # Greek alpha+acute, s-caron, e-macron
    df = _docs(spark, [(0, raw)])
    full = df.select(T.normalize_text("text", nfc="full")
                     .alias("t")).collect()[0]["t"]
    assert full == unicodedata.normalize("NFC", raw)


def test_percentile_filter_exact_regime_and_modes(spark):
    """In the KLL exact regime the survivor set equals the exact
    rank-based filter; keep='below' mirrors it; NULL scores drop."""
    rows = [(i, float(v)) for i, v in enumerate(
        [50, 10, 40, 30, 20, 90, 60, 80, 70, 100])]
    df = spark.createDataFrame(rows + [(99, None)], "id long, v double")
    above = {r["id"] for r in C.filter_by_score_percentile(
        df, "v", p=0.2, keep="above").collect()}
    # threshold = rank ceil(0.2*10)=2 -> 20.0; kept: v >= 20
    assert above == {i for i, v in rows if v >= 20}
    below = {r["id"] for r in C.filter_by_score_percentile(
        df, "v", p=0.2, keep="below").collect()}
    assert below == {i for i, v in rows if v <= 20}
    import pytest as _pt
    with _pt.raises(ValueError):
        C.filter_by_score_percentile(df, "v", p=0.2, keep="sideways")


def test_percentile_filter_from_stored_sketches(spark, tmp_path_factory):
    """The corpus-scanned-once composition: threshold from a stored
    per-shard KLL sketch index instead of re-sketching the frame."""
    from bodo_spark.operators import sketches as SK
    # n <= k keeps BOTH paths in the exact regime, where merge order
    # cannot matter; past it the two are only envelope-equivalent
    df = spark.range(300).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("v"),
        (F.col("id") % 4).alias("shard"))
    stage = str(tmp_path_factory.mktemp("kll_flt"))
    SK.kll_shard_sketches(df, "v", "shard", k=400) \
        .write.mode("overwrite").parquet(stage)
    got = C.filter_by_score_percentile(
        df, "v", p=0.5, sketches=spark.read.parquet(stage))
    direct = C.filter_by_score_percentile(df, "v", p=0.5, k=400)
    assert ({r["id"] for r in got.collect()}
            == {r["id"] for r in direct.collect()})


def test_percentile_filter_rank_envelope_beyond_exact(spark):
    """Past the sketch's exact regime the kept fraction stays within
    the KLL rank envelope of the target percentile."""
    n = 200_000
    df = spark.range(n).select(
        F.col("id"), F.col("id").cast("double").alias("v"))
    kept = C.filter_by_score_percentile(df, "v", p=0.2, k=200).count()
    frac = kept / n
    assert abs(frac - 0.8) < 0.05, frac


def test_pretrain_pipeline_modes_agree(spark, tmp_path_factory):
    """The composed pipeline's two boundary-materialization modes
    (localCheckpoint vs parquet staging) must produce the identical
    chunk map; every stage must be exercised (planted boilerplate
    lines, duplicated spans, exact near-dup, bench contamination)."""
    base = "tok" + " tok".join(str(i) for i in range(30))
    rows = []
    for i in range(12):
        body = f"doc{i} unique words " + " ".join(
            f"w{i}_{j}" for j in range(25))
        page = f"SHARED NAV LINE\n{body}\n{base}"
        rows.append((i, "src" + str(i % 2), page))
    rows.append((100, "src0", rows[3][2]))     # exact dup of doc 3
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    # the bench doc matches doc 5's DISTINCTIVE body -- the shared
    # nav/footer lines are line-deduped away before decontamination, so
    # a raw-page bench would no longer clear the Jaccard threshold
    body5 = rows[5][2].split("\n")[1]
    bench = spark.createDataFrame([(0, body5)], "doc_id long, text string")
    kw = dict(bench=bench, span=20, pplx_p=0.2, mix_weights=None,
              quality_weights=None, capacity=64)
    a = C.pretrain_pipeline(df, **kw)
    got_a = sorted((r["doc_id"], r["chunk_id"]) for r in a.collect())
    stage = str(tmp_path_factory.mktemp("pt_stage"))
    b = C.pretrain_pipeline(df, checkpoint_dir=stage, **kw)
    got_b = sorted((r["doc_id"], r["chunk_id"]) for r in b.collect())
    D.unpersist_cached()
    assert got_a == got_b and got_a
    kept = {d for d, _ in got_a}
    assert 100 not in kept          # exact dup collapsed
    assert 5 not in kept            # bench-contaminated doc dropped
    import glob
    assert glob.glob(f"{stage}/survivors/*.parquet")  # staged boundaries


def test_cap_per_key_two_level_equals_single_window(spark):
    """cap_per_key's skew-safe two-level top-k is value-identical to
    the naive single window, caps a planted mega-domain, keeps small
    domains whole, and is deterministic across partitionings."""
    from pyspark.sql import Window as W

    rows = ([(i, "mega") for i in range(500)]
            + [(1000 + i, "small") for i in range(7)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = C.cap_per_key(df, 20, key_col="source", id_col="doc_id",
                        salt=8)
    a = sorted((r.source, r.doc_id) for r in got.collect())
    h = C.u01_hash("doc_id")
    w = W.partitionBy("source").orderBy(h, "doc_id")
    naive = (df.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") <= 20))
    b = sorted((r.source, r.doc_id) for r in naive.collect())
    assert a == b
    assert sum(1 for s, _ in a if s == "mega") == 20
    assert sum(1 for s, _ in a if s == "small") == 7
    c = sorted((r.source, r.doc_id) for r in
               C.cap_per_key(df.repartition(11), 20, key_col="source",
                             id_col="doc_id", salt=8).collect())
    assert a == c


def test_gopher_rules_each_rule_fires(spark):
    """Every Gopher rule verdict flips on a targeted violator and holds
    on a clean doc; gopher_filter keeps only the clean doc."""
    from bodo_spark.operators.text import gopher_filter, gopher_rules

    clean = ("the quick brown fox and that dog have fun with words "
             * 6)[:-1]                      # ~60 words, stopwords, alpha
    rows = [
        (0, clean),
        (1, "short doc the of"),                          # word_ok fails
        (2, clean + " " + "# " * 20),                     # sym_ok fails
        (3, "- a the of\n- b and\n- c that"),             # bullet fails
        (4, clean + "\nfoo...\nbar...\nbaz..."),          # ellipsis fails
        (5, clean + " " + " ".join(str(i) for i in range(60))),  # alpha
        (6, ("zzz qqq www eee rrr ttt yyy uuu iii ooo " * 6)[:-1]),
    ]                                                     # stop_ok fails
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = {r.doc_id: r.g.asDict() for r in
         df.select("doc_id", gopher_rules("text").alias("g")).collect()}
    assert g[0]["pass_all"]
    assert not g[1]["word_ok"] and not g[1]["pass_all"]
    assert not g[2]["sym_ok"] and g[2]["word_ok"]
    assert not g[3]["bullet_ok"]
    assert not g[4]["ellipsis_ok"]
    assert not g[5]["alpha_ok"]
    assert not g[6]["stop_ok"]
    kept = [r.doc_id for r in gopher_filter(df).collect()]
    assert kept == [0]


def test_weighted_sample_properties(spark):
    """Efraimidis-Spirakis sampler: deterministic across partitionings,
    inclusion frequency tracks weights (heavy rows sampled far more
    often across disjoint id offsets), n >= population returns all
    positive-weight rows, non-positive weights never survive."""
    rows = [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(1, 2001)]
    rows += [(5000, 0.0), (5001, -3.0)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = sorted(r.doc_id for r in
               C.weighted_sample(df, 100, weight_col="w").collect())
    b = sorted(r.doc_id for r in
               C.weighted_sample(df.repartition(17), 100,
                                 weight_col="w").collect())
    assert a == b and len(a) == 100
    heavy = sum(1 for i in a if i % 10 == 0)
    # 200 heavy rows at w=100 vs 1800 light at w=1: heavy should
    # dominate the sample decisively (expected ~90+)
    assert heavy >= 60, heavy
    assert 5000 not in a and 5001 not in a
    allpos = C.weighted_sample(df, 10_000, weight_col="w").count()
    assert allpos == 2000


def test_pretrain_pipeline_gopher_and_domain_cap_stages(spark):
    """The optional gopher and domain_cap capstone stages: a
    rule-violating page is dropped when gopher=True, survives
    otherwise; domain_cap bounds each source's surviving docs."""
    # interleave stopwords with per-doc-unique tokens: no shared
    # shingles/grams, so the dedup stages leave every doc intact and
    # the gopher/cap deltas are attributable
    sws = ["the", "and", "that", "have", "with", "of"] * 5
    def page(i):
        return " ".join(f"{sw} u{i}x{j}" for j, sw in enumerate(sws))
    rows = [(i, "src" + str(i % 2), page(i)) for i in range(10)]
    # symbol dirt with UNIQUE tokens: a repeated '# # #' run is itself
    # a duplicated span, and the excision stage (correctly) strips it
    # before the rules run -- the violator must survive cleaning
    rows.append((50, "src0", page(50) + " "
                 + " ".join(f"#m{j}" for j in range(30))))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    kw = dict(bench=None, span=20, pplx_p=0.01, mix_weights=None,
              quality_weights=None, capacity=64, line_max_doc_freq=1)
    plain = {d for d, _ in
             ((r["doc_id"], r["chunk_id"]) for r in
              C.pretrain_pipeline(df, **kw).collect())}
    D.unpersist_cached()
    assert 50 in plain
    gop = {r["doc_id"] for r in
           C.pretrain_pipeline(df, gopher=True, **kw).collect()}
    D.unpersist_cached()
    assert 50 not in gop and len(gop) >= 8
    capped = C.pretrain_pipeline(df, domain_cap=3, **kw)
    per_src = {r["source"]: r["n"] for r in
               capped.select("doc_id", "source").distinct()
               .groupBy("source").agg(F.count("*").alias("n"))
               .collect()}
    D.unpersist_cached()
    assert per_src and all(v <= 3 for v in per_src.values()), per_src


def test_train_hashed_quality_learns_separation(spark):
    """The in-engine trainer must actually LEARN: planted two-class
    corpus (disjoint vocabularies), enough steps -> the trained model
    scores every positive doc above every negative doc, and training
    loss decreases monotonically over a re-run with fewer steps."""
    rows = []
    for i in range(40):
        good = " ".join(["alpha beta gamma delta"] * 3)
        bad = " ".join(["omega psi chi phi"] * 3)
        rows.append((i, good if i % 2 == 0 else bad, i % 2 == 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, y boolean") \
        .withColumn("y", F.col("y").cast("int"))
    w, b = C.train_hashed_quality(df, label_col="y", n_buckets=32,
                                  steps=12, lr=2.0)
    scored = df.withColumn(
        "q", C.hashed_quality_score(F.col("text"), w, bias=b)).collect()
    pos = [r.q for r in scored if r.doc_id % 2 == 0]
    neg = [r.q for r in scored if r.doc_id % 2 == 1]
    assert min(pos) > max(neg)
    # fewer steps = strictly smaller separation margin (gradient keeps
    # pushing the two vocabularies' buckets apart)
    w2, b2 = C.train_hashed_quality(df, label_col="y", n_buckets=32,
                                    steps=2, lr=2.0)
    scored2 = df.withColumn(
        "q", C.hashed_quality_score(F.col("text"), w2, bias=b2)).collect()
    pos2 = [r.q for r in scored2 if r.doc_id % 2 == 0]
    neg2 = [r.q for r in scored2 if r.doc_id % 2 == 1]
    assert (min(pos) - max(neg)) > (min(pos2) - max(neg2))
    with pytest.raises(ValueError):
        C.train_hashed_quality(df, label_col="y", steps=0)
    D.unpersist_cached()


def test_train_hashed_quality_fast_mode(spark, monkeypatch):
    """Fast mode trains over the xxhash64 bucket family and still
    separates the planted classes (train/score share one family)."""
    monkeypatch.setenv("BODO_SPARK_EXACT", "0")
    rows = [(i, "aa bb cc" if i % 2 == 0 else "xx yy zz", 1 - i % 2)
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b = C.train_hashed_quality(df, label_col="y", n_buckets=16,
                                  steps=10, lr=2.0)
    scored = df.withColumn(
        "q", C.hashed_quality_score(F.col("text"), w, bias=b)).collect()
    pos = [r.q for r in scored if r.doc_id % 2 == 0]
    neg = [r.q for r in scored if r.doc_id % 2 == 1]
    assert min(pos) > max(neg)
    D.unpersist_cached()


def test_pretrain_pipeline_quality_train_mode(spark):
    """quality_weights='train' trains on the stage survivors and the
    trained cutoff actually filters: the planted low-quality class
    (labeled 0) is dropped, the labeled-1 class survives to packing."""
    rows = []
    for i in range(30):
        good = f"alpha beta gamma delta unique{i} epsilon zeta eta theta"
        bad = f"omega psi chi phi unique{i} sigma tau upsilon nu"
        rows.append((i, good if i % 2 == 0 else bad, "web"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    labels = spark.createDataFrame(
        [(i, 1 - i % 2) for i in range(30)], "doc_id long, y int")
    out = C.pretrain_pipeline(
        df, span=20, pplx_p=0.0, pplx_sketch_k=4096,
        quality_weights="train", quality_labels=labels,
        quality_train_steps=12, quality_cutoff=0.5, capacity=64)
    kept = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert kept and all(i % 2 == 0 for i in kept)
    with pytest.raises(ValueError):
        C.pretrain_pipeline(df, quality_weights="train")
    with pytest.raises(ValueError):
        C.pretrain_pipeline(df, quality_weights="nope")
    D.unpersist_cached()


def test_per_language_routing_fixes_global_misfilter(spark):
    """The planted two-language misfilter: language B's docs all score
    lower under a GLOBAL LM than every language-A doc (tiny disjoint
    vocabulary -> out-of-distribution), so a global 40% tail-drop
    strips B entirely; per-language routing (per-lang LM + per-lang
    threshold) keeps B's best docs and drops each language's own
    tail."""
    from bodo_spark.operators import text as T
    rows = []
    # language A: 20 docs over a shared 4-word vocab (high LM scores)
    for i in range(20):
        rows.append((i, "aa bb cc dd aa bb cc dd aa bb", "A"))
    # language B: 10 docs, each with a UNIQUE word woven in (low scores
    # under any LM trained mostly on A; comparable under B's own LM)
    for i in range(10):
        rows.append((100 + i, f"xx yy zz u{i} xx yy zz u{i} xx yy", "B"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def kept_ids(group):
        grp = ["lang"] if group else None
        big, uni, voc = T.bigram_lm_counts(df, group_cols=grp)
        scored = T.lm_doc_logprob(df, big, uni, voc, group_cols=grp)
        scored = scored.join(df.select("doc_id", "lang"), "doc_id")
        kept = C.filter_by_score_percentile(
            scored, "avg_logprob", p=0.4, keep="above", k=4096,
            group_col="lang" if group else None)
        return {r.doc_id for r in kept.select("doc_id").collect()}

    glob = kept_ids(False)
    assert not any(i >= 100 for i in glob)  # global threshold strips B
    per = kept_ids(True)
    n_b = sum(1 for i in per if i >= 100)
    assert n_b >= 5  # per-language keeps B's own top 60%
    assert sum(1 for i in per if i < 100) >= 10
    D.unpersist_cached()


def test_pretrain_pipeline_per_language_mode(spark):
    """per_language=True routes the tail-drop per lang inside the
    composed pipeline; both languages survive to packing."""
    rows = []
    for i in range(20):
        rows.append((i, f"aa bb cc dd unique{i} aa bb cc dd", "A", "web"))
    for i in range(10):
        rows.append((100 + i, f"xx yy zz u{i} ww u{i} xx yy zz", "B", "web"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    out = C.pretrain_pipeline(df, span=20, pplx_p=0.2,
                              pplx_sketch_k=4096, per_language=True,
                              capacity=64)
    kept = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    assert any(i >= 100 for i in kept) and any(i < 100 for i in kept)
    D.unpersist_cached()


def test_pretrain_pipeline_session_conf_checkpoint_dir(spark,
                                                       tmp_path_factory):
    """A session-level staging dir (spark.bodo_spark.pretrain.
    checkpointDir) flips the default materialization to parquet
    staging: the stage files appear under it and no localCheckpoint
    warning fires; with neither set, the one-time pointer warns."""
    import glob as _glob
    import warnings as _w
    rows = [(i, f"aa bb cc dd unique{i} ee ff", "web") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    stage = str(tmp_path_factory.mktemp("pt_conf_stage"))
    spark.conf.set("spark.bodo_spark.pretrain.checkpointDir", stage)
    try:
        with _w.catch_warnings():
            _w.simplefilter("error")  # any warning -> failure
            out = C.pretrain_pipeline(df, span=20, pplx_p=0.0,
                                      pplx_sketch_k=4096, capacity=64)
            n = out.count()
        assert n > 0
        assert _glob.glob(f"{stage}/survivors/*.parquet")
    finally:
        spark.conf.unset("spark.bodo_spark.pretrain.checkpointDir")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        C.pretrain_pipeline(df, span=20, pplx_p=0.0,
                            pplx_sketch_k=4096, capacity=64).count()
    assert any("localCheckpoint" in str(x.message) for x in rec)
    D.unpersist_cached()


def test_train_hashed_quality_frame_mode_bit_equal(spark):
    """as_frame=True (weights never leave the cluster; the 2^20-bucket
    production mode) is bit-equal to the collect-mode trainer: same
    expressions step for step, so weights and bias match exactly, and
    the returned frames feed hashed_quality_score_df directly."""
    rows = [(i, "aa bb cc dd" if i % 2 == 0 else "xx yy zz ww", i % 2)
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    w, b = C.train_hashed_quality(df, label_col="y", n_buckets=16,
                                  steps=4, lr=1.0)
    wdf, bdf = C.train_hashed_quality(df, label_col="y", n_buckets=16,
                                      steps=4, lr=1.0, as_frame=True)
    got_w = {r.bucket: r.weight for r in wdf.collect()}
    got_b = bdf.collect()[0]["bias"]
    assert got_b == b
    assert got_w == {i: w[i] for i in range(16)}
    scored = C.hashed_quality_score_df(df, wdf.select(
        "bucket", "weight"), bias=got_b)
    assert scored.where("quality IS NULL").count() == 0
    D.unpersist_cached()


def test_pmi_collocations_hand_example(spark):
    from bodo_spark.operators.text import pmi_collocations
    # "new york" always adjacent; "of the" frequent but independent
    rows = [(i, "new york of the and of the or") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = pmi_collocations(df, top_n=3, min_count=5).collect()
    assert (got[0].w1, got[0].w2) == ("new", "york")
    # hand-check: W=48 tokens, T=42 bigrams, c12=6, c1=c2=6
    import math
    exp = round(math.log((6.0 * 48 * 48) / (42.0 * 6 * 6)), 9)
    assert got[0].pmi == pytest.approx(exp, abs=1e-9)
    # "of the": c12=12, of=12, the=12
    exp_ot = round(math.log((12.0 * 48 * 48) / (42.0 * 12 * 12)), 9)
    ot = [r for r in got if (r.w1, r.w2) == ("of", "the")][0]
    assert ot.pmi == pytest.approx(exp_ot, abs=1e-9)
    assert got[0].pmi > ot.pmi  # collocation beats frequent-independent


def test_hashed_tfidf_vectors_shape_and_semantics(spark):
    from pyspark.sql import functions as F

    from bodo_spark.operators.text import hashed_tfidf_vectors
    rows = [(0, "apple apple banana"), (1, "apple cherry"),
            (2, "durian elderberry fig")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: list(r.vec)
           for r in hashed_tfidf_vectors(df, dim=16).collect()}
    assert set(out) == {0, 1, 2} and all(len(v) == 16 for v in out.values())
    # every doc has at least one nonzero slot; repeated token outweighs
    assert all(any(x > 0 for x in v) for v in out.values())
    assert max(out[0]) > 0
    # identical text -> identical vector (deterministic hashing)
    out2 = {r.doc_id: list(r.vec)
            for r in hashed_tfidf_vectors(df, dim=16).collect()}
    assert out == out2
    with pytest.raises(ValueError):
        hashed_tfidf_vectors(df, dim=1)



def test_hashed_tfidf_vectors_wide_branch(spark):
    """dim > 256 takes the map-zip branch: each slot is the summed-tf
    smooth-idf weight of the tokens hashing there, rounded to 9 dp,
    and every other slot is 0.0 -- the dense branch's semantics."""
    import math
    from collections import Counter

    from pyspark.sql import functions as F

    from bodo_spark.modes import exact_mode
    from bodo_spark.operators.dedup import h60
    from bodo_spark.operators.text import hashed_tfidf_vectors
    dim = 300
    rows = [(0, "apple apple banana"), (1, "apple cherry"),
            (2, "durian elderberry fig"), (3, "Fig fig fig grape")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    words = sorted({w for _, t in rows for w in t.lower().split()})
    bucket = (h60(F.col("t")) % dim if exact_mode()
              else F.pmod(F.xxhash64("t"), F.lit(dim))).cast("int")
    b_of = dict(spark.createDataFrame([(w,) for w in words], "t string")
                .select("t", bucket).collect())
    tf = {i: Counter(b_of[w] for w in t.lower().split()) for i, t in rows}
    df_b = Counter(b for c in tf.values() for b in c)
    got = {r.doc_id: list(r.vec)
           for r in hashed_tfidf_vectors(df, dim=dim).collect()}
    assert set(got) == set(tf)
    for i, counts in tf.items():
        assert len(got[i]) == dim
        for b in range(dim):
            if b not in counts:
                assert got[i][b] == 0.0, (i, b)
                continue
            idf = math.log((len(rows) + 1) / (df_b[b] + 1)) + 1
            assert got[i][b] == pytest.approx(counts[b] * idf, abs=1e-9)


def test_pretrain_pipeline_url_stage(spark):
    """url_col= switches on the pre-content URL dedup: two rows with
    the same canonical URL (tracking-param + case variants) collapse
    BEFORE any text stage, keeping the higher url_score_col row; the
    canon_url helper column does not leak into the output."""
    base = "tok" + " tok".join(str(i) for i in range(30))
    rows = []
    for i in range(8):
        body = f"doc{i} unique words " + " ".join(
            f"w{i}_{j}" for j in range(25))
        rows.append((i, "s", f"https://E.com/p/{i}?utm_x=1&a=1", 1,
                     f"LINE\n{body}\n{base}"))
    # doc 50 duplicates doc 2's URL (different surface form) with a
    # HIGHER score -> doc 2 must lose the URL race
    rows.append((50, "s", "https://e.com/p/2/?a=1", 9, rows[2][4]))
    df = spark.createDataFrame(
        rows, "doc_id long, source string, url string, sc long, "
              "text string")
    out = C.pretrain_pipeline(df, url_col="url", url_score_col="sc",
                              pplx_p=0.0, quality_weights=None,
                              mix_weights=None, capacity=64)
    got = {r["doc_id"] for r in out.collect()}
    D.unpersist_cached()
    assert 2 not in got and got  # lost the canonical-URL race
    assert "canon_url" not in out.columns


def test_winsorize_clips_and_preserves(spark):
    rows = ([("a", float(i)) for i in range(1, 11)]
            + [("a", 1000.0), ("a", -50.0), ("b", 5.0), ("a", None)])
    df = spark.createDataFrame(rows, "g string, v double")
    out = C.winsorize(df, "v", p_lo=0.1, p_hi=0.9, group_col="g",
                      k=256, out_col="cv")
    got = [(r.g, r.v, r.cv) for r in out.collect()]
    assert len(got) == len(rows)                  # clip, not drop
    a = {v: cv for g, v, cv in got if g == "a" and v is not None}
    assert a[1000.0] < 1000.0 and a[-50.0] > -50.0  # both tails clip
    assert a[5.0] == 5.0                          # middle untouched
    assert [cv for g, v, cv in got if v is None] == [None]
    assert [cv for g, v, cv in got if g == "b"] == [5.0]  # own group
    with pytest.raises(ValueError):
        C.winsorize(df, "v", p_lo=0.5, p_hi=0.2)
    with pytest.raises(ValueError):
        C.winsorize(df, "v", k=4)


def test_winsorize_null_group_key_not_dropped(spark):
    """NULL group keys form their own group (null-safe threshold join):
    the row count survives and the NULL group clips by ITS thresholds,
    not the global ones -- the 'clip, not drop' contract."""
    rows = ([("a", float(i)) for i in range(1, 11)]
            + [(None, float(i) * 100) for i in range(1, 11)]
            + [(None, 99999.0)])
    df = spark.createDataFrame(rows, "g string, v double")
    out = C.winsorize(df, "v", p_lo=0.1, p_hi=0.9, group_col="g",
                      k=256, out_col="cv")
    got = [(r.g, r.v, r.cv) for r in out.collect()]
    assert len(got) == len(rows)                  # nothing dropped
    nulls = {v: cv for g, v, cv in got if g is None}
    assert len(nulls) == 11
    assert nulls[99999.0] < 99999.0               # clipped in-group
    assert nulls[500.0] == 500.0                  # in-group middle kept
    # group "a" untouched by the NULL group's scale
    assert {cv for g, v, cv in got if g == "a"} <= set(
        float(i) for i in range(1, 11))


def test_score_percentile_null_group_key_not_dropped(spark):
    """Same null-safe-join contract for the percentile FILTER: rows
    with a NULL group key are thresholded against their own group's
    quantile instead of silently vanishing."""
    rows = ([("a", float(i)) for i in range(1, 11)]
            + [(None, float(i)) for i in range(1, 11)])
    df = spark.createDataFrame(rows, "g string, s double")
    out = C.filter_by_score_percentile(df, "s", p=0.5, keep="above",
                                       group_col="g", k=256)
    got = [(r.g, r.s) for r in out.collect()]
    null_kept = sorted(s for g, s in got if g is None)
    a_kept = sorted(s for g, s in got if g == "a")
    assert null_kept == a_kept == [float(i) for i in range(5, 11)]


def test_expectations_rules(spark):
    from bodo_spark.operators.expectations import expect
    df = spark.createDataFrame(
        [(1, "a", 5.0), (1, "b", 50.0), (2, None, -1.0), (3, "zz", 5.0)],
        "k long, s string, v double")
    ref = spark.createDataFrame([(1,), (2,)], "k long")
    got = {r.check: r.n_violations for r in expect(df, [
        ("not_null", "s"),
        ("unique", ["k"]),
        ("range", "v", 0.0, 10.0),
        ("in_set", "s", ["a", "b"]),
        ("regex", "s", "^[ab]$"),
        ("ref", "k", ref, "k")]).collect()}
    assert got == {"not_null(s)": 1, "unique(k)": 1,
                   "range(v,0.0,10.0)": 2, "in_set(s)": 1,
                   "regex(s)": 1, "ref(k->k)": 1}
    import pytest as _pt
    with _pt.raises(ValueError):
        expect(df, [])
    with _pt.raises(ValueError):
        expect(df, [("bogus", "s")])
