"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

These extend the reference's LLM-ops surface (reference
bodo/pandas/series.py:1903 Series.ai.tokenize and friends) with the
classic pretraining-corpus filters. Everything is built from built-in
Spark SQL expressions (JVM-side, codegen'd, no Python in the hot path),
so they run unchanged over 100 TB of documents: per-row expressions,
no shuffle at all until an aggregation is requested.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets for the n-gram/stopword heuristic
# (public common function words; enough signal for a deterministic lang-id)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "und", "die", "nicht", "das"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "las", "una", "es"],
    "zh": ["的", "是", "了", "在", "我"],
}


def tokenize_ws(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), "\\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (reference Series.ai.tokenize counts via
    HF tokenizers; this is the cheap JVM-side estimate).

    Counted as whitespace-run count + 1 over the trimmed text --
    value-identical to size(split(trim(c), '\\s+')) (split of an empty
    trimmed string yields [''] = 1, matching regexp_count 0 + 1) but
    without materializing the token array (a ~1 KB doc allocates ~150
    strings per call; this kernel runs on every document in the
    pipeline's hot path)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.regexp_count(F.trim(c), F.lit(r"\s+")) + 1).cast("bigint")


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-flavored estimate: word-pieces + digits + punctuation runs,
    via a GPT-style pre-tokenizer regex."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(
        c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    return F.size(pieces).cast("bigint")


def punct_ratio(col: Column | str) -> Column:
    # regexp_count, not length(x) - length(regexp_replace(x, ..., '')):
    # each match is one char so the counts are identical, but counting
    # skips rebuilding the whole string per row
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.regexp_count(c, F.lit(r"[\.,;:!\?]"))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are language stopwords."""
    toks = tokenize_ws(col)
    markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
    return n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1))


def quality_score(col: Column | str) -> Column:
    """Composite 0..1 quality score: length band + punctuation sanity +
    mean-token-length band (the C4-style cheap filters)."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    n_toks = token_count(c)
    mean_tok = n_chars.cast("double") / F.greatest(n_toks, F.lit(1))
    len_ok = (n_chars >= 100) & (n_chars <= 20000)
    tok_ok = (mean_tok >= 3.0) & (mean_tok <= 12.0)
    punct_ok = punct_ratio(c) <= 0.1
    return ((len_ok.cast("int") + tok_ok.cast("int") + punct_ok.cast("int"))
            .cast("double") / 3.0)


_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                     "with"]


def gopher_rules(col: Column | str, *,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 max_bullet_frac: float = 0.9,
                 max_ellipsis_frac: float = 0.3,
                 min_alpha_frac: float = 0.8,
                 min_stopwords: int = 2) -> Column:
    """The Gopher quality rules (Rae et al. 2021, 'Scaling Language
    Models', table A1) as one struct column of booleans plus a
    ``pass_all`` flag: word-count band, mean-word-length band,
    symbol-to-word ratio (# and ...), bullet-line and ellipsis-line
    fractions, fraction of words with an alphabetic character, and
    minimum distinct stopwords. Pure JVM expressions (whole-stage
    codegen, zero shuffle) built from exact integer counts, so every
    boolean is engine-reproducible and a SQL oracle re-derives the
    verdicts bit-for-bit. The repetition rules from the same table
    ship separately (dup_ngram_fraction / top_ngram_fraction)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(c), r"\s+")
    n_words = F.size(toks)
    word_ok = (n_words >= min_words) & (n_words <= max_words)
    sum_wl = F.aggregate(F.transform(toks, F.length),
                         F.lit(0), lambda a, x: a + x)
    mean_wl = sum_wl.cast("double") / F.greatest(n_words, F.lit(1))
    wl_ok = (mean_wl >= min_mean_wl) & (mean_wl <= max_mean_wl)
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ell = (F.length(c)
             - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3
    sym_ok = ((n_hash + n_ell).cast("double")
              / F.greatest(n_words, F.lit(1))) <= max_symbol_ratio
    lines = F.split(c, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet = F.size(F.filter(
        lines, lambda l: F.trim(l).rlike(r"^[-*•]")))
    bullet_ok = bullet.cast("double") / n_lines <= max_bullet_frac
    ell_lines = F.size(F.filter(
        lines, lambda l: F.trim(l).endswith("...")))
    ellipsis_ok = ell_lines.cast("double") / n_lines <= max_ellipsis_frac
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    alpha_ok = (alpha.cast("double")
                / F.greatest(n_words, F.lit(1))) >= min_alpha_frac
    low = F.transform(toks, F.lower)
    n_stop = None
    for w in _GOPHER_STOPWORDS:
        hit = F.array_contains(low, w).cast("int")
        n_stop = hit if n_stop is None else n_stop + hit
    stop_ok = n_stop >= min_stopwords
    pass_all = (word_ok & wl_ok & sym_ok & bullet_ok & ellipsis_ok
                & alpha_ok & stop_ok)
    return F.struct(word_ok.alias("word_ok"), wl_ok.alias("wl_ok"),
                    sym_ok.alias("sym_ok"),
                    bullet_ok.alias("bullet_ok"),
                    ellipsis_ok.alias("ellipsis_ok"),
                    alpha_ok.alias("alpha_ok"), stop_ok.alias("stop_ok"),
                    pass_all.alias("pass_all"))


def gopher_filter(df: DataFrame, text_col: str = "text",
                  **thresholds) -> DataFrame:
    """Keep only rows passing every Gopher rule (gopher_rules)."""
    return (df.withColumn("_g", gopher_rules(text_col, **thresholds))
            .where(F.col("_g.pass_all")).drop("_g"))


def lang_id(col: Column | str) -> Column:
    """Deterministic stopword-vote language ID: the language with the
    most marker-word hits wins; ties break by language code order.

    SQL-expressible (scored CASE chain) so it has an exact DuckDB twin.
    """
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    scores = []
    for lang, words in sorted(LANG_MARKERS.items()):
        score = None
        for w in words:
            hit = F.when(padded.contains(f" {w} "), 1).otherwise(0)
            score = hit if score is None else score + hit
        scores.append((lang, score))
    # argmax with lexicographic tiebreak: array_max over (score, revlang,
    # lang) structs -- field-wise struct ordering gives highest score,
    # ties to the alphabetically-earliest language. A when-chain here
    # references its accumulator 3x per level: the expression tree grows
    # ~3^n_langs and the pipeline query paid 3x for it (22.7 -> 7.6 s
    # after this rewrite).
    cands = F.array(*[
        F.struct(score.alias("s"),
                 F.lit(_rev_ord(lang)).alias("r"),
                 F.lit(lang).alias("lang"))
        for lang, score in scores])
    return F.array_max(cands).getField("lang")


def _rev_ord(lang: str) -> int:
    """Higher value = earlier alphabetically, so max() breaks ties toward
    'de' < 'en' < ... order."""
    order = sorted(LANG_MARKERS)
    return len(order) - order.index(lang)


def dup_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Fraction of word n-gram instances that are repeats of an earlier
    gram in the same doc: 1 - distinct/total. The Gopher-style
    repetition filter (Rae et al. 2021 'duplicate n-gram fraction');
    high values flag boilerplate/spam. Pure JVM array expressions."""
    from .dedup import word_shingles
    c = F.col(col) if isinstance(col, str) else col
    grams = word_shingles(c, n, distinct=False)
    return (1 - F.size(F.array_distinct(grams))
            / F.size(grams).cast("double"))


def top_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Fraction of word n-gram instances taken by the single most
    frequent gram (Gopher's 'top n-gram fraction').

    Max multiplicity = longest equal run in the SORTED gram array, so
    one O(g) aggregate fold replaces the transform-x-filter O(g^2)
    formulation -- higher-order lambdas evaluate interpreted, and the
    quadratic version cost 14.5 s at sf0.1 vs ~1 s for this fold
    (values identical; the DuckDB oracle keeps the direct
    count-per-distinct-gram spelling)."""
    from .dedup import word_shingles
    c = F.col(col) if isinstance(col, str) else col
    grams = F.array_sort(word_shingles(c, n, distinct=False))
    best = F.aggregate(
        grams,
        F.struct(F.lit(chr(0)).alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)))
            .alias("best")),
        lambda acc: acc.best)
    return best / F.size(grams).cast("double")


def fingerprint(col: Column | str) -> Column:
    """Canonical-form document fingerprint: lowercase, collapse
    whitespace, strip punctuation, md5. Identical content -> identical
    128-bit key; the exact-dedup key at corpus scale."""
    c = F.col(col) if isinstance(col, str) else col
    canon = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", ""), r"\s+", " "))
    return F.md5(canon)


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard text-analysis columns."""
    return (df
            .withColumn("n_tokens", token_count(text_col))
            .withColumn("n_bpe_tokens", bpe_ish_token_count(text_col))
            .withColumn("punct_ratio", punct_ratio(text_col))
            .withColumn("quality", quality_score(text_col))
            .withColumn("pred_lang", lang_id(text_col))
            .withColumn("fingerprint", fingerprint(text_col)))


# --------------------------------------------------------------------------
# n-gram LM perplexity filter (the CCNet-style quality pass)


def bigram_lm_counts(df: DataFrame, text_col: str = "text", *,
                     group_cols: list[str] | None = None
                     ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train a bigram language model on a corpus: returns
    (bigram_counts(w1,w2,c12), unigram_counts(w1,c1), vocab) where
    ``vocab`` is a LAZY one-row (vocab bigint) frame -- no eager
    count job fires at train time; lm_doc_logprob broadcast-joins the
    scalar into the scoring plan (an int is also accepted there for
    stored-artifact callers). One explode + two aggregations -- the
    distributed equivalent of a KenLM count pass; counts are the
    durable artifact (write them to parquet next to the corpus and
    score future batches without re-reading the training text).

    The CCNet protocol (Wenzek et al. 2020) filters web text by the
    perplexity of a clean-corpus LM; the reference has no LM surface --
    this extends its text/quality family the same way lang_id does.

    ``group_cols`` trains INDEPENDENT LMs per group in the same two
    aggregations (CCNet's actual protocol is one LM PER LANGUAGE):
    every count frame gains the group columns as extra keys and
    ``vocab`` becomes one row per group. Same plan shape -- the group
    key just widens the aggregation keys; no extra pass, no skew
    change (the hot keys are still the frequent grams)."""
    g = [F.col(c) for c in (group_cols or [])]
    gn = list(group_cols or [])
    big = (df.select(*g, tokenize_ws(text_col).alias("_t"))
           .select(*gn, F.explode(F.when(
               F.size("_t") >= 2,
               F.transform(F.sequence(F.lit(0), F.size("_t") - 2),
                           lambda i: F.struct(
                               F.col("_t")[i].alias("w1"),
                               F.col("_t")[i + 1].alias("w2"))))
               .otherwise(F.array())).alias("_b"))
           .select(*gn, "_b.w1", "_b.w2"))
    bigrams = big.groupBy(*gn, "w1", "w2").agg(
        F.count(F.lit(1)).alias("c12"))
    unigrams = (df.select(*g, F.explode(tokenize_ws(text_col)).alias("w1"))
                .groupBy(*gn, "w1").agg(F.count(F.lit(1)).alias("c1")))
    if gn:
        vocab = unigrams.groupBy(*gn).agg(F.count(F.lit(1)).alias("vocab"))
    else:
        vocab = unigrams.agg(F.count(F.lit(1)).alias("vocab"))
    return bigrams, unigrams, vocab


def hashed_tfidf_vectors(df: DataFrame, *, id_col: str = "doc_id",
                         text_col: str = "text",
                         dim: int = 64) -> DataFrame:
    """In-engine text -> vector embedding WITHOUT an external model:
    the feature-hashing ("hashing trick") TF-IDF vectorizer
    (sklearn's HashingVectorizer + TfidfTransformer compute shape).
    token -> bucket = hash(token) mod dim; weight = tf * smooth-idf
    (the tf_idf_terms formulation); returns ``(id_col, vec
    array<double>)`` dense vectors ready for the ANN tier -- lexical
    semantic search with zero model dependencies, and the honest
    in-engine stand-in wherever a neural embedding seam is offline.

    Plan: one explode + (doc, bucket) count; bucket doc-frequency
    reduced FROM the tf frame (no second corpus pass); the dense
    vector built per doc by ``dim`` conditional aggregates, or above
    256 dims by zipping the doc's bucket map against the 0..dim-1 key
    map -- pure JVM, one groupBy. Exact mode buckets via the md5-derived h60
    (oracle-reproducible); fast mode uses the xxhash64 intrinsic.
    Weights are rounded to 9 dp so downstream cosine folds are
    engine-reproducible."""
    from ..modes import exact_mode
    from .dedup import h60
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), "\\s+"))
        .alias("_t"))
    bucket = (h60(F.col("_t")) % dim if exact_mode()
              else F.pmod(F.xxhash64("_t"), F.lit(dim))).cast("int")
    tf = (toks.select(id_col, bucket.alias("b"))
          .groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("tf")))
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    dfb = (tf.groupBy("b").agg(F.count(F.lit(1)).alias("_df"))
           .crossJoin(F.broadcast(n_docs)))
    idf = F.log((F.col("_n") + F.lit(1)).cast("double")
                / (F.col("_df") + 1)) + 1
    sparse = (tf.join(dfb, "b")
              .select(id_col, "b",
                      F.round(F.col("tf") * idf, 9).alias("w")))
    if dim <= 256:
        # Densify via ``dim`` conditional aggregates: each bucket is
        # unique per doc (tf grouped by (id, b)), so sum(when(b=i, w))
        # is exactly w-or-NULL and coalesce(_, 0.0) is the dense entry.
        # This is whole-stage-codegen'd hash aggregation; the previous
        # map_from_entries + higher-order transform + per-dim
        # element_at probe evaluated the lambda INTERPRETED at
        # O(dim x entries) per row (measured ~240 us/row -- the
        # materialization cost of every consumer of this vectorizer).
        # Value-identical: same w doubles, same 0.0 fill.
        return (sparse.groupBy(id_col)
                .agg(*[F.coalesce(
                    F.sum(F.when(F.col("b") == i, F.col("w"))),
                    F.lit(0.0)).alias(f"_v{i}") for i in range(dim)])
                .select(id_col,
                        F.array(*[F.col(f"_v{i}")
                                  for i in range(dim)]).alias("vec")))
    # very wide vectors: dim agg expressions would blow up the plan.
    # Zip the doc's sparse bucket map against a dense 0..dim-1 key map:
    # the result keeps the first map's key order, so its values (NULL
    # for an absent bucket, filled with 0.0) are the dense vector. The
    # sparse map must stay an ARGUMENT (built once per doc), never be
    # referenced inside a per-dimension lambda: an aggregate output
    # referenced once is inlined into its consumer (CollapseProject),
    # so there it is rebuilt per dimension -- O(dim x entries) per doc.
    keys = F.map_from_arrays(F.sequence(F.lit(0), F.lit(dim - 1)),
                             F.array_repeat(F.lit(0.0), dim))
    vec = F.transform(
        F.map_values(F.map_zip_with(keys, F.col("_m"),
                                    lambda b, zero, w: w)),
        lambda w: F.coalesce(w, F.lit(0.0)))
    return (sparse.groupBy(id_col)
            .agg(F.map_from_entries(F.collect_list(F.struct("b", "w")))
                 .alias("_m"))
            .select(id_col, vec.alias("vec")))


def pmi_collocations(df: DataFrame, *, text_col: str = "text",
                     top_n: int = 20, min_count: int = 5) -> DataFrame:
    """Top-``top_n`` adjacent-bigram collocations by pointwise mutual
    information (Church & Hanks 1990): pmi = ln(p(w1,w2) / (p(w1)
    p(w2))) = ln(c12 * W^2 / (T * c1 * c2)) over exact corpus counts
    -- the classic phrase/collocation extractor ("new york" scores
    high, "of the" does not). ``min_count`` drops rare pairs whose PMI
    is an artifact of sparsity (the standard guard).

    Plan: REUSES bigram_lm_counts' one-pass count tables; the bigram
    frame joins the unigram table twice (hash joins on the words;
    Catalyst broadcasts small vocabularies), totals ride as broadcast
    one-row aggregates, and the global top-n compiles to
    TakeOrderedAndProject (per-partition top-n + driver merge of
    n*partitions candidates -- no global sort). PMI is rounded to 9 dp
    (ln ulps); ties rank (w1, w2) alphabetically."""
    bigrams, unigrams, _ = bigram_lm_counts(df, text_col=text_col)
    tot_b = bigrams.agg(F.sum("c12").cast("bigint").alias("_T"))
    tot_w = unigrams.agg(F.sum("c1").cast("bigint").alias("_W"))
    u2 = unigrams.select(F.col("w1").alias("w2"),
                         F.col("c1").alias("c2"))
    j = (bigrams.where(F.col("c12") >= min_count)
         .join(unigrams, "w1").join(u2, "w2")
         .crossJoin(F.broadcast(tot_b)).crossJoin(F.broadcast(tot_w)))
    pmi = F.round(F.log(
        (F.col("c12").cast("double") * F.col("_W") * F.col("_W"))
        / (F.col("_T").cast("double") * F.col("c1") * F.col("c2"))), 9)
    return (j.select("w1", "w2",
                     F.col("c12").cast("bigint").alias("c12"),
                     pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w1", "w2").limit(top_n))


def lm_doc_logprob(df: DataFrame, bigrams: DataFrame, unigrams: DataFrame,
                   vocab, *, id_col: str = "doc_id",
                   text_col: str = "text", k: float = 0.5,
                   group_cols: list[str] | None = None,
                   out_col: str = "avg_logprob") -> DataFrame:
    """Score each doc by its average per-bigram log-probability under
    the add-k-smoothed bigram LM: sum(ln((c12+k)/(c1+k*V)))/n_bigrams.
    Lower = less like the training corpus (CCNet drops the worst
    percentiles). Docs with <2 tokens score NULL. ``vocab`` is either
    the lazy one-row frame bigram_lm_counts returns (broadcast-joined
    -- the whole train+score composition stays one job) or a plain int
    (for counts reloaded from a stored artifact).

    Plan shape: explode doc bigrams, LEFT join the count tables (small
    vocabularies broadcast; web-scale count tables hash-join on the
    bigram key -- either way the DOC text rides only the explode),
    one groupBy on doc id. Per-term logs are rounded to 9 dp so the
    score is reproducible bit-for-bit across engines (libm log agrees
    to 1 ulp; the rounding absorbs it).

    ``group_cols`` scores each doc under ITS group's LM (pass the
    bigram_lm_counts group_cols frames): count joins and the vocab
    join gain the group key, so a French doc is judged by the French
    model -- without this, a global LM systematically scores minority
    languages as 'low quality' and a global tail-drop strips them
    (the misfilter cur_pretrain_multilang plants and pins)."""
    gn = list(group_cols or [])
    toks = tokenize_ws(text_col)
    big = (df.select(F.col(id_col), *[F.col(c) for c in gn],
                     toks.alias("_t"))
           .select(id_col, *gn, F.explode(F.when(
               F.size("_t") >= 2,
               F.transform(F.sequence(F.lit(0), F.size("_t") - 2),
                           lambda i: F.struct(
                               F.col("_t")[i].alias("w1"),
                               F.col("_t")[i + 1].alias("w2"))))
               .otherwise(F.array())).alias("_b"))
           .select(id_col, *gn, "_b.w1", "_b.w2"))
    joined = (big.join(bigrams, gn + ["w1", "w2"], "left")
              .join(unigrams, gn + ["w1"], "left"))
    if isinstance(vocab, DataFrame):
        if gn:
            joined = joined.join(
                F.broadcast(vocab.withColumnRenamed("vocab", "_vocab")),
                gn, "left")
        else:
            joined = joined.crossJoin(
                F.broadcast(vocab.select(F.col("vocab").alias("_vocab"))))
        kv = F.lit(float(k)) * F.col("_vocab").cast("double")
    else:
        kv = F.lit(float(k * vocab))
    p = ((F.coalesce(F.col("c12"), F.lit(0)) + F.lit(float(k)))
         / (F.coalesce(F.col("c1"), F.lit(0)) + kv))
    term = F.round(F.log(p), 9)
    # decimal-sum-then-one-double-division (the repo's avg policy):
    # per-term values are exact 9dp decimals, so the sum is exact and
    # order-independent; the single division is then bit-identical
    # across engines
    n = F.count(F.lit(1))
    return (joined.groupBy(id_col)
            .agg(F.round(F.sum(term.cast("decimal(28,9)")).cast("double")
                         / n, 6).alias(out_col),
                 n.cast("bigint").alias("n_bigrams")))


def tf_idf_terms(df: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text", top_n: int = 5) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document (the classic keyword
    extraction / relevance weighting pass; smooth idf =
    ln((N+1)/(df+1)) + 1, sklearn's formulation). Returns
    (id_col, term, tf, score, rn) with rn 1..top_n ordered by
    (score desc, term) -- the alphabetic tiebreak makes the output
    deterministic and SQL-reproducible.

    Plan shape: one explode, a (doc, term) count, a term-level document
    frequency reduced FROM the tf frame (already one row per (doc,
    term), so df(term) is a plain count -- no second corpus pass), a
    broadcast-able term join, and a per-doc window. Scores are rounded
    to 9 dp (absorbs libm ln's 1-ulp engine differences). The doc
    count N rides as a broadcast one-row aggregate, not a driver-side
    .count() -- the whole extraction is ONE lazy job."""
    from pyspark.sql import Window as W
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    tf = (df.select(F.col(id_col), F.explode(tokenize_ws(text_col))
                    .alias("term"))
          .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = (tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
             .crossJoin(F.broadcast(n_docs)))
    idf = F.log((F.col("_n") + F.lit(1)).cast("double")
                / (F.col("_df") + 1)) + 1
    scored = (tf.join(dfreq, "term")
              .withColumn("score", F.round(F.col("tf") * idf, 9)))
    w = W.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= top_n)
            .select(id_col, "term", F.col("tf").cast("bigint").alias("tf"),
                    "score", F.col("rn").cast("bigint").alias("rn")))


# --------------------------------------------------------------------------
# unicode / text normalization (the pre-tokenization step every corpus
# pipeline runs before fingerprint/line/span dedup: RefinedWeb "trafilatura
# + fixes", CCNet's pre-hash lowercase/accent pass, Gopher's control strip)

def _nfc_lite_pairs() -> list[tuple[str, str]]:
    """(decomposed, precomposed) pairs for the frequent Latin combining
    sequences -- base letters a e i o u n c y with grave/acute/
    circumflex/tilde/diaeresis/cedilla, both cases, kept only where NFC
    actually composes to ONE codepoint. Derived from unicodedata at
    import (driver-side, deterministic); the full-NFC path handles
    everything else."""
    import unicodedata
    out = []
    for base in "aeiouncyAEIOUNCY":
        for comb in ("̀", "́", "̂", "̃",
                     "̈", "̧"):
            comp = unicodedata.normalize("NFC", base + comb)
            if len(comp) == 1:
                out.append((base + comb, comp))
    return out


def _mojibake_pairs() -> list[tuple[str, str]]:
    """(garbled, intended) pairs for the classic UTF-8-bytes-decoded-as-
    cp1252/latin-1 mojibake over the common Latin punctuation/accents
    (e.g. '\u00e2\u20ac\u2122' for a right single quote U+2019,
    '\u00c3\u00a9' for '\u00e9'). Three decodings are generated where
    they differ and decode at all: cp1252 (leaves five bytes unmapped),
    latin-1 (maps them to C1 controls), and the mixed per-byte form
    real decoders emit (cp1252 where mapped, raw codepoint for the five
    holes -- the '\u00e2\u20ac' + U+009D right-quote seen in the wild).
    Sorted longest-first then lexicographic so the replace chain is
    deterministic and no shorter source shadows a longer one."""
    chars = ("\u2018\u2019\u201c\u201d\u2013\u2014\u2026\u00ab\u00bb"
             "\u00b0\u00e9\u00e8\u00ea\u00eb\u00e1\u00e0\u00e2\u00e4"
             "\u00e3\u00ed\u00ec\u00ee\u00ef\u00f3\u00f2\u00f4\u00f6"
             "\u00f5\u00fa\u00f9\u00fb\u00fc\u00f1\u00e7\u00fd\u00c9"
             "\u00c8\u00c1\u00c0\u00cd\u00d3\u00da\u00d1\u00c7\u00dc"
             "\u00c4\u00d6\u00a0")

    def _mixed(b: bytes) -> str:
        out = []
        for x in b:
            try:
                out.append(bytes([x]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(x))
        return "".join(out)

    pairs = set()
    for ch in chars:
        b = ch.encode("utf-8")
        variants = {_mixed(b)}
        for enc in ("cp1252", "latin-1"):
            try:
                variants.add(b.decode(enc))
            except UnicodeDecodeError:
                pass
        for m in variants:
            if m != ch:
                # the intended NBSP repairs to a plain space directly
                pairs.add((m, " " if ch == "\u00a0" else ch))
    return sorted(pairs, key=lambda p: (-len(p[0]), p[0]))


NORMALIZE_REPLACEMENTS: list[tuple[str, str]] = (
    _mojibake_pairs() + _nfc_lite_pairs())

# class patterns shared with the SQL oracle (Java regex and DuckDB RE2
# both accept \x{...} codepoint escapes and byte-range classes)
_CTRL_PAT = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]"
_ZW_PAT = r"[\x{200B}-\x{200D}\x{FEFF}\x{00AD}]"
_USPACE_PAT = r"[\x{00A0}\x{1680}\x{2000}-\x{200A}\x{202F}\x{205F}\x{3000}]"


def normalize_text(col: Column | str, *, nfc: str = "lite") -> Column:
    """Normalization kernel: mojibake repair -> NFC -> zero-width strip
    -> unicode-space fold -> control strip. ``nfc='lite'`` composes the
    frequent Latin combining sequences with a chain of LITERAL
    ``replace`` calls -- pure JVM, whole-stage codegen, zero Python,
    the 100-TB path (full NFC is not expressible in Spark SQL
    built-ins); ``nfc='full'`` routes the composition step through an
    Arrow-batched pandas_udf over Python's unicodedata -- exact NFC,
    for corpora with scripts beyond the lite table (the honest ICU
    seam: unicodedata IS the ICU-grade implementation available here).
    The two agree wherever the input's combining sequences are in the
    lite table (asserted in tests/test_curation_ops.py).

    Order matters: mojibake repair first (latin-1-garbled sequences
    contain C1 control codepoints the control strip would otherwise
    destroy), composition before the space fold (NBSP is both a moji
    target and a foldable space), controls last. Newlines and tabs
    survive (line structure feeds line-level dedup downstream)."""
    c = F.col(col) if isinstance(col, str) else col
    for src, dst in _mojibake_pairs():
        c = F.replace(c, F.lit(src), F.lit(dst))
    if nfc == "full":
        @F.pandas_udf("string")
        def _nfc(s: pd.Series) -> pd.Series:
            import unicodedata
            return s.map(lambda v: None if v is None
                         else unicodedata.normalize("NFC", v))
        c = _nfc(c)
    else:
        for src, dst in _nfc_lite_pairs():
            c = F.replace(c, F.lit(src), F.lit(dst))
    c = F.regexp_replace(c, _ZW_PAT, "")
    c = F.regexp_replace(c, _USPACE_PAT, " ")
    c = F.regexp_replace(c, _CTRL_PAT, "")
    return c


def sql_string_lit(s: str) -> str:
    """Render a Python string as a (DuckDB-safe) SQL string expression:
    printable runs as quoted literals, control/C1 codepoints as chr()
    calls -- raw control bytes in SQL text are a parser hazard."""
    parts, run = [], ""
    for ch in s:
        if ord(ch) < 0x20 or 0x7F <= ord(ch) <= 0xA0:
            if run:
                parts.append("'" + run.replace("'", "''") + "'")
                run = ""
            parts.append(f"chr({ord(ch)})")
        else:
            run += ch
    if run:
        parts.append("'" + run.replace("'", "''") + "'")
    return " || ".join(parts) if parts else "''"


def normalize_text_sql_stages(expr: str, chunk: int = 60) -> list[str]:
    """The DuckDB-oracle twin of ``normalize_text(nfc='lite')``: the
    IDENTICAL replacement table and class patterns rendered as nested
    replace()/regexp_replace() calls (generated from one shared table,
    so the two engines cannot drift). Returned as a LIST of stage
    expressions -- DuckDB's binder caps expression recursion at 128, so
    the ~140-replace chain is split into <=``chunk``-deep stages the
    caller threads through CTE columns; each stage after the first
    references the previous stage's output as ``_nrm``. Control/C1
    codepoints inside literals are emitted as chr() calls -- raw
    control bytes in SQL text are a parser hazard."""
    lit = sql_string_lit
    stages, out, depth = [], expr, 0
    for src, dst in NORMALIZE_REPLACEMENTS:
        out = f"replace({out}, {lit(src)}, {lit(dst)})"
        depth += 1
        if depth >= chunk:
            stages.append(out)
            out, depth = "_nrm", 0
    out = f"regexp_replace({out}, '{_ZW_PAT}', '', 'g')"
    out = f"regexp_replace({out}, '{_USPACE_PAT}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_CTRL_PAT}', '', 'g')"
    stages.append(out)
    return stages
