"""Text-analysis battery over the documents table (training-data
pipeline operators: token counting, quality scoring, language ID,
fingerprinting). Implementations live in bodo_spark.operators.text;
oracles mirror the exact same expressions in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import text as T
from ..rowframe import local_df
from ._util import QueryDef, bint, tbl

# DuckDB twin of operators.text.tokenize_ws size
_SQL_NTOK = "len(regexp_split_to_array(trim(text), '\\s+'))"


def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace + BPE-ish token counts, per language."""
    d = tbl(spark, sf, "documents")
    d = (d.withColumn("n_tokens", T.token_count("text"))
         .withColumn("n_bpe", T.bpe_ish_token_count("text")))
    return (d.groupBy("lang").agg(
        F.sum("n_tokens").alias("sum_tokens"),
        F.sum("n_bpe").alias("sum_bpe_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang"))


_TEXT_TOK_SQL = f"""
SELECT lang,
       CAST(SUM({_SQL_NTOK}) AS BIGINT) AS sum_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')))
            AS BIGINT) AS sum_bpe_tokens,
       MAX({_SQL_NTOK}) AS max_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang
"""


def text_quality_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Composite quality score histogram per source (C4-style filters:
    length band, mean token length, punctuation ratio)."""
    d = tbl(spark, sf, "documents").withColumn("q", T.quality_score("text"))
    return (d.groupBy("source").agg(
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.count_if(F.col("q") >= 0.99).alias("n_keep"),
        F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source"))


_TEXT_QUALITY_SQL = f"""
WITH scored AS (
  SELECT source,
         ((CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1 ELSE 0 END
           + CASE WHEN CAST(length(text) AS DOUBLE) / greatest({_SQL_NTOK}, 1) >= 3.0
                   AND CAST(length(text) AS DOUBLE) / greatest({_SQL_NTOK}, 1) <= 12.0
                  THEN 1 ELSE 0 END
           + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))
                       AS DOUBLE) / greatest(length(text), 1) <= 0.1
                  THEN 1 ELSE 0 END)) / 3.0 AS q
  FROM documents)
SELECT source, round(avg(q), 6) AS avg_quality,
       CAST(count_if(q >= 0.99) AS BIGINT) AS n_keep, COUNT(*) AS n_docs
FROM scored GROUP BY source ORDER BY source
"""


def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-vote language ID vs the labeled lang column: confusion
    counts per (actual, predicted)."""
    d = tbl(spark, sf, "documents").withColumn("pred", T.lang_id("text"))
    return (d.groupBy("lang", "pred")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy("lang", "pred"))


def _langid_fragments() -> tuple[str, str]:
    """(score column list, argmax CASE) -- shared by the lang-id oracle
    and the end-to-end pipeline oracle."""
    score_cols = []
    for lang, words in sorted(T.LANG_MARKERS.items()):
        hits = " + ".join(
            f"CASE WHEN contains(' ' || text || ' ', ' {w} ') THEN 1 ELSE 0 END"
            for w in words)
        score_cols.append(f"({hits}) AS s_{lang}")
    langs = sorted(T.LANG_MARKERS)
    # same argmax-with-alphabetic-tiebreak as operators.text.lang_id
    best = "CASE "
    for lang in langs:
        others = [o for o in langs if o != lang]
        conds = []
        for o in others:
            cmp = ">" if o < lang else ">="
            conds.append(f"s_{lang} {cmp} s_{o}")
        best += f"WHEN {' AND '.join(conds)} THEN '{lang}' "
    best += "END"
    return ", ".join(score_cols), best


def _langid_sql() -> str:
    score_cols, best = _langid_fragments()
    return f"""
WITH scored AS (SELECT lang, {score_cols} FROM documents)
SELECT lang, {best} AS pred, COUNT(*) AS n
FROM scored GROUP BY 1, 2 ORDER BY lang, pred
"""


def text_fingerprint_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Canonical md5 fingerprint -> distinct-document counts per source
    (the exact-dedup map at corpus scale)."""
    d = tbl(spark, sf, "documents").withColumn("fp", T.fingerprint("text"))
    return (d.groupBy("source").agg(
        F.countDistinct("fp").alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
        F.min("fp").alias("min_fp"))
        .orderBy("source"))


_TEXT_FP_SQL = """
WITH fp AS (
  SELECT source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp
  FROM documents)
SELECT source, COUNT(DISTINCT fp) AS n_unique, COUNT(*) AS n_docs,
       MIN(fp) AS min_fp
FROM fp GROUP BY source ORDER BY source
"""


def text_stopword_punct(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword ratio (en) + punctuation ratio aggregates per lang."""
    d = (tbl(spark, sf, "documents")
         .withColumn("swr", T.stopword_ratio("text", "en"))
         .withColumn("pr", T.punct_ratio("text")))
    return (d.groupBy("lang").agg(
        F.round(F.avg("swr"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("pr"), 6).alias("avg_punct_ratio"))
        .orderBy("lang"))


_TEXT_SW_SQL = f"""
WITH r AS (
  SELECT lang,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                              t -> list_contains(['the','and','of','to','is'], t)))
              AS DOUBLE) / greatest({_SQL_NTOK}, 1) AS swr,
         CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))
              AS DOUBLE) / greatest(length(text), 1) AS pr
  FROM documents)
SELECT lang, round(avg(swr), 6) AS avg_stopword_ratio,
       round(avg(pr), 6) AS avg_punct_ratio
FROM r GROUP BY lang ORDER BY lang
"""



def text_repetition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021): duplicate
    bigram fraction and top-bigram fraction per language, plus the
    would-be-filtered count (dup fraction > 0.5). Pure JVM array
    expressions -- no explode, no shuffle before the final group."""
    d = (tbl(spark, sf, "documents")
         .withColumn("dup2", T.dup_ngram_fraction("text", 2))
         .withColumn("top2", T.top_ngram_fraction("text", 2)))
    return (d.groupBy("lang").agg(
        F.round(F.avg("dup2"), 6).alias("avg_dup_bigram"),
        F.round(F.avg("top2"), 6).alias("avg_top_bigram"),
        F.count_if(F.col("dup2") > 0.5).alias("n_flagged"))
        .orderBy("lang"))


# DuckDB twin of word_shingles(k=2, distinct=False)
_SQL_BIGRAMS = (
    "CASE WHEN len({w}) >= 2 THEN "
    "list_transform(range(1, len({w})), i -> array_to_string(({w})[i:i+1], ' ')) "
    "ELSE [trim(text)] END"
).format(w="regexp_split_to_array(trim(text), '\\s+')")

_TEXT_REP_SQL = f"""
WITH g AS (SELECT lang, {_SQL_BIGRAMS} AS grams FROM documents),
m AS (
  SELECT lang,
         1 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE) AS dup2,
         list_max(list_transform(list_distinct(grams),
                  x -> len(list_filter(grams, y -> y = x))))
           / CAST(len(grams) AS DOUBLE) AS top2
  FROM g)
SELECT lang, round(avg(dup2), 6) AS avg_dup_bigram,
       round(avg(top2), 6) AS avg_top_bigram,
       CAST(count_if(dup2 > 0.5) AS BIGINT) AS n_flagged
FROM m GROUP BY lang ORDER BY lang
"""


def text_bpe_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """Real BPE, end-to-end: distributed word-frequency count -> driver
    merge-table training (deterministic tiebreaks) -> Arrow-batched
    encode of the full corpus. The encoding itself is not
    SQL-expressible, so the gate follows the engine-checked-invariant
    pattern (see agg_sample): exact word/char totals hash-compare for
    real, and the booleans assert the tokenizer laws -- every doc's
    tokens concatenate back to its words (lossless), token counts lie
    in [n_words, n_chars], and the 50 merges strictly compressed."""
    from ..operators import bpe as B
    d = tbl(spark, sf, "documents")
    merges = B.train_bpe(B.word_frequencies(d, "text"), num_merges=50)
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    t = (d.withColumn("toks", B.bpe_tokens("text", merges))
         .withColumn("n_words", F.size(words))
         .withColumn("n_chars", F.length(F.regexp_replace(
             F.trim(F.lower(F.col("text"))), r"\s+", "")))
         .withColumn("rt", F.array_join(F.col("toks"), "")
                     == F.array_join(words, "")))
    return (t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("sum_words"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.bool_and("rt").alias("roundtrip_ok"),
        F.bool_and(F.size("toks") <= F.col("n_chars")).alias("le_chars"),
        F.bool_and(F.size("toks") >= F.col("n_words")).alias("ge_words"),
        (F.sum(F.size("toks")) < F.sum("n_chars")).alias("compressed"))
        .orderBy("lang"))


_TEXT_BPE_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\\s+')))
            AS BIGINT) AS sum_words,
       CAST(SUM(len(regexp_replace(trim(lower(text)), '\\s+', '', 'g')))
            AS BIGINT) AS sum_chars,
       TRUE AS roundtrip_ok, TRUE AS le_chars, TRUE AS ge_words,
       TRUE AS compressed
FROM documents GROUP BY lang ORDER BY lang
"""


def text_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end training-data pipeline in one declarative plan:
    quality-filter (C4-style) -> exact near-dup removal by canonical
    fingerprint (keep lowest doc_id) -> per-detected-language corpus
    budget (docs, whitespace tokens, distinct sources). Every stage is a
    JVM expression; the whole flow is one Catalyst plan with two
    shuffles (fingerprint window + final group)."""
    from pyspark.sql import Window as W

    d = (tbl(spark, sf, "documents")
         .withColumn("q", T.quality_score("text"))
         .withColumn("fp", T.fingerprint("text"))
         .withColumn("pred", T.lang_id("text"))
         .withColumn("n_tokens", T.token_count("text")))
    kept = d.where(F.col("q") >= 0.66)
    w = W.partitionBy("fp").orderBy("doc_id")
    deduped = (kept.withColumn("rn", F.row_number().over(w))
               .where(F.col("rn") == 1))
    return (deduped.groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
                 F.countDistinct("source").alias("n_sources"))
            .orderBy("pred"))


def _pipeline_sql() -> str:
    score_cols, best = _langid_fragments()
    return f"""
WITH scored AS (
  SELECT doc_id, source, text, {score_cols},
         ((CASE WHEN length(text) >= 100 AND length(text) <= 20000 THEN 1 ELSE 0 END
           + CASE WHEN CAST(length(text) AS DOUBLE) / greatest({_SQL_NTOK}, 1) >= 3.0
                   AND CAST(length(text) AS DOUBLE) / greatest({_SQL_NTOK}, 1) <= 12.0
                  THEN 1 ELSE 0 END
           + CASE WHEN CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g'))
                       AS DOUBLE) / greatest(length(text), 1) <= 0.1
                  THEN 1 ELSE 0 END)) / 3.0 AS q,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),
                                 '\\s+', ' ', 'g'))) AS fp,
         {_SQL_NTOK} AS n_tokens
  FROM documents),
kept AS (SELECT * FROM scored WHERE q >= 0.66),
deduped AS (
  SELECT *, {best} AS pred FROM kept
  QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1)
SELECT pred, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM deduped GROUP BY pred ORDER BY pred
"""



def text_lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality pass (operators/text.py bigram_lm_counts /
    lm_doc_logprob): train an add-0.5-smoothed bigram LM on the even
    half of the corpus, score the odd half, report per-lang doc counts,
    bigram mass, and the decimal-exact sum of per-doc average
    log-probabilities. Per-term ln is rounded to 9 dp (absorbs libm's
    1-ulp engine differences); per-doc averages are rounded to 6 dp and
    summed as DECIMAL so the aggregate is order-independent."""
    d = tbl(spark, sf, "documents")
    train = d.where(F.col("doc_id") % 2 == 0)
    score = d.where(F.col("doc_id") % 2 == 1)
    bigrams, unigrams, vocab = T.bigram_lm_counts(train)
    scored = T.lm_doc_logprob(score, bigrams, unigrams, vocab, k=0.5)
    return (score.select("doc_id", "lang").join(scored, "doc_id")
            .groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_bigrams").cast("bigint").alias("sum_bigrams"),
                 F.sum(F.col("avg_logprob").cast("decimal(18,6)"))
                 .cast("double").alias("sum_avg_lp"))
            .orderBy("lang"))


_SQL_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_TEXT_LM_SQL = f"""
WITH train AS (SELECT {_SQL_TOKS} AS t FROM documents WHERE doc_id % 2 = 0),
test AS (SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
         WHERE doc_id % 2 = 1),
tbig AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM train, UNNEST(range(1, len(t))) AS r(i)),
bigc AS (SELECT w1, w2, COUNT(*) AS c12 FROM tbig GROUP BY w1, w2),
unic AS (SELECT w1, COUNT(*) AS c1
         FROM (SELECT unnest(t) AS w1 FROM train) GROUP BY w1),
v AS (SELECT COUNT(*) AS vocab FROM unic),
sbig AS (
  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
  FROM test, UNNEST(range(1, len(t))) AS r(i)),
terms AS (
  SELECT s.doc_id, s.lang,
         round(ln((COALESCE(b.c12, 0) + 0.5)
                  / (COALESCE(u.c1, 0) + 0.5 * (SELECT vocab FROM v))), 9)
           AS lp
  FROM sbig s
  LEFT JOIN bigc b ON s.w1 = b.w1 AND s.w2 = b.w2
  LEFT JOIN unic u ON s.w1 = u.w1),
docs AS (
  SELECT doc_id, lang,
         round(CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE) / COUNT(*), 6)
           AS avg_lp,
         COUNT(*) AS nb
  FROM terms GROUP BY doc_id, lang)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS sum_bigrams,
       CAST(SUM(CAST(avg_lp AS DECIMAL(18,6))) AS DOUBLE) AS sum_avg_lp
FROM docs GROUP BY lang ORDER BY lang
"""


def text_tfidf_terms(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF keyword extraction (operators/text.py tf_idf_terms): the
    gate pins, per language, the (doc, term) row count, the decimal
    sum of rounded scores, and an order-insensitive md5 over
    "doc:term:rn" triples -- WHICH terms rank where, not just how
    many."""
    d = tbl(spark, sf, "documents")
    top = T.tf_idf_terms(d, top_n=3)
    j = d.select("doc_id", "lang").join(top, "doc_id")
    trip = F.concat_ws(":", F.col("doc_id").cast("string"),
                       F.col("term"), F.col("rn").cast("string"))
    return (j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("score").cast("decimal(28,9)")).cast("double")
        .alias("sum_score"),
        F.md5(F.array_join(F.array_sort(F.collect_list(F.md5(trip))), ""))
        .alias("trip_hash"))
        .orderBy("lang"))


_TEXT_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS dfr FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS nd FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(tf.tf * (ln(((SELECT nd FROM n) + 1.0) / (dfr + 1)) + 1), 9)
           AS score
  FROM tf JOIN dfreq USING (term)),
top AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS rn
  FROM scored QUALIFY rn <= 3)
SELECT d.lang, COUNT(*) AS n_rows,
       CAST(SUM(CAST(t.score AS DECIMAL(28,9))) AS DOUBLE) AS sum_score,
       md5(string_agg(md5(concat_ws(':', CAST(t.doc_id AS VARCHAR), t.term,
                                    CAST(t.rn AS VARCHAR))), ''
                      ORDER BY md5(concat_ws(':', CAST(t.doc_id AS VARCHAR),
                                             t.term,
                                             CAST(t.rn AS VARCHAR)))))
         AS trip_hash
FROM top t JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang
"""


# --------------------------------------------------------------------------
# unicode/text normalization: a dirt string exercising every kernel stage
# (decomposed accent, cp1252 AND latin-1 mojibake, a bell control, a
# zero-width space, an NBSP) is planted into odd-id docs; the oracle
# rebuilds the identical dirty page from chr() codepoints and runs the
# generated replace-chain twin, pinning every cleaned page's md5.

_DIRT = ("cafe\u0301 na\u00c3\u00afve \u00e2\u20ac\u0153q"
         "\u00e2\u20ac\u009d \u0007\u200bz\u00a0w .")


def text_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """Normalization kernel gate (operators/text.normalize_text, the
    pre-tokenization pass): per-lang doc counts, changed-doc counts,
    surviving char mass, and an order-insensitive md5 over every
    cleaned page -- exact output text, not just counts."""
    d = tbl(spark, sf, "documents")
    dirt = F.when(F.col("doc_id") % 2 > 0, F.lit(_DIRT))
    dirty = F.concat_ws(" ", F.col("text"), dirt)
    s = d.select("lang", dirty.alias("page"),
                 T.normalize_text(dirty).alias("clean"))
    return (s.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("clean") != F.col("page")).cast("long"))
        .alias("n_changed"),
        F.sum(F.length("clean")).cast("bigint").alias("sum_chars"),
        F.md5(F.array_join(F.array_sort(F.collect_list(F.md5("clean"))),
                           "")).alias("text_hash"))
        .orderBy("lang"))


def _normalize_sql() -> str:
    stages = T.normalize_text_sql_stages("page")
    ctes = ["paged AS (SELECT lang, concat_ws(' ', text, CASE WHEN "
            f"doc_id % 2 > 0 THEN {T.sql_string_lit(_DIRT)} END) AS page "
            "FROM documents)"]
    prev = "paged"
    for i, st in enumerate(stages):
        ctes.append(f"n{i} AS (SELECT lang, page, {st} AS _nrm "
                    f"FROM {prev})")
        prev = f"n{i}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN _nrm <> page THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(len(_nrm)) AS BIGINT) AS sum_chars,
       md5(string_agg(md5(_nrm), '' ORDER BY md5(_nrm))) AS text_hash
FROM {prev} GROUP BY lang ORDER BY lang
""")


_NUMS = " ".join(str(i % 10) for i in range(40))
_BULLETS = "- alpha beta\n- gamma delta\n- epsilon the of"


def text_gopher_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher quality rules (operators/text.gopher_rules): per-lang
    pass counts for every rule. Planted dirt makes each rule
    non-vacuous -- every 7th doc gets a #-symbol run (symbol ratio),
    every 11th becomes an all-bullet page, every 13th gains
    ellipsis-terminated lines, every 17th a numeric-token run (alpha
    fraction); the word-count band discriminates naturally (docs span
    10-99 words around the 50 floor). The oracle re-derives the dirt
    AND every verdict from exact integer counts."""
    d = tbl(spark, sf, "documents").select("doc_id", "lang", "text")
    t = F.col("text")
    dirty = (F.when(F.col("doc_id") % 7 == 0,
                    F.concat(t, F.lit(" " + "# " * 12)))
             .when(F.col("doc_id") % 11 == 0, F.lit(_BULLETS))
             .when(F.col("doc_id") % 13 == 0,
                   F.concat(t, F.lit("\nfoo...\nbar...")))
             .when(F.col("doc_id") % 17 == 0,
                   F.concat(t, F.lit(" " + _NUMS)))
             .otherwise(t))
    g = d.select("lang", T.gopher_rules(dirty).alias("_g"))
    aggs = [F.sum(F.col(f"_g.{r}").cast("int")).cast("bigint")
            .alias(f"n_{r}")
            for r in ("word_ok", "wl_ok", "sym_ok", "bullet_ok",
                      "ellipsis_ok", "alpha_ok", "stop_ok", "pass_all")]
    return (g.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"), *aggs)
            .orderBy("lang"))


def _gopher_sql() -> str:
    hashes = " " + "# " * 12
    stop_expr = " + ".join(
        "CAST(list_contains(list_transform("
        "regexp_split_to_array(trim(text), '\\s+'), "
        f"t -> lower(t)), '{w}') AS INT)"
        for w in ("the", "be", "to", "of", "and", "that",
                  "have", "with"))
    return f"""
WITH dirty AS (
  SELECT lang,
         CASE WHEN doc_id % 7 = 0 THEN text || '{hashes}'
              WHEN doc_id % 11 = 0
                THEN '- alpha beta' || chr(10) || '- gamma delta'
                     || chr(10) || '- epsilon the of'
              WHEN doc_id % 13 = 0
                THEN text || chr(10) || 'foo...' || chr(10) || 'bar...'
              WHEN doc_id % 17 = 0 THEN text || ' {_NUMS}'
              ELSE text END AS text
  FROM documents),
feat AS (
  SELECT lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         list_sum(list_transform(regexp_split_to_array(trim(text),
                                                       '\\s+'),
                                 t -> length(t))) AS sum_wl,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
         greatest(len(string_split(text, chr(10))), 1) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
             l -> regexp_matches(trim(l), '^[-*•]'))) AS n_bullet,
         len(list_filter(string_split(text, chr(10)),
             l -> ends_with(trim(l), '...'))) AS n_ell_lines,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
             t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
         {stop_expr} AS n_stop
  FROM dirty),
verdicts AS (
  SELECT lang,
         (n_words >= 50 AND n_words <= 100000) AS word_ok,
         (sum_wl / greatest(n_words, 1) >= 3.0
          AND sum_wl / greatest(n_words, 1) <= 10.0) AS wl_ok,
         ((n_hash + n_ell) / greatest(n_words, 1) <= 0.1) AS sym_ok,
         (CAST(n_bullet AS DOUBLE) / n_lines <= 0.9) AS bullet_ok,
         (CAST(n_ell_lines AS DOUBLE) / n_lines <= 0.3) AS ellipsis_ok,
         (CAST(n_alpha AS DOUBLE) / greatest(n_words, 1) >= 0.8)
           AS alpha_ok,
         (n_stop >= 2) AS stop_ok
  FROM feat)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(word_ok AS INT)) AS BIGINT) AS n_word_ok,
       CAST(SUM(CAST(wl_ok AS INT)) AS BIGINT) AS n_wl_ok,
       CAST(SUM(CAST(sym_ok AS INT)) AS BIGINT) AS n_sym_ok,
       CAST(SUM(CAST(bullet_ok AS INT)) AS BIGINT) AS n_bullet_ok,
       CAST(SUM(CAST(ellipsis_ok AS INT)) AS BIGINT) AS n_ellipsis_ok,
       CAST(SUM(CAST(alpha_ok AS INT)) AS BIGINT) AS n_alpha_ok,
       CAST(SUM(CAST(stop_ok AS INT)) AS BIGINT) AS n_stop_ok,
       CAST(SUM(CAST((word_ok AND wl_ok AND sym_ok AND bullet_ok
                      AND ellipsis_ok AND alpha_ok AND stop_ok)
                     AS INT)) AS BIGINT) AS n_pass_all
FROM verdicts GROUP BY lang ORDER BY lang
"""


# --------------------------------------------------------------------------
# BM25 lexical retrieval (operators/retrieval.py): queries are the first
# 8 tokens of docs 0-2 (self-retrieval makes the top rank non-trivial);
# the oracle re-derives the inverted index, df/N/avgdl, the Lucene idf,
# every per-term partial, the decimal sum, and the full ranking.

def text_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-5 over the documents table: the engine builds the
    inverted index (one corpus pass) and ranks 3 queries against the
    postings only; pins exact scores and the full ranking."""
    from ..operators import retrieval as R
    d = tbl(spark, sf, "documents")
    postings = R.bm25_index(d)
    queries = (d.where(F.col("doc_id") < 3)
               .select(F.col("doc_id").alias("q_id"),
                       F.array_join(F.slice(T.tokenize_ws("text"), 1, 8),
                                    " ").alias("q_text")))
    return R.bm25_topk(postings, queries, k=5).orderBy("q_id", "rn")


def _bm25_sql(k1: float = 1.2, b: float = 0.75) -> str:
    # constants embedded via repr so DuckDB parses the IDENTICAL doubles
    # the engine's F.lit()s hold (incl. k1+1 computed in Python)
    return f"""
WITH toks AS (
  SELECT doc_id, len({_SQL_TOKS}) AS dl, unnest({_SQL_TOKS}) AS term
  FROM documents),
tf AS (
  SELECT term, doc_id, COUNT(*) AS tf, dl
  FROM toks GROUP BY term, doc_id, dl),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
cstats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl
  FROM (SELECT doc_id, MAX(dl) AS dl FROM tf GROUP BY doc_id)),
q AS (
  SELECT doc_id AS q_id,
         array_to_string(({_SQL_TOKS})[1:8], ' ') AS q_text
  FROM documents WHERE doc_id < 3),
qt AS (
  SELECT DISTINCT q_id, term FROM (
    SELECT q_id, unnest(regexp_split_to_array(trim(q_text), '\\s+'))
             AS term
    FROM q)),
part AS (
  SELECT qt.q_id, tf.doc_id,
         round(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 9)
               * (tf.tf * {k1 + 1.0!r})
               / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * tf.dl
                  / (CAST(sum_dl AS DOUBLE) / n_docs))), 9) AS part
  FROM tf JOIN qt USING (term) JOIN dfreq USING (term) CROSS JOIN cstats),
scored AS (
  SELECT q_id, doc_id,
         round(CAST(SUM(CAST(part AS DECIMAL(28,9))) AS DOUBLE), 6)
           AS score
  FROM part GROUP BY q_id, doc_id)
SELECT q_id, doc_id, score,
       row_number() OVER (PARTITION BY q_id
                          ORDER BY score DESC, doc_id) AS rn
FROM scored QUALIFY rn <= 5 ORDER BY q_id, rn
"""


def text_bm25_append(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 index lifecycle gate (operators/retrieval.bm25_append):
    even-id docs are indexed first (the stored artifact), odd-id docs
    appended as a batch -- work proportional to the batch only -- and
    the SAME queries are ranked over the staged index. Shares
    text_bm25_topk's one-shot oracle verbatim: the two-batch index
    must produce the identical ranking."""
    from ..operators import retrieval as R
    d = tbl(spark, sf, "documents")
    base = R.bm25_index(d.where(F.col("doc_id") % 2 == 0))
    staged = R.bm25_append(base, d.where(F.col("doc_id") % 2 != 0))
    queries = (d.where(F.col("doc_id") < 3)
               .select(F.col("doc_id").alias("q_id"),
                       F.array_join(F.slice(T.tokenize_ws("text"), 1, 8),
                                    " ").alias("q_text")))
    return R.bm25_topk(staged, queries, k=5).orderBy("q_id", "rn")


def text_bm25_stored_prune(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index SERVING path (operators/retrieval.bm25_store_index
    + bm25_stored_topk): the inverted index is persisted term-bucket-
    partitioned (64 shards) with its stats artifacts, then the SAME 3
    queries are served reading ONLY their terms' shards (partition
    pruning, plan-asserted in test_plans). Shares text_bm25_topk's
    oracle verbatim: pruned serving must rank identically to the
    in-memory index."""
    import shutil
    import uuid

    from ..operators import retrieval as R
    d = tbl(spark, sf, "documents")
    stage = f"/tmp/bodo_spark_bm25idx_{uuid.uuid4().hex[:8]}"
    try:
        R.bm25_store_index(R.bm25_index(d), stage, n_term_buckets=64)
        queries = (d.where(F.col("doc_id") < 3)
                   .select(F.col("doc_id").alias("q_id"),
                           F.array_join(F.slice(T.tokenize_ws("text"),
                                                1, 8), " ")
                           .alias("q_text")))
        out = R.bm25_stored_topk(spark, stage, queries, k=5) \
            .orderBy("q_id", "rn")
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, doc_id long, score double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def text_bm25_stored_append(spark: SparkSession, sf: str) -> DataFrame:
    """Stored-index incremental APPEND (operators/retrieval.py
    bm25_stored_append): even doc ids build and store the sharded
    index; odd ids are appended IN PLACE -- postings into their term
    shards, term_stats via an additive file-pruned MERGE, corpus_stats
    under the guarded swap. Serving the appended store shares the
    one-shot oracle verbatim (the bm25_append one-shot-equivalence
    argument, now for the STORED layout end-to-end)."""
    import shutil
    import uuid

    from ..operators import retrieval as R
    d = tbl(spark, sf, "documents")
    b1 = d.where(F.col("doc_id") % 2 == 0)
    b2 = d.where(F.col("doc_id") % 2 == 1)
    stage = f"/tmp/bodo_spark_bm25sapp_{uuid.uuid4().hex[:8]}"
    try:
        R.bm25_store_index(R.bm25_index(b1), stage, n_term_buckets=64)
        R.bm25_stored_append(b2, stage)
        queries = (d.where(F.col("doc_id") < 3)
                   .select(F.col("doc_id").alias("q_id"),
                           F.array_join(F.slice(T.tokenize_ws("text"),
                                                1, 8), " ")
                           .alias("q_text")))
        out = R.bm25_stored_topk(spark, stage, queries, k=5) \
            .orderBy("q_id", "rn")
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, doc_id long, score double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        import glob as g
        for dd in g.glob(f"{stage}/term_stats.__*") + \
                g.glob(f"{stage}/corpus_stats.__*"):
            shutil.rmtree(dd, ignore_errors=True)


def text_bm25_stored_rollback(spark: SparkSession, sf: str) -> DataFrame:
    """Stored BM25 generation ROLLBACK (operators/store_swap.py --
    completing rollback parity across ALL THREE stored index families
    after ann_sq_stored_rollback / ann_pq_stored_rollback): the
    two-batch store is built the text_bm25_stored_append way (now
    serving == the one-shot oracle), then a GARBAGE batch -- the same
    even docs re-keyed to fresh ids, the double-ingest failure a
    dedup-upstream crash produces -- is appended with
    ``retain_history=True``, and the retained generation is restored.
    Serving after the rollback shares text_bm25_topk's oracle
    verbatim: the garbage append shifted N/avgdl/df for EVERY query
    term (BM25 scores are corpus-global), so only a real whole-store
    snapshot restore (postings + term_stats + corpus_stats together)
    can reproduce the scores."""
    import shutil
    import uuid

    from ..operators import retrieval as R
    from ..operators.store_swap import (restore_store_generation,
                                        store_generations)
    d = tbl(spark, sf, "documents")
    b1 = d.where(F.col("doc_id") % 2 == 0)
    b2 = d.where(F.col("doc_id") % 2 == 1)
    garbage = b1.withColumn(
        "doc_id", (F.col("doc_id") + F.lit(10_000_000)).cast("long"))
    stage = f"/tmp/bodo_spark_bm25rb_{uuid.uuid4().hex[:8]}"
    try:
        R.bm25_store_index(R.bm25_index(b1), stage, n_term_buckets=64)
        R.bm25_stored_append(b2, stage)
        gen = R.bm25_stored_append(garbage, stage,
                                   retain_history=True)
        assert gen == 0 and store_generations(stage) == [0]
        restore_store_generation(stage, 0)
        queries = (d.where(F.col("doc_id") < 3)
                   .select(F.col("doc_id").alias("q_id"),
                           F.array_join(F.slice(T.tokenize_ws("text"),
                                                1, 8), " ")
                           .alias("q_text")))
        out = R.bm25_stored_topk(spark, stage, queries, k=5) \
            .orderBy("q_id", "rn")
        rows = [tuple(r) for r in out.collect()]
        return local_df(
            spark,
            rows, "q_id long, doc_id long, score double, rn long")
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        import glob as g
        for dd in g.glob(f"{stage}.__*"):
            shutil.rmtree(dd, ignore_errors=True)


def text_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """PMI collocation extraction (operators/text.pmi_collocations):
    the top-20 adjacent bigrams by pointwise mutual information with
    min_count=5. Pins WHICH pairs, their exact counts, and the
    9-dp PMI values."""
    d = tbl(spark, sf, "documents")
    return T.pmi_collocations(d, top_n=20, min_count=5)


_TEXT_COLLOC_SQL = f"""
WITH corp AS (SELECT {_SQL_TOKS} AS t FROM documents),
tbig AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM corp, UNNEST(range(1, len(t))) AS r(i)),
bigc AS (SELECT w1, w2, COUNT(*) AS c12 FROM tbig GROUP BY w1, w2),
unic AS (SELECT w1, COUNT(*) AS c1
         FROM (SELECT unnest(t) AS w1 FROM corp) GROUP BY w1),
tot AS (SELECT (SELECT SUM(c12) FROM bigc) AS T,
               (SELECT SUM(c1) FROM unic) AS W),
scored AS (
  SELECT b.w1, b.w2, b.c12,
         round(ln((CAST(b.c12 AS DOUBLE) * W * W)
                  / (CAST(T AS DOUBLE) * u1.c1 * u2.c1)), 9) AS pmi
  FROM bigc b
  JOIN unic u1 ON b.w1 = u1.w1
  JOIN unic u2 ON b.w2 = u2.w1
  CROSS JOIN tot
  WHERE b.c12 >= 5)
SELECT w1, w2, CAST(c12 AS BIGINT) AS c12, pmi
FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20
"""


QUERIES: dict[str, QueryDef] = {
    "text_collocations": QueryDef(text_collocations, _TEXT_COLLOC_SQL),
    "text_bm25_append": QueryDef(text_bm25_append, _bm25_sql()),
    "text_bm25_stored_append": QueryDef(
        text_bm25_stored_append, _bm25_sql(),
        doc="in-place stored-index append: postings into term shards, "
            "term_stats via additive file-pruned MERGE"),
    "text_bm25_stored_rollback": QueryDef(
        text_bm25_stored_rollback, _bm25_sql(),
        doc="retained-generation rollback of a garbage stored append: "
            "serving must revert to the pre-append store exactly "
            "(postings+term_stats+corpus_stats together)"),
    "text_bm25_stored_prune": QueryDef(
        text_bm25_stored_prune, _bm25_sql(),
        doc="stored term-sharded BM25 serving with partition pruning"),
    "text_bm25_topk": QueryDef(text_bm25_topk, _bm25_sql()),
    "text_gopher_rules": QueryDef(text_gopher_rules, _gopher_sql()),
    "text_normalize": QueryDef(text_normalize, _normalize_sql()),
    "text_tfidf_terms": QueryDef(text_tfidf_terms, _TEXT_TFIDF_SQL),
    "text_lm_perplexity": QueryDef(text_lm_perplexity, _TEXT_LM_SQL),
    "text_pipeline_e2e": QueryDef(text_pipeline_e2e, _pipeline_sql()),
    "text_token_stats": QueryDef(text_token_stats, _TEXT_TOK_SQL),
    "text_quality_stats": QueryDef(text_quality_stats, _TEXT_QUALITY_SQL),
    "text_lang_id": QueryDef(text_lang_id, _langid_sql()),
    "text_fingerprint_dedup": QueryDef(text_fingerprint_dedup, _TEXT_FP_SQL),
    "text_stopword_punct": QueryDef(text_stopword_punct, _TEXT_SW_SQL),
    "text_repetition_stats": QueryDef(text_repetition_stats, _TEXT_REP_SQL),
    "text_bpe_roundtrip": QueryDef(text_bpe_roundtrip, _TEXT_BPE_SQL),
}
