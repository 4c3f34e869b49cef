"""Bloom-filter-accelerated exact-dedup ingest.

The production problem: a 100-TB corpus is already deduplicated; every
day a (much smaller) batch arrives and only the rows whose key (e.g.
md5 of normalized text) is NOT already in the corpus may be appended.
The naive plan is ``batch LEFT ANTI JOIN corpus`` -- at minimum a full
corpus scan per ingest, and a corpus-sized shuffle if the batch out-
grows the broadcast threshold.  The classic fix (same idea LSM stores
use in front of their SSTables) is a Bloom filter over the corpus keys:

  - the filter is built ONCE with one corpus scan (a groupBy over
    m/64 bit-words -- map-side combined, the exchange carries at most
    m/64 rows), persisted as a tiny parquet table, and maintained
    incrementally on every append with batch-sized work (bit_or merge);
  - at ingest, each batch key probes k bit positions against the
    broadcast word table: "no" answers are EXACT (definitely new), so
    those rows never touch the corpus at all;
  - only the "maybe" rows (true duplicates + false positives, a set
    sized ~|dups| + fpp*|batch|) are confirmed with a semi join whose
    broadcast side is that tiny candidate set -- the corpus is scanned
    narrowly (key column only) and NEVER shuffled.

The result is bit-for-bit equal to the plain anti join (false
positives are cleared by the confirm join; false negatives are
impossible in a Bloom filter), which is exactly what the oracle gate
checks -- including under an artificially tiny filter where most
probes collide (tests/test_bloom.py forces fpp ~ 1).

Spark-first notes: Spark's internal runtime-filter bloom
(``bloom_filter_agg`` / ``might_contain``) is not exposed as a public
function, so the filter is its own DataFrame: ``(word_idx: long,
word: long)`` rows, built and probed with pure JVM expressions
(xxhash64 double-hashing, shiftleft/bitwise-or aggregation) -- no
Python in any path, whole-stage codegen throughout.  The reference has
no bloom surface; this extends its dedup family (SURVEY §2.11) the
same way operators/dedup.py does.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_params", "bloom_word_table", "write_bloom_index",
    "append_bloom_index", "read_bloom_index", "bloom_candidates",
    "exact_new_rows",
]


def bloom_params(n_keys: int, fpp: float = 0.01) -> tuple[int, int]:
    """Standard Bloom sizing: (m_bits, k_hashes) for ``n_keys`` at the
    target false-positive rate. m is rounded up to a multiple of 64 so
    the word table packs cleanly."""
    n = max(n_keys, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _positions(key: Column, m_bits: int, k: int) -> Column:
    """The k probe positions of ``key``: double hashing h1 + i*h2 (mod m)
    per Kirsch-Mitzenmacher, both lanes from xxhash64 with distinct
    seed literals -- pure JVM, no per-i rehash of the full key."""
    h1 = F.xxhash64(F.lit(1), key)
    h2 = F.xxhash64(F.lit(2), key)
    return F.array(*[
        F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)])


def bloom_word_table(df: DataFrame, key: Column | str, *, m_bits: int,
                     k: int = 5) -> DataFrame:
    """Build the filter as (word_idx, word) rows: explode each key's k
    positions, OR the bits per 64-bit word. ONE exchange carrying at
    most m/64 rows (map-side partial bit_or collapses everything
    upstream); only set words are stored, so a sparse filter is even
    smaller than m/64."""
    key = F.col(key) if isinstance(key, str) else key
    pos = df.select(F.explode(_positions(key, m_bits, k)).alias("p"))
    return (pos.select((F.col("p") / 64).cast("long").alias("word_idx"),
                       F.expr("shiftleft(1L, cast(pmod(p, 64) as int))")
                       .alias("bit"))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(bit)").alias("word")))


def write_bloom_index(df: DataFrame, index_dir: str, key: Column | str,
                      *, m_bits: int, k: int = 5) -> None:
    """Materialize the corpus filter once; ingest then probes this tiny
    parquet table instead of the corpus."""
    bloom_word_table(df, key, m_bits=m_bits, k=k).coalesce(1) \
        .write.mode("overwrite").parquet(index_dir)


def append_bloom_index(batch: DataFrame, index_dir: str,
                       key: Column | str, *, m_bits: int, k: int = 5,
                       compact_after: bool = False) -> None:
    """Fold a new batch into the stored filter with batch-sized work:
    parquet-APPEND the batch's own word rows as a new segment (the
    LSM discipline -- never read-modify-write the whole index on the
    ingest path); ``read_bloom_index`` bit_or-folds segments on read.
    ``compact_after`` instead folds the batch's words and the stored
    segments into ONE segment published through merge.cow_publish
    (staged write + guarded_swap under the index's publish lock, so a
    concurrent compaction raises ConcurrentWriteError; between the
    swap's two renames a reader listing the index can find it
    missing) for trickle-append hygiene. Deletions are not supported,
    as in any plain Bloom filter -- rebuild for that."""
    words = bloom_word_table(batch, key, m_bits=m_bits, k=k)
    if compact_after:
        from .merge import cow_publish
        stored = batch.sparkSession.read.parquet(index_dir)
        cow_publish(_fold(stored.unionByName(words)).coalesce(1), index_dir)
    else:
        words.coalesce(1).write.mode("append").parquet(index_dir)


def _fold(words: DataFrame) -> DataFrame:
    return (words.groupBy("word_idx")
            .agg(F.expr("bit_or(word)").alias("word")))


def read_bloom_index(spark, index_dir: str) -> DataFrame:
    """Load the filter, folding any appended segments (bit_or per
    word -- at most segments * m/64 rows, trivially small)."""
    return _fold(spark.read.parquet(index_dir))


def probe_hit_flag(df: DataFrame, words: DataFrame, key: Column, *,
                   m_bits: int, k: int,
                   flag_col: str) -> tuple[DataFrame, list[str]]:
    """The shared probe kernel: k broadcast LEFT joins against the
    (tiny, <= m/64 rows) word table, one per bit position, folded with
    AND into ``flag_col`` -- NO explode, NO aggregation, NO input-sized
    shuffle or broadcast, so it is both batch- and streaming-legal (the
    streaming twin, streaming/dedup.stream_bloom_new_rows, calls this
    exact function -- one implementation, no lockstep-by-comment).
    Position layout matches _positions/bloom_word_table bit for bit.
    Returns (frame-with-flag, helper column names to drop).

    ``words`` is folded defensively (groupBy word_idx + bit_or -- a
    no-op on already-folded input, <= m/64 rows either way): a caller
    handing us a raw multi-segment appended index (plain
    spark.read.parquet instead of read_bloom_index) would otherwise
    multiply batch rows through the k equi-joins and break the
    bit-for-bit anti-join contract."""
    words = _fold(words)
    out = df
    h1 = F.xxhash64(F.lit(1), key)
    h2 = F.xxhash64(F.lit(2), key)
    hit_all = F.lit(True)
    for i in range(k):
        p = F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
        w = words.select(F.col("word_idx").alias(f"_wi{i}"),
                         F.col("word").alias(f"_w{i}"))
        out = out.withColumn(f"_p{i}", (p / 64).cast("long")) \
                 .withColumn(f"_b{i}", F.pmod(p, F.lit(64)).cast("int"))
        out = out.join(F.broadcast(w),
                       out[f"_p{i}"] == w[f"_wi{i}"], "left")
        hit_all = hit_all & F.coalesce(
            F.expr(f"cast(shiftright(_w{i}, _b{i}) & 1L as boolean)"),
            F.lit(False))
    helper = [c for i in range(k)
              for c in (f"_p{i}", f"_b{i}", f"_wi{i}", f"_w{i}")]
    return out.withColumn(flag_col, hit_all), helper


def bloom_candidates(batch: DataFrame, words: DataFrame,
                     key: Column | str, *, m_bits: int, k: int = 5,
                     flag_col: str = "_maybe_dup") -> DataFrame:
    """Tag each batch row: ``flag_col`` = false means DEFINITELY new
    (exact, the Bloom no-answer); true means maybe-duplicate (confirm
    against the corpus). Probe shape: see probe_hit_flag (adopted after
    replacing an explode->groupBy->re-join layout that re-shuffled the
    batch on its own key)."""
    key = F.col(key) if isinstance(key, str) else key
    out, helper = probe_hit_flag(batch.withColumn("_bkey", key), words,
                                 F.col("_bkey"), m_bits=m_bits, k=k,
                                 flag_col=flag_col)
    return out.drop(*helper).drop("_bkey")


def exact_new_rows(batch: DataFrame, corpus: DataFrame,
                   batch_key: Column | str, corpus_key: Column | str,
                   *, words: DataFrame, m_bits: int,
                   k: int = 5) -> DataFrame:
    """Rows of ``batch`` whose key is NOT in ``corpus`` -- bit-for-bit
    the plain LEFT ANTI join, computed the Bloom way: definite-new rows
    pass straight through from the filter probe; the maybe set is
    confirmed with a semi join whose BROADCAST side is the (tiny)
    candidate key set, so the corpus is scanned on one column and never
    shuffled. With no duplicates in the batch, the corpus is not
    scanned at all beyond that narrow confirm pass."""
    from pyspark import StorageLevel

    from .dedup import _PERSISTED

    bkey = F.col(batch_key) if isinstance(batch_key, str) else batch_key
    ckey = F.col(corpus_key) if isinstance(corpus_key, str) else corpus_key
    flagged = bloom_candidates(batch, words, bkey, m_bits=m_bits, k=k)
    # the flagged frame feeds the definite branch, the maybe branch AND
    # the candidate-key extraction -- persist (batch-sized) so the
    # k-join probe runs once, not three times (released by
    # dedup.unpersist_cached)
    flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(flagged)
    definite = flagged.where(~F.col("_maybe_dup")).drop("_maybe_dup")
    maybe = flagged.where(F.col("_maybe_dup")).drop("_maybe_dup")
    # Driver-side gate on a bounded scalar: AQE materializes leaf
    # stages CONCURRENTLY, so an empty candidate broadcast does NOT
    # stop the corpus-scan stage from being submitted (measured: the
    # scan ran on an all-fresh batch). One isEmpty() on the persisted
    # batch-sized frame decides whether the confirm join -- and with it
    # ANY corpus access -- exists in the plan at all. An all-new ingest
    # batch therefore touches only the m/64-row word table.
    if maybe.isEmpty():
        return definite
    cand_keys = maybe.select(bkey.alias("_k")).distinct()
    confirmed = (corpus.select(ckey.alias("_k"))
                 .join(F.broadcast(cand_keys), "_k", "left_semi")
                 .distinct())
    cleared = (maybe.withColumn("_k", bkey)
               .join(F.broadcast(confirmed), "_k", "left_anti").drop("_k"))
    return definite.unionByName(cleared)
