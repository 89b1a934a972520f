"""Mergeable cardinality / frequency sketches (KMV, count-min).

KMV (k-minimum-values) distinct-count sketch.

The classic bottom-k estimator (Bar-Yossef et al. 2002; Beyer et al.
SIGMOD'07): hash every value uniformly into [0, 1); keep the k smallest
hashes per group; if fewer than k distinct hashes exist the count is
exact, otherwise estimate distinct ≈ (k-1) / kth_smallest_hash.

Engine portability is the design constraint here, exactly as with the
quantized embeddings: the hash is md5 (identical hex in Spark and
DuckDB), the fraction is the first 15 hex nibbles as an integer over
16^15 (= 2^60, both fit bigint), and the estimate is computed with ONE
double division of two exactly-representable integers — a single IEEE
operation rounds identically everywhere, so the sketch row is
bit-identical across engines and partitionings (no ln, no float sums).

Scale shape: bottom-k of a set is partition-independent and
ASSOCIATIVE, so it is evaluated in two stages that never sort a hot
key's full hash stream on one reducer:

1. the ``distinct`` shuffle lands (key, h) pairs hash-partitioned;
   a comparisons-only ``mapInPandas`` prune then keeps at most k
   hashes per key PER PARTITION (any hash outside a partition's
   bottom-k cannot be in the global bottom-k — lossless, and pruned
   incrementally per Arrow batch so partition state stays
   O(keys-in-partition × k));
2. the final per-key merge aggregates ≤ partitions × k surviving rows
   per key with ``array_sort`` + ``slice`` — never a rank window over
   the distinct stream, so a key with 10⁹ distinct tokens costs each
   reducer a ≤ parts×k array sort, not a 10⁹-row sort.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 16^15 = 2^60: the hash-fraction denominator (first 15 md5 nibbles)
_DENOM = 16 ** 15


def kmv_sketch(df: DataFrame, key: str, value, k: int = 64) -> DataFrame:
    """(key, hs) — the MERGEABLE sketch state: the ≤ k smallest md5
    hex strings of the group's distinct values, sorted ascending.

    This is the table a production rollup PERSISTS (one array row per
    key per day/shard); :func:`kmv_merge` folds such tables, and
    :func:`kmv_estimate` finishes any of them into counts."""
    hashed = df.select(F.col(key), F.md5(value.cast("string")).alias("h")).distinct()

    def partial_bottomk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        buf = None
        for pdf in batches:
            buf = pdf if buf is None else pd.concat([buf, pdf], ignore_index=True)
            # prune per batch: state stays O(|keys in partition| · k)
            buf = (
                buf.sort_values([key, "h"], kind="mergesort")
                .groupby(key, sort=False).head(k)
            )
        if buf is not None:
            yield buf

    pruned = hashed.mapInPandas(partial_bottomk, schema=hashed.schema)
    # ≤ partitions×k rows per key survive; bottom-k of the union of
    # per-partition bottom-k's equals the global bottom-k
    return pruned.groupBy(key).agg(
        F.slice(F.array_sort(F.collect_list("h")), 1, k).alias("hs")
    )


def kmv_merge_all(stacked: DataFrame, key: str, k: int = 64) -> DataFrame:
    """(key, hs) — fold a STACK of sketch rows (any number of shards /
    days / epochs, several rows per key) into one sketch per key.

    bottom-k over a union of bottom-k's equals the global bottom-k
    (any hash outside a shard's bottom-k is outside the union's), so
    merged estimates are IDENTICAL to sketching all the data at once —
    the property that makes daily sketches roll up into monthly ones
    without re-reading the data.  ``array_distinct`` drops hashes
    shards share."""
    return stacked.groupBy(key).agg(
        F.slice(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("hs")))),
            1, k,
        ).alias("hs")
    )


def kmv_merge(a: DataFrame, b: DataFrame, key: str, k: int = 64) -> DataFrame:
    """(key, hs) — fold two sketch tables (see :func:`kmv_merge_all`).
    Full-outer union semantics: a key present on one side only keeps
    its sketch."""
    return kmv_merge_all(
        a.select(key, "hs").unionByName(b.select(key, "hs")), key, k=k)


def kmv_estimate(sketch: DataFrame, key: str, k: int = 64) -> DataFrame:
    """(key, n_seen, kth_hash, est_distinct) — finish a sketch table.

    ``n_seen`` = min(k, distinct values); ``kth_hash`` = the k-th
    smallest md5 (null when the count is exact); ``est_distinct`` =
    exact count below k, else floor((k-1) · 2^60 / kth_int)."""
    n_seen = F.size("hs").cast("bigint")
    max_h = F.array_max("hs")  # the k-th smallest = max of the bottom-k
    kth_int = F.conv(F.substring(max_h, 1, 15), 16, 10).cast("bigint")
    # (k-1)·2^60 is exact in double (≤ 6 significant bits · 2^60) and
    # kth_int < 2^60 is exact too: one division, one floor — bit-stable
    est = F.floor(
        (F.lit(float(k - 1)) * F.lit(float(_DENOM))) / kth_int.cast("double")
    ).cast("bigint")
    return sketch.select(
        key,
        n_seen.alias("n_seen"),
        F.when(n_seen >= k, max_h).alias("kth_hash"),
        F.when(n_seen < k, n_seen).otherwise(est).alias("est_distinct"),
    )


def kmv_distinct(df: DataFrame, key: str, value, k: int = 64) -> DataFrame:
    """(key, n_seen, kth_hash, est_distinct) per group — sketch +
    finish in one call (see :func:`kmv_sketch` / :func:`kmv_estimate`
    for the persisted/mergeable split)."""
    return kmv_estimate(kmv_sketch(df, key, value, k=k), key, k=k)


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005): the frequency-side
# twin of KMV.  depth independent hash rows × width counters; a value's
# estimated count = min over rows of its counter — ALWAYS an upper
# bound on the true count (its own occurrences all land in the probed
# cells; collisions only add).  Expected overestimate ≤ e·N/width per
# row, and the min over depth rows makes a bad collision in every row
# exponentially unlikely.
#
# Engine portability, as with KMV: row-d's hash of value v is
# md5("d:v"), first 15 hex nibbles as a bigint, modulo width — pure
# integer ops that both Spark and DuckDB compute identically, so the
# sketch TABLE (not just the estimates) is bit-identical across
# engines and partitionings.
#
# Scale shape: the sketch is a DataFrame of at most depth×width rows
# ((d, col, cnt)); building it is one map-side-combinable groupBy, so
# the shuffle carries ≤ depth×width rows PER PARTITION no matter how
# many input values stream through — this is what makes "token
# frequency over 100 TB" a constant-size exchange instead of a
# vocabulary-sized one.  Merging shard sketches is an elementwise sum
# (exact — unlike KMV's bottom-k there is no approximation in the
# fold), and lookups broadcast the tiny sketch to the probe side.
# ---------------------------------------------------------------------------


def _cms_cell(d, value, width: int):
    """Row-``d`` counter index of ``value``: md5("d:v") nibbles 1-15 as
    bigint, mod width — nonnegative, so Spark/DuckDB `%` agree."""
    h = F.md5(F.concat(d.cast("string"), F.lit(":"), value.cast("string")))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % F.lit(width)
    )


def _cms_rows(depth: int):
    return F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("d")


def cms_sketch(df: DataFrame, value, depth: int = 4,
               width: int = 8192) -> DataFrame:
    """(d, col, cnt) — count-min sketch of the value stream.

    The PERSISTED state (≤ depth×width rows): :func:`cms_merge` folds
    shard sketches exactly, :func:`cms_lookup` answers frequency
    queries from any of them."""
    cells = (
        df.select(value.alias("v"))
        .select(_cms_rows(depth), F.col("v"))
        .select("d", _cms_cell(F.col("d"), F.col("v"), width).alias("col"))
    )
    return cells.groupBy("d", "col").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )


def cms_merge_all(stacked: DataFrame) -> DataFrame:
    """(d, col, cnt) — fold a STACK of sketch rows (any number of
    shards / days / epochs): elementwise counter sum.  EXACT (counters
    are additive), so merged-shard lookups equal whole-corpus lookups
    bit-for-bit — the daily→monthly rollup property, with zero
    approximation in the fold itself."""
    return stacked.select("d", "col", "cnt").groupBy("d", "col").agg(
        F.sum("cnt").cast("bigint").alias("cnt")
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """(d, col, cnt) — fold two sketch tables (see
    :func:`cms_merge_all`)."""
    return cms_merge_all(
        a.select("d", "col", "cnt").unionByName(b.select("d", "col", "cnt")))


def cms_lookup(sketch: DataFrame, probes: DataFrame, value,
               depth: int = 4, width: int = 8192) -> DataFrame:
    """(v, est_count) — upper-bound frequency estimate per distinct
    probe value: min over the depth rows of the probed counters.

    The sketch is ≤ depth×width rows by construction → broadcast to
    the probe side; the probe stream never shuffles on the counter
    key.  A cell absent from the sketch means count 0 (possible only
    for values the sketch never saw)."""
    pv = probes.select(value.alias("v")).distinct()
    cells = (
        pv.select("v", _cms_rows(depth))
        .select("v", "d", _cms_cell(F.col("d"), F.col("v"), width).alias("col"))
    )
    joined = cells.join(F.broadcast(sketch), ["d", "col"], "left")
    return joined.groupBy("v").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).cast("bigint")
        .alias("est_count")
    )


def cms_token_freq(documents: DataFrame, probe_docs: int = 3,
                   depth: int = 4, width: int = 8192) -> DataFrame:
    """(tok, est_count) — corpus token frequencies for the probe set
    (tokens of the first ``probe_docs`` documents), answered from one
    count-min sketch of the whole token stream: the pipeline-facing
    wrapper (hot-token / boilerplate-phrase monitoring at 100 TB needs
    a constant-size exchange, not a vocabulary-sized groupBy)."""
    toks = documents.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    probes = documents.where(F.col("doc_id") < probe_docs).select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    sk = cms_sketch(toks, F.col("tok"), depth=depth, width=width)
    return (
        cms_lookup(sk, probes, F.col("tok"), depth=depth, width=width)
        .withColumnRenamed("v", "tok")
    )


def kmv_distinct_tokens(documents: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-token KMV per document ``source`` — the pipeline-facing
    wrapper (vocabulary size per corpus slice is a routine curation
    metric; exact countDistinct at 100 TB is a full shuffle of the
    token stream, the sketch caps per-group state at k rows)."""
    toks = documents.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    return kmv_distinct(toks, "source", F.col("tok"), k=k)

# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970): the MEMBERSHIP-side sketch completing the
# family — KMV answers "how many distinct", count-min answers "how
# often", the Bloom filter answers "have we seen this" with ONE-SIDED
# error: a present value always hits (no false negatives — its own
# k_hashes bits were all set); an absent value hits with probability
# ≈ (1 - e^(-k·n/m))^k (false positives only).  That direction is
# exactly right for benchmark decontamination (Dolma-style): a false
# positive over-drops a clean document, never leaks a contaminated one.
#
# Engine portability, as with KMV/CMS: hash i of value v is
# md5("i:v") nibbles 1-15 as bigint mod m_bits; word = pos div 63,
# mask = 1 << (pos mod 63) — 63 bits per word, NOT 64: DuckDB raises
# on the sign-bit shift (1::BIGINT << 63 overflows) where Spark wraps
# negative, so the portable word uses shifts ≤ 62 only; masks stay
# positive int64 in both engines and the sketch TABLE is bit-identical
# across engines and partitionings.
#
# Scale shape: the filter is a DataFrame of at most m_bits/63 rows
# ((word, bits)); building it is one map-side-combinable bit_or
# groupBy, so the shuffle carries ≤ m_bits/63 rows per partition no
# matter how many values stream through.  Merging shard filters is an
# elementwise bit_or (EXACT: the union's filter — set-bits only
# accumulate), and probes broadcast the tiny filter, never shuffling
# the probe stream on the sketch key.
# ---------------------------------------------------------------------------


def _bloom_pos(i, value, m_bits: int):
    """Bit position of hash row ``i`` for ``value``: md5("i:v")
    nibbles 1-15 as bigint, mod m_bits — same discipline as
    :func:`_cms_cell`, nonnegative so Spark/DuckDB `%` agree."""
    h = F.md5(F.concat(i.cast("string"), F.lit(":"), value.cast("string")))
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint") % F.lit(m_bits)
    )


def _bloom_cells(values: DataFrame, m_bits: int, k_hashes: int) -> DataFrame:
    """(v, word, mask) — one row per (value, hash row); 63-bit words
    (see the portability note above)."""
    pos = _bloom_pos(F.col("i"), F.col("v"), m_bits)
    return (
        values.select("v", _cms_rows(k_hashes).alias("i"))
        .select(
            "v",
            F.floor(pos / F.lit(63)).cast("bigint").alias("word"),
            # call_function: the Python shiftleft() wrapper only takes
            # a LITERAL bit count; the SQL function shifts dynamically
            F.call_function(
                "shiftleft", F.lit(1).cast("bigint"),
                (pos % 63).cast("int")).alias("mask"),
        )
    )


def bloom_sketch(df: DataFrame, value, m_bits: int = 8192,
                 k_hashes: int = 3) -> DataFrame:
    """(word, bits) — the PERSISTED filter state (≤ m_bits/63 rows):
    :func:`bloom_merge_all` folds shard filters exactly,
    :func:`bloom_probe` answers membership from any of them.  Size
    m_bits to the expected distinct count (fpr ≈ 0.5^k at
    m ≈ 1.44·k·n) — the scale knob, exactly like CMS width."""
    cells = _bloom_cells(df.select(value.alias("v")), m_bits, k_hashes)
    return cells.groupBy("word").agg(F.bit_or("mask").alias("bits"))


def bloom_merge_all(stacked: DataFrame) -> DataFrame:
    """(word, bits) — fold a STACK of filter rows (any number of
    shards / days / epochs): elementwise bit_or.  EXACT — the merged
    filter equals the filter of the unioned data bit-for-bit (set
    bits only accumulate), the daily→monthly rollup property."""
    return stacked.select("word", "bits").groupBy("word").agg(
        F.bit_or("bits").alias("bits")
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """(word, bits) — fold two filter tables (see
    :func:`bloom_merge_all`)."""
    return bloom_merge_all(
        a.select("word", "bits").unionByName(b.select("word", "bits")))


def bloom_probe(sketch: DataFrame, probes: DataFrame, value,
                m_bits: int = 8192, k_hashes: int = 3) -> DataFrame:
    """(v, maybe_present) per distinct probe value: 1 iff ALL k_hashes
    bits are set (so a value the filter ingested is ALWAYS 1; a 0 is
    definitive absence).

    Two hash rows can land in the same word, so per (value, word) the
    needed bits are bit_or-folded BEFORE the check; the filter
    (≤ m_bits/63 rows) broadcasts to the probe side and the probe
    stream never shuffles on the word key."""
    pv = probes.select(value.alias("v")).distinct()
    needed = (
        _bloom_cells(pv, m_bits, k_hashes)
        .groupBy("v", "word").agg(F.bit_or("mask").alias("need"))
    )
    joined = needed.join(F.broadcast(sketch), "word", "left")
    hit = (
        F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("need"))
        == F.col("need")
    )
    return joined.groupBy("v").agg(
        F.min(hit.cast("int")).cast("int").alias("maybe_present")
    )


def bloom_gram_filter(benchmark: DataFrame, n: int = 4,
                      m_bits: int = 8192, k_hashes: int = 3,
                      text_col: str = "text") -> DataFrame:
    """(word, bits) — Bloom filter of a benchmark's word-n-grams: the
    per-suite state a production decontamination pipeline PERSISTS and
    bit_or-merges across suites (:func:`bloom_merge_all`) before
    gating a corpus (:func:`bloom_decontaminate` ``benchmark_filter=``)."""
    return bloom_sketch(_word_grams(benchmark, n, text_col), F.col("g"),
                        m_bits=m_bits, k_hashes=k_hashes)


def _word_grams(df: DataFrame, n: int, text_col: str) -> DataFrame:
    """(doc_id, g) — the word-n-gram stream, same tokenization contract
    as curation.decontaminate (lower + single-space split)."""
    from rdf_n3_spark.operators.dedup import shingles_of_tokens

    return (
        df.select("doc_id", F.split(F.lower(text_col), " ").alias("__toks"))
        .select("doc_id",
                F.explode(shingles_of_tokens(F.col("__toks"), n)).alias("g"))
    )


def bloom_decontaminate(corpus: DataFrame, benchmark: DataFrame | None = None,
                        n: int = 4, m_bits: int = 8192,
                        k_hashes: int = 3,
                        text_col: str = "text",
                        benchmark_filter: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_hits, contaminated) — the 100 TB twin of
    :func:`rdf_n3_spark.operators.curation.decontaminate`: the SAME
    word-n-gram contract, but the benchmark gram set is compressed
    into a constant-size Bloom filter instead of broadcast raw — at
    web scale the benchmark suite's distinct grams outgrow a broadcast
    set; the filter stays ≤ m_bits/63 rows whatever the benchmark is.

    One-sided by construction: every truly contaminated document is
    flagged (no false negatives); a clean document is over-flagged
    with the filter's fpr — the conservative direction for dropping
    training data.  ``n_hits`` counts the document's distinct grams
    that (maybe-)hit.

    Pass either ``benchmark`` (docs table; the filter is built here)
    or a prebuilt ``benchmark_filter`` (:func:`bloom_gram_filter`
    output, possibly the :func:`bloom_merge_all` fold of several
    suites' persisted filters — the production shape)."""
    if (benchmark is None) == (benchmark_filter is None):
        raise ValueError("pass exactly one of benchmark / benchmark_filter")
    filt = (benchmark_filter if benchmark_filter is not None
            else bloom_gram_filter(benchmark, n, m_bits, k_hashes, text_col))
    corpus_grams = _word_grams(corpus, n, text_col).dropDuplicates(
        ["doc_id", "g"])
    # probe once per DISTINCT gram (vocabulary-sized), then equi-join
    # the verdicts back to the (doc_id, gram) pairs — the verdict
    # table is gram-keyed like the pairs, so this is a plain shuffled
    # equi-join, NEVER a broadcast (it grows with the corpus)
    verdicts = bloom_probe(filt, corpus_grams, F.col("g"),
                           m_bits=m_bits, k_hashes=k_hashes)
    return (
        corpus_grams.join(verdicts.withColumnRenamed("v", "g"), "g")
        .groupBy("doc_id")
        .agg(F.sum("maybe_present").cast("bigint").alias("n_hits"))
        .select(
            "doc_id", "n_hits", (F.col("n_hits") > 0).alias("contaminated"),
        )
    )

# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (Misra & Gries 1982): EXACT global top-k
# without a vocabulary-sized shuffle.  Two passes:
#
# 1. per-partition MG summaries (mapInPandas, counting only — the data
#    values pass through untouched) keep ≤ `counters` keys each; the
#    classic averaging argument makes the KEY-UNION a certified
#    candidate superset: if a value's count ≤ N_p/(counters+1) in
#    EVERY partition p, its global count ≤ N/(counters+1) — so every
#    value with global frequency > N/(counters+1) survives at least
#    one partition's summary;
# 2. candidates (≤ partitions × counters keys — tiny) broadcast back
#    as a semi-join filter, and only candidate-matched rows are
#    counted EXACTLY with a map-side-combinable groupBy whose partial
#    state is candidate-bounded, never vocabulary-bounded.
#
# The result is the exact top-k (deterministic tiebreak: count desc,
# value asc) whenever the k-th most frequent value clears the
# N/(counters+1) floor — the regime heavy-hitter queries target; the
# default counters = 4096 puts that floor at 0.02% of the stream.  A
# flatter distribution degrades to exact counts of a candidate
# SUPERSET (never wrong counts); size `counters` up like any sketch
# knob.  This is the constant-exchange twin of a full-vocabulary
# groupBy-orderBy, completing the exact↔sketch pairs (decontaminate
# ↔ bloom_decontaminate, countDistinct ↔ kmv).
# ---------------------------------------------------------------------------


def mg_topk(df: DataFrame, value, k: int = 20,
            counters: int = 4096) -> DataFrame:
    """(v, n, rank) — exact global top-``k`` most frequent values via
    the MG candidate prune above.  ``n`` is the EXACT count."""
    from pyspark.sql import Window

    vals = df.select(value.cast("string").alias("v"))

    def mg_summary(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import heapq

        counts: dict = {}
        for pdf in batches:
            # vectorized per-batch tally, then a dict merge bounded by
            # the batch's DISTINCT values (not its rows)
            for v, c in pdf["v"].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > counters:
                # batched MG decrement: subtract the (counters+1)-th
                # largest residual from everyone, drop the ≤0 — each
                # unit of decrement hits > counters values at once,
                # which is exactly what preserves the N/(counters+1)
                # survival guarantee
                thr = heapq.nlargest(counters + 1, counts.values())[-1]
                counts = {v: c - thr for v, c in counts.items() if c > thr}
        yield pd.DataFrame({"v": pd.Series(list(counts), dtype="object")})

    cand = vals.mapInPandas(mg_summary, schema="v string").distinct()
    exact = (
        vals.join(F.broadcast(cand), "v", "left_semi")
        .groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # the rank window's input is the candidate COUNT table
    # (≤ partitions × counters rows), never the value stream
    w = Window.orderBy(F.col("n").desc(), F.col("v"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("v", "n", F.col("rank").cast("int").alias("rank"))
    )


def token_heavy_hitters(documents: DataFrame, k: int = 20,
                        counters: int = 4096) -> DataFrame:
    """(v, n, rank) — the corpus's top-``k`` tokens (exact counts) —
    the pipeline-facing wrapper (global stopword/boilerplate-token
    monitoring at 100 TB wants the candidate-bounded exchange, not a
    vocabulary-sized groupBy + global sort)."""
    toks = documents.select(
        F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    return mg_topk(toks, F.col("tok"), k=k, counters=counters)
