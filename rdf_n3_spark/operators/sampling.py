"""Deterministic sampling and data-mixing operators for the
training-data pipeline: hash-Bernoulli corpus sampling, per-stratum
quota sampling, global shuffle-sharding, and the source-mix report.

These are beyond-reference additions (like :mod:`.dedup` /
:mod:`.curation`): every pretraining pipeline down-samples sources,
re-balances languages, and globally shuffles the corpus before
sharding it into training files.  The non-negotiable at 100 TB is
DETERMINISM — Spark's ``df.sample`` draws from a per-partition RNG
seeded by partition id, so its output changes with the partitioning
(cluster size, AQE decisions, file splits).  Everything here derives
membership from a seeded md5 of the ROW KEY instead: the same row
always makes the same decision on any cluster, any retry, any round —
which is what makes samples auditable, resumable, and replayable by
the DuckDB oracles bit-for-bit.

Scale shapes:

* :func:`corpus_sample` / :func:`stratified_sample` — pure narrow
  maps (hash + compare, zero shuffle); the stratum→pct map is a
  literal CASE chain, never a join.
* :func:`shuffle_shards` — ONE shuffle on the shard key, then a
  per-shard sort by hash.  With ``n_shards`` sized so a shard fits an
  executor (10^9 docs / 10^4 shards = 10^5 rows), the per-shard
  row_number is a local sort — the standard scalable global shuffle.
* :func:`source_mix` — one map-side-combinable groupBy to
  #sources × #langs rows, then window shares over that TINY aggregate
  (never over the corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket(key: Column, seed: str, mod: int) -> Column:
    """First 8 md5 hex chars of ``seed || '|' || key`` as an int in
    [0, mod) — the engine-portable hash shared with curation.corpus_split
    (DuckDB: ``('0x' || substr(md5(...), 1, 8))::BIGINT % mod``)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + "|"), key.cast("string"))), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(mod),
    )


def corpus_sample(documents: DataFrame, pct: int = 10,
                  seed: str = "sample-v1") -> DataFrame:
    """(doc_id, source, lang) — the ``pct``-percent deterministic
    Bernoulli sample: a doc is in iff its seeded hash bucket (mod 100)
    falls below ``pct``.  Changing ``pct`` grows/shrinks the sample
    MONOTONICALLY (a 10% sample contains the 5% sample), which is what
    lets a pipeline scale an experiment up without re-drawing it."""
    return (
        documents
        .where(_bucket(F.col("doc_id"), seed, 100) < pct)
        .select("doc_id", "source", "lang")
    )


def stratified_sample(documents: DataFrame, pct_by_stratum: dict[str, int],
                      default_pct: int = 0, strata_col: str = "lang",
                      seed: str = "strat-v1") -> DataFrame:
    """(doc_id, stratum) — per-stratum quota sampling (language
    re-balancing, source down-weighting): each stratum keeps its own
    percentage of rows, unlisted strata keep ``default_pct``.

    The stratum→pct map is a LITERAL ``when`` chain (strata counts are
    human-scale: languages, sources), so the whole operator stays a
    zero-shuffle narrow map; the hash is salted with the stratum so
    two strata's keep-sets are independent draws."""
    pct = F.lit(default_pct)
    for stratum, p in sorted(pct_by_stratum.items()):
        pct = F.when(F.col(strata_col) == stratum, p).otherwise(pct)
    key = F.concat(F.col(strata_col), F.lit("/"), F.col("doc_id").cast("string"))
    return (
        documents
        .where(_bucket(key, seed, 100) < pct)
        .select("doc_id", F.col(strata_col).alias("stratum"))
    )


def shuffle_shards(documents: DataFrame, n_shards: int = 8,
                   seed: str = "shuffle-v1") -> DataFrame:
    """(doc_id, shard, pos) — the global deterministic shuffle that
    precedes training-file sharding: every doc gets a seeded hash key,
    shard = key-hash mod ``n_shards``, and ``pos`` is the doc's dense
    0-based rank inside its shard ordered by (full md5 hex, doc_id) —
    an order uncorrelated with ingestion order, source, or any
    id-encoded attribute.  Reading shards 0..n-1 in pos order IS the
    shuffled epoch, reproducible from (seed, n_shards) alone.

    One shuffle (on shard), then a per-shard local sort; the doc_id
    tie-break makes ``pos`` total even under md5 collisions."""
    h = F.md5(F.concat(F.lit(seed + "|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        documents
        .select(
            "doc_id",
            _bucket(F.col("doc_id"), seed, n_shards).alias("shard"),
            h.alias("h"),
        )
        .select("doc_id", "shard",
                (F.row_number().over(w) - 1).cast("bigint").alias("pos"))
    )


def source_mix(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, lang, n_docs, n_tokens, n_chars, doc_share_ppm,
    token_share_ppm) — the corpus-composition report every mixing
    decision starts from.  Shares are exact integer parts-per-million
    (floor division) so the oracle replays them without float
    sum-order nondeterminism; token counts use the pipeline's shared
    lower+space tokenizer."""
    agg = (
        documents
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.lower(text_col), " ")))
            .cast("bigint").alias("n_tokens"),
            F.sum(F.length(text_col)).cast("bigint").alias("n_chars"),
        )
    )
    return agg.select(
        "source", "lang", "n_docs", "n_tokens", "n_chars",
        F.expr("CAST(n_docs * 1000000 DIV sum(n_docs) OVER () AS BIGINT)")
        .alias("doc_share_ppm"),
        F.expr("CAST(n_tokens * 1000000 DIV sum(n_tokens) OVER () AS BIGINT)")
        .alias("token_share_ppm"),
    )


def source_weights(documents: DataFrame, scale: int = 10**6) -> DataFrame:
    """(source, n_docs, share_ppm, weight_ppm) — α = 0.5 temperature-
    scaled mixing weights (the standard multilingual/multi-source
    sampling rule: weight ∝ n_docs^α flattens the source distribution,
    up-sampling rare sources without letting any source dominate).

    α is pinned at 0.5 because sqrt is the ONE power IEEE-754 requires
    correctly rounded — Java's Math.pow and C's pow may differ by an
    ulp, which a floor() would amplify into a cross-engine mismatch.
    Each per-source sqrt is quantized to a bigint (floor(sqrt(n)·scale))
    BEFORE the cross-source normalization, so the normalizing sums are
    exact integers (order-independent under any partitioning) and the
    final ppm weights replay bit-for-bit in the DuckDB oracle — the
    same discipline as `source_mix`'s integer ppm shares.

    Scale shape: one map-side-combinable count per source, then a
    window over the #sources-row rollup — nothing data-sized crosses
    the wire twice."""
    counts = documents.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    q = counts.withColumn(
        "sq",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(float(scale)))
        .cast("bigint"),
    )
    return q.select(
        "source", "n_docs",
        F.expr("CAST(n_docs * 1000000 DIV sum(n_docs) OVER () AS BIGINT)")
        .alias("share_ppm"),
        F.expr("CAST(sq * 1000000 DIV sum(sq) OVER () AS BIGINT)")
        .alias("weight_ppm"),
    )


def token_budget_sample(documents: DataFrame, budget_tokens: int,
                        weights: DataFrame | None = None,
                        buckets: int = 4096, seed: str = "budget-v1",
                        text_col: str = "text") -> DataFrame:
    """(doc_id, source, n_tokens, keep) — per-source document selection
    that realizes a GLOBAL token budget under mixing weights: source
    ``s`` contributes ``target(s) = budget_tokens · weight_ppm(s) ÷ 10⁶``
    tokens (``weights`` defaults to :func:`source_weights`' α = 0.5
    ppm table — the actuation step those weights exist for).

    The naive plan sorts each source's docs by a seeded hash and takes
    a prefix until the token cumsum hits the target — a per-source
    GLOBAL sort, the shape the repo bans at 100 TB.  This operator
    picks the same kind of prefix WITHOUT sorting the corpus, by a
    histogram threshold:

    * every doc hashes into one of ``buckets`` seeded md5 buckets
      (source-salted, so per-source draws are independent);
    * ONE map-side-combinable groupBy builds the per-(source, bucket)
      token histogram — ≤ sources × buckets rows cross the wire;
    * the running-sum window and the threshold pick (smallest bucket
      whose cumulative tokens reach the target) run over that TINY
      table, never over the corpus;
    * the per-source threshold broadcasts back and the verdict is a
      pure narrow compare: ``keep = 1`` iff the doc's bucket ≤ the
      source's threshold bucket.

    Guarantees (tested): kept tokens ≥ target whenever the source has
    ≥ target tokens, and the threshold bucket is MINIMAL (dropping it
    falls below target), so the overshoot is bounded by one bucket's
    token mass (≈ total/buckets in expectation — size ``buckets`` to
    the granularity the budget needs); a source with fewer tokens than
    its target keeps everything; ``target = 0`` keeps nothing; the
    keep-set grows MONOTONICALLY with the budget (the re-drawless
    scale-up property `corpus_sample` pins for pct); membership
    depends only on (seed, buckets, budget, corpus) — never on the
    partitioning.  Sources absent from ``weights`` are dropped (weight
    0 — exactly how a mixing table excludes a source).
    """
    if weights is None:
        weights = source_weights(documents)
    toks = documents.select(
        "doc_id", "source",
        F.size(F.split(F.lower(text_col), " ")).cast("bigint")
        .alias("n_tokens"),
    )
    key = F.concat(F.col("source"), F.lit("/"),
                   F.col("doc_id").cast("string"))
    docs = toks.withColumn("b", _bucket(key, seed, buckets))
    hist = docs.groupBy("source", "b").agg(
        F.sum("n_tokens").alias("btok"))
    w_cum = (
        Window.partitionBy("source").orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("btok").over(w_cum))
    tgt = weights.select(
        "source",
        F.expr(f"CAST({int(budget_tokens)} * weight_ppm DIV 1000000"
               " AS BIGINT)").alias("target"),
    )
    thr = (
        cum.join(F.broadcast(tgt), "source")
        .groupBy("source", "target")
        .agg(F.min(F.when(F.col("cum") >= F.col("target"), F.col("b")))
             .alias("t"))
    )
    return (
        docs.join(F.broadcast(thr), "source")
        .select(
            "doc_id", "source", "n_tokens",
            F.when(F.col("target") <= 0, F.lit(0))
            .when(F.col("t").isNull(), F.lit(1))      # total < target
            .when(F.col("b") <= F.col("t"), F.lit(1))
            .otherwise(F.lit(0)).alias("keep"),
        )
    )
