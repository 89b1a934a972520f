"""Corpus-curation operators for the training-data pipeline:
benchmark decontamination and fixed-window sequence packing.

Both are standard pre-training stages the reference engine has no
counterpart for (beyond-reference per the brief, like
:mod:`.dedup` / :mod:`.similarity`):

* :func:`decontaminate` — drop/flag corpus documents that share a
  word n-gram with an evaluation/benchmark set, the step that keeps
  test sets out of training data.  Scale shape: the benchmark side is
  SMALL by definition (eval suites are thousands of docs, the corpus
  is billions), so its distinct n-gram set is broadcast and the whole
  pass is a map-side hash semi-join over the exploded corpus grams —
  no corpus-side shuffle except the per-doc hit count (map-side
  combinable groupBy on doc_id).

* :func:`pack_sequences` — greedy sequential packing of documents
  into fixed-capacity token windows (context-length packing).  The
  greedy scan is inherently ordered, so parallelism comes from
  SHARDING: docs are split into ``n_shards`` deterministic shards,
  each packed independently in one Arrow-batched
  ``applyInPandas`` group.  Only three integer columns cross the
  Python boundary; text never leaves the JVM.  At 100 TB the shard
  count is sized so one shard's (doc_id, n_tokens) pairs fit an
  executor — 10^9 docs / 10^4 shards = 10^5 rows of 24 bytes per
  group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_n3_spark.operators.dedup import shingles_of_tokens


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  n: int = 4, text_col: str = "text") -> DataFrame:
    """(doc_id, n_hits, contaminated) per CORPUS document: n_hits =
    number of the document's distinct word-``n``-grams that appear
    anywhere in the benchmark set; contaminated = n_hits > 0.

    Tokenization is lower + single-space split, identical to the
    dedup/fingerprint family, so the DuckDB oracle replays it.

    Single-pass shape: corpus grams LEFT-join the broadcast benchmark
    set with a hit marker, then one map-side-combinable groupBy sums
    the marker — every document has ≥1 gram, so zero-hit docs survive
    without a second corpus-keyed join (an earlier hits-then-rejoin
    draft cost an extra doc_id SortMergeJoin over the whole corpus)."""
    def grams(df):
        return (
            df.select("doc_id", F.split(F.lower(text_col), " ").alias("__toks"))
            .select("doc_id",
                    F.explode(shingles_of_tokens(F.col("__toks"), n)).alias("g"))
        )

    bench_grams = (
        grams(benchmark).select("g").distinct().withColumn("__hit", F.lit(1))
    )
    return (
        grams(corpus)
        .join(F.broadcast(bench_grams), "g", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_hits"))
        .select(
            "doc_id",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def pack_sequences(documents: DataFrame, capacity: int = 256,
                   n_shards: int = 8, text_col: str = "text") -> DataFrame:
    """(doc_id, shard, bin_idx, bin_offset, n_tokens): greedy
    sequential packing of documents (ordered by doc_id within their
    shard) into bins of at most ``capacity`` tokens.

    Contract (mirrored exactly by the recursive-CTE oracle):
    - shard = doc_id % n_shards; scan order within a shard is doc_id.
    - A document opens a new bin when the running total would exceed
      capacity; bin_offset is its token offset inside the bin.
    - A document longer than capacity occupies a bin of its own (the
      greedy rule produces this without a special case: it opens a
      new bin, and the NEXT document opens another).

    Token counts are computed JVM-side; the pandas stage sees only
    (doc_id, shard, n_tokens) — a per-shard cumulative scan no
    built-in window expresses (the reset on overflow makes it
    non-associative), i.e. the documented applyInPandas escape
    hatch."""
    counted = documents.select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(n_shards)).cast("bigint").alias("shard"),
        F.size(F.split(F.lower(text_col), " ")).cast("bigint").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offsets = [], []
        bin_idx, cum = 0, 0
        for nt in pdf["n_tokens"]:
            if cum > 0 and cum + nt > capacity:
                bin_idx += 1
                cum = 0
            bins.append(bin_idx)
            offsets.append(cum)
            cum += nt
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        pdf["bin_offset"] = pd.Series(offsets, dtype="int64")
        return pdf[["doc_id", "shard", "bin_idx", "bin_offset", "n_tokens"]]

    return counted.groupBy("shard").applyInPandas(
        pack,
        "doc_id bigint, shard bigint, bin_idx bigint, bin_offset bigint, n_tokens bigint",
    )


def chunk_documents(documents: DataFrame, window: int = 3,
                    divisor: int = 16, text_col: str = "text") -> DataFrame:
    """(doc_id, chunk_idx, chunk, n_tokens) — CONTENT-DEFINED chunking:
    a chunk boundary falls after token ``i`` whenever the rolling hash
    of the trailing ``window`` tokens lands in bucket 0 of ``divisor``
    (expected chunk length ≈ divisor tokens).  Content-defined (vs
    fixed-width) boundaries survive token insertion/deletion — edits
    only perturb chunks that overlap them, so chunk-level dedup and
    embedding caches stay valid across document revisions (the rolling
    -hash idea under rsync/LBFS-style chunking).

    Pure Column expressions over ONE bound token array — boundary
    detection, split points, and chunk assembly are all array HOF
    calls inside codegen, so the operator is a narrow map (zero
    shuffles, scales with the scan).  The md5-bucket boundary test is
    the same engine-portable hash the bucketing operators use, so the
    DuckDB oracle replays chunking bit-for-bit."""
    n = F.size(F.col("__toks"))
    win = lambda i: F.concat_ws(" ", F.slice(F.col("__toks"),
                                             i - (window - 1), window))
    is_cut = lambda i: (
        F.pmod(
            F.conv(F.substring(F.md5(win(i)), 1, 8), 16, 10).cast("long"),
            F.lit(divisor),
        ) == 0
    )
    # boundaries: token positions (window..n-1) where the rolling hash
    # cuts; never position n (the end is always an implicit boundary).
    # greatest(…, window) keeps the sequence ascending — Spark's
    # sequence() defaults to step -1 when start > stop, which for
    # n == window would yield [window, window-1] and drive slice()
    # below index 1 — and the i<n guard (And short-circuits in both
    # interpreted and codegen eval) drops the padding element.
    bounds = F.filter(
        F.sequence(F.lit(window), F.greatest(n - 1, F.lit(window))),
        lambda i: (i < n) & is_cut(i),
    )
    starts = F.concat(F.array(F.lit(0)), bounds)
    ends = F.concat(bounds, F.array(n))
    chunks = F.zip_with(
        starts, ends,
        lambda s, e: F.concat_ws(" ", F.slice(F.col("__toks"), s + 1, e - s)),
    )
    return (
        documents.select(
            "doc_id", F.split(F.lower(text_col), " ").alias("__toks"))
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            "chunk",
            F.size(F.split("chunk", " ")).cast("bigint").alias("n_tokens"),
        )
    )


def boilerplate_ngrams(documents: DataFrame, n: int = 3,
                       min_docs: int = 5, text_col: str = "text") -> DataFrame:
    """(gram, doc_freq, first_doc) — the corpus-frequent template
    miner: word ``n``-grams that occur in at least ``min_docs``
    DISTINCT documents.  High-document-frequency n-grams are
    boilerplate (headers, footers, cookie banners, licence blurbs) —
    the phrases a web-scale curation pass strips before training
    because they are repeated across sites, not within a document.

    ``shingles_of_tokens`` is already per-document distinct, so a
    plain ``count(*)`` after the explode IS document frequency — one
    map-side-combinable groupBy shuffle keyed on the gram, no
    countDistinct, no self-join.  At 100 TB the explode emits ~one row
    per corpus token, but partial aggregation collapses each
    executor's counts before the shuffle, so bytes-on-the-wire scale
    with DISTINCT grams per partition, not tokens."""
    grams = (
        documents.select("doc_id", F.split(F.lower(text_col), " ").alias("__toks"))
        .select("doc_id",
                F.explode(shingles_of_tokens(F.col("__toks"), n)).alias("gram"))
    )
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
             F.min("doc_id").alias("first_doc"))
        .filter(F.col("doc_freq") >= min_docs)
    )


def boilerplate_share(documents: DataFrame, n: int = 3,
                      min_docs: int = 5, text_col: str = "text") -> DataFrame:
    """(doc_id, n_grams, n_boiler, boiler_share) — per-document share
    of distinct word ``n``-grams that are corpus boilerplate per
    :func:`boilerplate_ngrams`.  The quality signal template-heavy
    filters (C4/RefinedWeb-style) threshold on.

    Same single-pass shape as :func:`decontaminate`: the mined
    boilerplate set is small by construction (DF ≥ ``min_docs`` keeps
    only the head of the Zipf curve), so it broadcasts, and the corpus
    side needs just its one gram explode + a map-side-combinable
    doc_id groupBy.  boiler_share is one exact-int division, so the
    DuckDB oracle reproduces it bit-for-bit."""
    boiler = (
        boilerplate_ngrams(documents, n, min_docs, text_col)
        .select("gram").withColumn("__b", F.lit(1))
    )
    grams = (
        documents.select("doc_id", F.split(F.lower(text_col), " ").alias("__toks"))
        .select("doc_id",
                F.explode(shingles_of_tokens(F.col("__toks"), n)).alias("gram"))
    )
    return (
        grams.join(F.broadcast(boiler), "gram", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
             F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("bigint").alias("n_boiler"))
        .select(
            "doc_id", "n_grams", "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_grams"), 6).alias("boiler_share"),
        )
    )


def chunk_dedup(documents: DataFrame, window: int = 3,
                divisor: int = 16, text_col: str = "text") -> DataFrame:
    """(chunk_hash, n_copies, n_docs, survivor) — EXACT dedup at the
    content-defined-chunk level: the scalable stand-in for
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better") — repeated passages shared
    across otherwise-distinct documents land in identical chunks
    because :func:`chunk_documents` boundaries are content-defined,
    so a plain hash-groupBy finds them.

    One map-side-combinable shuffle keyed on the chunk hash; the
    distinct-doc count rides the same exchange (partial distinct on
    (hash, doc_id)).  Emits every chunk group (n_copies = 1 included),
    matching :func:`~rdf_n3_spark.operators.dedup.exact_dedup`'s
    contract; filter ``n_copies > 1`` for the dup report."""
    ch = chunk_documents(documents, window, divisor, text_col)
    return (
        ch.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("survivor"),
        )
    )


def corpus_split(documents: DataFrame, train_pct: int = 90,
                 val_pct: int = 5, seed: str = "split-v1") -> DataFrame:
    """(doc_id, split) — deterministic, engine-portable train/val/test
    assignment: bucket = first 8 md5 hex chars of ``seed || doc_id``
    mod 100; [0, train) → train, [train, train+val) → val, rest →
    test.  Hash-based (not modulo-doc_id) so the split is uncorrelated
    with ingestion order or any id-encoded attribute, and seeded so a
    new seed re-deals WITHOUT moving the train/val boundary docs of
    the old one (the classic re-split leakage).

    Pure narrow map — no shuffle, no sampling nondeterminism; the same
    row always lands in the same split on any cluster size, which is
    what makes the assignment auditable and resumable at 100 TB."""
    return documents.select(
        "doc_id",
        split_expr(F.col("doc_id"), train_pct, val_pct, seed).alias("split"),
    )


def split_expr(doc_id_col, train_pct: int = 90, val_pct: int = 5,
               seed: str = "split-v1"):
    """The :func:`corpus_split` assignment as a bare Column expression:
    split membership is a PURE FUNCTION of the document id, so any
    consumer (a join-side probe, a per-batch audit) can
    evaluate it in place — no split table to maintain, distribute, or
    keep consistent."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed + "|"),
                               doc_id_col.cast("string"))), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(100),
    )
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


def curate_corpus(documents: DataFrame, benchmark: DataFrame, n: int = 4,
                  quality_min: float = 0.9, top_bigram_max: float = 0.08,
                  text_col: str = "text") -> DataFrame:
    """One keep/drop decision per document — the composite curation
    pass a training pipeline actually runs, with per-signal reason
    flags so drops are auditable:

    (doc_id, is_exact_dup, is_near_dup, contaminated, low_quality,
     repetitive, keep)

    - is_exact_dup:  not the min-doc_id survivor of its md5(text)
      group (window over the hash — ONE shuffle, no join-back);
    - is_near_dup:   dropped by the transitive MinHash-LSH cluster
      keep-list (:func:`~rdf_n3_spark.operators.dedup.neardup_clusters`);
    - contaminated:  shares a word ``n``-gram with ``benchmark``
      (:func:`decontaminate`; benchmark members inside the corpus are
      trivially contaminated — exactly right, eval docs must not be
      trained on);
    - low_quality:   heuristic quality score < ``quality_min``;
    - repetitive:    top-bigram share > ``top_bigram_max`` AND at
      least one bigram actually repeats (an all-distinct-bigram doc is
      never repetitive — without the guard, every clean document of
      ≤ 1 + 1/top_bigram_max tokens would be auto-flagged, since its
      top share is at least 1/(n_tokens−1));
    - keep = none of the above.

    Scale shape: each signal is an existing audited operator; the
    combine is doc_id equi-joins, co-partitioned after the first
    doc_id shuffle.  All flags are exact int/boolean comparisons (the
    two float thresholds compare order-stable single divisions), so
    the DuckDB oracle replays the whole decision bit-for-bit."""
    from pyspark.sql import Window

    from rdf_n3_spark.functions.text import quality_score, repetition_stats
    from rdf_n3_spark.operators.dedup import neardup_clusters

    w = Window.partitionBy(F.md5(text_col))
    exact = documents.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_exact_dup"),
    )
    near = neardup_clusters(documents).select(
        "doc_id", (F.col("is_dup") == 1).alias("is_near_dup"))
    cont = decontaminate(documents, benchmark, n, text_col).select(
        "doc_id", "contaminated")
    qual = quality_score(documents).select(
        "doc_id", (F.col("quality") < quality_min).alias("low_quality"))
    rep = repetition_stats(documents, text_col).select(
        "doc_id",
        ((F.col("top_bigram_frac") > top_bigram_max)
         & (F.col("dup_bigram_frac") > 0)).alias("repetitive"))
    flags = (
        exact.join(near, "doc_id").join(cont, "doc_id")
        .join(qual, "doc_id").join(rep, "doc_id")
    )
    drop = (F.col("is_exact_dup") | F.col("is_near_dup") | F.col("contaminated")
            | F.col("low_quality") | F.col("repetitive"))
    return flags.select(
        "doc_id", "is_exact_dup", "is_near_dup", "contaminated",
        "low_quality", "repetitive", (~drop).alias("keep"),
    )


#: paragraph-id packing: pid = doc_id·2^20 + para_idx.  Bounds are a
#: documented contract, not a guess: para_idx < 2^20 (a million
#: paragraphs per document) and doc_id < 2^43 (8 trillion documents)
#: keep pid inside int64.
_PARA_LIM = 1 << 20


def paragraph_neardup(documents: DataFrame, threshold: float = 0.8):
    """(doc_id, para_idx, survivor_doc, survivor_para, is_dup) — FUZZY
    paragraph-level dedup, the near-dup twin of :func:`paragraph_dedup`
    (which requires byte-exact paragraphs): paragraphs whose word-
    shingle Jaccard ≥ threshold cluster transitively, and only the
    corpus-first (min (doc_id, para_idx)) copy of each cluster
    survives.  Catches the boilerplate a crawler mutates slightly per
    page (dates, counters, names injected into a template paragraph)
    that exact hashing misses.

    Scale shape: posexplode is linear; everything after IS the
    document-level machinery (:func:`~rdf_n3_spark.operators.dedup.
    neardup_clusters` — per-row signatures, banded equi-join,
    hot-bucket star-collapse, CC with pointer-jumping) run over
    paragraph rows under a packed int64 id, so every audit that holds
    for document dedup holds here unchanged."""
    from rdf_n3_spark.operators.dedup import neardup_clusters

    paras = (
        documents.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\n")).alias("para_idx", "para"),
        )
        .where(F.length(F.trim("para")) > 0)
        # enforce the packed-id contract instead of assuming it: a
        # pathological document with ≥ 2^20 newline paragraphs would
        # otherwise alias into the NEXT doc_id's range and silently
        # attribute survivors to the wrong document
        .where(F.col("para_idx") < _PARA_LIM)
        .select(
            (F.col("doc_id") * _PARA_LIM + F.col("para_idx")).alias("doc_id"),
            F.col("para").alias("text"),
        )
    )
    cl = neardup_clusters(paras, threshold)
    pid, surv = F.col("doc_id"), F.col("survivor")
    return cl.select(
        F.expr(f"doc_id div {_PARA_LIM}").alias("doc_id"),
        F.pmod(pid, F.lit(_PARA_LIM)).cast("int").alias("para_idx"),
        F.expr(f"survivor div {_PARA_LIM}").alias("survivor_doc"),
        F.pmod(surv, F.lit(_PARA_LIM)).cast("int").alias("survivor_para"),
        "is_dup",
    )


def paragraph_dedup(documents: DataFrame) -> DataFrame:
    """(doc_id, para_idx, is_dup) — paragraph-level exact dedup (the
    Dolma recipe): every newline-delimited, non-empty paragraph is
    hashed; a paragraph is a duplicate iff the same md5 occurs
    anywhere else in the corpus (another document OR another position
    of the same document) and this occurrence is not the corpus-first
    (min (doc_id, para_idx)) one — so exactly one copy of each
    repeated paragraph survives, the removal rule a curation pass
    applies in place.  The paragraph-grain twin of the
    content-defined-chunk (`chunk_dedup`) pass.

    Scale shape: posexplode paragraphs (linear) → ONE map-side-
    combinable groupBy per hash computing (count, min position) →
    equi-join back (1 build row per hash, AQE-splittable on hot
    boilerplate paragraphs) — never a per-hash window."""
    paras = (
        documents.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), "\n")).alias("para_idx", "para"),
        )
        .where(F.length(F.trim("para")) > 0)
        .select("doc_id", "para_idx", F.md5("para").alias("h"))
    )
    firsts = (
        paras.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct("doc_id", "para_idx")).alias("first"),
        )
    )
    return (
        paras.join(firsts, "h")
        .select(
            "doc_id",
            F.col("para_idx").cast("int"),
            (
                (F.col("n") > 1)
                & ~((F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("para_idx") == F.col("first.para_idx")))
            ).cast("int").alias("is_dup"),
        )
    )


def split_leakage(documents: DataFrame, threshold: float = 0.8,
                  train_pct: int = 90, val_pct: int = 5,
                  seed: str = "split-v1") -> DataFrame:
    """(doc_a, split_a, doc_b, split_b) — train/eval LEAKAGE AUDIT:
    near-duplicate document pairs (LSH-blocked, exact-Jaccard-verified
    at ``threshold``, the `dedup.minhash_neardup_pairs` pair set) that
    STRADDLE a `corpus_split` boundary.  Hash-based splits place the
    two copies of a duplicated template independently, so ~2·p·(1-p)
    of near-dup pairs leak across splits — each one is an eval example
    the model has effectively seen in training, invisible to
    decontamination (which needs the benchmark a priori) and to
    within-split dedup.  A curation pass either re-assigns doc_b to
    doc_a's split or drops the eval-side copy; this operator emits the
    evidence rows with both memberships, doc_a < doc_b.

    Scale shape: the pair set is LEAKAGE-sized (≪ corpus) after the
    star-collapsed LSH verify; the split frame is a pure narrow map
    over the corpus, and the two membership joins are doc_id
    equi-joins AQE resolves (broadcasting the pair side when it is
    small, which at sane dup rates it always is).  No new shuffle
    shape beyond the dedup pass itself."""
    from rdf_n3_spark.operators.dedup import minhash_neardup_pairs

    pairs = minhash_neardup_pairs(documents, threshold=threshold)
    splits = corpus_split(documents, train_pct, val_pct, seed)
    return (
        pairs.join(
            splits.select(F.col("doc_id").alias("a"),
                          F.col("split").alias("split_a")), "a")
        .join(
            splits.select(F.col("doc_id").alias("b"),
                          F.col("split").alias("split_b")), "b")
        .where(F.col("split_a") != F.col("split_b"))
        .select(F.col("a").alias("doc_a"), "split_a",
                F.col("b").alias("doc_b"), "split_b")
    )


def corpus_datasheet(documents: DataFrame,
                     short_chars: int = 200) -> DataFrame:
    """(source, lang, n_docs, n_unique_texts, n_short, total_chars,
    total_tokens, max_chars) — the per-(source, lang) data card a
    corpus release ships with: volume (docs/chars/tokens), the
    exact-duplicate rate (``n_docs - n_unique_texts`` duplicated
    texts — countDistinct over the md5, never the text bytes), and
    the short-document share (``n_short`` below ``short_chars``).
    Every column is an exact integer; rates and averages are the
    reader's division.

    Scale shape: ONE aggregate on the tiny (source, lang) key —
    counts/sums are map-side combinable, and the distinct-count's
    internal expand carries 32-hex md5s, not document bytes.  Hot
    keys (one source dominating the corpus) collapse to one partial
    per partition for every column except the distinct, whose
    fixed-width hash keeps the exchange narrow."""
    ntok = F.size(F.split(F.lower("text"), " "))
    return documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct(F.md5("text")).cast("bigint")
        .alias("n_unique_texts"),
        F.sum(F.when(F.length("text") < short_chars, 1).otherwise(0))
        .cast("bigint").alias("n_short"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.sum(ntok).cast("bigint").alias("total_tokens"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
    )
