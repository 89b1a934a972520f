"""Document deduplication — the training-data-pipeline operator set.

All variants are built-in Column expressions (portable to the DuckDB
oracle) and follow the shapes a 100 TB corpus needs:

* exact        — hash-groupBy (one shuffle, map-side combinable);
* minhash+LSH  — word-3-gram shingles → 8 minhashes → banded buckets
                 (hot-bucket pruned) → verified n-gram Jaccard pairs;
* simhash      — 16-bit signature from per-token md5 nibble high-bits,
                 bucket-groupable (zero joins);
* embedding    — quantized-int dot products so cosine is bit-identical
                 across engines (float sum order is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_n3_spark.operators.canon import MAX_BUCKET, BANDS, N_HASHES


def shingles_of_tokens(toks, n: int = 3):
    """Distinct n-gram shingles of a TOKEN-ARRAY column.

    The tokens must already be a bound column (not an inline
    ``split(...)`` expression): a lambda body re-evaluates every
    expression it references per element, so an inline split would
    re-tokenize the whole text once per shingle — O(len²) per document
    (measured 26 µs/shingle vs ~1 µs with the bound column)."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def word_shingles(col, n: int = 3):
    """Distinct word n-gram shingles of a text column. Prefer
    projecting ``split(lower(text))`` to a column first and calling
    :func:`shingles_of_tokens` — see the quadratic-re-eval note there."""
    return shingles_of_tokens(F.split(F.lower(col), " "), n)


def exact_dedup(documents: DataFrame) -> DataFrame:
    """(text_hash, survivor doc_id, dup count) — exact duplicate groups."""
    return (
        documents.select(F.col("doc_id"), F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("survivor"), F.count(F.lit(1)).alias("n_dups"))
    )


def minhash_cols(n_hashes: int = N_HASHES):
    """Per-row minhash signature columns over a bound ``sh`` array —
    ``array_min(transform(...))`` is a per-row scan, so the signature
    needs NO shingle explode and NO groupBy shuffle (the former
    explode+groupBy shape shuffled 3× the corpus text)."""
    return [
        F.array_min(
            F.transform(F.col("sh"), lambda x: F.md5(F.concat(F.lit(f"{i}|"), x)))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ]


def doc_shingles(documents: DataFrame) -> DataFrame:
    """(doc_id, sh): word-3-gram shingle sets, computed over a BOUND
    token column.  The repartition is a deliberate barrier: it stops
    CollapseProject from re-inlining the split() into the shingle
    lambda (which would re-tokenize per shingle — measured 3.6× slower)
    and spreads a few-file corpus across the cluster."""
    toks = documents.select(
        F.col("doc_id"), F.split(F.lower("text"), " ").alias("toks")
    ).repartition("doc_id")
    return toks.select(F.col("doc_id"), shingles_of_tokens(F.col("toks")).alias("sh"))


def band_keyed(sig: DataFrame, n_hashes: int = N_HASHES,
               bands: int = BANDS) -> DataFrame:
    """(doc_id, band_key) — one row per LSH band: ``"<b>|<h..>|<h..>"``
    over the minhash signature columns ``h0..h{n-1}``."""
    rpb = n_hashes // bands
    band_arr = F.array(
        *[
            F.concat_ws("|", F.lit(str(b)),
                        *[F.col(f"h{b * rpb + r}") for r in range(rpb)])
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(band_arr).alias("band_key"))


def minhash_neardup_pairs(documents: DataFrame, threshold: float = 0.8,
                          n_hashes: int = N_HASHES, bands: int = BANDS,
                          max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(a, b) near-duplicate doc_id pairs: LSH blocking + exact word-
    shingle Jaccard ≥ threshold. Same skeleton as entity canon,
    including the hot-bucket star-collapse: a band bucket larger than
    ``max_bucket`` skips the quadratic pairwise self-join and instead
    emits linear star edges (bucket-min doc_id, member), so a
    template duplicated ≥ max_bucket times — whose copies agree on
    EVERY band — still reaches the exact verify and dedups, while the
    self-join stays skew-bounded at any corpus size (see
    canon.lsh_candidate_pairs for the full rationale)."""
    # lazy checkpoint: the shingle sets feed the signatures AND both
    # verify joins — computed once, cached, re-read (canon._shingle_sets
    # has the measurement; ~30% off end-to-end at sandbox scale)
    shs = doc_shingles(documents).localCheckpoint(eager=False)
    j = _banded_candidate_jaccard(shs, n_hashes, bands, max_bucket)
    return j.where(F.col("jaccard") >= threshold).select("a", "b")


def _banded_candidate_jaccard(shs: DataFrame, n_hashes: int = N_HASHES,
                              bands: int = BANDS,
                              max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(a, b, inter, uni, jaccard) — the LSH-blocked candidate pair
    set (hot buckets star-collapsed) with the exact shingle overlap
    sizes attached: the shared verify stage behind
    :func:`minhash_neardup_pairs` and :func:`contrastive_pairs`.
    ``inter``/``uni`` are exact int sizes so integer-arithmetic
    threshold tests stay engine-portable."""
    sig = shs.select("doc_id", *minhash_cols(n_hashes))
    keyed = band_keyed(sig, n_hashes, bands)
    hot = (
        keyed.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("bucket_min"))
        .where(F.col("n") > max_bucket)
        .select("band_key", "bucket_min")
    )
    kept = keyed.join(F.broadcast(hot.select("band_key")), "band_key", "left_anti")
    pairwise = (
        kept.alias("l").join(kept.alias("r"), "band_key")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
    star = (
        keyed.join(F.broadcast(hot), "band_key")
        .where(F.col("doc_id") > F.col("bucket_min"))
        .select(F.col("bucket_min").alias("a"), F.col("doc_id").alias("b"))
    )
    cand = pairwise.unionByName(star).distinct()
    return (
        cand.join(shs.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(shs.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b")
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")).cast("long"))
        .withColumn("uni", F.size(F.array_union("sha", "shb")).cast("long"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )


def contrastive_pairs(documents: DataFrame, pos_threshold: float = 0.8,
                      neg_lo: float = 0.05, neg_hi: float = 0.5,
                      n_hashes: int = N_HASHES, bands: int = BANDS,
                      max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(doc_a, doc_b, j_pct, label) — contrastive TRAINING-PAIR mining
    for embedding models over the corpus itself: ``pos`` pairs are the
    verified near-duplicates (exact word-shingle Jaccard ≥
    ``pos_threshold`` — semantically interchangeable texts), ``hardneg``
    pairs collide in an LSH band yet verify into [``neg_lo``,
    ``neg_hi``) — lexically overlapping but NOT near-duplicates, the
    hard negatives a random in-batch draw almost never surfaces (a
    random pair shares ~0 shingles; a band collision shares enough to
    confuse an untrained encoder).  Candidates between ``neg_hi`` and
    ``pos_threshold`` are ambiguous and emitted as neither.

    All threshold tests run in EXACT integer arithmetic on the shingle
    overlap sizes (Jaccard ≥ t ⇔ 100·|∩| ≥ 100·t·|∪| with integer
    ``j_pct = (100·|∩|) div |∪|`` reported), so the label set is
    bit-identical across engines and partitionings — no float
    comparison anywhere.

    Scale shape: identical to :func:`minhash_neardup_pairs` (same
    banded blocking, same star-collapse, same single checkpointed
    shingle scan feeding signatures and verify); the only addition is
    the label CASE over already-computed sizes."""
    shs = doc_shingles(documents).localCheckpoint(eager=False)
    j = _banded_candidate_jaccard(shs, n_hashes, bands, max_bucket)
    return _label_pairs(j, "a", "b", pos_threshold, neg_lo, neg_hi)


def _label_pairs(j: DataFrame, a_col: str, b_col: str,
                 pos_threshold: float, neg_lo: float,
                 neg_hi: float) -> DataFrame:
    """Integer-arithmetic contrastive labeling over (a, b, inter, uni)
    rows — the shared cut behind :func:`contrastive_pairs` and
    :func:`contrastive_pairs_incremental`."""
    pos_c = F.lit(int(round(pos_threshold * 100)))
    lo_c = F.lit(int(round(neg_lo * 100)))
    hi_c = F.lit(int(round(neg_hi * 100)))
    i100 = F.col("inter") * 100
    label = (
        F.when(i100 >= pos_c * F.col("uni"), "pos")
        .when((i100 >= lo_c * F.col("uni")) & (i100 < hi_c * F.col("uni")),
              "hardneg")
    )
    return (
        j.withColumn("label", label)
        .where(F.col("label").isNotNull())
        .select(
            F.col(a_col).alias("doc_a"), F.col(b_col).alias("doc_b"),
            F.expr("CAST((100 * inter) DIV uni AS BIGINT)").alias("j_pct"),
            "label",
        )
    )


def contrastive_pairs_incremental(new_docs: DataFrame, corpus: DataFrame,
                                  pos_threshold: float = 0.8,
                                  neg_lo: float = 0.05, neg_hi: float = 0.5,
                                  n_hashes: int = N_HASHES, bands: int = BANDS,
                                  max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Contrastive training-pair mining AT INGEST — the incremental
    twin of :func:`contrastive_pairs`: each NEW batch contributes
    labeled pairs both WITHIN itself (the batch miner, full hot-bucket
    machinery) and AGAINST the persisted corpus LSH index
    (:func:`corpus_rep_overlap` — band probe + exact sizes vs the
    bucket representative, the same bounded-skew trade as the ingest
    gate).  Cross rows put the corpus representative in ``doc_a`` and
    the new document in ``doc_b`` (provenance: which side was already
    in the training pool); within-batch rows keep the miner's
    ``doc_a < doc_b``.  Same integer-arithmetic label contract, so the
    pair stream a continuous embedding-training pipeline accumulates
    is bit-identical to re-mining at rest.

    Scale: per-batch work is index-sized + batch-sized, never
    corpus-sized — mining rides the exact joins the ingest gate
    already runs."""
    within = contrastive_pairs(new_docs, pos_threshold, neg_lo, neg_hi,
                               n_hashes, bands, max_bucket)
    cross = _label_pairs(
        corpus_rep_overlap(new_docs, corpus, n_hashes, bands),
        "rep", "doc_id", pos_threshold, neg_lo, neg_hi)
    return within.unionByName(cross)


_JACCARD = (
    lambda: F.size(F.array_intersect("sha", "shb"))
    / F.size(F.array_union("sha", "shb"))
)


def source_dup_matrix(documents: DataFrame, threshold: float = 0.8,
                      n_hashes: int = N_HASHES, bands: int = BANDS,
                      max_bucket: int = MAX_BUCKET,
                      pairs: DataFrame | None = None) -> DataFrame:
    """(source_a, source_b, n_pairs) — the cross-source contamination
    report: how many verified near-duplicate pairs connect each
    (unordered) pair of sources.  The question every corpus audit asks
    first — which feeds are re-crawls of which — answered from the
    pair set that dedup already computes: one tiny extra join against
    the doc→source map and a groupBy over #sources² rows at most.

    ``pairs`` — an already-verified (a, b) near-dup pair set to reuse.
    In a real pipeline LSH + verify runs ONCE per batch and every
    consumer (matrix, clusters, gate) reads the same materialized pair
    table; pass it here so composite audits don't re-run LSH.  When
    omitted the operator is self-contained and computes its own."""
    if pairs is None:
        pairs = minhash_neardup_pairs(documents, threshold, n_hashes, bands,
                                      max_bucket)
    src = documents.select("doc_id", "source")
    lab = (
        pairs.join(src.withColumnRenamed("doc_id", "a")
                   .withColumnRenamed("source", "sa"), "a")
        .join(src.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("source", "sb"), "b")
    )
    return (
        lab.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def lsh_band_index(corpus: DataFrame, n_hashes: int = N_HASHES,
                   bands: int = BANDS) -> DataFrame:
    """(band_key, rep) — the persisted ingest-gate index: per LSH band
    key, the MIN corpus doc_id as the bucket's representative.  ONE
    row per distinct band key by construction, so (a) the index size
    is bounded by key cardinality, not corpus size, and (b) a new
    batch probing it can never hit a skewed join key — the properties
    that make incremental dedup at 100 TB an index lookup instead of a
    corpus re-scan."""
    shs = doc_shingles(corpus)
    sig = shs.select("doc_id", *minhash_cols(n_hashes))
    return (
        band_keyed(sig, n_hashes, bands)
        .groupBy("band_key")
        .agg(F.min("doc_id").alias("rep"))
    )


def corpus_rep_neardups(new_docs: DataFrame, corpus: DataFrame,
                        threshold: float = 0.8, n_hashes: int = N_HASHES,
                        bands: int = BANDS) -> DataFrame:
    """(doc_id, rep) — NEW documents whose exact word-shingle Jaccard
    against their LSH-bucket REPRESENTATIVE in the persisted corpus
    index clears ``threshold``: the corpus-side half of
    :func:`incremental_neardup`, returning the verified (new, corpus)
    pairs themselves rather than only the keep/drop verdict.
    Same bounded-skew representative-verify trade as the ingest gate;
    per-batch work is index-sized + batch-sized, never corpus-sized."""
    return (
        corpus_rep_overlap(new_docs, corpus, n_hashes, bands)
        .where(F.col("inter") * F.lit(100)
               >= F.lit(int(round(threshold * 100))) * F.col("uni"))
        .select("doc_id", "rep")
    )


def corpus_rep_overlap(new_docs: DataFrame, corpus: DataFrame,
                       n_hashes: int = N_HASHES,
                       bands: int = BANDS) -> DataFrame:
    """(doc_id, rep, inter, uni) — every (new doc, corpus bucket
    representative) candidate that collides in an LSH band, with the
    EXACT shingle intersection/union sizes attached and NO similarity
    filter: the unfiltered verify stage both
    :func:`corpus_rep_neardups` (≥ threshold) and
    :func:`contrastive_pairs_incremental` (labeled bands) cut from.
    Integer sizes so every downstream threshold test stays
    engine-portable."""
    shs_new = doc_shingles(new_docs).localCheckpoint(eager=False)
    sig_new = shs_new.select("doc_id", *minhash_cols(n_hashes))
    cand = (
        band_keyed(sig_new, n_hashes, bands)
        .join(lsh_band_index(corpus, n_hashes, bands), "band_key")
        .select("doc_id", "rep")
        .distinct()
    )
    cshs = doc_shingles(corpus)
    return (
        cand.join(shs_new.withColumnRenamed("sh", "sha"), "doc_id")
        .join(cshs.select(F.col("doc_id").alias("rep"),
                          F.col("sh").alias("shb")), "rep")
        .select(
            "doc_id", "rep",
            F.size(F.array_intersect("sha", "shb")).cast("long").alias("inter"),
            F.size(F.array_union("sha", "shb")).cast("long").alias("uni"),
        )
    )


def incremental_neardup(new_docs: DataFrame, corpus: DataFrame,
                        threshold: float = 0.8, n_hashes: int = N_HASHES,
                        bands: int = BANDS,
                        max_bucket: int = MAX_BUCKET,
                        batch_pairs: DataFrame | None = None) -> DataFrame:
    """(doc_id, dup_of_corpus, dup_of_batch, keep) — the incremental
    ingest gate: each NEW document is checked against the existing
    corpus via :func:`lsh_band_index` (band-key probe + exact-Jaccard
    verify against the bucket representative) and against earlier
    documents of its own batch (:func:`minhash_neardup_pairs` with the
    full hot-bucket machinery).  ``keep`` = 1 iff neither check fires.

    Production shape: the index and the corpus shingle sets are
    *persisted* tables maintained by previous ingests (here recomputed
    from ``corpus`` — the plan downstream of them is identical); each
    batch touches index-sized and batch-sized data only, NEVER the
    corpus text.  Verifying against the bucket *representative* (not
    every member) is the same bounded-skew trade as the hot-bucket
    star-collapse: recall dips only when a bucket mixes families, and
    a true template family shares every band with its representative.

    ``batch_pairs`` — an already-verified intra-batch (a, b) pair set
    to reuse (same contract as :func:`source_dup_matrix`'s ``pairs``):
    composites that also need the batch's pair set compute it once and
    pass it to every consumer instead of re-running LSH here."""
    ver = corpus_rep_neardups(new_docs, corpus, threshold, n_hashes, bands)
    corp = ver.groupBy("doc_id").agg(F.min("rep").alias("dup_of_corpus"))
    if batch_pairs is None:
        batch_pairs = minhash_neardup_pairs(new_docs, threshold, n_hashes,
                                            bands, max_bucket)
    batchdup = (
        batch_pairs
        .groupBy(F.col("b").alias("doc_id"))
        .agg(F.min("a").alias("dup_of_batch"))
    )
    return (
        new_docs.select("doc_id")
        .join(corp, "doc_id", "left")
        .join(batchdup, "doc_id", "left")
        .select(
            "doc_id", "dup_of_corpus", "dup_of_batch",
            (F.col("dup_of_corpus").isNull()
             & F.col("dup_of_batch").isNull()).cast("int").alias("keep"),
        )
    )


def jaccard_neardup_pairs(documents: DataFrame,
                          threshold: float = 0.8) -> DataFrame:
    """(a, b) doc_id pairs with EXACT word-3-gram Jaccard ≥ threshold —
    the prefix-filtered set-similarity self-join (AllPairs/PPJoin
    family), the exact-recall complement to :func:`minhash_neardup_pairs`.

    Scale shape: each doc posts only its first
    ``|sh| - ceil(t*|sh|) + 1`` shingles under a global total order
    (md5 of the shingle — deterministic, engine-portable, needs no
    second corpus scan the way document-frequency ordering would).
    Lemma (Chaudhuri SSJoin / Bayardo AllPairs): J(a,b) ≥ t implies
    |a∩b| ≥ ceil(t·max(|a|,|b|)) ≥ ceil(t·|x|) for each side, and two
    sorted sets with overlap ≥ o must share an element within their
    (|x| - o + 1)-prefixes — so the prefix equi-join has recall 1,
    unlike any LSH blocker.  At t = 0.8 the posting volume is ~20% of
    the corpus shingle volume, it is an equi-join (never a cross
    join), and the length filter min ≥ t·max prunes inside the join.
    The exact intersect/union verify then keeps precision 1, so the
    operator's output EQUALS brute force — which is exactly what the
    DuckDB oracle runs."""
    shs = doc_shingles(documents).localCheckpoint(eager=False)
    sorted_sh = F.array_sort(
        F.transform("sh", lambda x: F.struct(F.md5(x).alias("k"), x.alias("v")))
    )
    sz = F.size("sh")
    plen = (sz - F.ceil(F.lit(threshold) * sz) + 1).cast("int")
    pre = (
        shs.select(
            "doc_id",
            sz.alias("sz"),
            F.explode(F.slice(sorted_sh, F.lit(1), F.greatest(plen, F.lit(1)))).alias("e"),
        )
        .select("doc_id", "sz", F.col("e.k").alias("tok"))
    )
    cand = (
        pre.alias("l").join(pre.alias("r"), "tok")
        .where(
            (F.col("l.doc_id") < F.col("r.doc_id"))
            & (F.least("l.sz", "r.sz") >= F.lit(threshold) * F.greatest("l.sz", "r.sz"))
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    j = (
        cand.join(shs.select(F.col("doc_id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(shs.select(F.col("doc_id").alias("b"), F.col("sh").alias("shb")), "b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sha", "shb"))
            / F.size(F.array_union("sha", "shb")),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select("a", "b")


def neardup_clusters(documents: DataFrame, threshold: float = 0.8,
                     n_hashes: int = N_HASHES, bands: int = BANDS,
                     max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(doc_id, survivor, is_dup) — the keep-list that finishes the
    dedup story: near-duplicate PAIRS (:func:`minhash_neardup_pairs`)
    → connected components → every document labeled with its cluster's
    canonical survivor (the component's min doc_id; singletons survive
    as themselves, ``is_dup`` = 1 marks the rows a training pipeline
    drops).

    Scale shape: the component step reuses
    :func:`~rdf_n3_spark.operators.canon.connected_components`
    (min-label propagation, stall-triggered pointer-jumping, one
    driver action per round), whose node set is only the documents
    that appear in a verified pair — at web scale a minority of the
    corpus even under heavy duplication.  The final label assignment
    is a plain equi-join of the full corpus against that (smaller)
    label table; transitivity is exactly what pairwise output cannot
    give (A≈B, B≈C but A̸≈C still dedups to one survivor), and the
    hot-bucket star edges guarantee mega-template families arrive
    here as one component (tests/test_hot_bucket_collapse.py)."""
    from rdf_n3_spark.operators.canon import connected_components

    pairs = minhash_neardup_pairs(documents, threshold, n_hashes, bands,
                                  max_bucket)
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    lbl = F.coalesce("comp", "doc_id")
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            lbl.alias("survivor"),
            (lbl != F.col("doc_id")).cast("int").alias("is_dup"),
        )
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash) — bit i of the signature is the sign of the
    sum over tokens of ±1 from the high bit of md5 hex nibble i.
    Pure agg (no join); engine-portable (md5 + substring + CASE)."""
    tok = documents.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    ).withColumn("h", F.md5("tok"))
    high = set("89abcdef")
    aggs = [
        F.sum(
            F.when(F.substring("h", i + 1, 1).isin(*high), 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("doc_id").agg(*aggs)
    sig = F.concat(*[F.when(F.col(f"b{i}") > 0, F.lit("1")).otherwise(F.lit("0"))
                     for i in range(bits)])
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_hamming_pairs(documents: DataFrame, k: int = 3,
                          bits: int = 32,
                          max_bucket: int = MAX_BUCKET) -> DataFrame:
    """(a, b, hamming) doc_id pairs whose simhash signatures differ in
    ≤ k of ``bits`` positions — the fuzzy complement of
    :func:`simhash_buckets` (which only groups *identical* signatures).

    Blocking is the pigeonhole chunk trick (the shape of Manku et al.,
    "Detecting Near-Duplicates for Web Crawling", WWW'07): split the
    signature into k+1 contiguous chunks; two signatures within Hamming
    distance k disagree in at most k chunks, so they must agree EXACTLY
    on at least one — the chunk value is a recall-1 equi-join key
    (unlike MinHash banding, whose candidate recall is probabilistic).
    The verify is the exact positional disagreement count, so precision
    is 1 as well: absent hot buckets the output EQUALS brute force,
    which is what the DuckDB oracle runs through the same plan.

    Scale shape mirrors :func:`minhash_neardup_pairs`: per-chunk
    equi-self-join, hot chunk buckets (> ``max_bucket`` members —
    2^chunk_width is the bucket count per chunk, so grow ``bits`` with
    the corpus) skip the quadratic pairwise join and emit linear star
    edges through the bucket-min doc instead; within a hot bucket the
    pair set degrades from complete to star (the same bounded-skew
    trade as the MinHash path — downstream connected components still
    merges true near-dup families through the hub)."""
    chunks = k + 1
    base, extra = divmod(bits, chunks)
    # lazy checkpoint: the signature table feeds the chunk keys AND both
    # sides of the exact verify — computed once, re-read thereafter
    sig = simhash(documents, bits).localCheckpoint(eager=False)
    keys, start = [], 1
    for c in range(chunks):
        width = base + (1 if c < extra else 0)
        keys.append(F.concat(F.lit(f"{c}|"), F.substring("simhash", start, width)))
        start += width
    keyed = sig.select("doc_id", F.explode(F.array(*keys)).alias("band_key"))
    hot = (
        keyed.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("bucket_min"))
        .where(F.col("n") > max_bucket)
        .select("band_key", "bucket_min")
    )
    kept = keyed.join(F.broadcast(hot.select("band_key")), "band_key", "left_anti")
    pairwise = (
        kept.alias("l").join(kept.alias("r"), "band_key")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
    star = (
        keyed.join(F.broadcast(hot), "band_key")
        .where(F.col("doc_id") > F.col("bucket_min"))
        .select(F.col("bucket_min").alias("a"), F.col("doc_id").alias("b"))
    )
    cand = pairwise.unionByName(star).distinct()
    ham = sum(
        F.when(
            F.substring("sa", i + 1, 1) != F.substring("sb", i + 1, 1), 1
        ).otherwise(0)
        for i in range(bits)
    )
    j = (
        cand.join(sig.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sa")), "a")
        .join(sig.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sb")), "b")
        .withColumn("hamming", ham.cast("int"))
    )
    return j.where(F.col("hamming") <= k).select("a", "b", "hamming")


def simhash_buckets(documents: DataFrame) -> DataFrame:
    """Near-dup candidate groups = identical simhash (bucket id + size)."""
    return (
        simhash(documents)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("survivor"))
    )


def quantize(col, scale: int = 1000):
    """float embedding → int array; integer dot products are exact and
    identical across engines (double sums are order-sensitive).
    try_cast: a poisoned component (NaN/Inf/overflow) nulls out instead
    of raising the ANSI cast error mid-job — the null then propagates
    to a null similarity, which every threshold/rank filter drops."""
    return F.transform(col, lambda x: F.round(x * scale).try_cast("bigint"))


def sq_norm(col):
    """Exact bigint sum of squares of a quantized vector column (the
    zero-norm guard input: > 0 ⇔ the vector survived quantization)."""
    return F.aggregate(F.transform(col, lambda x: x * x),
                       F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def cos_expr(ea, eb):
    """THE shared cosine discipline over two quantized vector columns:
    exact bigint dot / product of correctly-rounded sqrt norms — one
    IEEE division, bit-identical across engines and partitionings.
    Every cosine in the engine (dedup verify, gate verify, ANN scoring
    via similarity._cos) routes through this single definition so the
    quantize/try_cast null-propagation contract can never drift."""
    dot = F.aggregate(F.zip_with(ea, eb, lambda x, y: x * y),
                      F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    return dot / (F.sqrt(sq_norm(ea).cast("double"))
                  * F.sqrt(sq_norm(eb).cast("double")))


#: random-hyperplane LSH defaults: BANDS_E band keys of BITS_E sign bits
#: each (OR-amplification, SimHash-style).  2^BITS_E is the bucket count
#: per band — the scale knob: grow BITS_E with the corpus so band
#: buckets stay join-able (exactly like MinHash band width above).
BANDS_E = 8
BITS_E = 4


def hyperplane_weights(bands: int = BANDS_E, bits: int = BITS_E,
                       dims: int = 64) -> list:
    """Deterministic ±1 hyperplane weights, md5-derived — shared with
    the DuckDB oracle (the SQL embeds the same literals), so bucketing
    is engine-portable with zero float ambiguity."""
    import hashlib

    return [
        [
            [
                1 if int(hashlib.md5(f"{b}|{j}|{i}".encode()).hexdigest()[0], 16) >= 8
                else -1
                for i in range(dims)
            ]
            for j in range(bits)
        ]
        for b in range(bands)
    ]


def lsh_band_keys(qcol, bands: int = BANDS_E, bits: int = BITS_E,
                  dims: int = 64):
    """Quantized embedding → array of band keys ``"<b>|<sign bits>"``.
    Each sign is the sign of an exact int64 dot product with a ±1
    hyperplane (quantized components × ±1 — order-independent, so any
    engine computes the identical bucket).

    Each dot is ``aggregate(zip_with(...))`` over a literal weight
    array, not dims inlined ``element_at`` terms: the inlined form
    (bands×bits×dims = 2048 arithmetic nodes) pushed the generated
    method past the JVM 64 KB limit, silently dropping the whole stage
    out of codegen.  A short vector zips against trailing null weights
    → null dot → '0' bit (deterministic bucket, no ANSI index error —
    the same failure mode the old try_element_at form had)."""
    chars = band_sign_chars(qcol, bands, bits, dims)
    return F.array(*[
        F.concat(F.lit(f"{b}|"), *chars[b]) for b in range(bands)
    ])


def band_sign_chars(qcol, bands: int = BANDS_E, bits: int = BITS_E,
                    dims: int = 64) -> list:
    """The per-(band, bit) sign characters behind :func:`lsh_band_keys`
    as a ``bands × bits`` list of '1'/'0' Column expressions — exposed
    so multi-probe consumers (similarity.lsh_probe_keys) can emit
    bit-flipped variants without recomputing the dot products' shape."""
    W = hyperplane_weights(bands, bits, dims)
    e = F.slice(qcol, 1, dims)
    out = []
    for b in range(bands):
        chars = []
        for j in range(bits):
            dot = F.aggregate(
                F.zip_with(e, F.array(*[F.lit(w) for w in W[b][j]]),
                           lambda x, y: x * y),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            )
            chars.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
        out.append(chars)
    return out


def embedding_neardup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                            max_query_id: int | None = 50, bands: int = BANDS_E,
                            bits: int = BITS_E, dims: int = 64) -> DataFrame:
    """(a, b) near-duplicate pairs with quantized-cosine ≥ threshold:
    banded random-hyperplane LSH blocking + the EXACT cosine verify.

    Same skeleton as :func:`minhash_neardup_pairs`: per-vector band
    keys → equi-self-join on the band key → distinct candidate pairs →
    exact verify.  At full-corpus scope the former broadcast-crossJoin
    was the all-pairs quadratic shape; here candidate volume is bounded
    by band-bucket co-occupancy, and the band key is an equi-join
    column, never a cross-join.  Like every LSH blocker, recall < 1 by
    construction — a pair is a candidate iff it agrees on ALL bits of
    ≥1 band (measured on the sandbox corpus in
    tests/test_similarity_dedup.py; bands is the recall knob, bits the
    bucket-size/scale knob)."""
    qe = embeddings.select("vec_id", quantize(F.col("embedding")).alias("e"))
    keyed = qe.select(
        "vec_id", F.explode(lsh_band_keys(F.col("e"), bands, bits, dims)).alias("band_key")
    )
    if max_query_id is not None:  # None = full-corpus self-dedup scope
        keyed_q = keyed.where(F.col("vec_id") < max_query_id)
    else:
        keyed_q = keyed
    qk = keyed_q.withColumnRenamed("vec_id", "a")
    tk = keyed.withColumnRenamed("vec_id", "b")
    cand = (
        qk.join(tk, "band_key")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    pairs = (
        cand.join(qe.select(F.col("vec_id").alias("a"), F.col("e").alias("ea")), "a")
        .join(qe.select(F.col("vec_id").alias("b"), F.col("e").alias("eb")), "b")
        .withColumn("cos", cos_expr(F.col("ea"), F.col("eb")))
    )
    return pairs.where(F.col("cos") >= threshold).select("a", "b")


def embedding_neardup_clusters(embeddings: DataFrame,
                               threshold: float = 0.95,
                               bands: int = BANDS_E, bits: int = BITS_E,
                               dims: int = 64) -> DataFrame:
    """(vec_id, survivor, is_dup) — the embedding-space twin of
    :func:`neardup_clusters`: full-corpus cosine near-dup PAIRS
    (:func:`embedding_neardup_pairs` with no query cap) closed
    transitively, every vector labeled with its cluster's min-vec_id
    survivor.  Same scale shape as the text path: the CC node set is
    only vectors appearing in a verified pair; the final label
    assignment is one equi-join of the corpus against the (smaller)
    label table."""
    from rdf_n3_spark.operators.canon import connected_components

    pairs = embedding_neardup_pairs(embeddings, threshold,
                                    max_query_id=None, bands=bands,
                                    bits=bits, dims=dims)
    comp = connected_components(pairs).withColumnRenamed("node", "vec_id")
    lbl = F.coalesce("comp", "vec_id")
    return (
        embeddings.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            lbl.alias("survivor"),
            (lbl != F.col("vec_id")).cast("int").alias("is_dup"),
        )
    )


def embedding_band_index(corpus: DataFrame, bands: int = BANDS_E,
                         bits: int = BITS_E, dims: int = 64) -> DataFrame:
    """(band_key, rep) — the embedding-space twin of
    :func:`lsh_band_index`: per hyperplane-LSH band key, the MIN corpus
    vec_id as the bucket representative.  One row per distinct band key
    by construction — index size bounded by key cardinality, probe
    joins skew-proof — the same properties that make the text ingest
    gate an index lookup instead of a corpus re-scan."""
    qe = corpus.select("vec_id", quantize(F.col("embedding")).alias("e"))
    keyed = qe.select(
        "vec_id",
        F.explode(lsh_band_keys(F.col("e"), bands, bits, dims)).alias("band_key"),
    )
    return keyed.groupBy("band_key").agg(F.min("vec_id").alias("rep"))


def _cos_verified(cand: DataFrame, left: DataFrame, right: DataFrame,
                  threshold: float) -> DataFrame:
    """cand(a-col named per join) — attach quantized vectors and keep
    rows with exact int-dot cosine ≥ threshold; zero-norm vectors are
    excluded BEFORE the division (NaN orders above every double in
    Spark, which would silently pass the test — the semdedup guard)."""
    joined = cand.join(left, cand.columns[0]).join(right, cand.columns[1])
    return (
        joined.where((sq_norm(F.col("ea")) > 0) & (sq_norm(F.col("eb")) > 0))
        .where(cos_expr(F.col("ea"), F.col("eb")) >= threshold)
    )


def incremental_embedding_neardup(new_vecs: DataFrame, corpus: DataFrame,
                                  threshold: float = 0.95,
                                  bands: int = BANDS_E, bits: int = BITS_E,
                                  dims: int = 64) -> DataFrame:
    """(vec_id, dup_of_corpus, dup_of_batch, keep) — the embedding-space
    incremental ingest gate, mirroring :func:`incremental_neardup`:
    each NEW vector probes the persisted :func:`embedding_band_index`
    (band-key equi-join + exact-cosine verify against the bucket
    representative's corpus vector) and is checked against earlier
    vectors of its own batch (full :func:`embedding_neardup_pairs`
    machinery, batch scope).  ``keep`` = 1 iff neither check fires.

    Scale: per batch the work is index-sized + batch-sized — the
    corpus embedding table is touched only via the rep-keyed equi-join
    (one row per verified candidate), never scanned.  Representative-
    only verify carries the same bounded-recall trade as the text gate
    (a bucket mixing two semantic families mislabels the minority),
    with the batch operator as the exact end-of-day sweep."""
    qn = new_vecs.select("vec_id", quantize(F.col("embedding")).alias("e"))
    cand = (
        qn.select("vec_id",
                  F.explode(lsh_band_keys(F.col("e"), bands, bits, dims))
                  .alias("band_key"))
        .join(embedding_band_index(corpus, bands, bits, dims), "band_key")
        .select("vec_id", "rep")
        .distinct()
    )
    qc = corpus.select(F.col("vec_id").alias("rep"),
                       quantize(F.col("embedding")).alias("eb"))
    ver = _cos_verified(
        cand, qn.select(F.col("vec_id"), F.col("e").alias("ea")), qc, threshold)
    corp = ver.groupBy("vec_id").agg(F.min("rep").alias("dup_of_corpus"))
    # zero-norm vectors can never verify; exclude them from the
    # intra-batch self-pairs too (embedding_neardup_pairs has no guard
    # of its own — a NaN cosine would compare above the threshold)
    nonzero = new_vecs.where(sq_norm(quantize(F.col("embedding"))) > 0)
    batch_pairs = embedding_neardup_pairs(
        nonzero, threshold, max_query_id=None, bands=bands, bits=bits,
        dims=dims)
    earlier = (
        batch_pairs.groupBy(F.col("b").alias("vec_id"))
        .agg(F.min("a").alias("dup_of_batch"))
    )
    return (
        new_vecs.select("vec_id")
        .join(corp, "vec_id", "left")
        .join(earlier, "vec_id", "left")
        .select(
            "vec_id", "dup_of_corpus", "dup_of_batch",
            (F.col("dup_of_corpus").isNull()
             & F.col("dup_of_batch").isNull()).cast("int").alias("keep"),
        )
    )
