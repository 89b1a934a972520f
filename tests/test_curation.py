"""Curation operators: benchmark decontamination, sequence packing,
and the Gopher-style repetition filters (functions.text.repetition_stats).

Semantics are pinned on hand-built corpora with known answers; the
scale shapes (broadcast semi-join, 3-int-column applyInPandas) are
pinned as plan audits in the style of tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_n3_spark.functions.text import keyword_topk, repetition_stats
from rdf_n3_spark.operators.curation import (
    chunk_documents,
    corpus_split,
    curate_corpus,
    decontaminate,
    pack_sequences,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


# ---------------------------------------------------------------- decontaminate

def test_decontaminate_flags_shared_ngrams(spark):
    corpus = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely unrelated words here nothing shared at all"),
        (3, "quick brown fox jumps again and again today"),
    ])
    bench = _docs(spark, [
        (100, "watch the quick brown fox jumps high"),
    ])
    got = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(corpus, bench, n=4).collect()}
    # bench 4-grams: {watch the quick brown, the quick brown fox,
    #                 quick brown fox jumps, brown fox jumps high}
    assert got[1] == (2, True)   # "the quick brown fox", "quick brown fox jumps"
    assert got[2] == (0, False)
    assert got[3] == (1, True)   # "quick brown fox jumps"


def test_decontaminate_counts_distinct_grams_once(spark):
    # corpus doc repeats the contaminated gram — array_distinct on the
    # corpus side means it still counts once
    corpus = _docs(spark, [(1, "a b c d x a b c d")])
    bench = _docs(spark, [(9, "a b c d")])
    [row] = decontaminate(corpus, bench, n=4).collect()
    assert (row["n_hits"], row["contaminated"]) == (1, True)


def test_decontaminate_is_broadcast_semi_join(spark):
    """The benchmark gram set must broadcast: the corpus side never
    shuffles for any join (only the per-doc hit count aggregates —
    the single-pass marker-sum shape, no corpus-keyed rejoin)."""
    corpus = _docs(spark, [(1, "a b c d e")])
    bench = _docs(spark, [(9, "a b c d")])
    plan = decontaminate(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_tokenizes_once_per_row(spark):
    """Same CollapseProject pitfall as fingerprint: the gram lambda
    must slice the bound token array, never re-run split() per gram."""
    corpus = _docs(spark, [(1, "a b c d e")])
    bench = _docs(spark, [(9, "a b c d")])
    plan = decontaminate(corpus, bench)._jdf.queryExecution().optimizedPlan().toString()
    assert "slice(split" not in plan
    assert "slice(__toks" in plan


# ---------------------------------------------------------------- pack_sequences

def _greedy_reference(rows, capacity, n_shards):
    """Independent driver-side replay of the documented contract."""
    out = {}
    by_shard = {}
    for doc_id, text in rows:
        by_shard.setdefault(doc_id % n_shards, []).append(
            (doc_id, len(text.lower().split(" "))))
    for shard, docs in by_shard.items():
        bin_idx, cum = 0, 0
        for doc_id, nt in sorted(docs):
            if cum > 0 and cum + nt > capacity:
                bin_idx, cum = bin_idx + 1, 0
            out[doc_id] = (shard, bin_idx, cum, nt)
            cum += nt
    return out


def test_pack_sequences_matches_greedy_reference(spark):
    rows = [(i, " ".join(f"t{j}" for j in range((i * 7) % 40 + 1)))
            for i in range(50)]
    got = {r["doc_id"]: (r["shard"], r["bin_idx"], r["bin_offset"], r["n_tokens"])
           for r in pack_sequences(_docs(spark, rows), capacity=64,
                                   n_shards=4).collect()}
    assert got == _greedy_reference(rows, capacity=64, n_shards=4)


def test_pack_sequences_bins_respect_capacity(spark):
    rows = [(i, " ".join(["w"] * ((i % 30) + 1))) for i in range(60)]
    df = pack_sequences(_docs(spark, rows), capacity=48, n_shards=4)
    per_bin = (
        df.groupBy("shard", "bin_idx")
        .agg(F.sum("n_tokens").alias("tot"), F.count("*").alias("n"))
        .collect()
    )
    # a bin only exceeds capacity when it holds a single oversize doc
    for r in per_bin:
        assert r["tot"] <= 48 or r["n"] == 1


def test_pack_sequences_oversize_doc_gets_own_bin(spark):
    rows = [(0, "a b c"), (4, " ".join(["x"] * 100)), (8, "d e")]
    got = {r["doc_id"]: r for r in
           pack_sequences(_docs(spark, rows), capacity=10,
                          n_shards=4).collect()}
    assert got[0]["bin_idx"] == 0 and got[0]["bin_offset"] == 0
    assert got[4]["bin_idx"] == 1 and got[4]["bin_offset"] == 0
    assert got[8]["bin_idx"] == 2 and got[8]["bin_offset"] == 0


def test_pack_sequences_only_int_columns_cross_python(spark):
    """Text never reaches the pandas stage: the applyInPandas input is
    exactly the three integer columns (doc_id, shard, n_tokens)."""
    rows = [(i, "a b c") for i in range(8)]
    plan = (
        pack_sequences(_docs(spark, rows))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    head = plan.split("FlatMapGroupsInPandas")[1].splitlines()[0]
    assert "text" not in head


# ---------------------------------------------------------------- chunk_documents

def test_chunk_documents_reassembles_and_counts(spark):
    """Chunks partition the token stream: joining a doc's chunks in
    chunk_idx order restores lower(text), and n_tokens sums to the
    doc's token count."""
    rows = [(1, " ".join(f"W{i}" for i in range(120))),
            (2, "Only Two")]
    out = chunk_documents(_docs(spark, rows)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, text in rows:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_idx"])
        assert [r["chunk_idx"] for r in chunks] == list(range(len(chunks)))
        assert " ".join(r["chunk"] for r in chunks) == text.lower()
        assert sum(r["n_tokens"] for r in chunks) == len(text.split(" "))
        assert all(r["n_tokens"] == len(r["chunk"].split(" ")) for r in chunks)


def test_chunk_documents_boundaries_survive_edits(spark):
    """The content-defined property: prepending tokens to a document
    re-cuts only the prefix — chunks that do not overlap the edit come
    out byte-identical, which is what keeps chunk-level dedup and
    embedding caches valid across document revisions."""
    base = " ".join(f"tok{i}" for i in range(300))
    edited = "new1 new2 new3 " + base
    rows = chunk_documents(
        _docs(spark, [(1, base), (2, edited)])).collect()
    chunks = {1: [], 2: []}
    for r in rows:
        chunks[r["doc_id"]].append((r["chunk_idx"], r["chunk"]))
    tail = lambda d: {c for _, c in sorted(chunks[d])[2:]}
    shared = tail(1) & tail(2)
    # all but a bounded prefix of chunks realign after the edit
    assert len(shared) >= len(tail(1)) - 2 and len(shared) > 5


def test_chunk_documents_degenerate_docs(spark):
    """Docs at or below the hash window (the sequence() descending-step
    trap: n == window must not drive slice() below index 1) and the
    empty string each yield exactly one chunk."""
    rows = [(1, "a b c"), (2, "a b"), (3, "a"), (4, "")]
    out = chunk_documents(_docs(spark, rows), window=3).collect()
    got = {r["doc_id"]: (r["chunk_idx"], r["chunk"], r["n_tokens"]) for r in out}
    assert len(out) == 4
    assert got[1] == (0, "a b c", 3)
    assert got[2] == (0, "a b", 2)
    assert got[3] == (0, "a", 1)
    assert got[4] == (0, "", 1)


def test_chunk_documents_is_narrow_single_tokenize(spark):
    """Scale shape: a zero-shuffle narrow map that tokenizes once —
    the multi-referenced __toks projection must survive CollapseProject
    (one split(lower(…)) in the optimized plan, no Exchange)."""
    df = chunk_documents(_docs(spark, [(1, "a b c d e f g h")]))
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("split(lower") == 1
    phys = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys


# ---------------------------------------------------------------- curate_corpus

def test_curate_corpus_per_signal_flags(spark):
    """One doc per drop reason, one clean doc; every signal fires on
    exactly the doc built to trip it and nothing else."""
    def words(prefix, n, stop=("the",)):
        return " ".join(list(stop) + [f"{prefix}{i:02d}" for i in range(n - len(stop))])

    clean = words("d1", 20)
    dup = words("d2", 20)
    near_a = words("d4", 20)
    corpus = _docs(spark, [
        (1, clean),
        (2, dup), (3, dup),                      # exact (and near) dups
        (4, near_a), (5, near_a + " d4extra"),   # near dups, not exact
        (6, words("d6", 10) + " b1 b2 b3 b4 " + words("e6", 6, stop=())),
        (7, "the of a"),                         # low quality (short)
        (8, " ".join(["r1", "r2"] * 10)),        # repetitive boilerplate
    ])
    bench = _docs(spark, [(100, " ".join(f"b{i}" for i in range(1, 15)))])
    got = {r["doc_id"]: r for r in curate_corpus(corpus, bench).collect()}

    assert dict(got[1].asDict()) == {
        "doc_id": 1, "is_exact_dup": False, "is_near_dup": False,
        "contaminated": False, "low_quality": False, "repetitive": False,
        "keep": True,
    }
    assert (got[2]["is_exact_dup"], got[2]["is_near_dup"]) == (False, False)
    assert got[2]["keep"] is True                # the exact-group survivor
    assert (got[3]["is_exact_dup"], got[3]["is_near_dup"]) == (True, True)
    assert got[3]["keep"] is False
    assert (got[4]["is_near_dup"], got[4]["keep"]) == (False, True)
    assert (got[5]["is_exact_dup"], got[5]["is_near_dup"]) == (False, True)
    assert got[5]["keep"] is False
    assert got[6]["contaminated"] is True and got[6]["keep"] is False
    assert not any((got[6]["is_exact_dup"], got[6]["is_near_dup"],
                    got[6]["low_quality"], got[6]["repetitive"]))
    assert got[7]["low_quality"] is True and got[7]["keep"] is False
    assert got[8]["repetitive"] is True and got[8]["keep"] is False


# ---------------------------------------------------------------- repetition_stats

def test_repetition_stats_known_values(spark):
    docs = _docs(spark, [
        # 2 identical lines; toks = [a b a b] * 2 → 8 toks, 2 distinct
        (1, "a b a b\na b a b"),
        # all-unique everything
        (2, "p q r s"),
    ])
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    r1 = got[1]
    assert r1["dup_line_frac"] == 0.5          # 1 of 2 lines repeated
    assert r1["dup_word_frac"] == 6 / 8        # 8 toks, 2 distinct
    # bigrams (7): ab ba ab ba ab ba ab → counts {ab:4, ba:3}
    assert r1["dup_bigram_frac"] == (7 - 2) / 7
    assert r1["top_bigram_frac"] == 4 / 7
    r2 = got[2]
    assert r2["dup_line_frac"] == 0.0
    assert r2["dup_word_frac"] == 0.0
    assert r2["dup_bigram_frac"] == 0.0
    assert r2["top_bigram_frac"] == 1 / 3


def test_corpus_split_deterministic_and_seed_sensitive(spark):
    docs = _docs(spark, [(i, "x") for i in range(2000)])
    a = {r["doc_id"]: r["split"] for r in corpus_split(docs).collect()}
    b = {r["doc_id"]: r["split"] for r in corpus_split(docs).collect()}
    assert a == b                                   # deterministic
    frac = {s: sum(1 for v in a.values() if v == s) / 2000
            for s in ("train", "val", "test")}
    assert abs(frac["train"] - 0.90) < 0.03
    assert abs(frac["val"] - 0.05) < 0.02
    assert abs(frac["test"] - 0.05) < 0.02
    c = {r["doc_id"]: r["split"] for r in
         corpus_split(docs, seed="split-v2").collect()}
    assert c != a                                   # a new seed re-deals


def test_corpus_split_is_narrow_map(spark):
    docs = _docs(spark, [(1, "x")])
    plan = corpus_split(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_keyword_topk_integer_ranking(spark):
    docs = _docs(spark, [
        # common appears in both docs (df=2); rare* only here (df=1)
        (1, "common common rare1 rare1 rare1 other1 other2"),
        (2, "common rare2 rare2"),
    ])
    got = {(r["doc_id"], r["rank"]): (r["token"], r["tf"], r["df"])
           for r in keyword_topk(docs, k=3).collect()}
    assert got[(1, 1)] == ("rare1", 3, 1)           # highest tf
    assert got[(1, 2)] == ("common", 2, 2)
    assert got[(1, 3)] == ("other1", 1, 1)          # tf tie → df, then token
    assert got[(2, 1)] == ("rare2", 2, 1)
    assert got[(2, 2)] == ("common", 1, 2)
    assert (2, 3) not in got                        # doc 2 has only 2 tokens


def test_repetition_stats_single_token_doc(spark):
    # degenerate doc: 1 token → the guarded sequence yields one
    # "bigram" (the token itself), no division by zero anywhere
    [r] = repetition_stats(_docs(spark, [(1, "solo")])).collect()
    assert r["dup_word_frac"] == 0.0
    assert r["top_bigram_frac"] == 1.0


def test_curate_corpus_short_clean_doc_is_kept(spark):
    """Regression (review r3): a short-but-clean doc (10 tokens, all
    bigrams distinct) has top_bigram_frac = 1/9 > the 0.08 threshold;
    without the dup-bigram guard it was auto-flagged repetitive and
    could never be kept."""
    corpus = _docs(spark, [
        (1, "the quick brown fox jumps over lazy dogs every day"),
    ])
    bench = _docs(spark, [(100, "zz1 zz2 zz3 zz4 zz5")])
    [r] = curate_corpus(corpus, bench).collect()
    assert r["repetitive"] is False and r["keep"] is True


# ------------------------------------------------------------- boilerplate

def test_boilerplate_ngrams_mines_cross_doc_templates(spark):
    from rdf_n3_spark.operators.curation import boilerplate_ngrams

    # "all rights reserved" footers on 3 docs; unique bodies elsewhere
    docs = _docs(spark, [
        (0, "alpha body one all rights reserved"),
        (1, "beta body two all rights reserved"),
        (2, "gamma body three all rights reserved"),
        (3, "delta entirely unique text here"),
    ])
    rows = {r["gram"]: r for r in
            boilerplate_ngrams(docs, n=3, min_docs=3).collect()}
    assert rows["all rights reserved"]["doc_freq"] == 3
    assert rows["all rights reserved"]["first_doc"] == 0
    # nothing from the unique doc crosses the DF threshold
    assert all("unique" not in g for g in rows)


def test_boilerplate_ngrams_df_counts_docs_not_occurrences(spark):
    from rdf_n3_spark.operators.curation import boilerplate_ngrams

    # one doc repeats the phrase 3 times; only 2 DISTINCT docs have it
    docs = _docs(spark, [
        (0, "click here now click here now click here now"),
        (1, "click here now"),
    ])
    rows = {r["gram"]: r["doc_freq"] for r in
            boilerplate_ngrams(docs, n=3, min_docs=2).collect()}
    assert rows["click here now"] == 2


def test_boilerplate_share_per_doc(spark):
    from rdf_n3_spark.operators.curation import boilerplate_share

    docs = _docs(spark, [
        (0, "alpha body one all rights reserved"),
        (1, "beta body two all rights reserved"),
        (2, "gamma body three all rights reserved"),
        (3, "delta entirely unique text here"),
    ])
    rows = {r["doc_id"]: r for r in
            boilerplate_share(docs, n=3, min_docs=3).collect()}
    # doc 0: grams = alpha/body/one/all rights reserved chain → 4 grams,
    # exactly one ("all rights reserved") is boilerplate
    assert rows[0]["n_grams"] == 4 and rows[0]["n_boiler"] == 1
    assert rows[0]["boiler_share"] == 0.25
    assert rows[3]["n_boiler"] == 0 and rows[3]["boiler_share"] == 0.0


def test_boilerplate_share_is_broadcast_join(spark):
    from rdf_n3_spark.operators.curation import boilerplate_share

    docs = _docs(spark, [(0, "a b c d"), (1, "a b c e")])
    plan = boilerplate_share(docs, n=3, min_docs=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_chunk_dedup_finds_shared_passages(spark):
    from rdf_n3_spark.operators.curation import chunk_dedup

    shared = " ".join(f"tok{i}" for i in range(80))
    docs = _docs(spark, [
        (0, "intro alpha " + shared + " outro beta"),
        (1, "different opening words " + shared + " and a new tail"),
        (2, "entirely unrelated content with no overlap at all"),
    ])
    rows = chunk_dedup(docs).collect()
    # at least one chunk group is shared by BOTH docs 0 and 1
    shared_groups = [r for r in rows if r["n_docs"] == 2]
    assert shared_groups, "content-defined chunks must align on the shared passage"
    assert all(r["survivor"] == 0 for r in shared_groups)
    # totals: every chunk occurrence is accounted for exactly once
    from rdf_n3_spark.operators.curation import chunk_documents
    assert sum(r["n_copies"] for r in rows) == chunk_documents(docs).count()


def test_paragraph_dedup_first_copy_survives(spark):
    """Dolma-style paragraph dedup: corpus-first occurrence of each
    repeated paragraph keeps is_dup=0, every later copy (cross-doc or
    later position in the SAME doc) is 1; blank paragraphs drop."""
    from rdf_n3_spark.operators.curation import paragraph_dedup

    docs = spark.createDataFrame(
        [(1, "shared para\nunique one"),
         (2, "other text\nshared para"),
         (3, "shared para\n\n  \nshared para")],  # blanks + self-repeat
        ["doc_id", "text"])
    rows = {(r["doc_id"], r["para_idx"]): r["is_dup"]
            for r in paragraph_dedup(docs).collect()}
    assert rows[(1, 0)] == 0          # corpus-first copy survives
    assert rows[(2, 1)] == 1 and rows[(3, 0)] == 1
    assert rows[(3, 3)] == 1          # same-doc repeat is a dup too
    assert (3, 1) not in rows and (3, 2) not in rows  # blanks dropped
    assert rows[(1, 1)] == 0 and rows[(2, 0)] == 0    # uniques survive


def test_paragraph_neardup_catches_mutated_boilerplate(spark):
    """Near-identical (but not byte-equal) template paragraphs cluster
    to the corpus-first copy; unique paragraphs survive; the packed-id
    round trip restores (doc_id, para_idx) exactly."""
    from rdf_n3_spark.operators.curation import paragraph_dedup, paragraph_neardup

    template = " ".join(f"w{i}" for i in range(30))
    docs = _docs(spark, [
        (0, template + " v1\nunique alpha content here"),
        (1, "another head paragraph\n" + template + " v2"),
        (2, " ".join(f"z{i}" for i in range(25))),
    ])
    rows = {(r["doc_id"], r["para_idx"]):
            (r["survivor_doc"], r["survivor_para"], r["is_dup"])
            for r in paragraph_neardup(docs).collect()}
    # the two template variants differ byte-wise → exact dedup misses them
    exact = {(r["doc_id"], r["para_idx"]): r["is_dup"]
             for r in paragraph_dedup(docs).collect()}
    assert exact[(1, 1)] == 0
    # ...but fuzzy clusters them: (1,1) dups to corpus-first (0,0)
    assert rows[(0, 0)] == (0, 0, 0)
    assert rows[(1, 1)] == (0, 0, 1)
    # unique paragraphs survive as themselves
    assert rows[(0, 1)] == (0, 1, 0)
    assert rows[(1, 0)] == (1, 0, 0)
    assert rows[(2, 0)] == (2, 0, 0)


def test_split_leakage_flags_only_cross_split_neardups(spark):
    """Near-dup template copies that corpus_split dealt into different
    splits are reported with both memberships; same-split duplicates
    and non-duplicate cross-split docs stay silent."""
    from rdf_n3_spark.operators.curation import corpus_split, split_leakage

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again while the band plays on through the night")
    rows = [(i, base + f" tail{i % 2}") for i in range(40)]
    rows += [(100 + i, f"wholly unrelated document number {i} about "
              + " ".join(f"w{i}{j}" for j in range(20))) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    split_of = {r["doc_id"]: r["split"] for r in corpus_split(docs).collect()}
    got = split_leakage(docs).collect()
    assert len(got) > 0, "template corpus must produce cross-split pairs"
    for r in got:
        assert r["split_a"] != r["split_b"]
        assert r["split_a"] == split_of[r["doc_a"]]
        assert r["split_b"] == split_of[r["doc_b"]]
        assert r["doc_a"] < r["doc_b"]
        assert r["doc_a"] < 100 and r["doc_b"] < 100, "unrelated docs leaked"


def test_split_leakage_silent_on_dedup_corpus(spark):
    """A corpus with no near-duplicates reports zero leakage no matter
    how the splits fall."""
    from rdf_n3_spark.operators.curation import split_leakage

    rows = [(i, " ".join(f"tok{i}x{j}" for j in range(25))) for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert split_leakage(docs).count() == 0


def test_corpus_datasheet_known_values(spark):
    from rdf_n3_spark.operators.curation import corpus_datasheet

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en", "web"),
         (2, "alpha beta", "en", "web"),      # exact dup of 1
         (3, "gamma", "en", "web"),           # short, unique
         (4, "x " * 150, "en", "books"),      # 300 chars: not short
         (5, "solo", "fr", "web")],
        "doc_id bigint, text string, lang string, source string")
    got = {(r["source"], r["lang"]): r.asDict()
           for r in corpus_datasheet(docs, short_chars=20).collect()}
    web_en = got[("web", "en")]
    assert web_en["n_docs"] == 3
    assert web_en["n_unique_texts"] == 2      # the dup collapses
    assert web_en["n_short"] == 3             # all under 20 chars
    assert web_en["total_chars"] == 10 + 10 + 5
    assert web_en["total_tokens"] == 2 + 2 + 1
    assert web_en["max_chars"] == 10
    assert got[("books", "en")]["n_short"] == 0
    assert ("web", "fr") in got and got[("web", "fr")]["n_docs"] == 1
