"""Poisoned-row survival: one malformed row anywhere in a 100 TB corpus
must degrade to a dropped/null solution, never kill the job. These
end-to-end runs pair with the per-op guards (try_cast/try_element_at/
try_to_timestamp/finite-guard) asserted in test_layer_agreement.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_n3_spark.operators.dedup import embedding_neardup_pairs
from rdf_n3_spark.operators.mentions import extract_mentions
from rdf_n3_spark.operators.similarity import ann_topk, ivf_topk
from rdf_n3_spark.operators.triples import entity_triples, mention_triples
from rdf_n3_spark.sources.n3_source import parse_documents


def _poisoned_embeddings(spark):
    good = [float(i % 7 - 3) / 4 for i in range(64)]
    rows = [
        (0, good, 0),
        (1, [0.5], 0),                      # short vector
        (2, [float("nan")] * 64, 0),        # NaN components
        (3, [], 0),                         # empty
        (4, [1e300] * 64, 0),               # overflow after quantize
        (5, [v * 0.9 for v in good], 0),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_embedding_ops_survive_poisoned_vectors(spark):
    emb = _poisoned_embeddings(spark)
    assert embedding_neardup_pairs(emb, threshold=0.9).count() >= 0
    assert ivf_topk(emb, k=3, hamming=1).count() >= 0
    topk = ann_topk(emb, k=3).collect()
    # poisoned vectors never rank (null cosine drops at the filter)
    assert all(r["cos"] == r["cos"] for r in topk)


def test_parser_udf_survives_malformed_documents(spark):
    docs = spark.createDataFrame(
        [(1, ":a :b :c ."), (2, "@@@not n3"), (3, ""), (4, '<u> <v> "unterminated')],
        "doc_id long, n3_text string",
    )
    rows = parse_documents(docs).collect()
    by_ok = {str(r["doc_id"]): r["ok"] for r in rows}
    assert by_ok["1"] and not by_ok["2"] and not by_ok["4"]
    assert "3" not in by_ok  # empty document: zero triples, zero rows


def test_pipeline_survives_empty_and_odd_text(spark):
    t = spark.createDataFrame(
        [("c1", 0, "user", "part_1 ok", "", None),
         ("c1", 1, "user", "", "", None),            # empty text
         ("c2", 0, "user", "   ", "", None),         # whitespace only
         ("c3", 0, "user", "PART_ SUPP_x part_ok", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    m = extract_mentions(t)
    out = mention_triples(m).unionByName(entity_triples(m)).collect()
    assert len(out) > 0


def test_round3_text_ops_survive_null_and_empty_text(spark):
    """Null/empty/whitespace text degrades to empty or null-score rows
    in every round-3 text operator — never an error that kills the
    job, and every doc still appears where the contract says 'all
    docs'."""
    from rdf_n3_spark.functions.text import hash_embed, lm_score

    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "a b c d e f g h a b c d e f g h")],
        "doc_id long, text string",
    )
    lm = {r["doc_id"]: r for r in lm_score(docs).collect()}
    assert set(lm) == {1, 2, 3, 4}
    assert lm[1]["n_bigrams"] == 0 and lm[1]["avg_logprob"] is None
    he = hash_embed(docs)
    assert he.where(he.doc_id == 1).count() == 0  # null text → no rows
    assert he.where(he.doc_id == 4).count() > 0
