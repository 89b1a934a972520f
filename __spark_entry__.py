"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction pipeline on sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (the
correctness gate compares row counts, schemas and order-insensitive
value hashes at sf0.01).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_n3_spark.functions.builtins import LIST, LOG, MATH, STR, TIME
from rdf_n3_spark.functions.text import (
    fingerprint,
    gopher_quality,
    hash_embed,
    keyword_topk,
    lang_id,
    lm_score,
    search_bm25,
    search_rrf,
    search_topk,
    quality_score,
    redact,
    repetition_stats,
    token_stats,
)
from rdf_n3_spark.operators.sampling import (
    corpus_sample,
    shuffle_shards,
    source_mix,
    source_weights,
    stratified_sample,
    token_budget_sample,
)
from rdf_n3_spark.operators.curation import (
    boilerplate_ngrams,
    boilerplate_share,
    chunk_dedup,
    chunk_documents,
    corpus_split,
    curate_corpus,
    corpus_datasheet,
    decontaminate,
    pack_sequences,
    paragraph_dedup,
    paragraph_neardup,
)
from rdf_n3_spark.operators.clustering import (
    cluster_sample,
    embed_kmeans,
    label_consistency,
    semdedup_prune,
)
from rdf_n3_spark.operators.lists import contract_ladders, expand_list_column
from rdf_n3_spark.plans.graph_ops import graph_includes, graph_not_includes, output_strings
from rdf_n3_spark.operators.canon import canonical_map, verified_pairs
from rdf_n3_spark.operators.dedup import (
    embedding_neardup_clusters,
    embedding_neardup_pairs,
    exact_dedup,
    incremental_neardup,
    jaccard_neardup_pairs,
    minhash_neardup_pairs,
    neardup_clusters,
    simhash_buckets,
    simhash_hamming_pairs,
    source_dup_matrix,
)
from rdf_n3_spark.operators.materialize import graph_edges, graph_nodes
from rdf_n3_spark.operators.conversations import conv_dedup
from rdf_n3_spark.operators.mentions import extract_mentions
from rdf_n3_spark.operators.similarity import (
    ann_topk,
    ann_topk_exact_oracle,
    ann_topk_partial,
    ivf_topk,
    ivf_topk_tables,
    project_embeddings,
    projection_weights,
)
from rdf_n3_spark.operators.linker import link_mentions, score_candidate_links
from rdf_n3_spark.operators.salted import salted_collect_set, salted_count
from rdf_n3_spark.plans.bgp import Rule, apply_rule, bgp, fixpoint, fixpoint_per_graph
from rdf_n3_spark.operators.triples import (
    canonical_triples,
    entity_triples,
    kb_diff,
    mention_triples,
)
from rdf_n3_spark.sources.n3_sink import serialize_graphs
from rdf_n3_spark.sources.n3_source import parse_documents
from rdf_n3_spark.sources.transcripts import transcripts, transcripts_duckdb_cte


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_search(spark, sf_dir):
    """Inverted-index retrieval: the query set is derived
    deterministically from the corpus itself (first 3 tokens of the 20
    lowest-doc_id documents) so the oracle replays it exactly — no
    external query log in the sandbox."""
    docs = _docs(spark, sf_dir)
    queries = docs.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower("text"), " "), 1, 3)
        ).alias("qtext"),
    )
    return search_topk(docs, queries, k=10)


def _q_search_queries(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower("text"), " "), 1, 3)
        ).alias("qtext"),
    )


def _q_search_bm25(spark, sf_dir):
    """BM25 retrieval over the same corpus-derived query set as
    ``search_topk`` — integer-exact fixed-point BM25 (functions/text.py
    :func:`search_bm25`), length-normalized where plain tf-idf is not."""
    docs = _docs(spark, sf_dir)
    return search_bm25(docs, _q_search_queries(spark, sf_dir), k=10)


def _q_search_rrf(spark, sf_dir):
    """Reciprocal-rank fusion of the tf-idf and BM25 rankings — the
    calibration-free way to combine retrieval systems; integer
    micro-unit 1/(60+rank) contributions keep the fused order
    engine-portable."""
    docs = _docs(spark, sf_dir)
    q = _q_search_queries(spark, sf_dir)
    return search_rrf([
        search_topk(docs, q, k=10),
        search_bm25(docs, q, k=10),
    ])


def _q_redact(spark, sf_dir):
    """PII/link scrub over documents ENRICHED with deterministic
    redactables (a contact line derived from doc_id) — the synthetic
    corpus contains no URLs/emails/phones of its own, and an all-zero
    redaction row would not exercise the regex semantics the oracle
    cross-checks (Java regex vs RE2 on the same patterns)."""
    from pyspark.sql import functions as F

    did = F.col("doc_id").cast("string")
    enriched = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" contact user"), did,
            F.lit("@example.com via https://site.example/d/"), did,
            F.lit(" or call +1 555 000 "), F.lpad(did, 4, "0"),
        ).alias("text"),
    )
    return redact(enriched)


def _q_repetition(spark, sf_dir):
    """Gopher-style repetition filters over documents ENRICHED with a
    deterministic second line (the synthetic corpus is single-line, so
    the bare table would never exercise the duplicate-LINE fraction):
    every 3rd doc's extra line repeats the first; the rest get a
    distinct prefix line."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir)
    enriched = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit("\n"), F.col("text")),
        ).otherwise(
            F.concat(F.col("text"), F.lit("\n"), F.substring("text", 1, 29))
        ).alias("text"),
    )
    return repetition_stats(enriched)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination with a deterministic 5% eval split
    (doc_id % 20 == 7 plays the benchmark suite; the rest is the
    corpus). n=4 word-grams measured ~8% contamination at sf0.01 —
    non-trivial, non-saturated."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 20 == 7)
    corpus = d.filter(F.col("doc_id") % 20 != 7)
    return decontaminate(corpus, bench, n=4)


def _q_curate(spark, sf_dir):
    """End-to-end curation decision over the FULL documents table
    (benchmark members stay in the corpus and come out trivially
    contaminated — eval docs must not be trained on)."""
    from pyspark.sql import functions as F

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 20 == 7)
    return curate_corpus(d, bench, n=4, quality_min=0.9, top_bigram_max=0.08)


def _q_pack(spark, sf_dir):
    """Greedy context-window packing (capacity 256, 8 shards) — the
    sharded applyInPandas scan; oracle is the equivalent per-shard
    recursive CTE."""
    return pack_sequences(_docs(spark, sf_dir), capacity=256, n_shards=8)


_T = transcripts_duckdb_cte()

# DuckDB mirror of extract_mentions (zipped-unnest = posexplode)
# WITH RECURSIVE: harmless for non-recursive members, required by the
# connected-components CTE in _CANON
_MENTIONS = f"""
WITH RECURSIVE {_T},
toks AS (
  SELECT conv_id, turn_idx,
         unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos,
         unnest(string_split(text, ' ')) AS surface
  FROM transcripts
),
mentions AS (
  SELECT conv_id, turn_idx, CAST(pos AS INT) AS pos, surface, lower(surface) AS norm
  FROM toks
  WHERE regexp_matches(surface, '^(?i)(part|supp)_[a-z0-9]+$')
)
"""

# DuckDB mirror of the full triple set (mention triples ∪ entity agg),
# the input to the graph-materialization node/edge projections
_TRIPLES = (
    _MENTIONS
    + """,
sk AS (
  SELECT *, 'sk:' || substr(sha256(conv_id || '|' || CAST(turn_idx AS VARCHAR)
             || '|' || CAST(pos AS VARCHAR)), 1, 16) AS sk
  FROM mentions
),
triples AS (
  SELECT sk AS s, 'rdf:type' AS p, ':Mention' AS o FROM sk
  UNION ALL SELECT sk, ':surface', surface FROM sk
  UNION ALL SELECT sk, ':inConv', 'conv:' || conv_id FROM sk
  UNION ALL SELECT sk, ':atTurn', CAST(turn_idx AS VARCHAR) FROM sk
  UNION ALL SELECT sk, ':refersTo', 'ent:' || norm FROM sk
  UNION ALL SELECT 'ent:' || norm, ':mentionCount', CAST(count(*) AS VARCHAR)
    FROM mentions GROUP BY norm
)
"""
)

# DuckDB mirror of operators/materialize.py bucket_expr
_BUCKET = "(('0x' || substr(md5({col}), 1, 8))::BIGINT % 16)"


def _triples_over(m: str) -> str:
    """The mention-KB triple union (triples.mention_triples ∪
    entity_triples) over an arbitrary mentions CTE ``m`` — used by
    oracles that build the KB more than once (kb_diff snapshots)."""
    sk = (f"SELECT *, 'sk:' || substr(sha256(conv_id || '|' "
          f"|| CAST(turn_idx AS VARCHAR) || '|' "
          f"|| CAST(pos AS VARCHAR)), 1, 16) AS sk FROM {m}")
    return f"""
  SELECT sk AS s, 'rdf:type' AS p, ':Mention' AS o FROM ({sk})
  UNION ALL SELECT sk, ':surface', surface FROM ({sk})
  UNION ALL SELECT sk, ':inConv', 'conv:' || conv_id FROM ({sk})
  UNION ALL SELECT sk, ':atTurn', CAST(turn_idx AS VARCHAR) FROM ({sk})
  UNION ALL SELECT sk, ':refersTo', 'ent:' || norm FROM ({sk})
  UNION ALL SELECT 'ent:' || norm, ':mentionCount',
                   CAST(count(*) AS VARCHAR) FROM {m} GROUP BY norm
"""

# DuckDB mirror of operators/canon.py (minhash-LSH + recursive-CTE CC)
_CANON = (
    _MENTIONS
    + """,
surfaces AS (SELECT DISTINCT surface FROM mentions),
shsets AS (
  SELECT surface,
         list_distinct(list_transform(
           generate_series(1, greatest(length(lower(surface)) - 2, 1)),
           i -> substr(lower(surface), i, 3))) AS sh
  FROM surfaces
),
shing AS (SELECT surface, unnest(sh) AS s1 FROM shsets),
sig AS (
  SELECT surface,
         min(md5('0|' || s1)) AS h0, min(md5('1|' || s1)) AS h1,
         min(md5('2|' || s1)) AS h2, min(md5('3|' || s1)) AS h3,
         min(md5('4|' || s1)) AS h4, min(md5('5|' || s1)) AS h5,
         min(md5('6|' || s1)) AS h6, min(md5('7|' || s1)) AS h7
  FROM shing GROUP BY surface
),
keyed AS (
  SELECT surface, unnest([
    '0|' || h0 || '|' || h1, '1|' || h2 || '|' || h3,
    '2|' || h4 || '|' || h5, '3|' || h6 || '|' || h7]) AS band_key
  FROM sig
),
cnt AS (
  SELECT band_key, count(*) AS n, min(surface) AS bucket_min
  FROM keyed GROUP BY band_key
),
kept AS (SELECT k.* FROM keyed k JOIN cnt c USING (band_key) WHERE c.n <= 32),
cand AS (
  SELECT DISTINCT a, b FROM (
    SELECT l.surface AS a, r.surface AS b
    FROM kept l JOIN kept r USING (band_key)
    WHERE l.surface < r.surface
    UNION ALL
    -- hot-bucket star-collapse (mirrors canon.lsh_candidate_pairs)
    SELECT c.bucket_min AS a, k.surface AS b
    FROM keyed k JOIN cnt c USING (band_key)
    WHERE c.n > 32 AND k.surface > c.bucket_min
  )
),
ver AS (
  SELECT a, b FROM cand
  JOIN shsets sa ON sa.surface = cand.a
  JOIN shsets sb ON sb.surface = cand.b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.9
),
edges AS MATERIALIZED (SELECT a, b FROM ver UNION SELECT b, a FROM ver),
reach AS (
  SELECT a AS n, a AS m FROM edges
  UNION
  SELECT e.a, r.m FROM edges e JOIN reach r ON e.b = r.n
),
comp AS (SELECT n AS node, min(m) AS comp FROM reach GROUP BY n)
"""
)


# ---- DuckDB fragments for the training-data operators ----------------

_TOKSTATS = """
WITH stats AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text,
           '''re|''ve|''ll|''[sdmt]| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+'
         )) AS BIGINT) AS n_bpe_tokens,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
           / len(toks) AS avg_token_len,
         CAST(len(list_filter(toks, x -> x IN
           ('the','a','of','to','and','in','is','on','for','with'))) AS BIGINT)
           / len(toks) AS stopword_ratio
  FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents)
)
"""

# word-3-gram minhash-LSH over documents (mirror of dedup.minhash_neardup_pairs)
_DOC_SHINGLES = """
WITH shs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
),
shing AS (SELECT doc_id, unnest(sh) AS s1 FROM shs),
sig AS (
  SELECT doc_id,
         min(md5('0|' || s1)) AS h0, min(md5('1|' || s1)) AS h1,
         min(md5('2|' || s1)) AS h2, min(md5('3|' || s1)) AS h3,
         min(md5('4|' || s1)) AS h4, min(md5('5|' || s1)) AS h5,
         min(md5('6|' || s1)) AS h6, min(md5('7|' || s1)) AS h7
  FROM shing GROUP BY doc_id
),
keyed AS (
  SELECT doc_id, unnest([
    '0|' || h0 || '|' || h1, '1|' || h2 || '|' || h3,
    '2|' || h4 || '|' || h5, '3|' || h6 || '|' || h7]) AS band_key
  FROM sig
),
cnt AS (
  SELECT band_key, count(*) AS n, min(doc_id) AS bucket_min
  FROM keyed GROUP BY band_key
),
kept AS (SELECT k.* FROM keyed k JOIN cnt c USING (band_key) WHERE c.n <= 32),
cand AS (
  SELECT DISTINCT a, b FROM (
    SELECT l.doc_id AS a, r.doc_id AS b
    FROM kept l JOIN kept r USING (band_key) WHERE l.doc_id < r.doc_id
    UNION ALL
    -- hot-bucket star-collapse (mirrors dedup.minhash_neardup_pairs)
    SELECT c.bucket_min AS a, k.doc_id AS b
    FROM keyed k JOIN cnt c USING (band_key)
    WHERE c.n > 32 AND k.doc_id > c.bucket_min
  )
),
ver AS (
  SELECT a, b FROM cand
  JOIN shs sa ON sa.doc_id = cand.a
  JOIN shs sb ON sb.doc_id = cand.b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8
)
"""

_SIMHASH_BITS = "".join(
    f", sum(CASE WHEN substr(h, {i + 1}, 1) IN "
    f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{i}"
    for i in range(16)
)
_SIMHASH_SIG = " || ".join(
    f"(CASE WHEN b{i} > 0 THEN '1' ELSE '0' END)" for i in range(16)
)
_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h FROM documents
),
agg AS (SELECT doc_id{_SIMHASH_BITS} FROM tok GROUP BY doc_id),
sims AS (SELECT doc_id, {_SIMHASH_SIG} AS simhash FROM agg)
"""


def _simhash_hamming_sql(k: int = 3, bits: int = 32,
                         max_bucket: int = 32) -> str:
    """Oracle mirror of dedup.simhash_hamming_pairs: same signature,
    same pigeonhole chunk keys, same hot-bucket star-collapse, same
    exact positional verify — deterministic end to end."""
    bits_expr = "".join(
        f", sum(CASE WHEN substr(h, {i + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " || ".join(
        f"(CASE WHEN b{i} > 0 THEN '1' ELSE '0' END)" for i in range(bits)
    )
    chunks = k + 1
    base, extra = divmod(bits, chunks)
    keyed_rows, start = [], 1
    for c in range(chunks):
        width = base + (1 if c < extra else 0)
        keyed_rows.append(
            f"SELECT doc_id, '{c}|' || substring(simhash, {start}, {width})"
            f" AS band_key FROM sims"
        )
        start += width
    ham = " + ".join(
        f"(CASE WHEN substring(sa.simhash, {i + 1}, 1) <> "
        f"substring(sb.simhash, {i + 1}, 1) THEN 1 ELSE 0 END)"
        for i in range(bits)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h
          FROM documents
        ),
        agg AS (SELECT doc_id{bits_expr} FROM tok GROUP BY doc_id),
        sims AS (SELECT doc_id, {sig} AS simhash FROM agg),
        keyed AS ({' UNION ALL '.join(keyed_rows)}),
        hot AS (
          SELECT band_key, min(doc_id) AS bucket_min FROM keyed
          GROUP BY band_key HAVING count(*) > {max_bucket}
        ),
        kept AS (
          SELECT * FROM keyed
          WHERE band_key NOT IN (SELECT band_key FROM hot)
        ),
        cand AS (
          SELECT DISTINCT a, b FROM (
            SELECT l.doc_id AS a, r.doc_id AS b
            FROM kept l JOIN kept r USING (band_key)
            WHERE l.doc_id < r.doc_id
            UNION ALL
            SELECT h.bucket_min AS a, k.doc_id AS b
            FROM keyed k JOIN hot h USING (band_key)
            WHERE k.doc_id > h.bucket_min
          )
        )
        SELECT a, b, CAST({ham} AS INT) AS hamming
        FROM cand
        JOIN sims sa ON sa.doc_id = cand.a
        JOIN sims sb ON sb.doc_id = cand.b
        WHERE {ham} <= {k}
    """

# quantized embeddings + sign buckets (mirror of dedup.quantize / similarity)
_QEMB = """
WITH qe AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS e,
         (CASE WHEN embedding[1] >= 0 THEN '1' ELSE '0' END)
      || (CASE WHEN embedding[2] >= 0 THEN '1' ELSE '0' END)
      || (CASE WHEN embedding[3] >= 0 THEN '1' ELSE '0' END)
      || (CASE WHEN embedding[4] >= 0 THEN '1' ELSE '0' END)
      || (CASE WHEN embedding[5] >= 0 THEN '1' ELSE '0' END)
      || (CASE WHEN embedding[6] >= 0 THEN '1' ELSE '0' END) AS bucket
  FROM embeddings
)
"""

_COS_EXPR = (
    "CAST(list_sum(list_transform(generate_series(1, len(q.e)), i -> q.e[i] * t.e[i])) AS DOUBLE)"
    " / (sqrt(CAST(list_sum(list_transform(q.e, x -> x * x)) AS DOUBLE))"
    " * sqrt(CAST(list_sum(list_transform(t.e, x -> x * x)) AS DOUBLE)))"
)

# Hamming-1 multi-probe shell (mirror of similarity.probe_buckets):
# the vector's own sign bucket plus each single-bit flip
_PROBES = ", ".join(
    f"substr(bucket, 1, {i - 1}) || "
    f"(CASE WHEN substr(bucket, {i}, 1) = '1' THEN '0' ELSE '1' END) || "
    f"substr(bucket, {i + 1})"
    for i in range(1, 7)
)
_QPROBE = f"""
qp AS (
  SELECT vec_id, e, unnest([bucket, {_PROBES}]) AS bucket FROM qe
)
"""

# Banded random-hyperplane LSH keys (mirror of dedup.lsh_band_keys):
# the SAME md5-derived ±1 weights, expanded as exact int64 sums so the
# sign — and therefore the bucket — is engine-identical.
def _band_keys_sql() -> str:
    from rdf_n3_spark.operators.dedup import BANDS_E, BITS_E, hyperplane_weights

    W = hyperplane_weights()
    keys = []
    for b in range(BANDS_E):
        chars = " || ".join(
            "(CASE WHEN "
            + " + ".join(f"e[{i + 1}]*{W[b][j][i]}" for i in range(64))
            + " >= 0 THEN '1' ELSE '0' END)"
            for j in range(BITS_E)
        )
        keys.append(f"'{b}|' || {chars}")
    return ", ".join(keys)


_EMB_KEYS = f"""
keys AS (
  SELECT vec_id, unnest([{_band_keys_sql()}]) AS band_key FROM qe
)
"""


# Multi-table probe keys (mirror of similarity.lsh_probe_keys with the
# default 8 tables × 4 bits, hamming=1): each table's own band key
# plus every single-bit flip — the flip inverts the CASE branches so
# the sign computation stays the identical exact int64 sum.
def _probe_keys_sql() -> str:
    from rdf_n3_spark.operators.dedup import BANDS_E, BITS_E, hyperplane_weights

    W = hyperplane_weights()

    def char(b: int, j: int, flip: bool) -> str:
        dot = " + ".join(f"e[{i + 1}]*{W[b][j][i]}" for i in range(64))
        one, zero = ("'0'", "'1'") if flip else ("'1'", "'0'")
        return f"(CASE WHEN {dot} >= 0 THEN {one} ELSE {zero} END)"

    keys = []
    for b in range(BANDS_E):
        base = " || ".join(char(b, j, False) for j in range(BITS_E))
        keys.append(f"'{b}|' || {base}")
        for jf in range(BITS_E):
            chars = " || ".join(char(b, j, j == jf) for j in range(BITS_E))
            keys.append(f"'{b}|' || {chars}")
    return ", ".join(keys)


# ±1 sign-projection components (mirror of similarity.project_embeddings):
# the SAME md5-derived weights expanded as exact int64 sums, so every
# projected component is engine-identical.
def _proj_sql() -> str:
    from rdf_n3_spark.operators.similarity import projection_weights

    W = projection_weights()
    comps = ", ".join(
        " + ".join(f"e[{i + 1}]*{W[j][i]}" for i in range(64))
        for j in range(len(W))
    )
    dims = ", ".join(str(j) for j in range(len(W)))
    return f"""
    SELECT vec_id, CAST(unnest([{dims}]) AS INT) AS dim,
           CAST(unnest([{comps}]) AS BIGINT) AS value
    FROM qe
    """

# Deterministic fixed-iteration Lloyd's k-means (mirror of
# clustering.embed_kmeans): init = k lowest vec_ids, each iteration
# unrolled as assign (min over (dist, cluster)) + update (per-dim
# floor(sum/count)); ends with CTE ``af`` = the final assignment.
def _kmeans_ctes(k: int = 8, iters: int = 2) -> str:
    parts = [f"""
qe AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS e
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, e AS c
  FROM (SELECT vec_id, e FROM qe ORDER BY vec_id LIMIT {k})
)"""]
    prev = "c0"
    for it in range(1, iters + 1):
        parts.append(f"""
a{it} AS (
  SELECT q.vec_id, c.cluster
  FROM qe q CROSS JOIN {prev} c
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_sum(list_transform(generate_series(1, len(q.e)),
                      i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))), c.cluster
  ) = 1
),
u{it} AS (
  SELECT a.cluster, dim,
         CAST(floor(CAST(sum(q.e[dim]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
  FROM a{it} a JOIN qe q USING (vec_id),
       LATERAL (SELECT unnest(generate_series(1, len(q.e))) AS dim)
  GROUP BY a.cluster, dim
),
c{it} AS (SELECT cluster, list(comp ORDER BY dim) AS c FROM u{it} GROUP BY cluster)""")
        prev = f"c{it}"
    parts.append(f"""
af AS (
  SELECT q.vec_id, c.cluster
  FROM qe q CROSS JOIN {prev} c
  QUALIFY row_number() OVER (
    PARTITION BY q.vec_id
    ORDER BY list_sum(list_transform(generate_series(1, len(q.e)),
                      i -> (q.e[i] - c.c[i]) * (q.e[i] - c.c[i]))), c.cluster
  ) = 1
)""")
    return "WITH " + ",".join(parts)


# exact brute-force top-k — shared by ann_topk / ann_topk_partial (the
# default per-partition pre-aggregated plan) and ann_topk_exact_oracle
# (window-only brute force): all three return identical rows
_ANN_TOPK_SQL = f"""
    {_QEMB},
    scored AS (
      SELECT q.vec_id AS q, t.vec_id AS vec_id, {_COS_EXPR} AS cos
      FROM qe q JOIN qe t ON q.vec_id <> t.vec_id
      WHERE q.vec_id < 20
    ),
    ranked AS (
      SELECT q, vec_id, cos,
             row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS rank
      FROM scored
    )
    SELECT q, CAST(rank AS INT) AS rank, vec_id, cos FROM ranked WHERE rank <= 10
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts → mentions → skolemized triples (sf0.001)."""
    t = transcripts(spark, "/root/testdata/sf0.001")
    m = extract_mentions(t)
    return mention_triples(m).unionByName(entity_triples(m))


# ---------------------------------------------------------------- queries

def _q_transcripts(spark, sf_dir):
    return transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def _q_mentions(spark, sf_dir):
    return extract_mentions(transcripts(spark, sf_dir))


def _q_mention_triples(spark, sf_dir):
    return mention_triples(extract_mentions(transcripts(spark, sf_dir)))


def _q_entity_triples(spark, sf_dir):
    return entity_triples(extract_mentions(transcripts(spark, sf_dir)))


def _q_lsh_pairs(spark, sf_dir):
    m = extract_mentions(transcripts(spark, sf_dir))
    return verified_pairs(m.select("surface").distinct()).select("a", "b")


def _q_canon(spark, sf_dir):
    return canonical_map(extract_mentions(transcripts(spark, sf_dir)))


def _q_canonical_triples(spark, sf_dir):
    """The post-canonicalization KG: :refersTo rewritten to the
    cluster-canonical entity, entity aggregates merged per cluster."""
    return canonical_triples(extract_mentions(transcripts(spark, sf_dir)))


def _q_kb_diff(spark, sf_dir):
    """Snapshot delta between the KB built from turns ≤3 and the KB
    built from turns ≥1 — the incremental-rebuild publish set."""
    t = transcripts(spark, sf_dir)

    def kb(m):
        return mention_triples(m).unionByName(entity_triples(m))

    old = kb(extract_mentions(t.where(F.col("turn_idx") <= 3)))
    new = kb(extract_mentions(t.where(F.col("turn_idx") >= 1)))
    return kb_diff(old, new)


def _q_parse_n3_snippets(spark, sf_dir):
    """Real N3 parser (mapInPandas) over the inline snippets embedded in
    turn 0 of each conversation."""
    t = transcripts(spark, sf_dir).where(F.col("turn_idx") == 0)
    docs = t.select(
        F.col("conv_id").alias("doc_id"),
        F.regexp_extract("text", r"(:\S+ :suppliedBy :\S+ \.)$", 1).alias("n3_text"),
    )
    q = parse_documents(docs)
    return q.where(F.col("ok")).select("doc_id", "s", "p", "o")


def _q_nquads(spark, sf_dir):
    """Flat N-Quads export of the parsed snippet triples — the
    zero-shuffle zero-Python line-per-statement sink
    (sources/n3_sink.serialize_nquads) beside the grouped N3
    pretty-printer."""
    from rdf_n3_spark.sources.n3_sink import serialize_nquads

    return serialize_nquads(
        _q_parse_n3_snippets(spark, sf_dir).select("s", "p", "o"))


def _all_triples(spark, sf_dir):
    m = extract_mentions(transcripts(spark, sf_dir))
    return mention_triples(m).unionByName(entity_triples(m))


def _q_graph_nodes(spark, sf_dir):
    return graph_nodes(_all_triples(spark, sf_dir))


def _q_graph_edges(spark, sf_dir):
    return graph_edges(_all_triples(spark, sf_dir))


_FREQ_RULE = Rule(
    antecedent=(("?m", ":refersTo", "?e"), ("?e", ":mentionCount", "?c")),
    consequent=(("?m", ":entityFreq", "?c"),),
)

_TRANS_RULE = Rule(
    antecedent=(("?a", ":feeds", "?b"), ("?b", ":feeds", "?c")),
    consequent=(("?a", ":feeds", "?c"),),
)


def _q_bgp_solutions(spark, sf_dir):
    """Conjunctive 2-pattern BGP join on the shared entity variable."""
    return bgp(_all_triples(spark, sf_dir), _FREQ_RULE.antecedent)


def _q_rule_infer(spark, sf_dir):
    """One forward log:implies application (antecedent join → consequent)."""
    return apply_rule(_all_triples(spark, sf_dir), _FREQ_RULE)


def _feeds_edges(spark, sf_dir):
    """Sparse deterministic supplier-chain relation: ent:supp_k :feeds
    ent:supp_2k when both entities occur in the mention stream."""
    m = extract_mentions(transcripts(spark, sf_dir))
    supp = (
        m.where(F.col("norm").rlike("^supp_[0-9]+$"))
        .select(F.substring("norm", 6, 18).cast("long").alias("k"))
        .distinct()
    )
    a, b = supp.alias("a"), supp.alias("b")
    ent = lambda c: F.concat(F.lit("ent:supp_"), c.cast("string"))
    return a.join(b, F.col("b.k") == F.col("a.k") * 2).select(
        ent(F.col("a.k")).alias("s"), F.lit(":feeds").alias("p"), ent(F.col("b.k")).alias("o")
    )


def _q_rule_closure(spark, sf_dir):
    """Semi-naive fixpoint: transitive closure of :feeds (reasoner
    think-loop re-planned as delta iteration)."""
    return fixpoint(_feeds_edges(spark, sf_dir), [_TRANS_RULE]).select("s", "p", "o")


def _q_rule_conclusions(spark, sf_dir):
    """Inferred-only projection of the closure — log:conclusion's
    conclusions() view (reasoner.rb:226-233): closure minus base."""
    from rdf_n3_spark.plans.bgp import conclusions

    return conclusions(fixpoint(_feeds_edges(spark, sf_dir), [_TRANS_RULE]))


def _q_builtin_math(spark, sf_dir):
    """SURVEY §2.8 math vocabulary as Column expressions: pair/list
    computes chained through the rank scheduler, comparison as filter."""
    from rdf_n3_spark.functions.sql_builtins import apply_builtins

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sol = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_partkey").cast("string").alias("a"),
        # +1: the synthetic suppkey domain includes 0, and division-by-
        # zero semantics aren't under test here
        (F.col("l_suppkey") + 1).cast("string").alias("b"),
        F.col("l_extendedprice").cast("string").alias("price"),
    )
    sol = apply_builtins(sol, [
        ("?a", MATH + "greaterThan", "?b"),                      # test → filter
        (("?a", "?b"), MATH + "sum", "?sum_ab"),                 # list compute
        (("?a", "?b"), MATH + "difference", "?diff_ab"),         # pair compute
        (("?a", "?b"), MATH + "product", "?prod_ab"),
        (("?a", "?b"), MATH + "integerQuotient", "?iq_ab"),
        (("?a", "?b"), MATH + "remainder", "?mod_ab"),
        ("?diff_ab", MATH + "absoluteValue", "?abs_diff"),       # chained bind
        ("?price", MATH + "floor", "?floor_p"),
        ("?price", MATH + "ceiling", "?ceil_p"),
        ("?price", MATH + "rounded", "?round_p"),
    ])
    return sol.select(
        "l_orderkey", "l_linenumber", "sum_ab", "diff_ab", "prod_ab",
        "iq_ab", "mod_ab", "abs_diff", "floor_p", "ceil_p", "round_p",
    )


def _q_builtin_string(spark, sf_dir):
    """SURVEY §2.8 string vocabulary: concatenation / scrape / replace
    computes + containsIgnoringCase filter, all JVM-side."""
    from rdf_n3_spark.functions.sql_builtins import apply_builtins

    d = _docs(spark, sf_dir).select("doc_id", "text", F.col("source").alias("src"), "lang")
    sol = apply_builtins(d, [
        ("?text", STR + "containsIgnoringCase", "ThE"),
        (("?src", "/", "?lang"), STR + "concatenation", "?cat"),
        (("?text", "^(\\w+)"), STR + "scrape", "?w1"),
        (("?src", "src", "origin-"), STR + "replace", "?src2"),
        (("doc %s in %s", "?src", "?lang"), STR + "format", "?fmt"),
        (("?w1", "<http://www.w3.org/2001/XMLSchema#string>"), LOG + "dtlit", "?typed"),
        (("?w1", "?lang"), LOG + "langlit", "?tagged"),
    ])
    return sol.select("doc_id", "cat", "w1", "src2", "fmt", "typed", "tagged")


def _q_split_leakage(spark, sf_dir):
    """Train/eval leakage audit: verified near-dup pairs straddling
    the deterministic corpus_split boundary."""
    from rdf_n3_spark.operators.curation import split_leakage

    return split_leakage(_docs(spark, sf_dir))


def _q_contrastive(spark, sf_dir):
    """Contrastive training-pair mining: verified near-dups as
    positives, band-colliding sub-threshold pairs as hard negatives,
    labels decided in exact integer arithmetic."""
    from rdf_n3_spark.operators.dedup import contrastive_pairs

    return contrastive_pairs(_docs(spark, sf_dir))


def _q_contrastive_incremental(spark, sf_dir):
    """Ingest-time contrastive mining over the dedup_incremental
    new/corpus split: within-batch pairs ∪ labeled (corpus
    representative, new doc) pairs from the persisted-index probe."""
    from rdf_n3_spark.operators.dedup import contrastive_pairs_incremental

    docs = _docs(spark, sf_dir)
    return contrastive_pairs_incremental(
        docs.where(F.col("doc_id") % 10 == 7),
        docs.where(F.col("doc_id") % 10 != 7))


def _kb(spark, sf_dir):
    """The mention KB (skolemized mention triples ∪ entity aggregates)
    — the table the profile statistics describe."""
    m = extract_mentions(transcripts(spark, sf_dir))
    return mention_triples(m).unionByName(entity_triples(m))


def _q_relations(spark, sf_dir):
    """Pattern-mined candidate relation triples between co-occurring
    mentions — the stage that FEEDS an N3 store from raw transcripts."""
    from rdf_n3_spark.operators.relations import relation_candidates

    return relation_candidates(transcripts(spark, sf_dir))


def _q_relation_triples(spark, sf_dir):
    """Mined relations as ent:-namespace KG triples (the loop closure:
    the output unions with mention/entity triples unchanged)."""
    from rdf_n3_spark.operators.relations import relation_triples

    return relation_triples(transcripts(spark, sf_dir))


def _q_kb_char_sets(spark, sf_dir):
    """Characteristic-set profile of the KB (Neumann & Moerkotte
    ICDE'11): one row per distinct per-subject predicate set."""
    from rdf_n3_spark.operators.kb_stats import characteristic_sets

    return characteristic_sets(_kb(spark, sf_dir))


def _q_kb_void(spark, sf_dir):
    """VoID property partition: per-predicate triple / distinct
    subject / distinct object counts."""
    from rdf_n3_spark.operators.kb_stats import void_stats

    return void_stats(_kb(spark, sf_dir))


def _q_kb_star_card(spark, sf_dir):
    """Star cardinality answered from the characteristic-set profile;
    the ORACLE computes the same count directly from the triples
    (count distinct subjects carrying both predicates), so a green row
    proves the profile's exactness claim, not just its replay."""
    from rdf_n3_spark.operators.kb_stats import star_cardinality

    return star_cardinality(_kb(spark, sf_dir), ["rdf:type", ":refersTo"])


def _q_embedding_incremental(spark, sf_dir):
    """Embedding-space ingest gate: vectors with vec_id % 10 == 7 are
    the incoming batch, the rest the persisted corpus — same split as
    `dedup_incremental`'s text twin."""
    from rdf_n3_spark.operators.dedup import incremental_embedding_neardup

    embs = _embs(spark, sf_dir)
    return incremental_embedding_neardup(
        embs.where(F.col("vec_id") % 10 == 7),
        embs.where(F.col("vec_id") % 10 != 7),
        threshold=0.35,
    )


def _q_builtin_time(spark, sf_dir):
    """SURVEY §2.8 time vocabulary: component extraction is validity-
    gated on the LEXICAL form (time/hour.rb:29-32), so operate on the
    formatted string, not the timestamp."""
    from rdf_n3_spark.functions.sql_builtins import apply_builtins

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("lex"),
        # half the rows get a numeric offset, half 'Z' — time:timeZone
        # is valid only for the former (time/timezone.rb:17-33)
        F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
            F.when(F.col("event_id") % 2 == 0, F.lit("+02:00")).otherwise(F.lit("Z")),
        ).alias("lexz"),
    )
    sol = apply_builtins(e, [
        ("?lex", TIME + "year", "?y"),
        ("?lex", TIME + "month", "?mo"),
        ("?lex", TIME + "day", "?d"),
        ("?lex", TIME + "hour", "?h"),
        ("?lex", TIME + "minute", "?mi"),
        ("?lex", TIME + "second", "?sec"),
        ("?lex", TIME + "dayOfWeek", "?dow"),
        ("?lex", TIME + "inSeconds", "?epoch"),
        ("?lexz", TIME + "timeZone", "?tz"),
    ])
    return sol.select("event_id", "y", "mo", "d", "h", "mi", "sec", "dow", "epoch", "tz")


def _q_builtin_list(spark, sf_dir):
    """SURVEY §2.8 list vocabulary: length/first/last computes plus the
    list:iterate (index, value) enumeration as posexplode."""
    from rdf_n3_spark.functions.sql_builtins import apply_builtins

    d = _docs(spark, sf_dir).select(
        "doc_id", F.slice(F.split(F.lower("text"), " "), 1, 4).alias("toks")
    )
    sol = apply_builtins(d, [
        ("?toks", LIST + "length", "?len"),
        ("?toks", LIST + "first", "?head"),
        ("?toks", LIST + "last", "?tail"),
        ("?toks", LIST + "iterate", "?tok"),
    ])
    return sol.select("doc_id", "len", "head", "tail", "tok_idx", "tok")


_HUB_RULE = Rule(
    antecedent=(("?e", ":mentionCount", "?c"),),
    builtins=(("?c", MATH + "greaterThan", "5"),),
    consequent=(("?e", ":isHub", "?c"),),
)


def _q_rule_builtin(spark, sf_dir):
    """Rule with an in-antecedent builtin filter (formula.rb rank loop
    as plan construction): mentionCount > 5 ⇒ :isHub."""
    return apply_rule(_all_triples(spark, sf_dir), _HUB_RULE)


def _mention_quads(spark, sf_dir):
    """Per-conversation quad store: each conv is a graph (formula) —
    the grouping the reference builds with graph_name (formula.rb:33-36)."""
    m = extract_mentions(transcripts(spark, sf_dir))
    g = F.concat(F.lit("conv:"), F.col("conv_id"))
    refers = m.select(
        F.concat(F.lit("m:"), "conv_id", F.lit("/"), F.col("turn_idx").cast("string"),
                 F.lit("/"), F.col("pos").cast("string")).alias("s"),
        F.lit(":refersTo").alias("p"),
        F.concat(F.lit("ent:"), F.col("norm")).alias("o"),
        g.alias("g"),
    )
    return refers


def _q_graph_includes(spark, sf_dir):
    """log:includes as an all-graphs semi-join: conversations whose
    graph entails {?m :refersTo ent:part_hub}."""
    quads = _mention_quads(spark, sf_dir)
    return graph_includes(quads, [("?m", ":refersTo", "ent:part_hub")])


def _mention_quads_with_turns(spark, sf_dir):
    """Mention quads plus (mention, :atTurn, turn) triples — two
    predicates so a multi-pattern includes has something to join."""
    m = extract_mentions(transcripts(spark, sf_dir))
    mid = F.concat(F.lit("m:"), "conv_id", F.lit("/"), F.col("turn_idx").cast("string"),
                   F.lit("/"), F.col("pos").cast("string"))
    g = F.concat(F.lit("conv:"), F.col("conv_id"))
    refers = m.select(mid.alias("s"), F.lit(":refersTo").alias("p"),
                      F.concat(F.lit("ent:"), F.col("norm")).alias("o"), g.alias("g"))
    turns = m.select(mid.alias("s"), F.lit(":atTurn").alias("p"),
                     F.col("turn_idx").cast("string").alias("o"), g.alias("g"))
    return refers.unionByName(turns)


def _q_graph_includes_join(spark, sf_dir):
    """Multi-pattern log:includes with a SHARED variable: graphs where
    the SAME mention refers to ent:part_hub AND sits at turn 0 — the
    per-graph BGP join (includes.rb:57-58); independent per-pattern
    containment would wrongly admit graphs where part_hub appears only
    at later turns."""
    quads = _mention_quads_with_turns(spark, sf_dir)
    return graph_includes(
        quads, [("?m", ":refersTo", "ent:part_hub"), ("?m", ":atTurn", "0")]
    )


def _q_graph_not_includes(spark, sf_dir):
    """log:notIncludes as the complementary anti-join."""
    quads = _mention_quads(spark, sf_dir)
    return graph_not_includes(quads, [("?m", ":refersTo", "ent:part_hub")])


def _q_output_strings(spark, sf_dir):
    """log:outputString: per-conversation ordered concatenation."""
    t = transcripts(spark, sf_dir)
    return output_strings(t, key="conv_id", value="text", order="turn_idx")


def _doc_lists(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        F.concat(F.lit("list:"), F.col("doc_id").cast("string")).alias("head"),
        F.slice(F.split(F.lower("text"), " "), 1, 4).alias("items"),
    )


def _q_list_ladder(spark, sf_dir):
    """Array column → rdf:first/rest ladder triples (list expansion as
    a DataFrame transform, SURVEY §1.1 / list.rb:396)."""
    return expand_list_column(_doc_lists(spark, sf_dir), "head", "items")


def _q_list_contract(spark, sf_dir):
    """Ladder → array roundtrip (each_expanded_statement inverse)."""
    ladder = expand_list_column(_doc_lists(spark, sf_dir), "head", "items")
    return contract_ladders(ladder).select(
        "head", F.array_join("items", " ").alias("joined")
    )


def _q_link_scores(spark, sf_dir):
    """Entity-link scoring in an Arrow-batched pandas UDF over
    LSH-blocked candidate pairs (north-star UDF surface)."""
    m = extract_mentions(transcripts(spark, sf_dir))
    return score_candidate_links(m.select("surface").distinct())


def _q_link_best(spark, sf_dir):
    """Best-scoring link per surface (window top-1 over the scores)."""
    return link_mentions(extract_mentions(transcripts(spark, sf_dir)))


def _q_n3_string(spark, sf_dir):
    """log:n3String: round-trip each conversation's parsed snippet back
    through the distributed N3 writer sink (one mapInPandas pass over
    the JVM-grouped graphs)."""
    t = transcripts(spark, sf_dir).where(F.col("turn_idx") == 0)
    docs = t.select(
        F.col("conv_id").alias("doc_id"),
        F.regexp_extract("text", r"(:\S+ :suppliedBy :\S+ \.)$", 1).alias("n3_text"),
    )
    quads = parse_documents(docs).where(F.col("ok")).select("doc_id", "s", "p", "o", "g")
    return serialize_graphs(quads)


def _q_salted_count(spark, sf_dir):
    """Explicit salted (two-phase) aggregation over the hub-skewed
    entity key — north-rule skew contract in auditable form."""
    m = extract_mentions(transcripts(spark, sf_dir))
    return salted_count(m, "norm", row_cols=["conv_id", "turn_idx", "pos"])


def _q_salted_collect(spark, sf_dir):
    """Salted collect_set (holistic aggregate, no map-side partial):
    distinct case-variant surfaces per entity."""
    m = extract_mentions(transcripts(spark, sf_dir))
    return salted_collect_set(
        m, "norm", "surface", row_cols=["conv_id", "turn_idx", "pos"]
    ).select("norm", F.array_join("values", " ").alias("surfaces"))


def _conv_feeds_quads(spark, sf_dir):
    """Per-conversation :feeds relation (g = the conversation graph):
    supp_k feeds supp_2k when both occur in the SAME conversation."""
    m = extract_mentions(transcripts(spark, sf_dir))
    supp = (
        m.where(F.col("norm").rlike("^supp_[0-9]+$"))
        .select("conv_id", F.substring("norm", 6, 18).cast("long").alias("k"))
        .distinct()
    )
    a, b = supp.alias("a"), supp.alias("b")
    ent = lambda c: F.concat(F.lit("ent:supp_"), c.cast("string"))
    return a.join(
        b,
        (F.col("b.conv_id") == F.col("a.conv_id")) & (F.col("b.k") == F.col("a.k") * 2),
    ).select(
        ent(F.col("a.k")).alias("s"),
        F.lit(":feeds").alias("p"),
        ent(F.col("b.k")).alias("o"),
        F.concat(F.lit("conv:"), F.col("a.conv_id")).alias("g"),
    )


def _q_graph_closure(spark, sf_dir):
    """log:conclusion at scale: transitive :feeds closure of EVERY
    conversation graph in one semi-naive job (graph id as join key)."""
    quads = _conv_feeds_quads(spark, sf_dir)
    return fixpoint_per_graph(quads, [_TRANS_RULE]).select("s", "p", "o", "g")


def _q_graph_conclusions(spark, sf_dir):
    """Per-graph inferred-only projection: what log:conclusion ADDED to
    each conversation graph (closure minus base, graph-scoped)."""
    quads = _conv_feeds_quads(spark, sf_dir)
    closed = fixpoint_per_graph(quads, [_TRANS_RULE])
    return closed.where(F.col("inferred")).select("s", "p", "o", "g")


# The driver's correctness harness checks the FIRST 50 entries of
# queries() in dict order.  Rotation history: round 3 appended new
# operators at the tail (leaving 41 rows driver-unverified), round 4
# pinned the window to the never-certified block (all 41 went green in
# CORRECTNESS_r04) but its own 6 newest overflowed.  ROUND 5 completes
# the rotation: the five formerly-overflow queries led the window
# together with every new round-5 operator, so after
# CORRECTNESS_r05 every query (144 incl. that round's additions) has a
# driver-green row in some round's artifact.  The event-analytics and
# multimodal families were pruned afterwards (127 queries), then the
# graph-analytics and temporal-KB families (114 queries), then the
# conversation-curation operators, entity_enrich and kb_signatures
# (104 queries), then the sketch, substring-span and mention-context
# operators (95 queries remain).  Each pruning frees window slots:
# _ROUND_NEW now holds 15 names and the re-cert slate fills the other
# 35 of the 50 rows.
# tests/test_entry_parity.py::test_driver_window_covers_uncertified
# pins the invariant.  Rotation contract for FUTURE rounds: genuinely
# new queries enter at the head of _ROUND_NEW; _RECERTIFY is the
# priority-ordered re-certification slate (reference §2 surface first,
# then north-rule reps, then the heaviest beyond-reference machinery)
# truncated from the tail so the window stays exactly 50.
_ROUND_NEW = [
    # round-5 additions enter here, newest first
    "corpus_datasheet",
    "conv_dedup",
    "contrastive_incremental", "contrastive_pairs",
    "split_leakage",
    "search_rrf", "search_bm25",
    "label_consistency",
    "token_budget_sample",
    "n3_write_nquads", "ann_ivf_multitable",
    # the round-4 queries that overflowed CORRECTNESS_r04's window
    # (pytest-oracle green since r4; driver-certified in round 5)
    "relation_triples", "kb_void", "source_weights",
    "paragraph_neardup",
]

#: re-certification slate, priority order (sentinel trio first —
#: parser / fixpoint / includes must stay driver-visible every round)
_RECERTIFY = [
    "n3_parse_udf", "rule_closure", "graph_includes", "builtin_math",
    "transcripts_build", "n3_write_udf", "entity_canon",
    # the rest of the reference §2 surface
    "bgp_solutions", "rule_infer", "rule_builtin_infer",
    "rule_conclusions", "graph_closure", "graph_conclusions",
    "builtin_string", "builtin_time", "builtin_list",
    "graph_includes_join", "graph_not_includes", "output_strings",
    "list_ladder", "list_contract",
    # north-rule pipeline representatives
    "mention_extract", "triple_emit", "entity_agg", "graph_nodes",
    "graph_edges", "entity_agg_salted", "entity_surfaces_salted",
    "triples_canonical", "kb_diff",
    # heaviest beyond-reference machinery
    "lsh_candidate_pairs", "entity_link_scores", "entity_link_best",
    "dedup_exact", "dedup_minhash", "dedup_jaccard", "dedup_clusters",
    "dedup_simhash", "dedup_embedding", "ann_topk",
    "ann_ivf_multiprobe",
]

_DRIVER_WINDOW = (_ROUND_NEW + _RECERTIFY)[:50]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = _queries_base()
    ordered = {k: base[k] for k in _DRIVER_WINDOW}
    ordered.update({k: v for k, v in base.items() if k not in ordered})
    return ordered


def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts_build": _q_transcripts,
        "corpus_datasheet": lambda s, d: corpus_datasheet(_docs(s, d)),
        "conv_dedup": lambda s, d: conv_dedup(transcripts(s, d)),
        "mention_extract": _q_mentions,
        "triple_emit": _q_mention_triples,
        "entity_agg": _q_entity_triples,
        "graph_nodes": _q_graph_nodes,
        "graph_edges": _q_graph_edges,
        "bgp_solutions": _q_bgp_solutions,
        "rule_infer": _q_rule_infer,
        "rule_closure": _q_rule_closure,
        "rule_conclusions": _q_rule_conclusions,
        "rule_builtin_infer": _q_rule_builtin,
        "graph_closure": _q_graph_closure,
        "graph_conclusions": _q_graph_conclusions,
        "entity_agg_salted": _q_salted_count,
        "entity_surfaces_salted": _q_salted_collect,
        "builtin_math": _q_builtin_math,
        "builtin_string": _q_builtin_string,
        "builtin_time": _q_builtin_time,
        "builtin_list": _q_builtin_list,
        "graph_includes": _q_graph_includes,
        "graph_includes_join": _q_graph_includes_join,
        "graph_not_includes": _q_graph_not_includes,
        "output_strings": _q_output_strings,
        "list_ladder": _q_list_ladder,
        "list_contract": _q_list_contract,
        "lsh_candidate_pairs": _q_lsh_pairs,
        "entity_canon": _q_canon,
        "triples_canonical": _q_canonical_triples,
        "kb_diff": _q_kb_diff,
        "entity_link_scores": _q_link_scores,
        "entity_link_best": _q_link_best,
        "n3_parse_udf": _q_parse_n3_snippets,
        "n3_write_udf": _q_n3_string,
        "dedup_exact": lambda s, d: exact_dedup(_docs(s, d)),
        "dedup_minhash": lambda s, d: minhash_neardup_pairs(_docs(s, d)),
        "dedup_jaccard": lambda s, d: jaccard_neardup_pairs(_docs(s, d)),
        "dedup_clusters": lambda s, d: neardup_clusters(_docs(s, d)),
        "dedup_simhash": lambda s, d: simhash_buckets(_docs(s, d)),
        "dedup_simhash_hamming": lambda s, d: simhash_hamming_pairs(_docs(s, d)),
        "dedup_embedding": lambda s, d: embedding_neardup_pairs(_embs(s, d), threshold=0.35),
        "dedup_embedding_clusters": lambda s, d: embedding_neardup_clusters(_embs(s, d), threshold=0.35),
        "ann_topk": lambda s, d: ann_topk(_embs(s, d)),
        "ann_topk_exact_oracle": lambda s, d: ann_topk_exact_oracle(_embs(s, d)),
        "ann_topk_partial": lambda s, d: ann_topk_partial(_embs(s, d)),
        "ann_ivf": lambda s, d: ivf_topk(_embs(s, d)),
        "ann_ivf_multiprobe": lambda s, d: ivf_topk(_embs(s, d), hamming=1),
        "ann_ivf_multitable": lambda s, d: ivf_topk_tables(_embs(s, d)),
        "embed_project": lambda s, d: project_embeddings(_embs(s, d)),
        "text_stats": lambda s, d: token_stats(_docs(s, d)),
        "text_quality": lambda s, d: quality_score(_docs(s, d)),
        "lang_id": lambda s, d: lang_id(_docs(s, d)),
        "doc_fingerprint": lambda s, d: fingerprint(_docs(s, d)),
        "text_redact": _q_redact,
        "text_repetition": _q_repetition,
        "decontaminate": _q_decontaminate,
        "pack_sequences": _q_pack,
        "curate_corpus": _q_curate,
        "corpus_split": lambda s, d: corpus_split(_docs(s, d)),
        "doc_chunks": lambda s, d: chunk_documents(_docs(s, d)),
        "chunk_dedup": lambda s, d: chunk_dedup(_docs(s, d)),
        "keyword_topk": lambda s, d: keyword_topk(_docs(s, d)),
        "search_topk": _q_search,
        "search_bm25": _q_search_bm25,
        "search_rrf": _q_search_rrf,
        "n3_write_nquads": _q_nquads,
        "embedding_incremental": _q_embedding_incremental,
        "relation_candidates": _q_relations,
        "relation_triples": _q_relation_triples,
        "kb_char_sets": _q_kb_char_sets,
        "kb_void": _q_kb_void,
        "kb_star_card": _q_kb_star_card,
        "corpus_sample": lambda s, d: corpus_sample(_docs(s, d), pct=10),
        "stratified_sample": lambda s, d: stratified_sample(
            _docs(s, d), {"en": 5, "zh": 60}, default_pct=20),
        "shuffle_shards": lambda s, d: shuffle_shards(_docs(s, d), n_shards=8),
        "source_mix": lambda s, d: source_mix(_docs(s, d)),
        "source_weights": lambda s, d: source_weights(_docs(s, d)),
        # α=0.5 weights actuated: histogram-threshold token-budget
        # selection (no per-source corpus sort)
        "token_budget_sample": lambda s, d: token_budget_sample(
            _docs(s, d), 20000, buckets=256),
        "split_leakage": _q_split_leakage,
        "contrastive_pairs": _q_contrastive,
        "lm_score": lambda s, d: lm_score(_docs(s, d)),
        "hash_embed": lambda s, d: hash_embed(_docs(s, d)),
        # min_stop=1: the synthetic vocabulary carries ~1 Gopher stop
        # word per doc, so the paper's floor of 2 would zero the row
        "gopher_quality": lambda s, d: gopher_quality(_docs(s, d), min_stop=1),
        # the raw synthetic corpus is newline-free and all-unique, so
        # the gate input is a deterministic self-union: docs < 50
        # duplicated at offset ids — both verdict branches exercised
        "paragraph_neardup": lambda s, d: paragraph_neardup(_docs(s, d)),
        "paragraph_dedup": lambda s, d: paragraph_dedup(
            _docs(s, d).select("doc_id", "text").unionByName(
                _docs(s, d).where(F.col("doc_id") < 50).select(
                    (F.col("doc_id") + 10000).alias("doc_id"), "text"))),
        "boilerplate_ngrams": lambda s, d: boilerplate_ngrams(
            _docs(s, d), n=3, min_docs=5),
        "boilerplate_share": lambda s, d: boilerplate_share(
            _docs(s, d), n=3, min_docs=5),
        "dedup_source_matrix": lambda s, d: source_dup_matrix(_docs(s, d)),
        "dedup_incremental": lambda s, d: incremental_neardup(
            _docs(s, d).where(F.col("doc_id") % 10 == 7),
            _docs(s, d).where(F.col("doc_id") % 10 != 7)),
        # ingest-time contrastive mining over the same new/corpus split
        "contrastive_incremental": _q_contrastive_incremental,
        "embed_kmeans": lambda s, d: embed_kmeans(_embs(s, d)),
        # cluster-bounded kNN mislabel screen over the labeled vectors
        "label_consistency": lambda s, d: label_consistency(_embs(s, d)),
        "semdedup_prune": lambda s, d: semdedup_prune(
            _embs(s, d), threshold=0.35),
        "cluster_sample": lambda s, d: cluster_sample(
            _embs(s, d), per_cluster=60),
    }


# content-defined chunking (curation.chunk_documents) as a reusable
# fragment: cut-flag per token position + prefix-sum chunk ids
_CHUNKS_SQL = """
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), pos AS (
              SELECT doc_id, i, t[i] AS tok,
                     CASE WHEN i >= 3 AND i < len(t)
                          AND ('0x' || substr(md5(array_to_string(t[i-2:i], ' ')), 1, 8))::BIGINT
                              % 16 = 0
                     THEN 1 ELSE 0 END AS cut
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i)
            ), chunks AS (
            SELECT doc_id,
                   CAST(chunk_idx AS INT) AS chunk_idx,
                   string_agg(tok, ' ' ORDER BY i) AS chunk,
                   CAST(count(*) AS BIGINT) AS n_tokens
            FROM (SELECT doc_id, i, tok,
                         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                                  0) AS chunk_idx
                  FROM pos)
            GROUP BY doc_id, chunk_idx
            )
"""


# shared mention-pair / middle-span CTE chain for the relation
# oracles (the max_gap literal — gap 3 -> b.pos - a.pos <= 4 —
# lives exactly once)
_REL_LAB = f"""
    {_MENTIONS},
    tt AS (
      SELECT conv_id, turn_idx, string_split(lower(text), ' ') AS toks
      FROM transcripts
    ),
    pairs AS (
      SELECT a.conv_id, a.turn_idx,
             a.norm AS s_norm, a.pos AS sp,
             b.norm AS o_norm, b.pos AS op
      FROM mentions a JOIN mentions b
        ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx
       AND b.pos > a.pos AND b.pos - a.pos <= 4
    ),
    lab AS (
      SELECT p.conv_id, s_norm, o_norm,
             array_to_string(list_slice(t.toks, p.sp + 2, p.op), ' ') AS pred
      FROM pairs p JOIN tt t
        ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
    )
"""

_SEARCH_TOPK_SQL = """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM toks GROUP BY doc_id, token),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            n AS (SELECT count(*) AS n_docs FROM documents),
            idf AS (SELECT token, (n_docs * 1000) // df AS idf_int
                    FROM df, n),
            q AS (
              SELECT doc_id AS query_id,
                     array_to_string(
                       list_slice(string_split(lower(text), ' '), 1, 3),
                       ' ') AS qtext
              FROM documents WHERE doc_id < 20
            ),
            qtok AS (
              SELECT DISTINCT query_id,
                     unnest(string_split(lower(qtext), ' ')) AS token
              FROM q
            ),
            scored AS (
              SELECT query_id, tf.doc_id,
                     CAST(sum(tf.tf * idf.idf_int) AS BIGINT) AS score
              FROM qtok JOIN tf USING (token) JOIN idf USING (token)
              GROUP BY query_id, tf.doc_id
            ),
            r AS (
              SELECT query_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank,
                     doc_id, score
              FROM scored
            )
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
            FROM r WHERE rank <= 10
"""

_SEARCH_BM25_SQL = """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM toks GROUP BY doc_id, token),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            n AS (SELECT count(*) AS n_docs FROM documents),
            a AS (SELECT ((SELECT sum(dl) FROM dl) * 1000) // n_docs
                    AS avgdl_milli
                  FROM n),
            idf AS (SELECT token, (n_docs * 1000) // df AS idf_int
                    FROM df, n),
            q AS (
              SELECT doc_id AS query_id,
                     array_to_string(
                       list_slice(string_split(lower(text), ' '), 1, 3),
                       ' ') AS qtext
              FROM documents WHERE doc_id < 20
            ),
            qtok AS (
              SELECT DISTINCT query_id,
                     unnest(string_split(lower(qtext), ' ')) AS token
              FROM q
            ),
            scored AS (
              SELECT query_id, tf.doc_id,
                     CAST(sum(idf.idf_int * (
                       (tf.tf * 2200 * 1000000) //
                       (tf.tf * 1000000 +
                        (1200 * (250000 +
                          (750 * ((dl.dl * 1000000000) // a.avgdl_milli))
                          // 1000)) // 1000)
                     )) AS BIGINT) AS score
              FROM qtok JOIN tf USING (token) JOIN idf USING (token)
                   JOIN dl ON tf.doc_id = dl.doc_id, a
              GROUP BY query_id, tf.doc_id
            ),
            r AS (
              SELECT query_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank,
                     doc_id, score
              FROM scored
            )
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
            FROM r WHERE rank <= 10
"""


def oracle_sql() -> dict[str, str]:
    d = {
        "transcripts_build": f"""
            WITH {_T}
            SELECT conv_id, turn_idx, role, text, tool,
                   CAST(epoch(ts) AS BIGINT) AS ts_epoch
            FROM transcripts
        """,
        # mirrors conversations.conv_dedup: hash-of-hashes — md5 over
        # the ordered fixed-width per-turn md5("role:text") sequence;
        # concat_ws skips a NULL text like Spark's, so the turn stays
        # in the fingerprint
        "conv_dedup": f"""
            WITH {_T},
            fp AS (
              SELECT conv_id,
                     md5(string_agg(md5(concat_ws(':', role, text)), ''
                                    ORDER BY turn_idx)) AS fp
              FROM transcripts GROUP BY conv_id
            )
            SELECT conv_id, fp,
                   min(conv_id) OVER (PARTITION BY fp)
                     AS keeper_conv_id,
                   CAST(CASE WHEN conv_id =
                             min(conv_id) OVER (PARTITION BY fp)
                        THEN 1 ELSE 0 END AS INT) AS keep
            FROM fp
        """,
        "mention_extract": f"""
            {_MENTIONS}
            SELECT conv_id, turn_idx, pos, surface, norm FROM mentions
        """,
        # mirrors curation.corpus_datasheet: one (source, lang)
        # aggregate, all exact integers, dup rate via distinct md5
        "corpus_datasheet": """
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT)
                     AS n_unique_texts,
                   CAST(sum(CASE WHEN length(text) < 200
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   CAST(sum(len(string_split(lower(text), ' ')))
                        AS BIGINT) AS total_tokens,
                   CAST(max(length(text)) AS BIGINT) AS max_chars
            FROM documents
            GROUP BY source, lang
        """,
        "triple_emit": f"""
            {_MENTIONS},
            sk AS (
              SELECT *, 'sk:' || substr(sha256(conv_id || '|' || CAST(turn_idx AS VARCHAR)
                         || '|' || CAST(pos AS VARCHAR)), 1, 16) AS sk
              FROM mentions
            )
            SELECT sk AS s, 'rdf:type' AS p, ':Mention' AS o FROM sk
            UNION ALL SELECT sk, ':surface', surface FROM sk
            UNION ALL SELECT sk, ':inConv', 'conv:' || conv_id FROM sk
            UNION ALL SELECT sk, ':atTurn', CAST(turn_idx AS VARCHAR) FROM sk
            UNION ALL SELECT sk, ':refersTo', 'ent:' || norm FROM sk
        """,
        "entity_agg": f"""
            {_MENTIONS}
            SELECT 'ent:' || norm AS s, ':mentionCount' AS p,
                   CAST(count(*) AS VARCHAR) AS o
            FROM mentions GROUP BY norm
        """,
        # mirrors operators.relations.relation_candidates: same-turn
        # mention pairs ≤ max_gap+1 apart, middle tokens (1-based
        # inclusive list_slice == Spark's start+length slice) as the
        # predicate surface, support-filtered
        "relation_candidates": f"""
            {_REL_LAB}
            SELECT s_norm, pred, o_norm,
                   CAST(count(*) AS BIGINT) AS n_support,
                   CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs
            FROM lab GROUP BY 1, 2, 3
            HAVING count(*) >= 2
        """,
        # mirrors operators.relations.relation_triples: the candidate
        # miner + conversation-spread floor, projected into the ent:
        # namespace with underscored predicate surfaces
        "relation_triples": f"""
            {_REL_LAB}
            SELECT 'ent:' || s_norm AS s,
                   ':rel_' || replace(pred, ' ', '_') AS p,
                   'ent:' || o_norm AS o
            FROM lab GROUP BY s_norm, pred, o_norm
            HAVING count(*) >= 2 AND count(DISTINCT conv_id) >= 2
        """,
        # mirrors kb_stats.characteristic_sets: per-subject sorted
        # distinct predicate set, then one row per distinct set
        "kb_char_sets": f"""
            {_TRIPLES},
            per_s AS (
              SELECT s,
                     array_to_string(list_sort(list(DISTINCT
                       replace(replace(p, '%', '%25'), '|', '%7C'))), '|') AS cs,
                     count(*) AS nt
              FROM triples GROUP BY s
            )
            SELECT cs, CAST(count(*) AS BIGINT) AS n_subjects,
                   CAST(sum(nt) AS BIGINT) AS n_triples
            FROM per_s GROUP BY cs
        """,
        # mirrors kb_stats.void_stats: the VoID property partition
        "kb_void": f"""
            {_TRIPLES}
            SELECT p, CAST(count(*) AS BIGINT) AS n_triples,
                   CAST(count(DISTINCT s) AS BIGINT) AS n_subjects,
                   CAST(count(DISTINCT o) AS BIGINT) AS n_objects
            FROM triples GROUP BY p
        """,
        # deliberately NOT a replay of the Spark plan: the Spark side
        # answers the star from the characteristic-set profile, the
        # oracle counts distinct subjects carrying both predicates
        # directly — a green row proves the profile is EXACT
        "kb_star_card": f"""
            {_TRIPLES}
            SELECT CAST(count(*) AS BIGINT) AS n_subjects FROM (
              SELECT s FROM triples WHERE p IN ('rdf:type', ':refersTo')
              GROUP BY s HAVING count(DISTINCT p) = 2
            )
        """,
        "graph_nodes": f"""
            {_TRIPLES},
            outd AS (SELECT s AS node_id, count(*) AS out_degree
                     FROM triples GROUP BY s),
            ind AS (SELECT o AS node_id, count(*) AS in_degree
                    FROM triples WHERE regexp_matches(o, '^(ent|conv|sk):')
                    GROUP BY o)
            SELECT node_id,
                   string_split(node_id, ':')[1] AS kind,
                   CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
                   CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
                   CAST({_BUCKET.format(col="node_id")} AS INT) AS bucket
            FROM outd FULL OUTER JOIN ind USING (node_id)
        """,
        "graph_edges": f"""
            {_TRIPLES}
            SELECT s, p, o, CAST({_BUCKET.format(col="s")} AS INT) AS bucket
            FROM triples WHERE regexp_matches(o, '^(ent|conv|sk):')
        """,
        "bgp_solutions": f"""
            {_TRIPLES}
            SELECT DISTINCT r.s AS m, r.o AS e, c.o AS c
            FROM triples r JOIN triples c ON c.s = r.o
            WHERE r.p = ':refersTo' AND c.p = ':mentionCount'
        """,
        "rule_infer": f"""
            {_TRIPLES}
            SELECT DISTINCT r.s AS s, ':entityFreq' AS p, c.o AS o
            FROM triples r JOIN triples c ON c.s = r.o
            WHERE r.p = ':refersTo' AND c.p = ':mentionCount'
        """,
        "rule_closure": f"""
            {_MENTIONS},
            supps AS (
              SELECT DISTINCT CAST(substr(norm, 6) AS BIGINT) AS k
              FROM mentions WHERE regexp_matches(norm, '^supp_[0-9]+$')
            ),
            feeds AS (
              SELECT a.k AS ka, b.k AS kb
              FROM supps a JOIN supps b ON b.k = a.k * 2
            ),
            reach AS (
              SELECT ka, kb FROM feeds
              UNION
              SELECT r.ka, f.kb FROM reach r JOIN feeds f ON f.ka = r.kb
            )
            SELECT 'ent:supp_' || CAST(ka AS VARCHAR) AS s,
                   ':feeds' AS p,
                   'ent:supp_' || CAST(kb AS VARCHAR) AS o
            FROM reach
        """,
        "rule_conclusions": f"""
            {_MENTIONS},
            supps AS (
              SELECT DISTINCT CAST(substr(norm, 6) AS BIGINT) AS k
              FROM mentions WHERE regexp_matches(norm, '^supp_[0-9]+$')
            ),
            feeds AS (
              SELECT a.k AS ka, b.k AS kb
              FROM supps a JOIN supps b ON b.k = a.k * 2
            ),
            reach AS (
              SELECT ka, kb FROM feeds
              UNION
              SELECT r.ka, f.kb FROM reach r JOIN feeds f ON f.ka = r.kb
            )
            SELECT 'ent:supp_' || CAST(ka AS VARCHAR) AS s,
                   ':feeds' AS p,
                   'ent:supp_' || CAST(kb AS VARCHAR) AS o
            FROM (SELECT ka, kb FROM reach EXCEPT SELECT ka, kb FROM feeds)
        """,
        "rule_builtin_infer": f"""
            {_TRIPLES}
            SELECT DISTINCT s, ':isHub' AS p, o
            FROM triples
            WHERE p = ':mentionCount' AND CAST(o AS DOUBLE) > 5
        """,
        "entity_agg_salted": f"""
            {_MENTIONS}
            SELECT norm, count(*) AS n FROM mentions GROUP BY norm
        """,
        "entity_surfaces_salted": f"""
            {_MENTIONS}
            SELECT norm,
                   array_to_string(list_sort(list_distinct(list(surface))), ' ') AS surfaces
            FROM mentions GROUP BY norm
        """,
        "graph_closure": f"""
            {_MENTIONS},
            supps AS (
              SELECT DISTINCT conv_id, CAST(substr(norm, 6) AS BIGINT) AS k
              FROM mentions WHERE regexp_matches(norm, '^supp_[0-9]+$')
            ),
            feeds AS (
              SELECT a.conv_id, a.k AS ka, b.k AS kb
              FROM supps a JOIN supps b
                ON b.conv_id = a.conv_id AND b.k = a.k * 2
            ),
            reach AS (
              SELECT conv_id, ka, kb FROM feeds
              UNION
              SELECT r.conv_id, r.ka, f.kb
              FROM reach r JOIN feeds f
                ON f.conv_id = r.conv_id AND f.ka = r.kb
            )
            SELECT 'ent:supp_' || CAST(ka AS VARCHAR) AS s,
                   ':feeds' AS p,
                   'ent:supp_' || CAST(kb AS VARCHAR) AS o,
                   'conv:' || conv_id AS g
            FROM reach
        """,
        "graph_conclusions": f"""
            {_MENTIONS},
            supps AS (
              SELECT DISTINCT conv_id, CAST(substr(norm, 6) AS BIGINT) AS k
              FROM mentions WHERE regexp_matches(norm, '^supp_[0-9]+$')
            ),
            feeds AS (
              SELECT a.conv_id, a.k AS ka, b.k AS kb
              FROM supps a JOIN supps b
                ON b.conv_id = a.conv_id AND b.k = a.k * 2
            ),
            reach AS (
              SELECT conv_id, ka, kb FROM feeds
              UNION
              SELECT r.conv_id, r.ka, f.kb
              FROM reach r JOIN feeds f
                ON f.conv_id = r.conv_id AND f.ka = r.kb
            )
            SELECT 'ent:supp_' || CAST(ka AS VARCHAR) AS s,
                   ':feeds' AS p,
                   'ent:supp_' || CAST(kb AS VARCHAR) AS o,
                   'conv:' || conv_id AS g
            FROM (SELECT conv_id, ka, kb FROM reach
                  EXCEPT SELECT conv_id, ka, kb FROM feeds)
        """,
        "builtin_math": """
            SELECT l_orderkey, l_linenumber,
                   CAST(l_partkey + (l_suppkey + 1) AS DOUBLE) AS sum_ab,
                   CAST(l_partkey - (l_suppkey + 1) AS DOUBLE) AS diff_ab,
                   CAST(l_partkey * (l_suppkey + 1) AS DOUBLE) AS prod_ab,
                   CAST(floor(CAST(l_partkey AS DOUBLE) / (l_suppkey + 1)) AS BIGINT) AS iq_ab,
                   l_partkey % (l_suppkey + 1) AS mod_ab,
                   CAST(abs(l_partkey - (l_suppkey + 1)) AS DOUBLE) AS abs_diff,
                   CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
                   CAST(ceiling(l_extendedprice) AS BIGINT) AS ceil_p,
                   CAST(CASE WHEN l_extendedprice >= 0
                             THEN floor(l_extendedprice + 0.5)
                             ELSE -floor(-l_extendedprice + 0.5) END AS BIGINT) AS round_p
            FROM lineitem
            WHERE l_partkey > l_suppkey + 1
        """,
        "builtin_string": """
            SELECT doc_id,
                   source || '/' || lang AS cat,
                   regexp_extract(text, '^(\\w+)', 1) AS w1,
                   replace(source, 'src', 'origin-') AS src2,
                   printf('doc %s in %s', source, lang) AS fmt,
                   '"' || regexp_extract(text, '^(\\w+)', 1)
                       || '"^^<http://www.w3.org/2001/XMLSchema#string>' AS typed,
                   '"' || regexp_extract(text, '^(\\w+)', 1) || '"@' || lang AS tagged
            FROM documents
            WHERE contains(lower(text), lower('ThE'))
        """,
        "builtin_time": """
            SELECT event_id,
                   CAST(date_part('year', ts) AS INT) AS y,
                   CAST(date_part('month', ts) AS INT) AS mo,
                   CAST(date_part('day', ts) AS INT) AS d,
                   CAST(date_part('hour', ts) AS INT) AS h,
                   CAST(date_part('minute', ts) AS INT) AS mi,
                   CAST(floor(date_part('second', ts)) AS INT) AS sec,
                   CAST(date_part('dow', ts) AS INT) AS dow,
                   CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS epoch,
                   CASE WHEN event_id % 2 = 0 THEN '+02:00' ELSE NULL END AS tz
            FROM events
        """,
        "builtin_list": """
            WITH arrs AS (
              SELECT doc_id, list_slice(string_split(lower(text), ' '), 1, 4) AS toks
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(toks) AS INT) AS len,
                   toks[1] AS head,
                   toks[len(toks)] AS tail,
                   CAST(unnest(generate_series(1, len(toks))) - 1 AS INT) AS tok_idx,
                   unnest(toks) AS tok
            FROM arrs
        """,
        "graph_includes": f"""
            {_MENTIONS}
            SELECT DISTINCT 'conv:' || conv_id AS g
            FROM mentions WHERE norm = 'part_hub'
        """,
        "graph_includes_join": f"""
            {_MENTIONS}
            SELECT DISTINCT 'conv:' || conv_id AS g
            FROM mentions WHERE norm = 'part_hub' AND turn_idx = 0
        """,
        "graph_not_includes": f"""
            {_MENTIONS}
            SELECT DISTINCT 'conv:' || conv_id AS g FROM mentions
            EXCEPT
            SELECT DISTINCT 'conv:' || conv_id AS g
            FROM mentions WHERE norm = 'part_hub'
        """,
        "output_strings": f"""
            WITH {_T}
            SELECT conv_id,
                   string_agg(text, chr(10) ORDER BY turn_idx) AS out
            FROM transcripts GROUP BY conv_id
        """,
        "list_ladder": """
            WITH arrs AS (
              SELECT 'list:' || CAST(doc_id AS VARCHAR) AS head,
                     list_slice(string_split(lower(text), ' '), 1, 4) AS items
              FROM documents
            ),
            cells AS (
              SELECT head,
                     CAST(unnest(generate_series(1, len(items))) - 1 AS INT) AS pos,
                     len(items) AS n,
                     unnest(items) AS v
              FROM arrs
            ),
            named AS (
              SELECT *,
                     CASE WHEN pos = 0 THEN head
                          ELSE head || '#_' || CAST(pos AS VARCHAR) END AS cell,
                     CASE WHEN pos = n - 1
                          THEN '<http://www.w3.org/1999/02/22-rdf-syntax-ns#nil>'
                          ELSE head || '#_' || CAST(pos + 1 AS VARCHAR) END AS nxt
              FROM cells
            )
            SELECT cell AS s,
                   '<http://www.w3.org/1999/02/22-rdf-syntax-ns#first>' AS p,
                   v AS o
            FROM named
            UNION ALL
            SELECT cell,
                   '<http://www.w3.org/1999/02/22-rdf-syntax-ns#rest>',
                   nxt
            FROM named
        """,
        "list_contract": """
            SELECT 'list:' || CAST(doc_id AS VARCHAR) AS head,
                   array_to_string(list_slice(string_split(lower(text), ' '), 1, 4), ' ') AS joined
            FROM documents
        """,
        "n3_write_udf": """
            WITH base AS (
              SELECT 'conv_' || lpad(CAST(l_orderkey AS VARCHAR), 8, '0') AS conv_id,
                     row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn,
                     CASE WHEN l_linenumber % 4 = 0 THEN upper(pt) ELSE pt END AS part_tok,
                     'supp_' || CAST(l_suppkey AS VARCHAR) AS supp_tok
              FROM (SELECT *, CASE WHEN l_orderkey % 5 = 0 THEN 'part_hub'
                                   ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS pt
                    FROM lineitem)
            )
            SELECT conv_id AS doc_id,
                   '<' || lower(part_tok) || '> <suppliedBy> <' || supp_tok || '> .' || chr(10) AS n3
            FROM base WHERE rn = 1
        """,
        "lsh_candidate_pairs": f"""
            {_CANON}
            SELECT a, b FROM ver
        """,
        "entity_canon": f"""
            {_CANON}
            SELECT s.surface, coalesce(c.comp, s.surface) AS canon
            FROM surfaces s LEFT JOIN comp c ON c.node = s.surface
        """,
        "triples_canonical": f"""
            {_CANON},
            entmap AS (
              SELECT lower(s.surface) AS norm,
                     min(lower(coalesce(c.comp, s.surface))) AS cnorm
              FROM surfaces s LEFT JOIN comp c ON c.node = s.surface
              GROUP BY lower(s.surface)
            ),
            cmen AS (
              SELECT m.conv_id, m.turn_idx, m.pos, m.surface,
                     e.cnorm AS norm
              FROM mentions m JOIN entmap e ON e.norm = m.norm
            ),
            csk AS (
              SELECT *, 'sk:' || substr(sha256(conv_id || '|'
                         || CAST(turn_idx AS VARCHAR) || '|'
                         || CAST(pos AS VARCHAR)), 1, 16) AS sk
              FROM cmen
            )
            SELECT sk AS s, 'rdf:type' AS p, ':Mention' AS o FROM csk
            UNION ALL SELECT sk, ':surface', surface FROM csk
            UNION ALL SELECT sk, ':inConv', 'conv:' || conv_id FROM csk
            UNION ALL SELECT sk, ':atTurn', CAST(turn_idx AS VARCHAR) FROM csk
            UNION ALL SELECT sk, ':refersTo', 'ent:' || norm FROM csk
            UNION ALL SELECT 'ent:' || norm, ':mentionCount',
                             CAST(count(*) AS VARCHAR)
            FROM cmen GROUP BY norm
        """,
        "kb_diff": f"""
            {_MENTIONS},
            oldm AS (SELECT * FROM mentions WHERE turn_idx <= 3),
            newm AS (SELECT * FROM mentions WHERE turn_idx >= 1),
            oldt AS ({_triples_over('oldm')}),
            newt AS ({_triples_over('newm')})
            SELECT s, p, o, '+' AS change FROM
              (SELECT s, p, o FROM newt EXCEPT SELECT s, p, o FROM oldt)
            UNION ALL
            SELECT s, p, o, '-' AS change FROM
              (SELECT s, p, o FROM oldt EXCEPT SELECT s, p, o FROM newt)
        """,
        "entity_link_scores": f"""
            {_CANON},
scored AS (
  SELECT cand.a, cand.b,
         round(0.5 * (CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(sa.sh, sb.sh))))
             + 0.3 * (1.0 - CAST(levenshtein(lower(cand.a), lower(cand.b)) AS DOUBLE)
                            / greatest(length(cand.a), length(cand.b), 1))
             + 0.2 * (CASE WHEN substr(lower(cand.a), 1, 4) = substr(lower(cand.b), 1, 4)
                           THEN 1.0 ELSE 0.0 END), 9) AS score
  FROM cand
  JOIN shsets sa ON sa.surface = cand.a
  JOIN shsets sb ON sb.surface = cand.b
),
keep AS (SELECT a, b, score FROM scored WHERE score >= 0.5)

            SELECT a, b, score FROM keep
        """,
        "entity_link_best": f"""
            {_CANON},
scored AS (
  SELECT cand.a, cand.b,
         round(0.5 * (CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(sa.sh, sb.sh))))
             + 0.3 * (1.0 - CAST(levenshtein(lower(cand.a), lower(cand.b)) AS DOUBLE)
                            / greatest(length(cand.a), length(cand.b), 1))
             + 0.2 * (CASE WHEN substr(lower(cand.a), 1, 4) = substr(lower(cand.b), 1, 4)
                           THEN 1.0 ELSE 0.0 END), 9) AS score
  FROM cand
  JOIN shsets sa ON sa.surface = cand.a
  JOIN shsets sb ON sb.surface = cand.b
),
keep AS (SELECT a, b, score FROM scored WHERE score >= 0.5)
,
            sym AS (SELECT a, b, score FROM keep
                    UNION ALL SELECT b, a, score FROM keep),
            ranked AS (
              SELECT a, b, score,
                     row_number() OVER (PARTITION BY a ORDER BY score DESC, b) AS rk
              FROM sym
            )
            SELECT a AS surface, b AS linked_to, score FROM ranked WHERE rk = 1
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, min(doc_id) AS survivor,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash": f"""
            {_DOC_SHINGLES}
            SELECT a, b FROM ver
        """,
        # mirrors dedup.source_dup_matrix: the shared verified pair set
        # labeled with sources, unordered-pair grouped
        "dedup_source_matrix": f"""
            {_DOC_SHINGLES},
            lab AS (
              SELECT da.source AS sa, db.source AS sb
              FROM ver JOIN documents da ON da.doc_id = ver.a
                       JOIN documents db ON db.doc_id = ver.b
            )
            SELECT least(sa, sb) AS source_a, greatest(sa, sb) AS source_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM lab GROUP BY 1, 2
        """,
        # mirrors dedup.incremental_neardup (batch = doc_id % 10 = 7,
        # corpus = the rest): batch-scoped _DOC_SHINGLES chain for the
        # intra-batch pairs; corpus band-key index (min doc_id per key)
        # + representative verify for the corpus check
        # embedding-space ingest gate: corpus band index (min-vec_id
        # rep per hyperplane band key) probed by the batch, exact
        # cosine verify against the representative (zero-norm guarded
        # on both sides), plus intra-batch pairs — mirrors
        # dedup.incremental_embedding_neardup over the % 10 = 7 split
        "embedding_incremental": f"""
            WITH qa AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(round(x * 1000) AS BIGINT)) AS e
              FROM embeddings
            ),
            qb AS (SELECT * FROM qa WHERE vec_id % 10 = 7),
            qc AS (SELECT * FROM qa WHERE vec_id % 10 <> 7),
            bkeys AS (SELECT vec_id, unnest([{_band_keys_sql()}]) AS band_key FROM qb),
            ckeys AS (SELECT vec_id, unnest([{_band_keys_sql()}]) AS band_key FROM qc),
            cindex AS (SELECT band_key, min(vec_id) AS rep
                       FROM ckeys GROUP BY band_key),
            cand AS (SELECT DISTINCT k.vec_id, i.rep
                     FROM bkeys k JOIN cindex i USING (band_key)),
            cver AS (
              SELECT c.vec_id, c.rep FROM cand c
              JOIN qb q ON q.vec_id = c.vec_id
              JOIN qc t ON t.vec_id = c.rep
              WHERE list_sum(list_transform(q.e, x -> x * x)) > 0
                AND list_sum(list_transform(t.e, x -> x * x)) > 0
                AND {_COS_EXPR} >= 0.35
            ),
            corp AS (SELECT vec_id, min(rep) AS dup_of_corpus
                     FROM cver GROUP BY vec_id),
            bcand AS (
              SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
              FROM bkeys x JOIN bkeys y USING (band_key)
              WHERE x.vec_id < y.vec_id
            ),
            bver AS (
              SELECT c.a, c.b FROM bcand c
              JOIN qb q ON q.vec_id = c.a
              JOIN qb t ON t.vec_id = c.b
              WHERE list_sum(list_transform(q.e, x -> x * x)) > 0
                AND list_sum(list_transform(t.e, x -> x * x)) > 0
                AND {_COS_EXPR} >= 0.35
            ),
            bdup AS (SELECT b AS vec_id, min(a) AS dup_of_batch
                     FROM bver GROUP BY b)
            SELECT d.vec_id, corp.dup_of_corpus, bdup.dup_of_batch,
                   CAST(CASE WHEN corp.dup_of_corpus IS NULL
                              AND bdup.dup_of_batch IS NULL
                        THEN 1 ELSE 0 END AS INT) AS keep
            FROM (SELECT vec_id FROM qb) d
            LEFT JOIN corp USING (vec_id) LEFT JOIN bdup USING (vec_id)
        """,
        "dedup_incremental": f"""
            {_DOC_SHINGLES.replace(
                "FROM documents)",
                "FROM documents WHERE doc_id % 10 = 7)")},
            cshs AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                    FROM documents WHERE doc_id % 10 <> 7)
            ),
            cshing AS (SELECT doc_id, unnest(sh) AS s1 FROM cshs),
            csig AS (
              SELECT doc_id,
                     min(md5('0|' || s1)) AS h0, min(md5('1|' || s1)) AS h1,
                     min(md5('2|' || s1)) AS h2, min(md5('3|' || s1)) AS h3,
                     min(md5('4|' || s1)) AS h4, min(md5('5|' || s1)) AS h5,
                     min(md5('6|' || s1)) AS h6, min(md5('7|' || s1)) AS h7
              FROM cshing GROUP BY doc_id
            ),
            ckeyed AS (
              SELECT doc_id, unnest([
                '0|' || h0 || '|' || h1, '1|' || h2 || '|' || h3,
                '2|' || h4 || '|' || h5, '3|' || h6 || '|' || h7]) AS band_key
              FROM csig
            ),
            cindex AS (
              SELECT band_key, min(doc_id) AS rep FROM ckeyed GROUP BY band_key
            ),
            ccand AS (
              SELECT DISTINCT k.doc_id, i.rep
              FROM keyed k JOIN cindex i USING (band_key)
            ),
            cver AS (
              SELECT c.doc_id, c.rep FROM ccand c
              JOIN shs sa ON sa.doc_id = c.doc_id
              JOIN cshs sb ON sb.doc_id = c.rep
              WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                    / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8
            ),
            corp AS (SELECT doc_id, min(rep) AS dup_of_corpus
                     FROM cver GROUP BY doc_id),
            bdup AS (SELECT b AS doc_id, min(a) AS dup_of_batch
                     FROM ver GROUP BY b)
            SELECT d.doc_id, corp.dup_of_corpus, bdup.dup_of_batch,
                   CAST(CASE WHEN corp.dup_of_corpus IS NULL
                              AND bdup.dup_of_batch IS NULL
                        THEN 1 ELSE 0 END AS INT) AS keep
            FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 7) d
            LEFT JOIN corp USING (doc_id) LEFT JOIN bdup USING (doc_id)
        """,
        # mirrors dedup.contrastive_pairs_incremental over the same
        # new/corpus split: within-batch candidates (the batch miner's
        # cand set over the %10=7 slice) ∪ (rep, new-doc) index-probe
        # candidates, one integer-arithmetic label CASE over both
        "contrastive_incremental": f"""
            {_DOC_SHINGLES.replace(
                "FROM documents)",
                "FROM documents WHERE doc_id % 10 = 7)")},
            cshs AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks
                    FROM documents WHERE doc_id % 10 <> 7)
            ),
            cshing AS (SELECT doc_id, unnest(sh) AS s1 FROM cshs),
            csig AS (
              SELECT doc_id,
                     min(md5('0|' || s1)) AS h0, min(md5('1|' || s1)) AS h1,
                     min(md5('2|' || s1)) AS h2, min(md5('3|' || s1)) AS h3,
                     min(md5('4|' || s1)) AS h4, min(md5('5|' || s1)) AS h5,
                     min(md5('6|' || s1)) AS h6, min(md5('7|' || s1)) AS h7
              FROM cshing GROUP BY doc_id
            ),
            ckeyed AS (
              SELECT doc_id, unnest([
                '0|' || h0 || '|' || h1, '1|' || h2 || '|' || h3,
                '2|' || h4 || '|' || h5, '3|' || h6 || '|' || h7]) AS band_key
              FROM csig
            ),
            cindex AS (
              SELECT band_key, min(doc_id) AS rep FROM ckeyed GROUP BY band_key
            ),
            ccand AS (
              SELECT DISTINCT k.doc_id, i.rep
              FROM keyed k JOIN cindex i USING (band_key)
            ),
            alljj AS (
              SELECT cand.a, cand.b,
                     CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
                     CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS uni
              FROM cand
              JOIN shs sa ON sa.doc_id = cand.a
              JOIN shs sb ON sb.doc_id = cand.b
              UNION ALL
              SELECT c.rep AS a, c.doc_id AS b,
                     CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
                     CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS uni
              FROM ccand c
              JOIN shs sa ON sa.doc_id = c.doc_id
              JOIN cshs sb ON sb.doc_id = c.rep
            ),
            clab AS (
              SELECT a, b, inter, uni,
                     CASE WHEN 100 * inter >= 80 * uni THEN 'pos'
                          WHEN 100 * inter >= 5 * uni
                               AND 100 * inter < 50 * uni THEN 'hardneg'
                     END AS label
              FROM alljj)
            SELECT a AS doc_a, b AS doc_b,
                   CAST((100 * inter) // uni AS BIGINT) AS j_pct, label
            FROM clab WHERE label IS NOT NULL
        """,
        # same verified pair set as dedup_minhash, closed transitively:
        # component min via recursive reachability (sym edges), then
        # every document labeled; Spark runs distributed min-label CC
        # over the identical edges, so the fixpoints agree exactly.
        # mirrors curation.paragraph_neardup: the dedup_clusters CC
        # oracle run over posexploded paragraphs under the packed
        # pid = doc_id·2^20 + para_idx, decoded back at the end
        "paragraph_neardup": f"""
            WITH RECURSIVE paras AS (
              SELECT doc_id * 1048576 + pos AS doc_id, para AS text
              FROM (
                SELECT doc_id,
                       unnest(generate_series(1, len(string_split(text, chr(10))))) - 1 AS pos,
                       unnest(string_split(text, chr(10))) AS para
                FROM documents
              )
              WHERE len(trim(para)) > 0 AND pos < 1048576
            ),
            {_DOC_SHINGLES.replace("WITH ", "", 1).replace("FROM documents)", "FROM paras)")},
            sym AS (SELECT a, b FROM ver
                    UNION ALL SELECT b AS a, a AS b FROM ver),
            reach(node, lbl) AS (
              SELECT doc_id, doc_id FROM paras
              UNION
              SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
            )
            SELECT node // 1048576 AS doc_id,
                   CAST(node % 1048576 AS INT) AS para_idx,
                   min(lbl) // 1048576 AS survivor_doc,
                   CAST(min(lbl) % 1048576 AS INT) AS survivor_para,
                   CAST(min(lbl) <> node AS INT) AS is_dup
            FROM reach GROUP BY node
        """,
        "dedup_clusters": f"""
            {_DOC_SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1)},
            sym AS (SELECT a, b FROM ver
                    UNION ALL SELECT b AS a, a AS b FROM ver),
            reach(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
            )
            SELECT node AS doc_id, min(lbl) AS survivor,
                   CAST(min(lbl) <> node AS INT) AS is_dup
            FROM reach GROUP BY node
        """,
        # The prefix-filtered join has recall 1 and an exact verify, so
        # its output EQUALS brute force — the oracle runs brute force.
        "dedup_jaccard": """
            WITH shs AS (
              SELECT doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS sh
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
            )
            SELECT sa.doc_id AS a, sb.doc_id AS b
            FROM shs sa JOIN shs sb ON sa.doc_id < sb.doc_id
            WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.8
        """,
        "dedup_simhash": f"""
            {_SIMHASH}
            SELECT simhash, count(*) AS n_docs, min(doc_id) AS survivor
            FROM sims GROUP BY simhash
        """,
        "dedup_simhash_hamming": _simhash_hamming_sql(),
        "dedup_embedding": f"""
            {_QEMB},
            {_EMB_KEYS},
            cand AS (
              SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
              FROM keys l JOIN keys r USING (band_key)
              WHERE l.vec_id < r.vec_id AND l.vec_id < 50
            )
            SELECT a, b FROM cand
            JOIN qe q ON q.vec_id = cand.a
            JOIN qe t ON t.vec_id = cand.b
            WHERE {_COS_EXPR} >= 0.35
        """,
        # full-scope pair set (no query cap) closed transitively — the
        # embedding twin of dedup_clusters, same recursive-CC oracle
        "dedup_embedding_clusters": f"""
            {_QEMB.replace("WITH ", "WITH RECURSIVE ", 1)},
            {_EMB_KEYS},
            cand AS (
              SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
              FROM keys l JOIN keys r USING (band_key)
              WHERE l.vec_id < r.vec_id
            ),
            ver AS (
              SELECT a, b FROM cand
              JOIN qe q ON q.vec_id = cand.a
              JOIN qe t ON t.vec_id = cand.b
              WHERE {_COS_EXPR} >= 0.35
            ),
            sym AS (SELECT a, b FROM ver
                    UNION ALL SELECT b AS a, a AS b FROM ver),
            reach(node, lbl) AS (
              SELECT vec_id, vec_id FROM embeddings
              UNION
              SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
            )
            SELECT node AS vec_id, min(lbl) AS survivor,
                   CAST(min(lbl) <> node AS INT) AS is_dup
            FROM reach GROUP BY node
        """,
        "ann_ivf_multiprobe": f"""
            {_QEMB},
            {_QPROBE},
            scored AS (
              SELECT q.vec_id AS q, t.vec_id AS vec_id, {_COS_EXPR} AS cos
              FROM qp q JOIN qe t ON q.bucket = t.bucket AND q.vec_id <> t.vec_id
              WHERE q.vec_id < 20
            ),
            ranked AS (
              SELECT q, vec_id, cos,
                     row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS rank
              FROM scored
            )
            SELECT q, CAST(rank AS INT) AS rank, vec_id, cos FROM ranked WHERE rank <= 10
        """,
        "ann_topk_partial": _ANN_TOPK_SQL,
        "ann_topk": _ANN_TOPK_SQL,
        "ann_topk_exact_oracle": _ANN_TOPK_SQL,
        # mirrors similarity.ivf_topk_tables (8 tables × 4 bits,
        # hamming=1): multi-table band-key probe, candidates deduped
        # across tables before the exact quantized cosine
        "ann_ivf_multitable": f"""
            {_QEMB},
            {_EMB_KEYS.strip()},
            probes AS (
              SELECT vec_id, unnest([{_probe_keys_sql()}]) AS band_key
              FROM qe WHERE vec_id < 20
            ),
            cand AS (
              SELECT DISTINCT p.vec_id AS q, k.vec_id AS vec_id
              FROM probes p JOIN keys k USING (band_key)
              WHERE p.vec_id <> k.vec_id
            ),
            scored AS (
              SELECT c.q, c.vec_id, {_COS_EXPR} AS cos
              FROM cand c JOIN qe q ON q.vec_id = c.q
                          JOIN qe t ON t.vec_id = c.vec_id
            ),
            ranked AS (
              SELECT q, vec_id, cos,
                     row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS rank
              FROM scored
            )
            SELECT q, CAST(rank AS INT) AS rank, vec_id, cos FROM ranked WHERE rank <= 10
        """,
        "embed_project": f"""
            {_QEMB}
            {_proj_sql()}
        """,
        # mirrors clustering.embed_kmeans (k=8, iters=2): unrolled
        # fixed-iteration Lloyd's in exact int64 arithmetic
        "embed_kmeans": f"""
            {_kmeans_ctes()}
            SELECT vec_id, CAST(cluster AS INT) AS cluster FROM af
        """,
        # mirrors clustering.semdedup_prune (threshold 0.35): within-
        # cluster pairwise cosine, lower-id vector wins; zero-norm
        # vectors are excluded from the pairwise test exactly like the
        # Spark operator (NaN/NULL-on-/0 semantics differ per engine)
        "semdedup_prune": f"""
            {_kmeans_ctes()},
            pairs AS (
              SELECT r.vec_id AS b
              FROM af l JOIN af r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
              JOIN qe q ON q.vec_id = l.vec_id
              JOIN qe t ON t.vec_id = r.vec_id
              WHERE list_sum(list_transform(q.e, x -> x * x)) > 0
                AND list_sum(list_transform(t.e, x -> x * x)) > 0
                AND {_COS_EXPR} >= 0.35
            ),
            dup AS (SELECT DISTINCT b AS vec_id FROM pairs)
            SELECT a.vec_id, CAST(a.cluster AS INT) AS cluster,
                   CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep
            FROM af a LEFT JOIN dup d USING (vec_id)
        """,
        # mirrors clustering.label_consistency (k_neighbors=5): same
        # kmeans CTEs, cluster-bounded exact-cosine top-5 neighbor
        # vote, majority ties to the smallest label, zero-norm vectors
        # excluded from both sides
        "label_consistency": f"""
            {_kmeans_ctes()},
            nz AS (
              SELECT af.vec_id, af.cluster, emb.label, q.e
              FROM af JOIN qe q USING (vec_id)
              JOIN embeddings emb USING (vec_id)
              WHERE list_sum(list_transform(q.e, x -> x * x)) > 0
            ),
            nbrs AS (
              SELECT q.vec_id AS a, q.label AS la, t.label AS lb
              FROM nz q JOIN nz t
                ON q.cluster = t.cluster AND q.vec_id <> t.vec_id
              QUALIFY row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY {_COS_EXPR} DESC, t.vec_id) <= 5
            ),
            votes AS (
              SELECT a, la, lb, count(*) AS cnt
              FROM nbrs GROUP BY a, la, lb
            ),
            tot AS (SELECT a, sum(cnt) AS n_neighbors FROM votes GROUP BY a),
            maj AS (
              SELECT a, la, lb, cnt FROM votes
              QUALIFY row_number() OVER (
                PARTITION BY a ORDER BY cnt DESC, lb) = 1
            )
            SELECT m.a AS vec_id, CAST(m.la AS INT) AS label,
                   CAST(m.lb AS INT) AS majority_label,
                   CAST(m.cnt AS BIGINT) AS n_agree,
                   CAST(t.n_neighbors AS BIGINT) AS n_neighbors,
                   CAST(CASE WHEN m.lb = m.la THEN 1 ELSE 0 END AS INT)
                     AS consistent
            FROM maj m JOIN tot t USING (a)
        """,
        # mirrors clustering.cluster_sample (per_cluster=60, seeded
        # md5 rank within cluster)
        "cluster_sample": f"""
            {_kmeans_ctes()}
            SELECT vec_id, CAST(cluster AS INT) AS cluster FROM af
            QUALIFY row_number() OVER (
              PARTITION BY cluster
              ORDER BY md5('csample-v1|' || CAST(vec_id AS VARCHAR)), vec_id
            ) <= 60
        """,
        "ann_ivf": f"""
            {_QEMB},
            scored AS (
              SELECT q.vec_id AS q, t.vec_id AS vec_id, {_COS_EXPR} AS cos
              FROM qe q JOIN qe t ON q.bucket = t.bucket AND q.vec_id <> t.vec_id
              WHERE q.vec_id < 20
            ),
            ranked AS (
              SELECT q, vec_id, cos,
                     row_number() OVER (PARTITION BY q ORDER BY cos DESC, vec_id) AS rank
              FROM scored
            )
            SELECT q, CAST(rank AS INT) AS rank, vec_id, cos FROM ranked WHERE rank <= 10
        """,
        "text_stats": f"""
            {_TOKSTATS}
            SELECT doc_id, n_tokens, n_bpe_tokens, n_chars,
                   avg_token_len, stopword_ratio FROM stats
        """,
        "text_quality": f"""
            {_TOKSTATS}
            SELECT doc_id,
                   (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) * 0.4
                 + (CASE WHEN stopword_ratio BETWEEN 0.02 AND 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
                 + (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.3
                 AS quality
            FROM stats
        """,
        "lang_id": f"""
            {_TOKSTATS}
            SELECT doc_id,
                   CASE WHEN stopword_ratio > 0.05 THEN 'en' ELSE 'unk' END AS lang_guess
            FROM stats
        """,
        # mirrors functions.text.lm_score: corpus bigram LM, mean
        # ln(c(bigram)/c(prefix)) per doc, 6-decimal round
        "lm_score": """
            WITH toks AS (
              SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
            ), big AS (
              SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i + 1] AS bg
              FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i)
              WHERE len(t) >= 2
            ),
            bgc AS (SELECT bg, count(*) AS c_bg FROM big GROUP BY bg),
            w1c AS (SELECT w1, count(*) AS c_w1 FROM big GROUP BY w1),
            tot AS (SELECT count(*) AS n_total FROM big),
            sc AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                     round(avg(ln(CAST(c_bg AS DOUBLE) / c_w1)), 6) AS avg_logprob,
                     round(avg(ln(CAST(c_bg AS DOUBLE) / n_total)), 6) AS avg_logfreq
              FROM big JOIN bgc USING (bg) JOIN w1c USING (w1) CROSS JOIN tot
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   sc.avg_logprob, sc.avg_logfreq
            FROM documents d LEFT JOIN sc USING (doc_id)
        """,
        # mirrors functions.text.redact: identical patterns (Java ∩ RE2
        # subset), identical URL → EMAIL → PHONE stage order, each count
        # taken on the PRIOR stage's output
        "text_redact": r"""
            WITH enr AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com via https://site.example/d/'
                          || CAST(doc_id AS VARCHAR)
                          || ' or call +1 555 000 '
                          || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS t0
              FROM documents
            ),
            s1 AS (
              SELECT doc_id,
                     regexp_replace(t0, 'https?://\S+', '<URL>', 'g') AS t1,
                     len(regexp_extract_all(t0, 'https?://\S+')) AS n_urls
              FROM enr
            ),
            s2 AS (
              SELECT doc_id, n_urls,
                     regexp_replace(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2,
                     len(regexp_extract_all(t1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails
              FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '\+?\d[\d -]{6,}\d', '<PHONE>', 'g') AS redacted,
                   n_urls, n_emails,
                   len(regexp_extract_all(t2, '\+?\d[\d -]{6,}\d')) AS n_phones
            FROM s2
        """,
        # mirrors functions.text.repetition_stats over the same
        # deterministically-enriched two-line corpus as _q_repetition
        "text_repetition": r"""
            WITH enr AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text
                          ELSE text || chr(10) || substr(text, 1, 29) END AS t
              FROM documents
            ),
            bound AS (
              SELECT doc_id,
                     string_split(t, chr(10)) AS lines,
                     regexp_split_to_array(lower(t), '[ \n]+') AS toks
              FROM enr
            ),
            per_doc AS (
              SELECT doc_id,
                     (len(lines) - len(list_distinct(lines))) / len(lines) AS dup_line_frac,
                     (len(toks) - len(list_distinct(toks))) / len(toks) AS dup_word_frac,
                     toks
              FROM bound
            ),
            bg AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' ')
                     )) AS bg
              FROM per_doc
            ),
            bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
            bgs AS (
              SELECT doc_id,
                     (sum(c) - count(*)) / sum(c) AS dup_bigram_frac,
                     max(c) / sum(c) AS top_bigram_frac
              FROM bgc GROUP BY doc_id
            )
            SELECT p.doc_id, dup_line_frac, dup_word_frac,
                   dup_bigram_frac, top_bigram_frac
            FROM per_doc p JOIN bgs USING (doc_id)
        """,
        # mirrors curation.decontaminate with the 5% eval split of
        # _q_decontaminate (n=4 word-grams, left join → 0-hit rows kept)
        "decontaminate": """
            WITH grams AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(lower(text), ' ')) - 3, 1)),
                       i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 3), ' ')
                     ))) AS g
              FROM documents
            ),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 7),
            hits AS (
              SELECT doc_id, count(*) AS c
              FROM grams JOIN bench USING (g)
              WHERE doc_id % 20 <> 7
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(c, 0) AS BIGINT) AS n_hits,
                   coalesce(c, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits USING (doc_id)
            WHERE d.doc_id % 20 <> 7
        """,
        # mirrors curation.paragraph_dedup over the same self-union
        # (docs < 50 duplicated at +10000 ids): corpus-first occurrence
        # of each paragraph hash survives, every other copy is_dup=1
        "paragraph_dedup": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000 AS doc_id, text FROM documents
              WHERE doc_id < 50
            ), paras AS (
              SELECT doc_id, CAST(i - 1 AS INT) AS para_idx, md5(p[i]) AS h
              FROM (SELECT doc_id, string_split(text, chr(10)) AS p FROM corpus),
                   LATERAL (SELECT unnest(generate_series(1, len(p))) AS i)
              WHERE len(trim(p[i])) > 0
            ), firsts AS (
              SELECT h, n, doc_id AS fdoc, para_idx AS fidx FROM (
                SELECT h, doc_id, para_idx,
                       count(*) OVER (PARTITION BY h) AS n,
                       row_number() OVER (PARTITION BY h
                                          ORDER BY doc_id, para_idx) AS rn
                FROM paras) WHERE rn = 1
            )
            SELECT p.doc_id, p.para_idx,
                   CAST(CASE WHEN f.n > 1
                              AND NOT (p.doc_id = f.fdoc
                                       AND p.para_idx = f.fidx)
                        THEN 1 ELSE 0 END AS INT) AS is_dup
            FROM paras p JOIN firsts f USING (h)
        """,
        # mirrors functions.text.gopher_quality (Rae et al. 2021 §A1.1
        # rules; replace-length trick for # / ... counts)
        "gopher_quality": """
            WITH base AS (
              SELECT doc_id, text,
                     string_split(lower(text), ' ') AS t,
                     string_split(text, chr(10)) AS lines
              FROM documents
            ), sig AS (
              SELECT doc_id,
                     CAST(len(t) AS BIGINT) AS n_words,
                     CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
                       / len(t) AS mean_word_len,
                     CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
                          AS DOUBLE) / len(t) AS frac_alpha_words,
                     (len(text) - len(replace(text, '#', ''))
                      + (len(text) - len(replace(text, '...', ''))) / 3.0)
                       / len(t) AS symbol_ratio,
                     CAST(len(list_filter(lines,
                          l -> left(l, 1) = '-' OR left(l, 1) = '*'))
                          AS DOUBLE) / len(lines) AS bullet_frac,
                     CAST(len(list_filter(lines, l -> right(l, 3) = '...'))
                          AS DOUBLE) / len(lines) AS ellipsis_frac,
                     CAST(len(list_filter(
                          ['the','be','to','of','and','that','have','with'],
                          w -> list_contains(t, w))) AS BIGINT) AS n_stop_present
              FROM base
            )
            SELECT *,
                   CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                              AND mean_word_len BETWEEN 3 AND 10
                              AND frac_alpha_words >= 0.8
                              AND symbol_ratio <= 0.1
                              AND bullet_frac <= 0.9
                              AND ellipsis_frac <= 0.3
                              AND n_stop_present >= 1
                        THEN 1 ELSE 0 END AS INT) AS keep
            FROM sig
        """,
        # mirrors functions.text.hash_embed (dims=64, ±1 sign hash,
        # zero-sum dims dropped)
        "hash_embed": """
            WITH tok AS (
              SELECT doc_id,
                     md5('hembed-v1|' || unnest(string_split(lower(text), ' '))) AS h
              FROM documents
            ), keyed AS (
              SELECT doc_id,
                     ('0x' || substr(h, 1, 8))::BIGINT % 64 AS dim,
                     CASE WHEN substr(h, 9, 1) IN
                          ('8','9','a','b','c','d','e','f')
                     THEN 1 ELSE -1 END AS v
              FROM tok
            )
            SELECT doc_id, CAST(dim AS BIGINT) AS dim,
                   CAST(sum(v) AS BIGINT) AS value
            FROM keyed GROUP BY doc_id, dim HAVING sum(v) <> 0
        """,
        # mirrors dedup.contrastive_pairs: the same banded candidate
        # set, labeled by exact integer-arithmetic Jaccard bands
        # (100·|∩| vs pct·|∪| — no float comparison anywhere)
        "contrastive_pairs": f"""
            {_DOC_SHINGLES},
            jj AS (
              SELECT a, b,
                     CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS inter,
                     CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS BIGINT) AS uni
              FROM cand
              JOIN shs sa ON sa.doc_id = cand.a
              JOIN shs sb ON sb.doc_id = cand.b),
            lab AS (
              SELECT a, b, inter, uni,
                     CASE WHEN 100 * inter >= 80 * uni THEN 'pos'
                          WHEN 100 * inter >= 5 * uni
                               AND 100 * inter < 50 * uni THEN 'hardneg'
                     END AS label
              FROM jj)
            SELECT a AS doc_a, b AS doc_b,
                   CAST((100 * inter) // uni AS BIGINT) AS j_pct, label
            FROM lab WHERE label IS NOT NULL
        """,
        # mirrors curation.split_leakage: the dedup_minhash verified
        # pair set joined to the corpus_split assignment, cross-split
        # pairs only
        "split_leakage": f"""
            {_DOC_SHINGLES},
            spl AS (
              SELECT doc_id,
                     CASE WHEN b < 90 THEN 'train'
                          WHEN b < 95 THEN 'val'
                          ELSE 'test' END AS split
              FROM (SELECT doc_id,
                           ('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                             % 100 AS b
                    FROM documents))
            SELECT v.a AS doc_a, sa.split AS split_a,
                   v.b AS doc_b, sb.split AS split_b
            FROM ver v
            JOIN spl sa ON sa.doc_id = v.a
            JOIN spl sb ON sb.doc_id = v.b
            WHERE sa.split <> sb.split
        """,
        # mirrors curation.boilerplate_ngrams (n=3 word-grams, DF >= 5):
        # per-doc DISTINCT shingles, so count(*) IS document frequency
        "boilerplate_ngrams": """
            WITH grams AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 1)),
                       i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 2), ' ')
                     ))) AS gram
              FROM documents
            )
            SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq,
                   min(doc_id) AS first_doc
            FROM grams GROUP BY gram HAVING count(*) >= 5
        """,
        # mirrors curation.boilerplate_share (same mined set, left join
        # back onto every document's distinct grams)
        "boilerplate_share": """
            WITH grams AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 1)),
                       i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 2), ' ')
                     ))) AS gram
              FROM documents
            ),
            boiler AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 5)
            SELECT g.doc_id,
                   CAST(count(*) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                   round(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS boiler_share
            FROM grams g LEFT JOIN boiler b USING (gram)
            GROUP BY g.doc_id
        """,
        # mirrors curation.pack_sequences (capacity 256, 8 shards):
        # the greedy per-shard scan as a recursive CTE over rn
        "pack_sequences": """
            WITH RECURSIVE counted AS (
              SELECT doc_id,
                     CAST(doc_id % 8 AS BIGINT) AS shard,
                     CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
                     row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
              FROM documents
            ),
            packed AS (
              SELECT shard, rn, doc_id, n_tokens,
                     CAST(0 AS BIGINT) AS bin_idx, CAST(0 AS BIGINT) AS bin_offset
              FROM counted WHERE rn = 1
              UNION ALL
              SELECT c.shard, c.rn, c.doc_id, c.n_tokens,
                     CASE WHEN p.bin_offset + p.n_tokens > 0
                               AND p.bin_offset + p.n_tokens + c.n_tokens > 256
                          THEN p.bin_idx + 1 ELSE p.bin_idx END,
                     CASE WHEN p.bin_offset + p.n_tokens > 0
                               AND p.bin_offset + p.n_tokens + c.n_tokens > 256
                          THEN CAST(0 AS BIGINT) ELSE p.bin_offset + p.n_tokens END
              FROM counted c JOIN packed p ON c.shard = p.shard AND c.rn = p.rn + 1
            )
            SELECT doc_id, shard, bin_idx, bin_offset, n_tokens FROM packed
        """,
        # mirrors curation.curate_corpus: the five signal fragments are
        # the same SQL the individual oracle rows use (near-dup = the
        # dedup_clusters recursive CC over the shared _DOC_SHINGLES
        # pair set), combined into one keep/drop decision
        "curate_corpus": f"""
            {_DOC_SHINGLES.replace("WITH ", "WITH RECURSIVE ", 1)},
            sym AS (SELECT a, b FROM ver
                    UNION ALL SELECT b AS a, a AS b FROM ver),
            reach(node, lbl) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT s.b, r.lbl FROM reach r JOIN sym s ON s.a = r.node
            ),
            clus AS (
              SELECT node AS doc_id, min(lbl) <> node AS is_near_dup
              FROM reach GROUP BY node
            ),
            exd AS (
              SELECT doc_id,
                     doc_id <> min(doc_id) OVER (PARTITION BY md5(text))
                       AS is_exact_dup
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(lower(text), ' ')) - 3, 1)),
                       i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 3), ' ')
                     ))) AS g
              FROM documents
            ),
            bgrams AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 7),
            hits AS (
              SELECT doc_id, count(*) AS c
              FROM grams JOIN bgrams USING (g) GROUP BY doc_id
            ),
            stats AS (
              SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
                       / len(toks) AS avg_token_len,
                     CAST(len(list_filter(toks, x -> x IN
                       ('the','a','of','to','and','in','is','on','for','with'))) AS BIGINT)
                       / len(toks) AS stopword_ratio
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
            ),
            qual AS (
              SELECT doc_id,
                     ((CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.3 END) * 0.4
                    + (CASE WHEN stopword_ratio BETWEEN 0.02 AND 0.5 THEN 1.0 ELSE 0.5 END) * 0.3
                    + (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.3)
                       < 0.9 AS low_quality
              FROM stats
            ),
            bgx AS (
              SELECT doc_id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 1)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' ')
                     )) AS bg
              FROM (SELECT doc_id,
                           regexp_split_to_array(lower(text), '[ \n]+') AS toks
                    FROM documents)
            ),
            bgc AS (SELECT doc_id, bg, count(*) AS c FROM bgx GROUP BY doc_id, bg),
            rep AS (
              SELECT doc_id,
                     (max(c) / sum(c)) > 0.08 AND sum(c) > count(*) AS repetitive
              FROM bgc GROUP BY doc_id
            )
            SELECT d.doc_id, exd.is_exact_dup, clus.is_near_dup,
                   coalesce(hits.c, 0) > 0 AS contaminated,
                   qual.low_quality, rep.repetitive,
                   NOT (exd.is_exact_dup OR clus.is_near_dup
                        OR coalesce(hits.c, 0) > 0
                        OR qual.low_quality OR rep.repetitive) AS keep
            FROM documents d
            JOIN exd USING (doc_id)
            JOIN clus USING (doc_id)
            LEFT JOIN hits USING (doc_id)
            JOIN qual USING (doc_id)
            JOIN rep USING (doc_id)
        """,
        # mirrors curation.corpus_split (seeded md5 bucket mod 100)
        "corpus_split": """
            SELECT doc_id,
                   CASE WHEN b < 90 THEN 'train'
                        WHEN b < 95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id,
                         ('0x' || substr(md5('split-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           % 100 AS b
                  FROM documents)
        """,
        # mirrors curation.chunk_documents (window=3, divisor=16):
        # content-defined chunk boundaries from the md5 rolling hash of
        # the trailing 3-token window, replayed via a prefix-sum of cut
        # flags over the unnested token stream
        "doc_chunks": f"""
            {_CHUNKS_SQL}
            SELECT doc_id, chunk_idx, chunk, n_tokens FROM chunks
        """,
        # mirrors curation.chunk_dedup: exact dedup over the same
        # content-defined chunks (substring-dedup stand-in)
        "chunk_dedup": f"""
            {_CHUNKS_SQL}
            SELECT md5(chunk) AS chunk_hash,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id) AS survivor
            FROM chunks GROUP BY md5(chunk)
        """,
        # mirrors sampling.corpus_sample (pct=10): seeded md5-bucket
        # Bernoulli membership, monotone in pct
        "corpus_sample": """
            SELECT doc_id, source, lang FROM documents
            WHERE ('0x' || substr(md5('sample-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 100 < 10
        """,
        # mirrors sampling.stratified_sample ({en:5, zh:60}, default 20):
        # per-stratum quota via the stratum-salted hash + literal CASE
        "stratified_sample": """
            SELECT doc_id, lang AS stratum FROM documents
            WHERE ('0x' || substr(md5('strat-v1|' || lang || '/' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                  % 100 < (CASE WHEN lang = 'en' THEN 5
                                WHEN lang = 'zh' THEN 60 ELSE 20 END)
        """,
        # mirrors sampling.shuffle_shards (8 shards): shard = hash mod 8,
        # pos = dense rank inside the shard ordered by (md5 hex, doc_id)
        "shuffle_shards": """
            SELECT doc_id,
                   ('0x' || substr(md5('shuffle-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                     % 8 AS shard,
                   CAST(row_number() OVER (
                          PARTITION BY ('0x' || substr(md5('shuffle-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8
                          ORDER BY md5('shuffle-v1|' || CAST(doc_id AS VARCHAR)), doc_id)
                        - 1 AS BIGINT) AS pos
            FROM documents
        """,
        # mirrors sampling.source_mix: integer aggregates + exact
        # floor-division ppm shares over the tiny (source, lang) rollup
        "source_mix": """
            WITH agg AS (
              SELECT source, lang, count(*) AS n_docs,
                     CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens,
                     CAST(sum(len(text)) AS BIGINT) AS n_chars
              FROM documents GROUP BY source, lang
            )
            SELECT source, lang, n_docs, n_tokens, n_chars,
                   CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT) AS doc_share_ppm,
                   CAST((n_tokens * 1000000) // sum(n_tokens) OVER () AS BIGINT) AS token_share_ppm
            FROM agg
        """,
        # mirrors sampling.source_weights: per-source sqrt quantized to
        # bigint BEFORE normalization (sqrt is the one correctly-rounded
        # IEEE power), integer ppm division — bit-portable end to end
        "source_weights": """
            WITH c AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY source
            ),
            q AS (
              SELECT source, n_docs,
                     CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq
              FROM c
            )
            SELECT source, n_docs,
                   CAST((n_docs * 1000000) // sum(n_docs) OVER () AS BIGINT) AS share_ppm,
                   CAST((sq * 1000000) // sum(sq) OVER () AS BIGINT) AS weight_ppm
            FROM q
        """,
        # mirrors sampling.token_budget_sample (budget 20000, 256
        # buckets, default α=0.5 weights): per-source target tokens =
        # budget·weight_ppm÷10⁶, seeded-hash bucket histogram, minimal
        # threshold bucket whose cumulative tokens reach the target
        "token_budget_sample": """
            WITH docs AS (
              SELECT doc_id, source,
                     CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
                     ('0x' || substr(md5('budget-v1|' || source || '/' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                       % 256 AS b
              FROM documents
            ),
            c AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY source
            ),
            q AS (
              SELECT source,
                     CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT) AS sq
              FROM c
            ),
            tgt AS (
              SELECT source,
                     CAST((20000 * CAST((sq * 1000000) // sum(sq) OVER () AS BIGINT))
                          // 1000000 AS BIGINT) AS target
              FROM q
            ),
            hist AS (
              SELECT source, b, sum(n_tokens) AS btok
              FROM docs GROUP BY source, b
            ),
            cum AS (
              SELECT source, b,
                     sum(btok) OVER (PARTITION BY source ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM hist
            ),
            thr AS (
              SELECT cum.source, tgt.target,
                     min(CASE WHEN cum.cum >= tgt.target THEN cum.b END) AS t
              FROM cum JOIN tgt USING (source)
              GROUP BY cum.source, tgt.target
            )
            SELECT d.doc_id, d.source, d.n_tokens,
                   CAST(CASE WHEN t.target <= 0 THEN 0
                             WHEN t.t IS NULL THEN 1
                             WHEN d.b <= t.t THEN 1 ELSE 0 END AS INT) AS keep
            FROM docs d JOIN thr t USING (source)
        """,
        # mirrors functions.text.keyword_topk (integer tf-idf ordering)
        "keyword_topk": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
              FROM documents
            ),
            tf AS (SELECT doc_id, token, count(*) AS tf
                   FROM toks GROUP BY doc_id, token),
            df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
            r AS (
              SELECT tf.doc_id, tf.token, tf.tf, df.df,
                     row_number() OVER (PARTITION BY tf.doc_id
                       ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS rank
              FROM tf JOIN df USING (token)
            )
            SELECT doc_id, token, tf, df, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 5
        """,
        # mirrors functions.text.search_topk: integer-exact tf-idf
        # (bigint floor division, both operands positive so DuckDB //
        # and Spark DIV agree), query set derived from the corpus
        "search_topk": _SEARCH_TOPK_SQL,
        # mirrors functions.text.search_bm25: fixed-point BM25
        # (k1 = 1.2, b = 0.75 as milli-ints, every // positive-operand
        # floor division so Spark DIV and DuckDB // agree bit-for-bit)
        "search_bm25": _SEARCH_BM25_SQL,
        # mirrors functions.text.search_rrf over the two lexical
        # rankings: integer micro-unit 1/(60+rank) fusion of the same
        # two oracle subqueries the individual rows certify
        "search_rrf": f"""
            WITH a AS (SELECT * FROM ({_SEARCH_TOPK_SQL}) t1),
            b AS (SELECT * FROM ({_SEARCH_BM25_SQL}) t2),
            u AS (
              SELECT query_id, doc_id, rank FROM a
              UNION ALL SELECT query_id, doc_id, rank FROM b
            ),
            f AS (
              SELECT query_id, doc_id,
                     CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS score
              FROM u GROUP BY query_id, doc_id
            ),
            r AS (
              SELECT query_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, doc_id ASC) AS rank,
                     doc_id, score
              FROM f
            )
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
            FROM r WHERE rank <= 10
        """,
        "doc_fingerprint": """
            WITH sh AS (
              SELECT doc_id,
                     regexp_replace(lower(text), ' +', ' ', 'g') AS norm,
                     list_distinct(list_transform(
                       generate_series(1, greatest(len(string_split(lower(text), ' ')) - 2, 1)),
                       i -> array_to_string(list_slice(string_split(lower(text), ' '), i, i + 2), ' ')
                     )) AS shingles
              FROM documents
            )
            SELECT doc_id, md5(norm) AS exact_fp,
                   list_min(list_transform(shingles, x -> md5(x))) AS shingle_fp
            FROM sh
        """,
        "n3_parse_udf": """
            WITH base AS (
              SELECT 'conv_' || lpad(CAST(l_orderkey AS VARCHAR), 8, '0') AS conv_id,
                     row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn,
                     CASE WHEN l_linenumber % 4 = 0 THEN upper(pt) ELSE pt END AS part_tok,
                     'supp_' || CAST(l_suppkey AS VARCHAR) AS supp_tok
              FROM (SELECT *, CASE WHEN l_orderkey % 5 = 0 THEN 'part_hub'
                                   ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS pt
                    FROM lineitem)
            )
            SELECT conv_id AS doc_id,
                   '<' || lower(part_tok) || '>' AS s,
                   '<suppliedBy>' AS p,
                   '<' || supp_tok || '>' AS o
            FROM base WHERE rn = 1
        """,
        # mirrors sources/n3_sink.serialize_nquads over the parsed
        # snippet triples: strict terms pass through verbatim, one
        # line per statement
        "n3_write_nquads": """
            WITH base AS (
              SELECT 'conv_' || lpad(CAST(l_orderkey AS VARCHAR), 8, '0') AS conv_id,
                     row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn,
                     CASE WHEN l_linenumber % 4 = 0 THEN upper(pt) ELSE pt END AS part_tok,
                     'supp_' || CAST(l_suppkey AS VARCHAR) AS supp_tok
              FROM (SELECT *, CASE WHEN l_orderkey % 5 = 0 THEN 'part_hub'
                                   ELSE 'part_' || CAST(l_partkey AS VARCHAR) END AS pt
                    FROM lineitem)
            )
            SELECT '<' || lower(part_tok) || '> <suppliedBy> <'
                   || supp_tok || '> .' AS line
            FROM base WHERE rn = 1
        """,
    }
    return d
