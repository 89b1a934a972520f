"""Physical-plan audits: the 100×-scale properties the operators claim
(filters pushed to the parquet scan, hot paths inside whole-stage
codegen with no Python eval nodes, no accidental cross-joins) asserted
against `.explain` output, so a plan regression fails CI rather than
surfacing as a 100 TB slowdown.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_n3_spark.operators.dedup import embedding_neardup_pairs
from rdf_n3_spark.operators.mentions import extract_mentions
from rdf_n3_spark.operators.similarity import ivf_topk
from rdf_n3_spark.operators.triples import entity_triples, mention_triples
from rdf_n3_spark.sources.transcripts import transcripts
from tests.conftest import SF_SMOKE

PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kg_pipeline_is_all_jvm(spark):
    """transcripts → mentions → triples: zero Python eval nodes — the
    whole flagship pipeline is Column expressions under codegen."""
    m = extract_mentions(transcripts(spark, SF_SMOKE))
    plan = _plan(mention_triples(m).unionByName(entity_triples(m)))
    assert not any(n in plan for n in PY_EVAL_NODES), plan
    # skolemization stays in-plan (sha2 Column expr, not a UDF) and the
    # only shuffles are the input window + the entity aggregation
    assert "sha2" in plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_embedding_query_filter_pushed_to_scan(spark):
    """The query-side vec_id bound must reach the parquet scan as a
    pushed filter, not evaluate post-scan."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(embedding_neardup_pairs(emb, threshold=0.35, max_query_id=50))
    assert "PushedFilters" in plan
    assert "LessThan(vec_id,50)" in plan.replace(" ", "")


def test_ivf_probe_is_equi_join(spark):
    """IVF probes (single and multi) must plan as hash equi-joins on
    the bucket key — never a cartesian product."""
    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    for hamming in (0, 1):
        plan = _plan(ivf_topk(emb, hamming=hamming))
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_mention_aggregation_has_partial_agg(spark):
    """entity_triples' count per entity must map-side combine
    (partial_count before the exchange) — the shape that survives the
    hub-entity skew at scale."""
    m = extract_mentions(transcripts(spark, SF_SMOKE))
    plan = _plan(entity_triples(m))
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_ann_topk_partial_prunes_before_window(spark):
    """The DEFAULT ann_topk export must show the Arrow-batched
    per-partition prune (MapInPandas) feeding the rank window — the
    shape that cuts shuffle from |Q|×|corpus| to parts×|Q|×k."""
    from rdf_n3_spark.operators.similarity import ann_topk

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(ann_topk(emb, k=5))
    assert "MapInPandas" in plan
    assert plan.index("Window") < plan.index("MapInPandas")  # window consumes the prune


def test_fingerprint_tokenizes_once_per_row(spark):
    """ADVICE r2: fingerprint() binds tokens with a chained select and
    no explicit barrier — safe ONLY because the bound array is
    referenced twice (size + slice), which stops CollapseProject from
    inlining the split() into the shingle lambda (single-use
    projections DO get inlined into HOF lambdas and re-evaluate per
    element — see dedup.doc_shingles). Pin the shape: the lambda must
    slice the bound attribute, never a split() call, and split() must
    appear exactly once (in the child projection)."""
    from rdf_n3_spark.functions.text import fingerprint

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = fingerprint(docs)._jdf.queryExecution().optimizedPlan().toString()
    assert "slice(split" not in plan  # per-shingle re-tokenization
    assert plan.count("split(") == 1
    assert "slice(__toks" in plan  # lambda slices the BOUND array


def test_curate_corpus_has_no_cross_join(spark):
    """The composite curation decision stays equi-join only: no
    cartesian/nested-loop nodes anywhere in the 5-signal combine."""
    from rdf_n3_spark.operators.curation import curate_corpus

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 20 == 7)
    plan = _plan(curate_corpus(docs, bench))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embed_projection_is_pure_map(spark):
    """project_embeddings is a single map stage: no shuffle, no join,
    no Python eval — it must ride the source partitioning untouched."""
    from rdf_n3_spark.operators.similarity import project_embeddings

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(project_embeddings(emb))
    assert "Exchange" not in plan
    assert "Join" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan, node


def test_kmeans_assignment_broadcasts_centroids(spark):
    """clustering.embed_kmeans: every assignment joins the corpus
    against the k-row centroid table via BROADCAST nested-loop (small
    side is k rows by construction) — the corpus itself must never
    shuffle for a join (no SortMergeJoin/ShuffledHashJoin)."""
    from rdf_n3_spark.operators.clustering import embed_kmeans

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    plan = _plan(embed_kmeans(emb))
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 3  # iters+1 assigns
    for node in PY_EVAL_NODES:
        assert node not in plan, node


def test_gopher_quality_is_pure_map(spark):
    """gopher_quality is a zero-shuffle narrow map: no Exchange, no
    join, no Python eval — it rides the scan partitioning."""
    from rdf_n3_spark.functions.text import gopher_quality

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(gopher_quality(docs))
    assert "Exchange" not in plan
    assert "Join" not in plan
    for node in PY_EVAL_NODES:
        assert node not in plan, node


def test_lm_score_joins_aggregated_counts_only(spark):
    """lm_score's only nested-loop join is the broadcast 1-row total;
    the bigram/prefix joins are equi-joins against aggregated (1 row
    per key) tables, and both count aggs combine map-side."""
    from rdf_n3_spark.functions.text import lm_score

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = _plan(lm_score(docs))
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row total
    assert "CartesianProduct" not in plan
    assert "partial" in plan
    for node in PY_EVAL_NODES:
        assert node not in plan, node


def test_paragraph_and_hash_embed_duplicate_tests_combine_mapside(spark):
    """paragraph_dedup and hash_embed test duplicates / sum with a
    groupBy (map-side combinable) — never a count() window partitioned
    by the hash key."""
    from rdf_n3_spark.functions.text import hash_embed
    from rdf_n3_spark.operators.curation import paragraph_dedup

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for df in (paragraph_dedup(docs), hash_embed(docs)):
        plan = _plan(df)
        assert "windowspecdefinition" not in plan.lower()
        assert "partial" in plan
        assert "CartesianProduct" not in plan
        for node in PY_EVAL_NODES:
            assert node not in plan, node

