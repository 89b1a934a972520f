#!/usr/bin/env python
"""KG-construction batch job — the spark-submit entrypoint.

Cluster submission (north rule: "runs via spark-submit --py-files"):

    cd /root/repo && zip -qr /tmp/rdf_n3_spark.zip rdf_n3_spark
    spark-submit \
        --py-files /tmp/rdf_n3_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        jobs/kg_construct.py \
        --transcripts  s3://…/transcripts  (or an sf test dir) \
        --graph-root   s3://…/graph \
        --batch-id     2026-08-17 \
        --repartition  4096

The job body is the library pipeline: read transcripts → explicit
repartition by conv_id (north rule) → optional conversation-grain
exact dedup gate (--dedup-input, keep-map published for audit) →
mention extraction → skolemized triple emission ∪ entity aggregate
(∪ mined relations with --relations) → graph materialization with
per-partition lineage rows + metric counters. Re-running with the same --batch-id is a no-op
(checkpointed resume, lineage-gated); a crashed run re-does only its
own uncommitted files.  --profile writes the KB statistics (VoID +
characteristic sets) over the COMMITTED store with a coverage
fingerprint; :func:`run_bgp` closes the loop, feeding the written
profile back into the BGP planner's join ordering iff the fingerprint
still matches the store.  --export-nquads writes the committed store
as flat line-per-statement N-Quads text (the zero-shuffle interchange
export; overwrite-idempotent per batch).  --diff-against publishes the
statement-level delta vs. another build root (triples.kb_diff, one
shuffle) under graph-root/delta/batch=<id> — what a nightly
full-rebuild ships to consumers instead of the whole graph.

Local smoke: python jobs/kg_construct.py --sf-dir /root/testdata/sf0.001
             --graph-root /tmp/kg --batch-id b0
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local-smoke path: make the repo importable when invoked as
# `python jobs/kg_construct.py` (under spark-submit the package ships
# via --py-files instead)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def input_fingerprint(source: str, dedup: bool, schema: str) -> str:
    """Key of a batch's staged mentions: the input path, the dedup
    mode, the input schema and a hash of the source of every module
    that shapes the staged rows (extraction, and under --dedup-input
    the conversation dedup that picks the surviving turns)."""
    import hashlib
    import inspect

    import rdf_n3_spark.operators.conversations as conversations_mod
    import rdf_n3_spark.operators.mentions as mentions_mod

    code = [mentions_mod, conversations_mod] if dedup else [mentions_mod]
    return hashlib.md5("|".join([
        source,
        "dedup" if dedup else "raw",
        schema,
        *(hashlib.md5(inspect.getsource(m).encode()).hexdigest() for m in code),
    ]).encode()).hexdigest()[:12]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--transcripts", help="path of a transcripts table "
                     "(parquet/Iceberg, input_hint schema)")
    src.add_argument("--sf-dir", help="driver test-data dir; transcripts "
                     "derived from its lineitem parquet")
    ap.add_argument("--graph-root", required=True)
    ap.add_argument("--batch-id", required=True)
    ap.add_argument("--repartition", type=int, default=0,
                    help="explicit conv_id repartition width (0 = leave "
                    "to the source partitioning)")
    ap.add_argument("--profile", action="store_true",
                    help="also write the KB statistics profile beside the "
                    "graph: VoID per-predicate counts (the predicate_counts "
                    "input for plans/bgp.order_patterns) + characteristic "
                    "sets (exact star-join cardinalities) + the coverage "
                    "fingerprint run_bgp's planner guard checks")
    ap.add_argument("--export-nquads", action="store_true",
                    help="also write the committed store as a flat "
                    "line-per-statement N-Quads text export under "
                    "graph-root/export/batch=<id> (the zero-shuffle "
                    "interchange format downstream consumers parse "
                    "without this engine)")
    ap.add_argument("--diff-against", metavar="OTHER_GRAPH_ROOT",
                    help="also publish the statement-level delta of THIS "
                    "build's committed store vs. another build's (e.g. "
                    "yesterday's full-rebuild root) under "
                    "graph-root/delta/batch=<id> — the delta-sized "
                    "artifact downstream caches consume instead of "
                    "re-reading the full graph (triples.kb_diff; '+' = "
                    "new here, '-' = gone from the other build)")
    ap.add_argument("--dedup-input", action="store_true",
                    help="collapse byte-identical conversations BEFORE "
                    "extraction (conversations.conv_dedup: ordered "
                    "role:text hash-of-hashes fingerprint, smallest "
                    "conv_id kept) and publish the keep-map under "
                    "graph-root/curation/batch=<id>/conv_dedup for "
                    "audit; re-ingested sessions and retry storms "
                    "otherwise multiply every downstream count")
    ap.add_argument("--relations", action="store_true",
                    help="also mine pattern-based relation triples from the "
                    "transcripts in one in-array pass "
                    "(operators/relations.relation_triples) "
                    "and union them into the triple stream before "
                    "materialization")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # under spark-submit the session inherits the submitted conf; the
    # local smoke path falls back to the library defaults
    spark = SparkSession.builder.appName("kg_construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from rdf_n3_spark.operators.materialize import hadoop_exists, materialize_graph
    from rdf_n3_spark.operators.mentions import extract_mentions
    from rdf_n3_spark.operators.triples import entity_triples, mention_triples
    from rdf_n3_spark.sources.transcripts import transcripts

    if args.transcripts:
        t = spark.read.parquet(args.transcripts)
    else:
        t = transcripts(spark, args.sf_dir)
    if args.repartition:
        t = t.repartition(args.repartition, "conv_id")

    # Stage 0 (optional): conversation-grain exact dedup as an input
    # gate.  The keep-map is conv-grain (≪ turns) and is published
    # wholesale per batch (pure function of this input → overwrite-
    # idempotent); the corpus filter is a conv_id semi-join against
    # the keepers, which AQE broadcasts at sane dup rates.  The flag
    # participates in the staged-mentions fingerprint below — a
    # deduped and a raw run of the same batch-id must not share
    # staged mentions.
    if args.dedup_input:
        from rdf_n3_spark.operators.conversations import conv_dedup

        keep_map = conv_dedup(t)
        km_path = os.path.join(args.graph_root, "curation",
                               f"batch={args.batch_id}", "conv_dedup")
        keep_map.write.mode("overwrite").parquet(km_path)
        keepers = (spark.read.parquet(km_path)
                   .where("keep = 1").select("conv_id"))
        t = t.join(keepers, "conv_id", "semi")

    # Stage 1: materialize mentions once. The triple union below has
    # TWO consumers of the mention stream (skolemized triples + entity
    # aggregate); Spark does not share common subtrees across union
    # branches, so feeding both from the live plan would tokenize the
    # full corpus twice. Mentions are a small fraction of the corpus
    # (matched tokens only), so writing them is cheap — and the
    # _SUCCESS-gated write makes a resumed run skip straight past the
    # expensive scan+tokenize pass.
    #
    # The gate is keyed by batch-id AND an input fingerprint
    # (input_fingerprint): re-running the same batch-id against a
    # different --transcripts input, or after an extraction-code change,
    # must NOT silently reuse stale staged mentions — it lands in a
    # fresh staging dir instead. Existence goes through the Hadoop FS
    # API so the skip works on object stores too.
    input_fp = input_fingerprint(args.transcripts or args.sf_dir,
                                 args.dedup_input, t.schema.simpleString())
    m_path = os.path.join(args.graph_root, "mentions",
                          f"batch={args.batch_id}", f"input={input_fp}")

    if not hadoop_exists(spark, os.path.join(m_path, "_SUCCESS")):
        extract_mentions(t).write.mode("overwrite").parquet(m_path)
    m = spark.read.parquet(m_path)

    # Stage 2: every triple family derives from the staged mentions —
    # asserted facts (skolemized mention triples + entity aggregates)
    # plus, with --relations, the mined relation tier: ent:→ent: edges
    # whose predicates come from the prose between co-occurring
    # mentions (support + conversation-spread floored), in the same
    # namespace so canonicalization / materialization / char-set
    # machinery consume them unchanged.
    triples = mention_triples(m).unionByName(entity_triples(m))
    if args.relations:
        from rdf_n3_spark.operators.relations import relation_triples

        triples = triples.unionByName(relation_triples(t))
    # the commit: the three store tables are written and hashed at once,
    # one driver thread each, then the lineage append publishes the batch
    metrics = materialize_graph(spark, triples, args.graph_root, args.batch_id)

    # Stage 3 (optional): the statistics a production store maintains
    # next to the data — tiny outputs (rows ∝ schema shapes, not
    # corpus size), rewritten per batch, no lineage gate needed.  The
    # profile scans the COMMITTED store read back through the lineage
    # gate (not just this batch's stream), so its coverage fingerprint
    # (the committed-batch set) is honest: run_bgp's planner guard
    # accepts it exactly until the next batch commits.  Running
    # --profile for a lineage-skipped batch therefore still works — it
    # backfills statistics for the already-committed graph.
    if args.profile:
        from rdf_n3_spark.operators.kb_stats import write_profile
        from rdf_n3_spark.operators.materialize import (
            committed_batches,
            read_store,
        )

        store = read_store(spark, args.graph_root)
        metrics["profile"] = write_profile(
            spark, store, args.graph_root, args.batch_id,
            covers=committed_batches(spark, args.graph_root))

    # Stage 4 (optional): flat N-Quads export of the COMMITTED store —
    # a pure narrow Project over the graph read-back (zero shuffle,
    # zero Python; sources/n3_sink.serialize_nquads), one text part
    # per store partition.  Compact KG terms expand through the
    # deterministic urn:x-kg fallback, so every line is strict
    # N-Triples any parser (including this engine's) round-trips.
    # The batch's own export dir is overwritten wholesale: the export
    # is a pure function of the committed store, so a re-run (crashed
    # or repeated) converges to the same bytes instead of appending.
    if args.export_nquads:
        from rdf_n3_spark.operators.materialize import read_store
        from rdf_n3_spark.sources.n3_sink import serialize_nquads

        store = read_store(spark, args.graph_root)
        export_path = os.path.join(
            args.graph_root, "export", f"batch={args.batch_id}")
        serialize_nquads(store).write.mode("overwrite").text(export_path)
        metrics["export_nquads"] = export_path

    # Stage 5 (optional): cross-build delta — the publish artifact of a
    # nightly FULL-REBUILD pipeline: diff this build's committed store
    # against another build root's (one shuffle, triples.kb_diff) and
    # write the delta-sized result.  Pure function of two committed
    # stores, so the per-batch dir is overwritten wholesale (re-runs
    # converge, never append).
    if args.diff_against:
        from pyspark.sql import functions as F

        from rdf_n3_spark.operators.materialize import read_store
        from rdf_n3_spark.operators.triples import kb_diff

        delta = kb_diff(read_store(spark, args.diff_against),
                        read_store(spark, args.graph_root))
        delta_path = os.path.join(
            args.graph_root, "delta", f"batch={args.batch_id}")
        delta.write.mode("overwrite").parquet(delta_path)
        back = spark.read.parquet(delta_path)
        counts = {r["change"]: r["n"] for r in
                  back.groupBy("change").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
        metrics["delta"] = {
            "path": delta_path,
            "added": counts.get("+", 0),
            "removed": counts.get("-", 0),
        }

    print(json.dumps(metrics))
    return 0


def run_bgp(spark, graph_root: str, patterns):
    """Answer a BGP over the materialized store, planner fed by the
    job's own --profile output — the statistics feedback loop: the
    profile's exact star cardinalities (characteristic sets) and VoID
    counts refine the join order via plans/bgp.order_patterns, and the
    coverage-fingerprint guard (kb_stats.load_profile) silently falls
    back to statistics-free ordering the moment the store outgrows the
    profile (a stale profile refines NOTHING rather than misordering).
    """
    from rdf_n3_spark.operators.kb_stats import load_profile
    from rdf_n3_spark.operators.materialize import read_store
    from rdf_n3_spark.plans.bgp import bgp

    store = read_store(spark, graph_root)
    counts, cs = load_profile(spark, graph_root)
    return bgp(store, patterns, predicate_counts=counts, star_cards=cs)


if __name__ == "__main__":
    sys.exit(main())
