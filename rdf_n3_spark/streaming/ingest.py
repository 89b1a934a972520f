"""Structured Streaming ingest: incremental transcripts → triples →
materialized graph, with end-to-end exactly-once.

The reference engine is strictly batch (SURVEY §2.10) — this is the
scale-path addition for continuous transcript feeds. Semantics are
identical to the batch pipeline because the per-batch body IS the
batch pipeline (mention extraction → skolemized triple emission →
:func:`materialize_graph`); skolem ids depend only on row content
(conv_id, turn_idx, pos), never on arrival time or batch boundaries,
so a row produces the same triples whether it arrives in one batch or
another.

Exactly-once is the composition of two idempotency layers:

1. Spark's streaming checkpoint (``checkpointLocation``) replays an
   interrupted epoch with the SAME epoch id;
2. the materializer's lineage table skips epochs that already
   committed (``materialize_graph`` resume contract) and overwrites
   the partial files of epochs that didn't.

So a crash at any point — mid-write, pre-lineage, post-lineage —
re-runs at most one epoch and never double-counts.

``windowed_mention_counts`` shows the watermarked stateful-aggregation
surface (late data bounded by the watermark) for monitoring-style
rollups; the graph tables themselves need no streaming state because
triple emission is a narrow map and the entity aggregate is
re-derivable per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_n3_spark.operators.materialize import materialize_graph
from rdf_n3_spark.operators.mentions import extract_mentions
from rdf_n3_spark.operators.triples import entity_triples, mention_triples
from rdf_n3_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def stream_transcripts(spark: SparkSession, src_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of transcript parquet drops (one epoch per
    trigger; in production the same code points at a Kafka/Iceberg
    changelog source — only this reader function changes)."""
    r = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    return r.parquet(src_dir)


def batch_triples(transcripts: DataFrame) -> DataFrame:
    """The shared batch/streaming core: one conversation batch →
    mention triples ∪ per-batch entity aggregate triples."""
    m = extract_mentions(transcripts)
    return mention_triples(m).unionByName(entity_triples(m))


def run_ingest(
    spark: SparkSession,
    src_dir: str,
    graph_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> None:
    """Drain the source into the bucketed graph tables.

    ``availableNow`` processes the current backlog then stops (the
    sandbox/test mode); a production deployment drops that trigger and
    runs continuously. Epoch id becomes the materializer batch id.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        materialize_graph(
            batch_df.sparkSession,
            batch_triples(batch_df),
            graph_root,
            batch_id=f"epoch-{epoch_id:08d}",
        )

    w = (
        stream_transcripts(spark, src_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    q = w.start()
    q.awaitTermination()


def windowed_mention_counts(
    transcripts: DataFrame,
    window: str = "1 day",
    watermark: str = "7 days",
) -> DataFrame:
    """Watermarked event-time rollup: mentions per entity per window.

    Late turns older than the watermark are dropped (bounded state);
    the hub entity's hot key is pre-aggregated map-side like the batch
    entity_triples aggregate.
    """
    from rdf_n3_spark.operators.mentions import MENTION_RE

    toks = (
        transcripts.withWatermark("ts", watermark)
        .select("ts", F.explode(F.split("text", " ")).alias("surface"))
        .where(F.col("surface").rlike(MENTION_RE))
        .select("ts", F.lower("surface").alias("norm"))
    )
    return toks.groupBy(F.window("ts", window).alias("w"), "norm").agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
