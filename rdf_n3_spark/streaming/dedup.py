"""Streaming exact deduplication — the Structured-Streaming complement
of :func:`rdf_n3_spark.operators.dedup.exact_dedup` for continuous
corpus ingest: the first-arriving copy of each content hash passes,
later copies are dropped, and the dedup state is BOUNDED by a
watermark instead of growing with the corpus.

Scale shape: ``dropDuplicatesWithinWatermark`` keeps one state row per
distinct hash seen within the watermark horizon, partitioned by the
hash (the same key the batch operator groups on), and expires rows as
the event-time watermark passes them — so a 100 TB/day feed holds
state proportional to one horizon's worth of DISTINCT documents, not
the stream's history.  Exactly-once across restarts comes from the
same checkpoint/lineage discipline as :mod:`.ingest`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_exact_dedup(stream: DataFrame, ts_col: str = "ts",
                       text_col: str = "text",
                       watermark: str = "10 minutes") -> DataFrame:
    """First-arrival winner per md5(text) within the watermark horizon.

    Two copies inside one horizon dedup exactly; copies farther apart
    than the watermark MAY both pass (state for the first has been
    reclaimed) — the standard streaming-dedup contract, with the batch
    operator as the exact end-of-day sweep."""
    keyed = stream.withColumn("text_hash", F.md5(F.col(text_col)))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["text_hash"]
    )


def stream_neardup_gate(stream: DataFrame, corpus: DataFrame,
                        out_dir: str, checkpoint_dir: str,
                        threshold: float = 0.8):
    """Continuous near-dup ingest gate: every micro-batch of incoming
    documents is checked against the PERSISTED corpus LSH index
    (:func:`rdf_n3_spark.operators.dedup.incremental_neardup` — band
    probe + representative verify + intra-batch pairs) and only
    ``keep=1`` rows are appended to ``out_dir``.

    ``foreachBatch`` is the right harness here (not a stream-static
    join chain): the gate's verdict needs an intra-batch self-join and
    two left joins, which Structured Streaming cannot express as one
    incremental plan, while per-batch the BATCH operator — already
    oracle-gated — runs unchanged.  Exactly-once comes from the shared
    :func:`rdf_n3_spark.streaming.sink.epoch_overwrite_sink` scaffold
    (epoch-partitioned dynamic overwrite: a crash-replayed epoch
    overwrites its own partition, never appending a second copy).

    Scale: per micro-batch work is index-sized + batch-sized (the
    whole point of the one-row-per-band-key index); the corpus tables
    are static snapshots refreshed between runs, exactly how a
    production gate consumes yesterday's index."""
    from rdf_n3_spark.operators.dedup import incremental_neardup
    from rdf_n3_spark.streaming.sink import epoch_overwrite_sink

    def kept(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        verdict = incremental_neardup(batch_df, corpus, threshold)
        return batch_df.join(
            verdict.where(F.col("keep") == 1).select("doc_id"), "doc_id")

    return epoch_overwrite_sink(stream, out_dir, checkpoint_dir, kept)


def stream_embedding_gate(stream: DataFrame, corpus: DataFrame,
                          out_dir: str, checkpoint_dir: str,
                          threshold: float = 0.95):
    """Continuous embedding-space near-dup ingest gate: every
    micro-batch of incoming vectors is checked against the persisted
    corpus hyperplane-LSH index
    (:func:`rdf_n3_spark.operators.dedup.incremental_embedding_neardup`
    — band probe + representative cosine verify + intra-batch pairs)
    and only ``keep=1`` rows are appended to ``out_dir``.

    Same harness and exactly-once discipline as
    :func:`stream_neardup_gate` via the shared
    :func:`rdf_n3_spark.streaming.sink.epoch_overwrite_sink` scaffold."""
    from rdf_n3_spark.operators.dedup import incremental_embedding_neardup
    from rdf_n3_spark.streaming.sink import epoch_overwrite_sink

    def kept(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        verdict = incremental_embedding_neardup(batch_df, corpus, threshold)
        return batch_df.join(
            verdict.where(F.col("keep") == 1).select("vec_id"), "vec_id")

    return epoch_overwrite_sink(stream, out_dir, checkpoint_dir, kept)


def stream_split_leakage(stream: DataFrame, corpus: DataFrame,
                         out_dir: str, checkpoint_dir: str,
                         threshold: float = 0.8, train_pct: int = 90,
                         val_pct: int = 5, seed: str = "split-v1"):
    """Continuous train/eval LEAKAGE AUDIT — the streaming twin of
    :func:`rdf_n3_spark.operators.curation.split_leakage`: every
    micro-batch of incoming documents is checked for near-duplicate
    pairs that straddle the deterministic `corpus_split` boundary,
    both WITHIN the batch (the batch operator, oracle-gated, run per
    epoch) and AGAINST the persisted corpus LSH index
    (:func:`rdf_n3_spark.operators.dedup.corpus_rep_neardups` —
    band probe + representative verify, the ingest-gate recall trade).
    Evidence rows (doc_a, split_a, doc_b, split_b), doc_a < doc_b,
    land per-epoch under the shared
    :func:`rdf_n3_spark.streaming.sink.epoch_overwrite_sink`
    exactly-once contract.

    No split STATE exists anywhere: membership is a pure function of
    the document id (`curation.split_expr`), evaluated in place on
    both the batch side and the corpus-representative side — the
    property that makes the audit a stateless composition instead of
    a stream-static join against a split table that could go stale.

    Scale: per micro-batch work is index-sized + batch-sized (never
    corpus-sized); cross-epoch recall rides the representative-verify
    floor measured for the ingest gate (tests/test_incremental_recall)."""
    from rdf_n3_spark.operators.curation import split_expr, split_leakage
    from rdf_n3_spark.operators.dedup import corpus_rep_neardups
    from rdf_n3_spark.streaming.sink import epoch_overwrite_sink

    def leaks(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        within = split_leakage(batch_df, threshold, train_pct, val_pct, seed)
        ver = corpus_rep_neardups(batch_df, corpus, threshold)
        lo_first = F.col("doc_id") < F.col("rep")
        cross = (
            ver.withColumn("split_new",
                           split_expr(F.col("doc_id"), train_pct, val_pct, seed))
            .withColumn("split_rep",
                        split_expr(F.col("rep"), train_pct, val_pct, seed))
            .where(F.col("split_new") != F.col("split_rep"))
            .select(
                F.when(lo_first, F.col("doc_id")).otherwise(F.col("rep"))
                .alias("doc_a"),
                F.when(lo_first, F.col("split_new")).otherwise(F.col("split_rep"))
                .alias("split_a"),
                F.when(lo_first, F.col("rep")).otherwise(F.col("doc_id"))
                .alias("doc_b"),
                F.when(lo_first, F.col("split_rep")).otherwise(F.col("split_new"))
                .alias("split_b"),
            )
        )
        return within.unionByName(cross)

    return epoch_overwrite_sink(stream, out_dir, checkpoint_dir, leaks)


def stream_conv_dedup(stream: DataFrame, corpus_fps: DataFrame,
                      out_dir: str, checkpoint_dir: str):
    """Continuous CONVERSATION-grain exact dedup gate — the
    transcripts-native member of the ingest-gate family: each
    micro-batch of CLOSED conversations (every turn of a conversation
    lands in one batch — the session-log ingest contract; a session
    ships when it ends) is fingerprinted by the batch operator
    (:func:`rdf_n3_spark.operators.conversations.conv_dedup`), deduped
    WITHIN the batch (smallest conv_id wins) and AGAINST the persisted
    corpus fingerprint set, and the surviving conversations' TURNS
    land per-epoch under the shared
    :func:`rdf_n3_spark.streaming.sink.epoch_overwrite_sink`
    exactly-once contract.

    ``corpus_fps`` is a static snapshot with an ``fp`` column (e.g.
    yesterday's committed keep-map), refreshed between runs exactly
    like the near-dup gates' LSH indexes.  Nothing accumulates across
    epochs: copies arriving in two micro-batches of ONE run, or in two
    runs against the SAME snapshot, may both pass — the standard gate
    contract, with batch conv_dedup as the end-of-day sweep.

    Scale: per micro-batch work is batch-sized (one conv-keyed fold)
    plus one fp anti-join against the index — fingerprints are 32-hex
    strings at CONVERSATION grain, the minimum state any exact gate
    must remember."""
    from rdf_n3_spark.operators.conversations import conv_dedup
    from rdf_n3_spark.streaming.sink import epoch_overwrite_sink

    def kept(batch_df: DataFrame, epoch_id: int) -> DataFrame:
        verdict = conv_dedup(batch_df)
        fresh = (
            verdict.where(F.col("keep") == 1)
            .join(corpus_fps.select("fp"), "fp", "anti")
            .select("conv_id")
        )
        return batch_df.join(fresh, "conv_id", "semi")

    return epoch_overwrite_sink(stream, out_dir, checkpoint_dir, kept)
