"""Conversation-grain exact dedup over the transcripts table (the
input_hint shape: conv_id, turn_idx, role, text, tool, ts) — the
``--dedup-input`` stage of ``jobs/kg_construct.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def conv_dedup(transcripts: DataFrame) -> DataFrame:
    """(conv_id, fp, keeper_conv_id, keep) — conversation-grain EXACT
    dedup: two conversations are duplicates iff their full ordered
    (role, text) turn sequences are identical.  The first curation
    pass over a harvested transcripts corpus (re-ingested sessions,
    mirrored logs, retry storms produce byte-identical dialogues);
    near-dup at this grain is the document-side minhash family's job.
    ``fp`` is a hash-of-hashes: each turn is collapsed to
    md5("role:text") BEFORE the conversation exchange, and the
    conversation fingerprint is the md5 of those fixed-width per-turn
    hashes concatenated in turn_idx order (fixed width ⇒ no join-
    separator collisions by construction).  The keeper is the
    smallest conv_id per fingerprint (deterministic on any
    partitioning), ``keep = 1`` marks it.  Every conversation is
    emitted with its verdict — the dedup_exact auditability contract.

    Scale shape: the per-turn hash is a narrow map BEFORE the shuffle,
    so the conv-keyed exchange carries 32 hex chars per turn instead
    of the turn text (the dominant byte volume at corpus scale); then
    one `array_sort(collect_list)` fold (per-conversation state only)
    and one window min over the CONV-GRAIN fingerprint table
    (≪ turns).  Identical conversations hash to one fp key; a viral
    duplicate makes that key hot ONLY in the tiny fp table, never in
    the turn-sized exchange."""
    from pyspark.sql import Window

    fp = (
        transcripts
        .select("conv_id",
                F.struct("turn_idx",
                         F.md5(F.concat_ws(":", "role", "text"))
                         .alias("h"))
                .alias("t"))
        .groupBy("conv_id")
        .agg(F.md5(F.array_join(
            F.transform(F.array_sort(F.collect_list("t")),
                        lambda x: x["h"]),
            "")).alias("fp"))
    )
    w = Window.partitionBy("fp")
    return fp.select(
        "conv_id", "fp",
        F.min("conv_id").over(w).alias("keeper_conv_id"),
        F.when(F.col("conv_id") == F.min("conv_id").over(w), 1)
        .otherwise(0).cast("int").alias("keep"),
    )
