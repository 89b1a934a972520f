"""Mention detection over transcript text.

Spark-first: tokenize + posexplode + regex filter — all JVM-side Column
expressions inside one whole-stage-codegen span; no Python in the hot
path. At 10^12 turns this is a pure map stage (no shuffle): mention
rows inherit the transcript partitioning by conv_id.

The surface-form grammar for the synthetic corpus is
``(part|supp)_<key>`` (case-insensitive, ``part_hub`` included); real
deployments would swap MENTION_RE / the normalizer, nothing else.

Measured alternatives that LOST (interleaved min-of-rounds, 6M turns,
local[32]) — kept here so they aren't re-tried:
  * in-array filtering (zip_with + F.filter before a small explode,
    66M→12M exploded rows) ran 1.8× slower: HOF lambdas evaluate
    interpreted, while posexplode + filter stays in whole-stage
    codegen end to end;
  * repartitioning mentions to share one scan across the triple-emit
    and entity-agg branches was also slower (full 12M-row shuffle,
    and ReuseExchange did not deduplicate the union's branches) — the
    double scan of a columnar source is cheaper than materializing
    the extraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTION_RE = "^(?i)(part|supp)_[a-z0-9]+$"


def extract_mentions(transcripts: DataFrame) -> DataFrame:
    """transcripts → (conv_id, turn_idx, pos, surface, norm).

    ``pos`` is the 0-based token position (used by skolemization,
    mirroring rdf-n3's per-document running bnode index,
    reader.rb:752-757). ``norm`` is the normalized surface form used as
    the exact-match canonicalization key.
    """
    toks = transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "surface"),
    )
    # cheap short-circuit prefix guard before the regex: every MENTION_RE
    # match has lower(first 5 chars) ∈ {part_, supp_}, so the guard is
    # semantics-preserving and the Java regex runs only on the ~5% of
    # tokens that pass it (measured ~25% off the extraction stage)
    prefilter = F.lower(F.substring("surface", 1, 5)).isin("part_", "supp_")
    return toks.filter(prefilter & F.col("surface").rlike(MENTION_RE)).select(
        "conv_id",
        "turn_idx",
        "pos",
        "surface",
        F.lower(F.col("surface")).alias("norm"),
    )

