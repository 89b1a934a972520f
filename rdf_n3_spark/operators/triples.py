"""Triple emission + blank-node skolemization as DataFrame transforms.

Reproduces rdf-n3's blank-node determinism contract (SURVEY.md §1.3;
reference lib/rdf/n3/reader.rb:743-757, lib/rdf/n3/list.rb:396) in a
distributed setting: instead of an in-process incrementing labeler
(``b0``, ``b1``, …) — which cannot exist across executors — every blank
node is *skolemized* to ``sk:<sha256(scope || local-key)>``. Same
document + same scope + same local key ⇒ same node on every executor,
every retry, every cluster size. Equality up to bnode bijection is then
plain string equality, which is what the canonical-labeling
isomorphism check in tests/ verifies.

All expressions are built-in Column functions (sha2/concat/explode):
zero Python in the hot path, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TRIPLE_COLS = ("s", "p", "o")


def skolem(*parts: Column | str) -> Column:
    """Deterministic blank-node id from scope parts.

    16 hex chars (64 bits) of sha256 — collision-safe to ~2^32 nodes per
    graph partition; widen to 32 chars if a deployment needs more.
    """
    cols = [F.col(p) if isinstance(p, str) else p for p in parts]
    joined = F.concat_ws("|", *[c.cast("string") for c in cols])
    return F.concat(F.lit("sk:"), F.substring(F.sha2(joined, 256), 1, 16))


def mention_triples(mentions: DataFrame) -> DataFrame:
    """mentions → (s, p, o) triple rows.

    Per mention m (skolem node from (conv, turn, pos)):
        m rdf:type       :Mention
        m :surface       <surface literal>
        m :inConv        <conv iri>
        m :atTurn        <turn index literal>
        m :refersTo      ent:<norm>      (exact-match entity link)

    Emission = one narrow projection + explode of a 5-element array:
    a pure map stage, no shuffle. Dedup is NOT applied here — triples
    from distinct mentions are distinct by construction (skolem ids
    differ); global set semantics (rdf-n3 repository.rb:297-307) are
    applied once at materialization.
    """
    m = mentions.withColumn("sk", skolem("conv_id", "turn_idx", "pos"))
    trip = F.array(
        F.struct(F.col("sk").alias("s"), F.lit("rdf:type").alias("p"), F.lit(":Mention").alias("o")),
        F.struct(F.col("sk").alias("s"), F.lit(":surface").alias("p"), F.col("surface").alias("o")),
        F.struct(
            F.col("sk").alias("s"),
            F.lit(":inConv").alias("p"),
            F.concat(F.lit("conv:"), F.col("conv_id")).alias("o"),
        ),
        F.struct(
            F.col("sk").alias("s"),
            F.lit(":atTurn").alias("p"),
            F.col("turn_idx").cast("string").alias("o"),
        ),
        F.struct(
            F.col("sk").alias("s"),
            F.lit(":refersTo").alias("p"),
            F.concat(F.lit("ent:"), F.col("norm")).alias("o"),
        ),
    )
    return (
        m.select(F.explode(trip).alias("t"))
        .select(F.col("t.s").alias("s"), F.col("t.p").alias("p"), F.col("t.o").alias("o"))
    )


def entity_triples(mentions: DataFrame) -> DataFrame:
    """Aggregated entity-level triples: ent:<norm> :mentionCount n.

    This is the skew-prone aggregation (part_hub owns ~20% of rows).
    groupBy on ``norm`` does a partial (map-side) aggregate first, so
    the hub key ships one partial row per input partition, not 20% of
    the data — the classic reason to keep this a built-in agg rather
    than a UDF. AQE skew handling covers the residual reduce skew.
    """
    return (
        mentions.groupBy("norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("ent:"), F.col("norm")).alias("s"),
            F.lit(":mentionCount").alias("p"),
            F.col("n").cast("string").alias("o"),
        )
    )


def canonical_triples(mentions: DataFrame,
                      pointer_jump: bool | str = "auto") -> DataFrame:
    """The KG *after* canonicalization: mention triples with
    ``:refersTo`` rewritten to the canonical entity, and entity
    aggregates re-computed per canonical entity so surface-form
    clusters merge into one ``:mentionCount`` row.

    This is the glue between the canonicalization stage
    (canon.canonical_map: surface → cluster-min surface) and triple
    emission — the step a KG-construction pipeline actually serves
    (rdf-n3 keeps one node per resolved resource; here resolution is
    the LSH+CC cluster).  ``:surface`` keeps the raw form: provenance
    survives the rewrite.

    Scale shape: the canonical map is DISTINCT-SURFACE-sized (≪
    mentions), collapsed to one row per ``norm`` and broadcast onto the
    mention stream — the edge-sized side is never shuffled by the
    rewrite; downstream emission keeps its existing shape (map-stage
    explode + one map-side-combinable agg).  min() over the cluster's
    lowered canons makes the norm-level map total and deterministic
    even if case-variants of one norm ever landed in different
    clusters.
    """
    from rdf_n3_spark.operators.canon import canonical_map

    cmap = canonical_map(mentions, pointer_jump=pointer_jump)
    ent_map = (
        cmap.select(F.lower("surface").alias("norm"),
                    F.lower("canon").alias("cn"))
        .groupBy("norm")
        .agg(F.min("cn").alias("cnorm"))
    )
    rewritten = mentions.join(F.broadcast(ent_map), "norm").select(
        "conv_id", "turn_idx", "pos", "surface",
        F.col("cnorm").alias("norm"),
    )
    return mention_triples(rewritten).unionByName(entity_triples(rewritten))


def kb_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(s, p, o, change) — set-semantic delta between two KB snapshots:
    ``'+'`` rows present only in ``new``, ``'-'`` rows present only in
    ``old``.  The incremental-maintenance primitive: what a nightly KG
    rebuild must publish so consumers avoid re-reading the full graph.

    Mirrors the repository's set semantics (rdf-n3 repository.rb
    insert/delete are idempotent on statements): each side is deduped
    before comparison, so multiplicity never leaks into the delta.

    Scale shape: ONE exchange — both sides are tagged and unioned,
    then a single (s, p, o)-keyed aggregate takes per-side presence
    flags (map-side combinable, so the shuffle carries at most one
    row per distinct triple per map task); rows present on both
    sides drop in the same pass.  This replaces the two anti-joins
    of the naive formulation, each of which would re-shuffle both
    snapshots on the same key.
    """
    tagged = (
        old.select(*TRIPLE_COLS).withColumn("__new", F.lit(False))
        .unionByName(
            new.select(*TRIPLE_COLS).withColumn("__new", F.lit(True)))
    )
    return (
        tagged.groupBy(*TRIPLE_COLS)
        .agg(
            F.max(F.when(~F.col("__new"), 1).otherwise(0)).alias("__o"),
            F.max(F.when(F.col("__new"), 1).otherwise(0)).alias("__n"),
        )
        .where(F.col("__o") != F.col("__n"))
        .select(
            *TRIPLE_COLS,
            F.when(F.col("__n") == 1, F.lit("+"))
            .otherwise(F.lit("-")).alias("change"),
        )
    )
