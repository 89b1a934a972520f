"""Entity enrichment against a reference registry (the dim star).

The KG built from transcripts knows entities only by surface key
(``ent:supp_12``, ``ent:part_55``).  A production pipeline's next step
is linking those to an AUTHORITY table — the supplier/part registry —
and materializing what the registry asserts (name, nation → region
roll-up, account balance / price) as triples in the same namespace, so
downstream BGP / reasoning consumes mined and registry facts
uniformly.  The reference engine's analogue is loading a second
document into the same store (rdf-n3 repository.rb insert — assertions
from any source union set-semantically); here the "document" is a
table.

Scale shape: the corpus side collapses to the DISTINCT entity
vocabulary first (one map-side-combinable aggregate — the only
data-sized step), and every registry join is a BROADCAST hash join
(registries are authority-sized, ≪ corpus; plan-audited, no
SortMergeJoin).  Entities without a registry row — the hub surface,
out-of-range or non-numeric keys — simply produce no enrichment rows
(inner joins): the KG keeps its mined facts, the registry adds only
what it actually knows.

Money values land as exact integer cents (``*Cents`` predicates,
round-then-cast) — the repo's engine-portable convention: double→
string formatting differs across engines, integer cents never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _cents(c) -> "F.Column":
    return F.round(c * 100).try_cast("bigint").cast("string")


def entity_vocabulary(mentions: DataFrame) -> DataFrame:
    """(norm, kind, k) — the distinct entity vocabulary with its parsed
    registry key: ``kind`` ∈ {part, supp}, ``k`` the numeric key or
    NULL for non-registry surfaces (``part_hub``)."""
    return (
        mentions.select("norm").distinct()
        .select(
            "norm",
            F.substring("norm", 1, 4).alias("kind"),
            F.try_element_at(F.split("norm", "_", 2), F.lit(2))
            .try_cast("int").alias("k"),
        )
    )


def enrich_entities(mentions: DataFrame, supplier: DataFrame,
                    part: DataFrame, nation: DataFrame,
                    region: DataFrame) -> DataFrame:
    """(s, p, o) — registry triples for every KG entity the authority
    tables know:

        ent:supp_<k> :registryName   <s_name>
        ent:supp_<k> :inNation       nation:<n_name>
        ent:supp_<k> :inRegion       region:<r_name>   (star roll-up)
        ent:supp_<k> :acctBalCents   <exact cents>
        ent:part_<k> :registryName   <p_name>
        ent:part_<k> :brand          <p_brand>
        ent:part_<k> :retailPriceCents <exact cents>
    """
    vocab = entity_vocabulary(mentions).where(F.col("k").isNotNull())
    ent = F.concat(F.lit("ent:"), F.col("norm")).alias("s")

    sup_dim = (
        supplier
        .join(F.broadcast(nation),
              supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region),
              nation["n_regionkey"] == region["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name", "r_name")
    )
    sup = (
        vocab.where(F.col("kind") == "supp")
        .join(F.broadcast(sup_dim), F.col("k") == F.col("s_suppkey"))
        .select(
            ent,
            F.array(
                F.struct(F.lit(":registryName").alias("p"),
                         F.col("s_name").alias("o")),
                F.struct(F.lit(":inNation").alias("p"),
                         F.concat(F.lit("nation:"), "n_name").alias("o")),
                F.struct(F.lit(":inRegion").alias("p"),
                         F.concat(F.lit("region:"), "r_name").alias("o")),
                F.struct(F.lit(":acctBalCents").alias("p"),
                         _cents(F.col("s_acctbal")).alias("o")),
            ).alias("po"),
        )
    )
    prt = (
        vocab.where(F.col("kind") == "part")
        .join(F.broadcast(part), F.col("k") == F.col("p_partkey"))
        .select(
            ent,
            F.array(
                F.struct(F.lit(":registryName").alias("p"),
                         F.col("p_name").alias("o")),
                F.struct(F.lit(":brand").alias("p"),
                         F.col("p_brand").alias("o")),
                F.struct(F.lit(":retailPriceCents").alias("p"),
                         _cents(F.col("p_retailprice")).alias("o")),
            ).alias("po"),
        )
    )
    return (
        sup.unionByName(prt)
        .select("s", F.explode("po").alias("t"))
        .select("s", F.col("t.p").alias("p"), F.col("t.o").alias("o"))
    )
