"""Registry enrichment: entity vocabulary → authority-table triples
(unit semantics; sf-scale oracle parity rides test_entry_parity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdf_n3_spark.operators.enrich import enrich_entities, entity_vocabulary

M_SCHEMA = "conv_id string, turn_idx int, pos int, surface string, norm string"


def _mentions(spark, norms):
    return spark.createDataFrame(
        [("c1", 0, i, n, n) for i, n in enumerate(norms)], M_SCHEMA)


def _dims(spark):
    supplier = spark.createDataFrame(
        [(1, "Supplier#1", 10, 8752.13), (2, "Supplier#2", 11, 0.07)],
        "s_suppkey int, s_name string, s_nationkey int, s_acctbal double")
    part = spark.createDataFrame(
        [(5, "red widget", "Brand#1", 900.10)],
        "p_partkey int, p_name string, p_brand string, p_retailprice double")
    nation = spark.createDataFrame(
        [(10, "NATION_A", 0), (11, "NATION_B", 1)],
        "n_nationkey int, n_name string, n_regionkey int")
    region = spark.createDataFrame(
        [(0, "AFRICA"), (1, "ASIA")], "r_regionkey int, r_name string")
    return supplier, part, nation, region


def test_vocabulary_parses_keys_and_marks_non_registry(spark):
    v = {(r["norm"], r["kind"], r["k"]) for r in entity_vocabulary(
        _mentions(spark, ["supp_1", "part_5", "part_hub", "supp_1"])
    ).collect()}
    assert v == {("supp_1", "supp", 1), ("part_5", "part", 5),
                 ("part_hub", "part", None)}


def test_enrich_emits_registry_triples_with_exact_cents(spark):
    got = {(r["s"], r["p"], r["o"]) for r in enrich_entities(
        _mentions(spark, ["supp_1", "part_5", "part_hub", "supp_99"]),
        *_dims(spark)).collect()}
    assert got == {
        ("ent:supp_1", ":registryName", "Supplier#1"),
        ("ent:supp_1", ":inNation", "nation:NATION_A"),
        ("ent:supp_1", ":inRegion", "region:AFRICA"),
        ("ent:supp_1", ":acctBalCents", "875213"),
        ("ent:part_5", ":registryName", "red widget"),
        ("ent:part_5", ":brand", "Brand#1"),
        ("ent:part_5", ":retailPriceCents", "90010"),
    }
    # part_hub (non-numeric) and supp_99 (not in registry) add nothing


def test_enrich_broadcasts_every_registry_join(spark):
    df = enrich_entities(_mentions(spark, ["supp_1", "part_5"]),
                         *_dims(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan
