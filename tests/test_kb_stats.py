"""Characteristic sets (ICDE'11) + VoID property partitions: profile
correctness on a handcrafted KB, star-cardinality exactness, and the
partial-aggregation plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_n3_spark.operators.kb_stats import (
    characteristic_sets,
    star_cardinality,
    void_stats,
)

TRIPLES = [
    # two subjects with the {name, age} shape
    ("s1", "name", "alice"), ("s1", "age", "30"),
    ("s2", "name", "bob"), ("s2", "age", "31"),
    # one subject with {name, age, city}; multi-valued name
    ("s3", "name", "carol"), ("s3", "name", "caro"),
    ("s3", "age", "32"), ("s3", "city", "oslo"),
    # one name-only subject
    ("s4", "name", "dan"),
]


def _kb(spark):
    return spark.createDataFrame(TRIPLES, ["s", "p", "o"])


def test_characteristic_sets(spark):
    got = {
        r["cs"]: (r["n_subjects"], r["n_triples"])
        for r in characteristic_sets(_kb(spark)).collect()
    }
    assert got == {
        "age|name": (2, 4),
        "age|city|name": (1, 4),
        "name": (1, 1),
    }


def test_void_stats(spark):
    got = {
        r["p"]: (r["n_triples"], r["n_subjects"], r["n_objects"])
        for r in void_stats(_kb(spark)).collect()
    }
    assert got == {
        "name": (5, 4, 5),
        "age": (3, 3, 3),
        "city": (1, 1, 1),
    }


def test_star_cardinality_is_exact(spark):
    """The profile-answered star count equals the directly-computed
    distinct-subject count for every predicate combination — the
    ICDE'11 exactness property the driver oracle also checks."""
    kb = _kb(spark)
    for star in (["name"], ["age"], ["name", "age"],
                 ["name", "city"], ["age", "city", "name"],
                 ["nope"], ["name", "nope"]):
        got = star_cardinality(kb, star).collect()[0]["n_subjects"]
        direct = (
            kb.where(F.col("p").isin(star)).groupBy("s")
            .agg(F.countDistinct("p").alias("k"))
            .where(F.col("k") == len(star)).count()
        )
        assert got == direct, star


def test_profile_plan_partial_aggregates(spark):
    """Both groupBys partial-aggregate before their exchange (the
    collect_set partials merge map-side), and nothing joins or sorts:
    the profile is two map-side-combined exchanges over a KB of any
    size."""
    plan = (
        characteristic_sets(_kb(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 4, plan


def test_profile_feeds_bgp_ordering(spark):
    """The collected VoID profile drives order_patterns: the rare
    predicate's seat leads the fold — profile → dict → ordering,
    end to end."""
    from rdf_n3_spark.operators.kb_stats import load_predicate_counts
    from rdf_n3_spark.plans.bgp import order_patterns

    counts = load_predicate_counts(void_stats(_kb(spark)))
    assert counts == {"name": 5, "age": 3, "city": 1}
    pats = [("?s", "name", "?n"), ("?s", "city", "?c"), ("?s", "age", "?a")]
    assert order_patterns(pats, counts) == [1, 2, 0]


def test_char_sets_roundtrip_escaped_predicates(spark):
    """load_char_sets inverts the delimiter escaping: a predicate
    containing '|' or '%' survives profile → collect → superset-sum."""
    from rdf_n3_spark.operators.kb_stats import (
        load_char_sets,
        star_card_from_cs,
    )

    kb = spark.createDataFrame(
        [("s1", "a|b", "x"), ("s1", "c%d", "y"), ("s2", "a|b", "z")],
        ["s", "p", "o"],
    )
    cards = load_char_sets(characteristic_sets(kb))
    assert set(cards) == {
        (frozenset({"a|b"}), 1),
        (frozenset({"a|b", "c%d"}), 1),
    }
    assert star_card_from_cs(cards, ["a|b"]) == 2
    assert star_card_from_cs(cards, ["a|b", "c%d"]) == 1
    assert star_card_from_cs(cards, ["a", "b"]) == 0  # no phantom split


def test_profile_coverage_guard(spark, tmp_path):
    """VERDICT r4 item 4: load_profile hands statistics to the planner
    ONLY while the profile's coverage fingerprint matches the store's
    committed batches — a stale profile (written before a later batch
    committed) yields (None, None), never a partial dict that would
    misorder via absent-predicate = zero-cardinality."""
    from rdf_n3_spark.operators.kb_stats import load_profile, write_profile
    from rdf_n3_spark.operators.materialize import materialize_graph

    root = str(tmp_path / "graph")
    t0 = spark.createDataFrame(
        [("ent:a", ":refersTo", "ent:b"), ("ent:a", ":name", "alice")],
        ["s", "p", "o"],
    )
    materialize_graph(spark, t0, root, "b0")
    write_profile(spark, t0, root, "b0", covers={"b0"})
    counts, cards = load_profile(spark, root)
    assert counts == {":refersTo": 1, ":name": 1}
    assert (frozenset({":refersTo", ":name"}), 1) in cards

    # a second batch commits with a NEW predicate the profile has
    # never seen — exactly the stale case the guard must reject
    t1 = spark.createDataFrame([("ent:c", ":age", "9")], ["s", "p", "o"])
    materialize_graph(spark, t1, root, "b1")
    assert load_profile(spark, root) == (None, None)

    # refreshing the profile over the full store restores statistics
    full = t0.unionByName(t1)
    write_profile(spark, full, root, "b1", covers={"b0", "b1"})
    counts2, cards2 = load_profile(spark, root)
    assert counts2 == {":refersTo": 1, ":name": 1, ":age": 1}
    assert len(cards2) >= 2


def test_profile_guard_rejects_truncated_table(spark, tmp_path):
    """A profile whose void table lost rows (manual tamper / partial
    copy) fails the n_predicates fingerprint."""
    from rdf_n3_spark.operators.kb_stats import load_profile, write_profile
    from rdf_n3_spark.operators.materialize import materialize_graph

    root = str(tmp_path / "graph")
    t0 = spark.createDataFrame(
        [("ent:a", ":p1", "x"), ("ent:a", ":p2", "y")], ["s", "p", "o"])
    materialize_graph(spark, t0, root, "b0")
    write_profile(spark, t0, root, "b0", covers={"b0"})
    assert load_profile(spark, root)[0] is not None
    # rewrite the void table with one predicate missing
    import os
    void_dir = os.path.join(root, "profile", "batch=b0", "void")
    void = spark.read.parquet(void_dir).where(F.col("p") == ":p1")
    void.coalesce(1).write.mode("overwrite").parquet(void_dir + "_tmp")
    spark.read.parquet(void_dir + "_tmp").coalesce(1).write.mode(
        "overwrite").parquet(void_dir)
    assert load_profile(spark, root) == (None, None)


def test_load_profile_raises_on_unreadable_meta(spark, tmp_path):
    """A profile whose meta exists but cannot be read is an error; only
    a missing profile falls back to statistics-free ordering."""
    from rdf_n3_spark.operators.kb_stats import load_profile, write_profile
    from rdf_n3_spark.operators.materialize import materialize_graph

    root = tmp_path / "graph"
    t0 = spark.createDataFrame([("ent:a", ":p1", "x")], ["s", "p", "o"])
    materialize_graph(spark, t0, str(root), "b0")
    assert load_profile(spark, str(root)) == (None, None)  # no profile yet
    write_profile(spark, t0, str(root), "b0", covers={"b0"})
    assert load_profile(spark, str(root))[0] == {":p1": 1}
    (part,) = (root / "profile" / "batch=b0" / "meta").glob("part-*.parquet")
    part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        load_profile(spark, str(root))


def test_write_profile_tables_equal_the_direct_aggregates(spark, tmp_path):
    """The tables ``write_profile`` writes are exactly ``void_stats`` and
    ``characteristic_sets`` of its input, and the meta row records the
    coverage and the predicate count."""
    from rdf_n3_spark.operators.kb_stats import write_profile

    kb = _kb(spark)
    prof = write_profile(spark, kb, str(tmp_path / "graph"), "b1", covers={"b1", "b0"})

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(spark.read.parquet(f"{prof}/void")) == rows(void_stats(kb))
    assert rows(spark.read.parquet(f"{prof}/char_sets")) == rows(characteristic_sets(kb))
    assert rows(spark.read.parquet(f"{prof}/meta")) == [("b1", "b0|b1", 3)]


def test_write_profile_leaves_its_input_unpersisted(spark, tmp_path):
    """``read_store`` hands one frame to every reader of a snapshot, so a
    persist left behind would pin the store for all of them."""
    from pyspark import StorageLevel

    from rdf_n3_spark.operators.kb_stats import write_profile
    from rdf_n3_spark.operators.materialize import materialize_graph, read_store

    root = str(tmp_path / "graph")
    materialize_graph(spark, _kb(spark), root, "b0")
    store = read_store(spark, root)
    write_profile(spark, store, root, "b0", covers={"b0"})
    assert read_store(spark, root) is store
    assert store.storageLevel == StorageLevel.NONE
