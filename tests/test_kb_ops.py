"""KG-maintenance operators: canonical-ID triple rewrite and snapshot
diff — unit semantics on hand-built frames (the sf-scale oracle parity
runs in test_entry_parity via the driver contract).
"""

from __future__ import annotations

from rdf_n3_spark.operators.triples import canonical_triples, kb_diff

MENTION_SCHEMA = "conv_id string, turn_idx int, pos int, surface string, norm string"


def _mentions(spark, rows):
    return spark.createDataFrame(rows, MENTION_SCHEMA)


def test_canonical_triples_merges_cluster_counts(spark):
    # "part_55x" / "part_55xx" share enough 3-shingles to clear the 0.9
    # Jaccard bar → one cluster, canon = lexicographic min = part_55x;
    # "supp_9" is a singleton and maps to itself.
    rows = [
        ("c1", 0, 0, "part_55xyzw", "part_55xyzw"),
        ("c1", 0, 2, "PART_55XYZW!".rstrip("!"), "part_55xyzw"),
        ("c2", 1, 0, "part_55xyzwq", "part_55xyzwq"),
        ("c2", 1, 3, "supp_9", "supp_9"),
    ]
    out = canonical_triples(_mentions(spark, rows)).collect()
    counts = {r["s"]: r["o"] for r in out if r["p"] == ":mentionCount"}
    refs = sorted(r["o"] for r in out if r["p"] == ":refersTo")
    # the cluster's three mentions aggregate under ONE canonical entity
    assert counts == {"ent:part_55xyzw": "3", "ent:supp_9": "1"}
    assert refs == ["ent:part_55xyzw"] * 3 + ["ent:supp_9"]
    # provenance survives: raw surfaces still present as :surface
    surfaces = sorted(r["o"] for r in out if r["p"] == ":surface")
    assert surfaces == ["PART_55XYZW", "part_55xyzw", "part_55xyzwq", "supp_9"]


def test_canonical_triples_noop_when_no_clusters(spark):
    # dissimilar surfaces → identity rewrite, aggregates unchanged
    rows = [("c1", 0, 0, "part_1", "part_1"), ("c1", 0, 1, "supp_2", "supp_2")]
    out = canonical_triples(_mentions(spark, rows)).collect()
    counts = {r["s"]: r["o"] for r in out if r["p"] == ":mentionCount"}
    assert counts == {"ent:part_1": "1", "ent:supp_2": "1"}


def _kb(spark, rows):
    return spark.createDataFrame(rows, "s string, p string, o string")


def test_kb_diff_added_removed_and_stable(spark):
    old = _kb(spark, [("a", "p", "1"), ("b", "p", "2"), ("c", "p", "3")])
    new = _kb(spark, [("b", "p", "2"), ("c", "p", "33"), ("d", "p", "4")])
    got = {(r["s"], r["p"], r["o"], r["change"])
           for r in kb_diff(old, new).collect()}
    assert got == {
        ("a", "p", "1", "-"), ("c", "p", "3", "-"),
        ("c", "p", "33", "+"), ("d", "p", "4", "+"),
    }


def test_kb_diff_is_set_semantic(spark):
    # duplicate statements on either side never leak multiplicity
    old = _kb(spark, [("a", "p", "1"), ("a", "p", "1")])
    new = _kb(spark, [("a", "p", "1"), ("a", "p", "1"), ("b", "p", "2"),
                      ("b", "p", "2")])
    got = kb_diff(old, new).collect()
    assert [(r["s"], r["change"]) for r in got] == [("b", "+")]


def test_kb_diff_empty_on_identical(spark):
    kb = _kb(spark, [("a", "p", "1")])
    assert kb_diff(kb, kb).count() == 0


def test_kb_diff_single_exchange(spark):
    """Plan audit: the diff pays ONE shuffle — a tagged union folded by
    a single (s,p,o)-keyed aggregate with a map-side partial — not the
    two anti-joins of the naive formulation (each of which would
    re-shuffle both snapshots)."""
    old = _kb(spark, [("a", "p", "1"), ("b", "p", "2")])
    new = _kb(spark, [("a", "p", "1"), ("c", "p", "3")])
    plan = kb_diff(old, new)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_canonical_rewrite_broadcasts_the_map(spark):
    """The norm→canon map must reach the mention stream as a broadcast
    join — the edge-sized side is never shuffled by the rewrite."""
    rows = [("c1", 0, 0, "part_1", "part_1"), ("c1", 0, 1, "supp_2", "supp_2")]
    df = canonical_triples(_mentions(spark, rows))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
