"""Run every queries() entry against its oracle_sql() at sf0.01 —
the same check the driver performs for CORRECTNESS_r{N}.json."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.parity import assert_match, duck_run

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    q = QUERIES[name]
    sdf = q(spark, SF_ORACLE)
    if name not in ORACLES:
        assert sdf.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck_run(ORACLES[name], SF_ORACLE)
    assert_match(sdf, ddf, name)


def test_all_queries_have_oracles_or_are_flagged():
    missing = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops are allowed to omit oracles; keep the list explicit
    allowed_rows_only: set[str] = set()
    assert missing <= allowed_rows_only, f"queries without oracle: {missing}"
    # a pruned query must take its oracle SQL with it
    assert set(ORACLES) <= set(QUERIES), (
        f"oracles without query: {set(ORACLES) - set(QUERIES)}")


def test_driver_window_covers_uncertified():
    """The driver certifies queries()[0:50] only.  Round-5 rotation
    invariant (VERDICT r4 item 1): the surviving round-4 overflow
    queries — the last rows with no driver CORRECTNESS artifact
    through r4 — lead the window, new-round queries enter ahead of the re-cert
    slate, and the ordering helper must not drop or duplicate any
    query."""
    names = list(QUERIES)
    assert len(names) == len(set(names))
    window = set(names[:50])
    overflow_r4 = {
        "relation_triples", "kb_void", "source_weights",
        "paragraph_neardup",
    }
    assert overflow_r4 <= set(entry_mod._ROUND_NEW)
    # every round's new queries enter the window head (rotation contract)
    assert set(entry_mod._ROUND_NEW) <= window
    assert list(QUERIES)[: len(entry_mod._ROUND_NEW)] == entry_mod._ROUND_NEW
    assert len(entry_mod._DRIVER_WINDOW) == 50
    # the highest-priority re-cert rows stay driver-visible: whatever
    # prefix still fits after the round's new queries, and never fewer
    # than the parser/fixpoint/includes sentinel trio
    n_fit = 50 - len(entry_mod._ROUND_NEW)
    assert n_fit >= 3, "round added too many queries; shrink _ROUND_NEW"
    assert set(entry_mod._RECERTIFY[:n_fit]) <= window
    assert {"n3_parse_udf", "rule_closure", "graph_includes"} <= window


def test_harness_detects_mismatches(spark):
    """Negative control: the comparison actually fails on wrong values,
    wrong row counts, and wrong column names — the gate is not vacuous."""
    import pandas as pd
    import pytest as _pytest

    sdf = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
    with _pytest.raises(AssertionError):
        assert_match(sdf, pd.DataFrame({"k": [1, 2], "v": ["a", "X"]}), "val")
    with _pytest.raises(AssertionError):
        assert_match(sdf, pd.DataFrame({"k": [1], "v": ["a"]}), "rows")
    with _pytest.raises(AssertionError):
        assert_match(sdf, pd.DataFrame({"k": [1, 2], "w": ["a", "b"]}), "cols")
    assert_match(sdf, pd.DataFrame({"k": [2, 1], "v": ["b", "a"]}), "order-insensitive")


# Cross-SF spot check: a representative slice re-verified at sf0.001
# (catches SF-dependent constants — bucket prunes, query-id bounds,
# skew thresholds — that a single-SF gate would bake in; the full 46
# were verified at both SFs during development)
CROSS_SF = [
    "transcripts_build", "mention_extract", "entity_agg", "rule_closure",
    "graph_includes_join", "entity_canon", "dedup_minhash",
    "dedup_embedding", "ann_topk_partial",
    # round-3 queries whose dedicated test files don't already pin
    # sf0.001 parity themselves
    "gopher_quality", "paragraph_dedup", "hash_embed",
    "lm_score", "dedup_incremental",
    # round-4 queries (each was verified at both SFs when added; this
    # pins the SF-independence going forward)
    "embedding_incremental", "kb_char_sets", "kb_void", "kb_star_card",
    "paragraph_neardup", "source_weights", "relation_candidates",
    "relation_triples",
    # round-5 queries
    "ann_ivf_multitable", "n3_write_nquads", "token_budget_sample",
    "label_consistency", "search_bm25", "search_rrf",
]


@pytest.mark.parametrize("name", CROSS_SF)
def test_query_matches_oracle_sf0001(spark, name):
    sdf = QUERIES[name](spark, SF_SMOKE)
    assert_match(sdf, duck_run(ORACLES[name], SF_SMOKE), f"{name}@sf0.001")
