"""Conversation-grain operators (operators/conversations): stats and
role-protocol validation on hand-built dialogues, plan audits in the
one-exchange style."""

from __future__ import annotations

import datetime

from rdf_n3_spark.operators.conversations import (
    conversation_stats,
    role_protocol,
    turn_transitions,
)


def _t(spark, rows):
    return spark.createDataFrame(
        [(c, i, r, x, tool,
          datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s))
         for c, i, r, x, tool, s in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


def test_conversation_stats_known_values(spark):
    t = _t(spark, [
        ("c1", 0, "user", "hello there", "", 0),
        ("c1", 1, "assistant", "hi", "", 5),
        ("c1", 2, "tool", "lookup result", "lookup", 9),
        ("c2", 0, "user", "solo", "", 100),
    ])
    got = {r["conv_id"]: r.asDict()
           for r in conversation_stats(t).collect()}
    c1 = got["c1"]
    assert c1["n_turns"] == 3 and c1["n_user"] == 1
    assert c1["n_assistant"] == 1 and c1["n_tool_role"] == 1
    assert c1["n_tool_calls"] == 1
    assert c1["n_tokens"] == 2 + 1 + 2 and c1["n_chars"] == 11 + 2 + 13
    assert c1["duration_seconds"] == 9
    c2 = got["c2"]
    assert c2["n_turns"] == 1 and c2["duration_seconds"] == 0
    assert c2["n_tool_calls"] == 0


def test_role_protocol_flags_violations(spark):
    t = _t(spark, [
        # well-formed
        ("ok", 0, "user", "a", "", 0),
        ("ok", 1, "assistant", "b", "", 1),
        ("ok", 2, "user", "c", "", 2),
        # starts with assistant
        ("late", 0, "assistant", "a", "", 0),
        ("late", 1, "user", "b", "", 1),
        # double-assistant run of 3
        ("run", 0, "user", "a", "", 0),
        ("run", 1, "assistant", "b", "", 1),
        ("run", 2, "assistant", "c", "", 2),
        ("run", 3, "assistant", "d", "", 3),
    ])
    got = {r["conv_id"]: r.asDict() for r in role_protocol(t).collect()}
    assert got["ok"] == {"conv_id": "ok", "starts_with_user": 1,
                         "n_role_repeats": 0, "max_role_run": 1, "ok": 1}
    assert got["late"]["starts_with_user"] == 0 and got["late"]["ok"] == 0
    assert got["late"]["n_role_repeats"] == 0
    assert got["run"]["n_role_repeats"] == 2
    assert got["run"]["max_role_run"] == 3 and got["run"]["ok"] == 0


def test_role_protocol_orders_by_turn_idx_not_arrival(spark):
    """Out-of-order ingestion must not fake a repeat: turns arrive
    shuffled but the fold sorts by turn_idx."""
    t = _t(spark, [
        ("c", 2, "user", "c", "", 2),
        ("c", 0, "user", "a", "", 0),
        ("c", 1, "assistant", "b", "", 1),
    ]).repartition(3)
    got = role_protocol(t).collect()[0]
    assert got["n_role_repeats"] == 0 and got["starts_with_user"] == 1


def test_conversation_ops_single_exchange(spark):
    t = _t(spark, [("c", 0, "user", "a", "", 0)]).repartition(4)
    for op in (conversation_stats, role_protocol):
        plan = op(t)._jdf.queryExecution().executedPlan().toString()
        # input repartition = 1 Exchange; the operator adds exactly one
        # conv-keyed aggregate exchange, no joins, no Python
        assert plan.count("Exchange") == 2, (op.__name__, plan)
        assert "Join" not in plan and "Python" not in plan, op.__name__


def test_turn_transitions_known_values(spark):
    t = _t(spark, [
        ("c1", 0, "user", "q", "", 0),
        ("c1", 1, "assistant", "a", "", 5),
        ("c1", 2, "tool", "r", "lookup", 9),
        ("c1", 3, "assistant", "a2", "", 10),
        ("c2", 0, "user", "q", "", 100),
        ("c2", 1, "assistant", "a", "", 107),
        ("c3", 0, "user", "solo", "", 50),
    ])
    got = {(r["role_from"], r["role_to"]): r.asDict()
           for r in turn_transitions(t).collect()}
    ua = got[("user", "assistant")]
    assert ua["n"] == 2 and ua["n_convs"] == 2
    assert ua["total_gap_seconds"] == 5 + 7
    assert ua["max_gap_seconds"] == 7
    assert got[("assistant", "tool")]["total_gap_seconds"] == 4
    assert got[("tool", "assistant")]["total_gap_seconds"] == 1
    # the pairing is turn_idx order, not ts order; a single-turn
    # conversation contributes no pair at all
    assert set(got) == {("user", "assistant"), ("assistant", "tool"),
                        ("tool", "assistant")}


def test_turn_transitions_pairs_by_turn_idx_not_arrival(spark):
    t = _t(spark, [
        ("c1", 2, "tool", "r", "lookup", 9),
        ("c1", 0, "user", "q", "", 0),
        ("c1", 1, "assistant", "a", "", 5),
    ])
    got = {(r["role_from"], r["role_to"]) for r in
           turn_transitions(t).collect()}
    assert got == {("user", "assistant"), ("assistant", "tool")}


def test_sft_pairs_adjacency_and_gate(spark):
    from rdf_n3_spark.operators.conversations import sft_pairs

    t = _t(spark, [
        # plain adjacent pair
        ("c1", 0, "user", "what is two plus two", "", 0),
        ("c1", 1, "assistant", "four", "", 1),
        # assistant→user order: NOT a pair
        ("c1", 2, "assistant", "anything else", "", 2),
        ("c1", 3, "user", "no thanks", "", 3),
        # idx hole between user and assistant: NOT a pair (a filter
        # upstream removed turn 1 — welding 0→2 would fake adjacency)
        ("hole", 0, "user", "question", "", 0),
        ("hole", 2, "assistant", "answer", "", 2),
        # empty response: pair emitted, gate ok=0
        ("empty", 0, "user", "hi", "", 0),
        ("empty", 1, "assistant", "", "", 1),
    ])
    got = {(r["conv_id"], r["turn_idx"]): r.asDict()
           for r in sft_pairs(t).collect()}
    assert set(got) == {("c1", 0), ("empty", 0)}
    p = got[("c1", 0)]
    assert p["prompt"] == "what is two plus two"
    assert p["response"] == "four"
    assert p["n_prompt_tokens"] == 5 and p["n_response_tokens"] == 1
    assert p["ok"] == 1
    assert got[("empty", 0)]["ok"] == 0


def test_sft_pairs_token_floors(spark):
    from rdf_n3_spark.operators.conversations import sft_pairs

    t = _t(spark, [
        ("c", 0, "user", "short", "", 0),
        ("c", 1, "assistant", "one two three", "", 1),
    ])
    assert sft_pairs(t).collect()[0]["ok"] == 1
    assert sft_pairs(t, min_response_tokens=4).collect()[0]["ok"] == 0
    assert sft_pairs(t, min_prompt_tokens=2).collect()[0]["ok"] == 0


def test_tool_chains_order_and_fingerprint(spark):
    from rdf_n3_spark.operators.conversations import tool_chains

    t = _t(spark, [
        # tool calls interleaved with plain turns; insertion order shuffled
        ("c1", 4, "tool", "r2", "search", 4),
        ("c1", 0, "user", "q", "", 0),
        ("c1", 2, "tool", "r1", "lookup", 2),
        ("c1", 6, "tool", "r3", "lookup", 6),
        ("c1", 7, "assistant", "done", "", 7),
        # no tool calls at all: emits nothing
        ("c2", 0, "user", "hi", "", 0),
        ("c2", 1, "assistant", "hello", "", 1),
    ])
    rows = tool_chains(t).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["conv_id"] == "c1"
    assert r["n_calls"] == 3 and r["n_distinct_tools"] == 2
    assert r["first_tool"] == "lookup" and r["last_tool"] == "lookup"
    assert r["chain"] == "lookup>search>lookup"


def test_tool_transitions_skip_non_tool_turns(spark):
    from rdf_n3_spark.operators.conversations import tool_transitions

    t = _t(spark, [
        # lookup → (assistant turn between) → search → search
        ("c1", 0, "tool", "a", "lookup", 0),
        ("c1", 1, "assistant", "x", "", 1),
        ("c1", 2, "tool", "b", "search", 2),
        ("c1", 3, "tool", "c", "search", 3),
        # second conversation contributes another lookup→search
        ("c2", 0, "tool", "a", "lookup", 0),
        ("c2", 1, "tool", "b", "search", 1),
    ])
    got = {(r["tool_from"], r["tool_to"]): r.asDict()
           for r in tool_transitions(t).collect()}
    assert got[("lookup", "search")]["n"] == 2
    assert got[("lookup", "search")]["n_convs"] == 2
    assert got[("search", "search")]["n"] == 1
    assert got[("search", "search")]["n_convs"] == 1
    assert ("lookup", "lookup") not in got


def test_conv_dedup_identical_sequences_collapse(spark):
    from rdf_n3_spark.operators.conversations import conv_dedup

    t = _t(spark, [
        # c1 and c3 are byte-identical dialogues; c2 differs in text
        ("c1", 0, "user", "hi", "", 0),
        ("c1", 1, "assistant", "hello", "", 1),
        ("c3", 0, "user", "hi", "", 50),
        ("c3", 1, "assistant", "hello", "", 51),
        ("c2", 0, "user", "hi", "", 10),
        ("c2", 1, "assistant", "goodbye", "", 11),
    ])
    got = {r["conv_id"]: r.asDict() for r in conv_dedup(t).collect()}
    assert got["c1"]["fp"] == got["c3"]["fp"] != got["c2"]["fp"]
    assert got["c1"]["keep"] == 1 and got["c3"]["keep"] == 0
    assert got["c3"]["keeper_conv_id"] == "c1"
    assert got["c2"]["keep"] == 1


def test_conv_dedup_role_and_order_matter(spark):
    from rdf_n3_spark.operators.conversations import conv_dedup

    t = _t(spark, [
        # same texts, roles swapped
        ("a", 0, "user", "x", "", 0),
        ("a", 1, "assistant", "y", "", 1),
        ("b", 0, "assistant", "x", "", 0),
        ("b", 1, "user", "y", "", 1),
        # same (role, text) multiset, different turn order
        ("c", 0, "user", "y", "", 0),
        ("c", 1, "assistant", "x", "", 1),
    ])
    fps = {r["conv_id"]: r["fp"] for r in conv_dedup(t).collect()}
    assert len(set(fps.values())) == 3


def test_conv_dedup_partitioning_independent(spark):
    from rdf_n3_spark.operators.conversations import conv_dedup

    t = _t(spark, [
        ("c%d" % (i // 3), i % 3, "user", "t%d" % (i % 3), "", i)
        for i in range(30)
    ])
    a = sorted(map(tuple, conv_dedup(t.coalesce(1)).collect()))
    b = sorted(map(tuple, conv_dedup(t.repartition(16)).collect()))
    assert a == b and len(a) == 10
    # all 10 conversations are identical: one keeper
    assert sum(r[3] for r in a) == 1


def test_conv_dedup_null_text_matches_oracle(spark):
    """A NULL-text turn still counts toward the fingerprint on both
    engines: Spark's and DuckDB's concat_ws both skip the NULL, so the
    turn hashes as md5("assistant") and a conversation with an extra
    NULL-text turn is not a duplicate of its copy without it."""
    import duckdb

    import __spark_entry__ as entry_mod
    from rdf_n3_spark.operators.conversations import conv_dedup

    rows = [
        ("a", 0, "user", "hi", "", 0),
        ("a", 1, "assistant", None, "", 1),
        ("a", 2, "user", "bye", "", 2),
        ("b", 0, "user", "hi", "", 10),
        ("b", 1, "user", "bye", "", 12),
    ]
    t = _t(spark, rows)
    got = {r["conv_id"]: r.asDict() for r in conv_dedup(t).collect()}
    assert got["a"]["fp"] != got["b"]["fp"]
    assert got["a"]["keep"] == 1 and got["b"]["keep"] == 1

    # the oracle SQL over the same rows: swap the sf-derived
    # transcripts CTE for the hand-built table
    sql = entry_mod.oracle_sql()["conv_dedup"].replace(
        entry_mod._T, "transcripts AS (SELECT * FROM t_rows)")
    con = duckdb.connect()
    con.execute("CREATE TABLE t_rows (conv_id VARCHAR, turn_idx INTEGER, "
                "role VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO t_rows VALUES (?, ?, ?, ?)",
                    [r[:4] for r in rows])
    want = {r[0]: r for r in con.sql(sql).fetchall()}
    assert {c: (c, g["fp"], g["keeper_conv_id"], g["keep"])
            for c, g in got.items()} == want


def test_turn_templates_floor_and_conv_spread(spark):
    from rdf_n3_spark.operators.conversations import turn_templates

    t = _t(spark, [
        # "ok" appears 5x across 2 convs; "rare" twice; "once" once
        ("c1", 0, "assistant", "ok", "", 0),
        ("c1", 1, "assistant", "ok", "", 1),
        ("c1", 2, "assistant", "ok", "", 2),
        ("c2", 0, "assistant", "ok", "", 0),
        ("c2", 1, "assistant", "ok", "", 1),
        ("c1", 3, "user", "rare", "", 3),
        ("c2", 2, "user", "rare", "", 2),
        ("c2", 3, "user", "once", "", 3),
        # same text under a different role is a different template
        ("c2", 4, "user", "ok", "", 4),
    ])
    got = {(r["role"], r["text"]): r.asDict()
           for r in turn_templates(t, min_count=2).collect()}
    assert set(got) == {("assistant", "ok"), ("user", "rare")}
    assert got[("assistant", "ok")]["n"] == 5
    assert got[("assistant", "ok")]["n_convs"] == 2
    assert got[("user", "rare")]["n"] == 2
    # default floor drops everything below 5
    defaults = {(r["role"], r["text"])
                for r in turn_templates(t).collect()}
    assert defaults == {("assistant", "ok")}


def test_conv_segments_boundaries_and_running_index(spark):
    from rdf_n3_spark.operators.conversations import conv_segments

    t = _t(spark, [
        # turn 1 shares 2/4 of its union with turn 0 (50% ≥ 20%: same
        # segment); turn 2 shares nothing (boundary); turn 3 repeats
        # turn 2 verbatim (jaccard 1: same segment)
        ("c1", 0, "user", "alpha beta gamma", "", 0),
        ("c1", 1, "assistant", "alpha beta delta", "", 1),
        ("c1", 2, "user", "totally different topic", "", 2),
        ("c1", 3, "assistant", "totally different topic", "", 3),
    ])
    got = {r["turn_idx"]: r.asDict()
           for r in conv_segments(t).collect()}
    assert [got[i]["boundary"] for i in range(4)] == [1, 0, 1, 0]
    assert [got[i]["seg_idx"] for i in range(4)] == [0, 0, 1, 1]
    # exact rational sizes, not floats
    assert (got[1]["n_shared"], got[1]["n_union"]) == (2, 4)
    assert (got[3]["n_shared"], got[3]["n_union"]) == (3, 3)
    # first turn carries the null-lag convention: (0, 0) + boundary
    assert (got[0]["n_shared"], got[0]["n_union"]) == (0, 0)


def test_conv_segments_duplicate_tokens_and_threshold_edge(spark):
    from rdf_n3_spark.operators.conversations import conv_segments

    t = _t(spark, [
        # duplicate tokens inside a turn must count once (set algebra)
        ("c1", 0, "user", "a a a b", "", 0),
        ("c1", 1, "user", "b b c c c", "", 1),
        # exactly AT the threshold (1/5 = 20%) is NOT a boundary —
        # the test is strict-less-than
        ("c2", 0, "user", "p q r", "", 0),
        ("c2", 1, "user", "p s t", "", 1),
    ])
    got = {(r["conv_id"], r["turn_idx"]): r.asDict()
           for r in conv_segments(t, threshold_pct=20).collect()}
    assert (got[("c1", 1)]["n_shared"], got[("c1", 1)]["n_union"]) == (1, 3)
    assert got[("c2", 1)]["n_shared"] * 100 == 20 * got[("c2", 1)]["n_union"]
    assert got[("c2", 1)]["boundary"] == 0


def test_conv_segments_single_exchange_plan(spark):
    """Both windows and the token set algebra ride ONE conv_id
    exchange — no join, no second shuffle."""
    from rdf_n3_spark.operators.conversations import conv_segments

    t = _t(spark, [("c1", 0, "user", "a b", "", 0),
                   ("c1", 1, "user", "b c", "", 1)])
    plan = conv_segments(t)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
