"""Conversation-grain exact dedup (operators/conversations.conv_dedup)
on hand-built dialogues."""

from __future__ import annotations

import datetime

from rdf_n3_spark.operators.conversations import conv_dedup


def _t(spark, rows):
    return spark.createDataFrame(
        [(c, i, r, x, tool,
          datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s))
         for c, i, r, x, tool, s in rows],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")


def test_conv_dedup_identical_sequences_collapse(spark):
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
