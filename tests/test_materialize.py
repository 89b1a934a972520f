"""Graph materialization: bucket layout, lineage commit point, and
checkpointed resume (north rule: node/edge tables partitioned by
entity-hash bucket, per-partition lineage rows + metric counters,
resumable)."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from rdf_n3_spark.operators.materialize import (
    N_BUCKETS,
    bucket_expr,
    committed_batches,
    graph_edges,
    graph_nodes,
    materialize_graph,
    read_graph,
    read_store,
)

TRIPLES = [
    ("sk:m1", "rdf:type", ":Mention"),
    ("sk:m1", ":refersTo", "ent:alpha"),
    ("sk:m1", ":inConv", "conv:c1"),
    ("sk:m2", ":refersTo", "ent:alpha"),
    ("sk:m2", ":surface", "Alpha"),
    ("ent:alpha", ":mentionCount", "2"),
]


@pytest.fixture
def triples(spark):
    return spark.createDataFrame(TRIPLES, "s string, p string, o string")


def test_bucket_expr_matches_duckdb_oracle(spark):
    ids = ["ent:alpha", "conv:c1", "sk:abc123", "ent:part_hub", "x"]
    got = {
        r["v"]: r["b"]
        for r in spark.createDataFrame([(i,) for i in ids], "v string")
        .select("v", bucket_expr("v").alias("b"))
        .collect()
    }
    for i in ids:
        want = duckdb.sql(
            f"SELECT ('0x' || substr(md5('{i}'), 1, 8))::BIGINT % {N_BUCKETS} AS b"
        ).fetchone()[0]
        assert got[i] == want, i


def test_graph_nodes_degrees(spark, triples):
    rows = {r["node_id"]: r for r in graph_nodes(triples).collect()}
    assert rows["sk:m1"]["out_degree"] == 3
    assert rows["sk:m1"]["in_degree"] == 0
    assert rows["ent:alpha"]["in_degree"] == 2
    assert rows["ent:alpha"]["out_degree"] == 1
    assert rows["ent:alpha"]["kind"] == "ent"
    assert rows["conv:c1"]["out_degree"] == 0
    assert all(0 <= r["bucket"] < N_BUCKETS for r in rows.values())


def test_graph_edges_are_node_refs_only(spark, triples):
    objs = {r["o"] for r in graph_edges(triples).collect()}
    assert objs == {"ent:alpha", "conv:c1"}


def test_materialize_commit_resume_roundtrip(spark, triples, tmp_path):
    root = str(tmp_path / "graph")

    m1 = materialize_graph(spark, triples, root, batch_id="b001")
    assert not m1["skipped"]
    assert m1["tables"]["nodes"]["n_rows"] == 4  # sk:m1 sk:m2 ent:alpha conv:c1
    assert m1["tables"]["edges"]["n_rows"] == 3
    assert committed_batches(spark, root) == {"b001"}

    # resume: same batch id is a no-op
    m2 = materialize_graph(spark, triples, root, batch_id="b001")
    assert m2["skipped"]

    # a second batch appends; reader sees both
    more = spark.createDataFrame(
        [("sk:m3", ":refersTo", "ent:beta")], "s string, p string, o string"
    )
    materialize_graph(spark, more, root, batch_id="b002")
    edges = read_graph(spark, root, "edges")
    assert edges.count() == 4
    assert set(edges.select("batch").distinct().toPandas()["batch"]) == {"b001", "b002"}


def test_reader_ignores_uncommitted_batch(spark, triples, tmp_path):
    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    # simulate a crash AFTER data files, BEFORE the lineage commit:
    # write edge files for batch=zzz directly, no lineage row
    graph_edges(spark.createDataFrame([("sk:x", ":refersTo", "ent:zzz")],
                                      "s string, p string, o string")) \
        .withColumn("batch", F.lit("zzz")) \
        .write.mode("append").partitionBy("batch", "bucket") \
        .parquet(f"{root}/edges")
    edges = read_graph(spark, root, "edges")
    assert set(edges.select("batch").distinct().toPandas()["batch"]) == {"b001"}


def test_reader_keeps_numeric_looking_batch_ids_apart(spark, triples, tmp_path):
    """batch=01 is committed, batch=1 is not: a reader that inferred the
    partition type would read both as int 1 and let the uncommitted
    files through the gate."""
    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="01")
    graph_edges(spark.createDataFrame([("sk:x", ":refersTo", "ent:zzz")],
                                      "s string, p string, o string")) \
        .withColumn("batch", F.lit("1")) \
        .write.mode("append").partitionBy("batch", "bucket") \
        .parquet(f"{root}/edges")
    edges = read_graph(spark, root, "edges")
    assert dict(edges.dtypes)["batch"] == "string"
    assert [r["batch"] for r in edges.select("batch").distinct().collect()] == ["01"]
    assert edges.count() == 3


def test_read_store_prunes_uncommitted_batches_at_plan_time(spark, triples, tmp_path):
    """The lineage gate is a static partition filter on each scan, not a
    join evaluated per query."""
    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    store = read_store(spark, root)
    assert store.count() == len(TRIPLES)
    plan = store._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert len(scans) == 2, plan
    assert all(re.search(r"PartitionFilters: \[[^\]]*batch#\d+", ln) for ln in scans), plan


def test_unreadable_lineage_raises(spark, triples, tmp_path):
    """A lineage table that exists but cannot be read is an error, not
    "nothing committed": the readers would otherwise return an empty
    store and the writer would re-commit the batch."""
    from rdf_n3_spark.operators.kb_stats import load_profile

    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    assert committed_batches(spark, root) == {"b001"}
    (part,) = (tmp_path / "graph" / "lineage").glob("part-*.parquet")
    part.write_bytes(b"not a parquet file")
    for reader in (committed_batches, lambda s, r: read_store(s, r).count(), load_profile):
        with pytest.raises(Exception, match="(?i)parquet"):
            reader(spark, root)


def test_crash_before_lineage_commit_resumes_cleanly(spark, triples, tmp_path,
                                                     monkeypatch):
    """A crash after all three table writes and before the lineage
    append commits nothing; re-running the same batch id rewrites its
    files and commits exactly what a clean run into a fresh root
    commits, with no duplicate rows."""
    import types

    import rdf_n3_spark.operators.materialize as mat

    def crash(*a, **k):
        raise RuntimeError("injected crash before the lineage append")

    root = str(tmp_path / "graph")
    monkeypatch.setattr(mat, "pd", types.SimpleNamespace(DataFrame=crash))
    with pytest.raises(RuntimeError, match="injected crash"):
        materialize_graph(spark, triples, root, batch_id="b001")
    monkeypatch.undo()
    for table in ("nodes", "edges", "node_props"):
        assert (tmp_path / "graph" / table / "batch=b001").is_dir()
    assert committed_batches(spark, root) == set()
    assert read_store(spark, root).count() == 0

    def lineage(r):
        return sorted(map(tuple, mat.read_lineage(spark, r).select(
            "table", "bucket", "n_rows", "content_hash").collect()))

    materialize_graph(spark, triples, root, batch_id="b001")
    clean = str(tmp_path / "clean")
    materialize_graph(spark, triples, clean, batch_id="b001")
    assert lineage(root) == lineage(clean)
    for table in ("nodes", "edges", "node_props"):
        df = read_graph(spark, root, table)
        assert df.count() == df.distinct().count() > 0, table


def test_materialize_set_semantics(spark, tmp_path):
    """Duplicate triples in a batch collapse (repository.rb:297-307)."""
    dup = spark.createDataFrame(TRIPLES + TRIPLES, "s string, p string, o string")
    root = str(tmp_path / "graph")
    m = materialize_graph(spark, dup, root, batch_id="b001")
    assert m["tables"]["edges"]["n_rows"] == 3
