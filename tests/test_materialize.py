"""Graph materialization: bucket layout, lineage commit point, and
checkpointed resume (north rule: node/edge tables partitioned by
entity-hash bucket, per-partition lineage rows + metric counters,
resumable)."""

from __future__ import annotations

import re

import duckdb
import pytest
from pyspark.sql import functions as F

import rdf_n3_spark.operators.materialize as mat
from rdf_n3_spark.operators.materialize import (
    N_BUCKETS,
    bucket_expr,
    committed_batches,
    graph_edges,
    graph_node_props,
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


def lineage(spark, root):
    """The committed lineage rows, less the commit time."""
    return sorted(map(tuple, spark.read.parquet(f"{root}/lineage").select(
        "table", "bucket", "n_rows", "content_hash").collect()))


def jobs_of(spark, group, action):
    """Run ``action`` under job group ``group`` between two marker jobs;
    return (the ids of every job it started, the ids of its jobs that
    the status tracker files under ``group``)."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(g, f):
        sc.setJobGroup(g, g)
        try:
            f()
        finally:
            sc._jsc.clearJobGroup()

    def marker(g):
        run(g, lambda: spark.range(1).collect())
        deadline = time.monotonic() + 30  # job events reach the tracker asynchronously
        while not tracker.getJobIdsForGroup(g) and time.monotonic() < deadline:
            time.sleep(0.1)
        return set(tracker.getJobIdsForGroup(g))

    first = marker(f"{group}-first")
    run(group, action)
    last = marker(f"{group}-last")
    # job ids are handed out in submission order, and the tracker has
    # seen every job before the last marker: the ids between the two
    # markers are exactly the action's jobs
    return set(range(max(first) + 1, min(last))), set(tracker.getJobIdsForGroup(group))


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
    def crash(*a, **k):
        raise RuntimeError("injected crash before the lineage append")

    root = str(tmp_path / "graph")
    monkeypatch.setattr(mat, "_commit_lineage", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        materialize_graph(spark, triples, root, batch_id="b001")
    monkeypatch.undo()
    for table in ("nodes", "edges", "node_props"):
        assert (tmp_path / "graph" / table / "batch=b001").is_dir()
    assert committed_batches(spark, root) == set()
    assert read_store(spark, root).count() == 0

    materialize_graph(spark, triples, root, batch_id="b001")
    clean = str(tmp_path / "clean")
    materialize_graph(spark, triples, clean, batch_id="b001")
    assert lineage(spark, root) == lineage(spark, clean)
    for table in ("nodes", "edges", "node_props"):
        df = read_graph(spark, root, table)
        assert df.count() == df.distinct().count() > 0, table


def test_materialize_set_semantics(spark, tmp_path):
    """Duplicate triples in a batch collapse (repository.rb:297-307)."""
    dup = spark.createDataFrame(TRIPLES + TRIPLES, "s string, p string, o string")
    root = str(tmp_path / "graph")
    m = materialize_graph(spark, dup, root, batch_id="b001")
    assert m["tables"]["edges"]["n_rows"] == 3


# a batch that fills several buckets of every table
WIDE = TRIPLES + [
    t for i in range(60) for t in (
        (f"sk:w{i}", ":refersTo", f"ent:e{i % 7}"),
        (f"sk:w{i}", ":inConv", f"conv:c{i % 5}"),
        (f"sk:w{i}", ":surface", f"E{i % 7}"),
    )
]


def test_lineage_equals_hash_of_the_planned_tables(spark, tmp_path):
    """The committed lineage rows are the per-bucket count and
    order-insensitive hash of each table as planned from the
    deduplicated triples, whatever way the commit computes them."""
    triples = spark.createDataFrame(WIDE + WIDE[:20], "s string, p string, o string")
    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")

    t = triples.dropDuplicates(["s", "p", "o"])
    p = F.lit(1_000_000_007)
    want = []
    for name, df in (("nodes", graph_nodes(t)), ("edges", graph_edges(t)),
                     ("node_props", graph_node_props(t))):
        cols = [c for c in df.columns if c != "bucket"]
        want += [(name, r["bucket"], r["n"], r["h"]) for r in df.groupBy("bucket").agg(
            F.count(F.lit(1)).alias("n"),
            F.pmod(F.sum(F.pmod(F.xxhash64(*cols), p)), p).alias("h")).collect()]
    assert len({b for name, b, _, _ in want if name == "edges"}) > 1
    assert lineage(spark, root) == sorted(want)


def test_failed_table_write_commits_nothing(spark, triples, tmp_path, monkeypatch):
    """One table's thread raising fails the whole call before the
    lineage append: nothing is committed, readers see an empty store,
    and a re-run commits what a clean run commits."""
    real = mat.graph_edges
    monkeypatch.setattr(mat, "graph_edges", lambda t: real(t).where(
        F.raise_error(F.lit("injected edges failure")).isNull()))
    root = str(tmp_path / "graph")
    with pytest.raises(Exception, match="injected edges failure"):
        materialize_graph(spark, triples, root, batch_id="b001")
    monkeypatch.undo()
    assert committed_batches(spark, root) == set()
    assert read_store(spark, root).count() == 0

    materialize_graph(spark, triples, root, batch_id="b001")
    clean = str(tmp_path / "clean")
    materialize_graph(spark, triples, clean, batch_id="b001")
    assert lineage(spark, root) == lineage(spark, clean)
    assert read_store(spark, root).count() == len(TRIPLES)


def test_table_jobs_run_in_the_callers_job_group(spark, triples, tmp_path):
    """Every job of the commit, the table writes on the pool threads
    included, runs under the caller's job group, so a caller that tags
    its stages finds the whole commit under its own group."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc._jsc.clearJobGroup()
        deadline = time.monotonic() + 30  # job events reach the tracker asynchronously
        while not tracker.getJobIdsForGroup(group) and time.monotonic() < deadline:
            time.sleep(0.1)
        return set(tracker.getJobIdsForGroup(group))

    first = in_group("mat-test-first", lambda: spark.range(1).collect())
    in_group("mat-test", lambda: materialize_graph(
        spark, triples, str(tmp_path / "graph"), batch_id="b001"))
    last = in_group("mat-test-last", lambda: spark.range(1).collect())
    # job ids are handed out in submission order, and the tracker has
    # seen every job before the last marker: the ids between the two
    # markers are exactly the commit's jobs
    ids = set(tracker.getJobIdsForGroup("mat-test"))
    assert len(ids) >= 3
    assert ids == set(range(max(first) + 1, min(last)))


def test_profile_jobs_run_in_the_callers_job_group(spark, triples, tmp_path):
    """``write_profile``'s concurrent aggregates, like the table commit,
    run every job under the caller's job group."""
    from rdf_n3_spark.operators.kb_stats import write_profile

    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    started, grouped = jobs_of(spark, "prof-test", lambda: write_profile(
        spark, read_store(spark, root), root, "b001", covers={"b001"}))
    assert len(grouped) >= 3
    assert grouped == started


def test_commit_without_pinned_threads(spark, triples, tmp_path, monkeypatch):
    """With pinned-thread mode off, ``inheritable_thread_target(spark)``
    returns the session, not a decorator; the commit still runs."""
    monkeypatch.setattr(mat, "inheritable_thread_target", lambda session: session)
    m = materialize_graph(spark, triples, str(tmp_path / "graph"), batch_id="b001")
    assert m["tables"]["edges"]["n_rows"] == 3


def test_commit_does_not_depend_on_the_arrow_setting(spark, triples, tmp_path):
    """With ``spark.sql.execution.arrow.pyspark.enabled`` false (Spark's
    default, what a spark-submit job gets) the lineage and the profile
    meta are written with the same rows and schema as with it true."""
    from rdf_n3_spark.operators.kb_stats import write_profile

    key = "spark.sql.execution.arrow.pyspark.enabled"

    def commit(root):
        root = str(tmp_path / root)
        materialize_graph(spark, triples, root, batch_id="b001")
        prof = write_profile(spark, read_store(spark, root), root, "b001", covers={"b001"})
        meta = spark.read.parquet(f"{prof}/meta")
        written = spark.read.parquet(f"{root}/lineage")
        return (lineage(spark, root), written.schema.simpleString(),
                [tuple(r) for r in meta.collect()], meta.schema.simpleString())

    prev = spark.conf.get(key)
    got = {}
    for value in ("false", "true"):
        spark.conf.set(key, value)
        try:
            got[value] = commit(value)
        finally:
            spark.conf.set(key, prev)
    off = got["false"]
    assert off == got["true"]
    assert off[1] == ("struct<batch_id:string,table:string,bucket:int,n_rows:bigint,"
                      "content_hash:bigint,committed_at:double>")
    assert off[2:] == ([("b001", "b001", 5)],
                       "struct<batch_id:string,covers:string,n_predicates:bigint>")


def test_repeat_read_of_an_unchanged_root_runs_no_job(spark, triples, tmp_path):
    """Once a root's snapshot is resolved, reading it again while its
    lineage is unchanged starts no Spark job: no lineage collect, and
    the scan frames are reused rather than rebuilt."""
    from rdf_n3_spark.operators.kb_stats import load_profile

    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    store = read_store(spark, root)
    edges = read_graph(spark, root, "edges")

    got = {}

    def reread():
        got.update(store=read_store(spark, root), edges=read_graph(spark, root, "edges"),
                   committed=committed_batches(spark, root),
                   profile=load_profile(spark, root))

    started, _ = jobs_of(spark, "snapshot-hit", reread)
    assert started == set()
    assert got["store"] is store and got["edges"] is edges
    assert got["committed"] == {"b001"}
    assert got["profile"] == (None, None)  # no profile written yet
    assert store.count() == len(TRIPLES)


def test_a_commit_is_seen_by_the_next_read(spark, triples, tmp_path):
    """A second commit in the same session changes the lineage listing,
    so every reader resolves the store again; the profile written for
    the first batch no longer covers the store until it is rewritten."""
    from rdf_n3_spark.operators.kb_stats import load_profile, write_profile

    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    write_profile(spark, read_store(spark, root), root, "b001", covers={"b001"})
    before = read_store(spark, root)
    assert before.count() == len(TRIPLES)
    assert read_graph(spark, root, "edges").count() == 3
    assert load_profile(spark, root)[0] is not None

    more = spark.createDataFrame([("sk:m3", ":refersTo", "ent:beta"),
                                  ("sk:m3", ":atTurn", "4")], "s string, p string, o string")
    materialize_graph(spark, more, root, batch_id="b002")
    store = read_store(spark, root)
    assert store is not before
    assert store.count() == len(TRIPLES) + 2
    assert read_graph(spark, root, "edges").count() == 4
    assert {r["batch"] for r in read_graph(spark, root, "node_props").collect()} == {
        "b001", "b002"}
    assert committed_batches(spark, root) == {"b001", "b002"}
    assert mat.commit_times(spark, root).keys() == {"b001", "b002"}
    assert load_profile(spark, root) == (None, None)

    write_profile(spark, store, root, "b002", covers=committed_batches(spark, root))
    counts, _ = load_profile(spark, root)
    assert counts[":atTurn"] == 1 and counts[":refersTo"] == 3


def test_snapshot_is_per_session_and_bounded(spark, triples, tmp_path):
    """Another session gets its own snapshot and frames, a commit made
    through it is seen by this session's next read, and the cache keeps
    at most a fixed number of roots."""
    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    mine = read_store(spark, root)
    other = spark.newSession()
    theirs = read_store(other, root)
    assert theirs is not mine and theirs.sparkSession is other
    more = other.createDataFrame([("sk:m3", ":refersTo", "ent:beta")],
                                 "s string, p string, o string")
    materialize_graph(other, more, root, batch_id="b002")
    assert committed_batches(spark, root) == {"b001", "b002"}
    assert read_store(spark, root).count() == len(TRIPLES) + 1

    roots = [str(tmp_path / f"empty{i}") for i in range(mat._SNAPSHOTS_MAX + 4)]
    for r in roots:
        assert committed_batches(spark, r) == set()
    assert len(mat._SNAPSHOTS) == mat._SNAPSHOTS_MAX
    assert (spark, roots[-1]) in mat._SNAPSHOTS and (spark, root) not in mat._SNAPSHOTS
    assert read_store(spark, root).count() == len(TRIPLES) + 1


def test_snapshot_cache_under_concurrent_readers(spark, triples, tmp_path):
    """Driver threads reading more roots than the cache holds, with
    frequent thread switches, all get the right committed sets, and the
    cache stays within its bound."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "graph")
    materialize_graph(spark, triples, root, batch_id="b001")
    roots = [root] + [str(tmp_path / f"empty{i}") for i in range(mat._SNAPSHOTS_MAX)]

    def reader(i):
        return [(r, committed_batches(spark, r)) for r in roots[i % 3::3]]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            results = [f.result(timeout=120) for f in [pool.submit(reader, i) for i in range(48)]]
    finally:
        sys.setswitchinterval(interval)
    for got in results:
        for r, committed in got:
            assert committed == ({"b001"} if r == root else set()), r
    assert len(mat._SNAPSHOTS) <= mat._SNAPSHOTS_MAX
