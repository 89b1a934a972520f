"""The spark-submit job entrypoint: runs, materializes, resumes.

The two resume tests run the job as ``python jobs/kg_construct.py``
subprocesses: that is the spark-submit path, with Spark's default conf
(Arrow off).  The stage tests call the job's ``main(argv)`` on the test
session, which saves a JVM start per job."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_job(graph_root, batch, sf_dir=SF_SMOKE):
    out = subprocess.run(
        [sys.executable, "jobs/kg_construct.py",
         "--sf-dir", sf_dir,
         "--graph-root", str(graph_root),
         "--batch-id", batch,
         "--repartition", "8"],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def job():
    """``jobs/kg_construct.py`` loaded as a module."""
    spec = importlib.util.spec_from_file_location(
        "kg_construct", os.path.join(REPO, "jobs", "kg_construct.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_main(job, *argv):
    """The job's ``main(argv)`` on the current session; returns the
    metrics line it prints."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert job.main([str(a) for a in argv]) == 0
    return json.loads(out.getvalue().strip().splitlines()[-1])


def test_job_runs_and_resumes(tmp_path):
    root = tmp_path / "graph"
    m = run_job(root, "b0")
    assert not m["skipped"]
    assert m["tables"]["edges"]["n_rows"] > 0
    assert m["tables"]["nodes"]["n_rows"] > 0
    # the mentions stage is staged under an input-fingerprint dir, so a
    # re-run of the same batch against a DIFFERENT input cannot reuse
    # stale mentions (ADVICE r2)
    staged = sorted(os.listdir(root / "mentions" / "batch=b0"))
    assert len(staged) == 1 and staged[0].startswith("input=")
    # same batch id again → lineage-gated no-op (checkpointed resume)
    m2 = run_job(root, "b0")
    assert m2 == {"skipped": True, "batch_id": "b0"}
    assert sorted(os.listdir(root / "mentions" / "batch=b0")) == staged


def test_job_restages_mentions_for_different_input(tmp_path):
    """Same batch-id, different input path → a fresh fingerprint dir
    (no silent reuse of stale staged mentions)."""
    root = tmp_path / "graph"
    run_job(root, "b0")
    alt = tmp_path / "sfalt"
    os.symlink(SF_SMOKE, alt)
    run_job(root, "b0", sf_dir=str(alt))
    staged = sorted(os.listdir(root / "mentions" / "batch=b0"))
    assert len(staged) == 2 and all(s.startswith("input=") for s in staged)


def test_job_profile_stage(tmp_path, spark, job):
    """--profile writes the KB statistics beside the graph: VoID
    per-predicate counts (the bgp order_patterns input) and the
    characteristic-set profile."""
    root = tmp_path / "graph"
    m = run_main(job, "--sf-dir", SF_SMOKE, "--graph-root", root, "--batch-id", "b0",
                 "--repartition", "8", "--profile")
    assert m["profile"].endswith("profile/batch=b0")
    import duckdb
    void = duckdb.sql(
        f"SELECT p, n_triples FROM '{m['profile']}/void/*.parquet'").fetchall()
    preds = {p for p, _ in void}
    assert {"rdf:type", ":refersTo", ":mentionCount"} <= preds
    cs = duckdb.sql(
        f"SELECT count(*) FROM '{m['profile']}/char_sets/*.parquet'").fetchone()
    assert cs[0] >= 2  # at least the mention shape and the entity shape


def test_job_relations_and_bgp_feedback(tmp_path, spark, job):
    """VERDICT r4 item 2, end to end: --relations unions mined
    relation triples into the materialized graph (lineage-gated like
    every other row), and run_bgp feeds the --profile output back into
    the planner — accepting it while the fingerprint matches the store
    and silently dropping it after a later batch commits."""
    root = tmp_path / "graph"
    m = run_main(job, "--sf-dir", SF_SMOKE, "--graph-root", root, "--batch-id", "b0",
                 "--repartition", "8", "--relations", "--profile")
    assert not m["skipped"] and m["profile"].endswith("profile/batch=b0")

    # mined relations landed in the EDGE table (ent:→ent: refs) with
    # the same batch lineage as the asserted triples
    run_bgp = job.run_bgp
    from rdf_n3_spark.operators.kb_stats import load_profile
    from rdf_n3_spark.operators.materialize import read_graph

    edges = read_graph(spark, str(root), "edges")
    rel = edges.where(edges.p.startswith(":rel_"))
    assert rel.count() > 0
    assert rel.select("batch").distinct().collect()[0]["batch"] == "b0"
    # and the profile saw them: the mined predicates are in the void
    counts, cards = load_profile(spark, str(root))
    assert counts is not None and any(p.startswith(":rel_") for p in counts)

    # planner feedback: profile-fed run_bgp equals the plain fold
    pats = [("?s", ":refersTo", "?o"), ("?s", "rdf:type", "?t")]
    from pyspark.sql import functions as F
    from rdf_n3_spark.plans.bgp import bgp

    store = (
        read_graph(spark, str(root), "edges").select("s", "p", "o")
        .unionByName(read_graph(spark, str(root), "node_props")
                     .select("s", "p", F.col("val").alias("o")))
    )
    want = {tuple(sorted(r.asDict().items()))
            for r in bgp(store, pats).collect()}
    assert len(want) > 0
    got = {tuple(sorted(r.asDict().items()))
           for r in run_bgp(spark, str(root), pats).collect()}
    assert got == want

    # a second batch commits WITHOUT refreshing the profile → the
    # guard rejects the stale statistics, run_bgp still answers
    run_main(job, "--sf-dir", SF_SMOKE, "--graph-root", root, "--batch-id", "b1",
             "--repartition", "8")
    assert load_profile(spark, str(root)) == (None, None)
    got2 = {tuple(sorted(r.asDict().items()))
            for r in run_bgp(spark, str(root), pats).collect()}
    assert got2 >= want


def test_job_export_nquads(tmp_path, spark, job):
    """--export-nquads writes the committed store as strict
    line-per-statement N-Triples text that the engine's own parser
    round-trips (term-exact after the urn:x-kg compact expansion)."""
    root = tmp_path / "graph"
    m = run_main(job, "--sf-dir", SF_SMOKE, "--graph-root", root, "--batch-id", "b0",
                 "--repartition", "8", "--export-nquads")
    assert m["export_nquads"].endswith("export/batch=b0")

    from pyspark.sql import functions as F

    from rdf_n3_spark.functions.n3_parser import parse_n3
    from rdf_n3_spark.operators.materialize import read_graph

    store = (
        read_graph(spark, str(root), "edges").select("s", "p", "o")
        .unionByName(read_graph(spark, str(root), "node_props")
                     .select("s", "p", F.col("val").alias("o")))
    )
    lines = [r["value"] for r in
             spark.read.text(m["export_nquads"]).collect()]
    assert len(lines) == store.count()
    assert all(li.startswith("<") and li.endswith(" .") for li in lines)
    # full round-trip through the engine's parser: one statement per
    # line, and every compact store term is recoverable from its
    # urn:x-kg expansion
    parsed = parse_n3("\n".join(lines))
    assert len(parsed) == len(lines)

    def compact(term):
        if term.startswith("<urn:x-kg:"):
            return term[len("<urn:x-kg:"):-1].replace("/", ":", 1)
        return term
    got = {(compact(s), compact(p), compact(o)) for s, p, o, _ in parsed}
    want = {(r["s"], r["p"], r["o"]) for r in store.collect()}
    assert got == want


def test_job_diff_against_stage(tmp_path, spark, job):
    """--diff-against publishes the cross-build delta: build root A
    from a truncated transcript slice and root B from the full table,
    then B --diff-against A must ship '+' rows (B's new statements,
    incl. changed :mentionCount values) and '-' rows (A's superseded
    counts), each verifiable against the two committed stores."""
    from pyspark.sql import functions as F

    from rdf_n3_spark.operators.materialize import read_store
    from rdf_n3_spark.sources.transcripts import transcripts

    t = transcripts(spark, SF_SMOKE)
    full_tbl = tmp_path / "t_full"
    part_tbl = tmp_path / "t_part"
    t.write.parquet(str(full_tbl))
    t.where(F.col("turn_idx") <= 3).write.parquet(str(part_tbl))

    root_a, root_b = tmp_path / "gA", tmp_path / "gB"
    for root, tbl, extra in [
        (root_a, part_tbl, []),
        (root_b, full_tbl, ["--diff-against", root_a]),
    ]:
        m = run_main(job, "--transcripts", tbl, "--graph-root", root, "--batch-id", "b0",
                     "--repartition", "8", *extra)
    assert m["delta"]["added"] > 0     # triples only the full build has
    assert m["delta"]["removed"] > 0   # stale :mentionCount literals
    delta = spark.read.parquet(m["delta"]["path"])
    assert delta.count() == m["delta"]["added"] + m["delta"]["removed"]
    # the delta is exactly the set difference of the committed stores
    a = read_store(spark, str(root_a))
    b = read_store(spark, str(root_b))
    got_added = {(r["s"], r["p"], r["o"]) for r in
                 delta.where(F.col("change") == "+").collect()}
    assert got_added == {tuple(r) for r in
                         b.distinct().subtract(a.distinct()).collect()}
    got_removed = {(r["s"], r["p"], r["o"]) for r in
                   delta.where(F.col("change") == "-").collect()}
    assert got_removed == {tuple(r) for r in
                           a.distinct().subtract(b.distinct()).collect()}


def test_job_dedup_input_stage(tmp_path, spark, job):
    """--dedup-input: a transcripts table with byte-identical
    conversations materializes the SAME graph as the pre-deduped
    input, publishes the conv-grain keep-map for audit, and stages
    mentions under a fingerprint distinct from a raw run."""
    from rdf_n3_spark.sources.transcripts import transcripts

    # input = sf0.001 transcripts ∪ an exact copy under new conv_ids
    t = transcripts(spark, SF_SMOKE)
    from pyspark.sql import functions as F

    dup = t.select(
        F.concat(F.lit("copy_"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts")
    both = tmp_path / "with_dups"
    t.unionByName(dup).write.parquet(str(both))
    clean = tmp_path / "clean"
    t.write.parquet(str(clean))

    def run(src, root, batch, *flags):
        return run_main(job, "--transcripts", src, "--graph-root", root,
                        "--batch-id", batch, "--repartition", "8", *flags)

    root_d = tmp_path / "graph_dedup"
    m = run(both, root_d, "b0", "--dedup-input")
    root_c = tmp_path / "graph_clean"
    run(clean, root_c, "b0")

    from rdf_n3_spark.operators.materialize import read_store

    got = sorted(map(tuple,
                     read_store(spark, str(root_d)).collect()))
    want = sorted(map(tuple,
                      read_store(spark, str(root_c)).collect()))
    # skolemized subjects derive from (conv_id, turn_idx, pos) — the
    # copies' conv_ids differ, so compare the dedup CLAIM instead:
    # same row count and same (p, o) multiset means each copy
    # contributed nothing
    assert len(got) == len(want)
    assert sorted((p, o) for _, p, o in got) \
        == sorted((p, o) for _, p, o in want)
    # keep-map published, one keeper per fingerprint pair
    km = spark.read.parquet(
        str(root_d / "curation" / "batch=b0" / "conv_dedup"))
    rows = km.collect()
    assert sum(r["keep"] for r in rows) * 2 == len(rows)
    # raw run of the same input under the same batch-id stages
    # mentions under a DIFFERENT fingerprint (no silent sharing)
    root_mix = tmp_path / "graph_mix"
    run(both, root_mix, "b0", "--dedup-input")
    run(both, root_mix, "b1")
    fps = set()
    for b in ("batch=b0", "batch=b1"):
        fps |= set(os.listdir(root_mix / "mentions" / b))
    assert len(fps) == 2


def test_dedup_fingerprint_tracks_conversations_source(monkeypatch, job):
    """Under --dedup-input the staged mentions depend on conv_dedup's
    choice of surviving turns, so a change to the conversations module
    must move them to a new staging dir; a raw run does not use it."""
    import inspect

    import rdf_n3_spark.operators.conversations as conversations_mod

    fp = job.input_fingerprint
    dedup, raw = fp("in", True, "struct<conv_id:string>"), fp("in", False, "struct<conv_id:string>")
    assert dedup != raw
    real = inspect.getsource
    monkeypatch.setattr(inspect, "getsource", lambda m: real(m) + (
        "\n# changed" if m is conversations_mod else ""))
    assert fp("in", True, "struct<conv_id:string>") != dedup
    assert fp("in", False, "struct<conv_id:string>") == raw
