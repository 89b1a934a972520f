"""Fast tests of the benchmark itself (no Spark): generator determinism,
output checks that reject corrupted results, and metric names that
match BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from harness import Steps, Tracer  # noqa: E402

SEED = 11
N_CONVS = 120   # ~700 turns, sf0.001-sized
N_DOCS = 400


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(d, n), "rb") as f:
                h.update(n.encode() + f.read())
    return h.hexdigest()


def _write_inputs(out: str, seed: int) -> None:
    convs = gen.corpus(seed, N_CONVS)
    gen.write_parquet(gen.transcripts_table(convs), os.path.join(out, "t"), files=2)
    gen.write_sidecar(gen.build_truth(convs), os.path.join(out, "truth.json"))
    docs, truth = gen.n3_corpus(seed, N_DOCS)
    gen.write_parquet(docs, os.path.join(out, "docs"), files=2)
    gen.write_sidecar(truth, os.path.join(out, "docs.json"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_inputs(str(tmp_path / "a"), SEED)
    _write_inputs(str(tmp_path / "b"), SEED)
    _write_inputs(str(tmp_path / "c"), SEED + 1)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_generated_corpus_has_the_planted_properties():
    convs = gen.corpus(SEED, 2000)
    truth = gen.build_truth(convs)
    assert 0.15 < truth["hub_share"] < 0.25
    assert 0.05 < len(truth["duplicated_conv_ids"]) / truth["convs"] < 0.15
    # a copy always has a larger conv_id than its original, so
    # conv_dedup keeps the original
    by_id = {c.conv_id: c for c in convs}
    for cid in truth["duplicated_conv_ids"]:
        assert gen.conv_id(by_id[cid].group) < cid
    _, docs = gen.n3_corpus(SEED, 5000)
    assert 0.01 < len(docs["malformed"]) / docs["docs"] < 0.03


# --- kg_build: a store laid out like materialize_graph's ------------------

def _fake_store(root: str, convs: list, batch: str = "b0", commit: bool = True) -> None:
    """The edges/node_props/lineage parquet a correct job writes for
    ``convs`` (one batch; the node table is not read by the checks)."""
    keys = gen.mention_keys(convs)
    edges, props = [], []
    for conv, turn, pos, norm in sorted(keys):
        sk = f"sk:{conv}-{turn}-{pos}"
        edges += [(sk, ":inConv", f"conv:{conv}"), (sk, ":refersTo", f"ent:{norm}")]
        props += [(sk, "rdf:type", ":Mention"), (sk, ":surface", norm), (sk, ":atTurn", str(turn))]
    props += [(f"ent:{e}", ":mentionCount", str(n))
              for e, n in sorted(Counter(k[3] for k in keys).items())]
    for name, rows, obj in (("edges", edges, "o"), ("node_props", props, "val")):
        part = os.path.join(root, name, f"batch={batch}", "bucket=0")
        os.makedirs(part, exist_ok=True)
        cols = list(zip(*rows))
        pq.write_table(pa.table({"s": list(cols[0]), "p": list(cols[1]), obj: list(cols[2])}),
                       os.path.join(part, "part-00000.parquet"))
    if commit:
        os.makedirs(os.path.join(root, "lineage"), exist_ok=True)
        pq.write_table(pa.table({
            "batch_id": [batch, batch], "table": ["edges", "node_props"], "bucket": [0, 0],
            "n_rows": [len(edges), len(props)], "content_hash": [len(edges) * 7, len(props) * 7],
            "committed_at": [0.0, 0.0]}), os.path.join(root, "lineage", f"part-{batch}.parquet"))


@pytest.fixture()
def build_case(tmp_path):
    convs = gen.corpus(SEED, N_CONVS)
    root = str(tmp_path / "graph")
    _fake_store(root, convs)
    return root, convs, gen.build_truth(convs)


def test_check_build_accepts_a_correct_store(build_case):
    root, _, truth = build_case
    assert checks.check_build(checks.summarize_store(root), truth) == []


def test_check_build_ignores_uncommitted_batches(build_case):
    root, convs, truth = build_case
    _fake_store(root, convs[:10], batch="crashed", commit=False)
    assert checks.check_build(checks.summarize_store(root), truth) == []


def test_check_build_rejects_lost_rows(build_case):
    root, _, truth = build_case
    f = os.path.join(root, "edges", "batch=b0", "bucket=0", "part-00000.parquet")
    t = pq.read_table(f)
    pq.write_table(t.slice(0, t.num_rows - 3), f)
    problems = checks.check_build(checks.summarize_store(root), truth)
    assert any(p.startswith("triples") for p in problems)


def test_check_build_rejects_a_wrong_mention_count(build_case):
    root, _, truth = build_case
    f = os.path.join(root, "node_props", "batch=b0", "bucket=0", "part-00000.parquet")
    t = pq.read_table(f).to_pydict()
    i = t["p"].index(":mentionCount")
    t["val"][i] = str(int(t["val"][i]) + 1)
    pq.write_table(pa.table(t), f)
    problems = checks.check_build(checks.summarize_store(root), truth)
    assert any(p.startswith("mention_count_sum") for p in problems)


def test_check_build_rejects_skipped_dedup(tmp_path):
    # a job that ignored --dedup-input keeps the re-ingested copies
    convs = gen.corpus(SEED, N_CONVS)
    raw = [gen.Conv(c.idx, c.turns, c.mentions, c.idx) for c in convs]
    root = str(tmp_path / "graph")
    _fake_store(root, raw)
    assert checks.check_build(checks.summarize_store(root), gen.build_truth(convs))


def test_check_digest_rejects_a_changed_lineage(tmp_path):
    record = str(tmp_path / "out" / "seed.json")
    assert checks.check_digest("aaaa", record) == []
    assert checks.check_digest("aaaa", record) == []
    assert checks.check_digest("bbbb", record)


def test_program_digest_follows_the_sources(tmp_path):
    for rel, text in (("jobs/kg_construct.py", "main"), ("rdf_n3_spark/a.py", "x = 1")):
        os.makedirs(os.path.dirname(tmp_path / rel), exist_ok=True)
        (tmp_path / rel).write_text(text)
    first = checks.program_digest(str(tmp_path))
    os.makedirs(tmp_path / "rdf_n3_spark" / "__pycache__")
    (tmp_path / "rdf_n3_spark" / "__pycache__" / "a.py").write_text("cache")
    assert checks.program_digest(str(tmp_path)) == first
    (tmp_path / "rdf_n3_spark" / "a.py").write_text("x = 2")
    assert checks.program_digest(str(tmp_path)) != first


# --- kg_serve --------------------------------------------------------------

def _serve_truth():
    convs = gen.corpus(SEED, 150)
    batches = [convs[:100], convs[50:]]
    return gen.serve_truth(batches, batches[:1])


def test_check_serve_rejects_every_wrong_reader_output():
    truth = _serve_truth()
    good = {k: truth[t] for k, t in checks.SERVE_TRUTH_KEYS.items()}
    good["profile_used"] = 1
    assert checks.check_serve(good, truth) == []
    for k in checks.SERVE_TRUTH_KEYS:
        assert checks.check_serve(dict(good, **{k: good[k] + 1}), truth), k
    assert checks.check_serve(dict(good, profile_used=0), truth)


def test_serve_truth_counts_overlap_once():
    convs = gen.corpus(SEED, 150)
    one = gen.serve_truth([convs[:100]], [convs[:100]])
    assert one["diff_added"] == one["diff_removed"] == 0
    two = gen.serve_truth([convs[:100], convs[50:]], [convs[:100]])
    assert two["diff_added"] > 0 and two["diff_removed"] == 0
    assert two["store_rows"] > one["store_rows"]


# --- N3 documents: the real parser, no Spark -------------------------------

def _parse_all(docs: pa.Table) -> dict:
    from rdf_n3_spark.functions.n3_parser import parse_n3

    out = {}
    for d, text, base in zip(*(docs[c].to_pylist() for c in ("doc_id", "n3_text", "base_uri"))):
        try:
            out[d] = (len(parse_n3(text, base_uri=base)), True)
        except Exception:  # noqa: BLE001 — parse_documents' ok=false path
            out[d] = (1, False)
    return out


def test_sidecar_quad_counts_match_the_parser():
    docs, truth = gen.n3_corpus(SEED, N_DOCS)
    per_doc = _parse_all(docs)
    assert checks.check_parse(per_doc, truth["total_quads"], truth) == []


def test_check_parse_rejects_corrupted_parse_results():
    docs, truth = gen.n3_corpus(SEED, N_DOCS)
    per_doc = _parse_all(docs)
    bad = truth["malformed"][0]
    ok_doc = next(d for d, (_, ok) in per_doc.items() if ok)
    assert checks.check_parse(dict(per_doc, **{bad: (3, True)}), truth["total_quads"], truth)
    assert checks.check_parse(dict(per_doc, **{ok_doc: (1, False)}), truth["total_quads"], truth)
    n, _ = per_doc[ok_doc]
    assert checks.check_parse(dict(per_doc, **{ok_doc: (n - 1, True)}), truth["total_quads"], truth)
    assert checks.check_parse(per_doc, truth["total_quads"] - 1, truth)
    assert checks.check_parse({d: v for d, v in per_doc.items() if d != ok_doc},
                              truth["total_quads"], truth)


# --- the contract -----------------------------------------------------------

def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (u, _) in run.PER_LAYER.items()}
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [{"id": 0, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
                {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
                {"id": 2, "name": "b", "parent": 0, "start": 5.0, "end": 7.0}]
    selfs = {s["name"]: s["self"] for s in tr.self_times()}
    assert selfs == {"op": 5.0, "a": 3.0, "b": 2.0}


def test_steps_total_sums_each_steps_median():
    steps = Steps()
    for name, walls in (("a", [1.0, 9.0, 2.0]), ("b", [5.0, 4.0, 30.0])):
        for w in walls:
            with steps.time(name):
                pass
            steps.ops[name][-1].net = w
    # a burst in one step of one operation does not reach the total
    assert steps.total("net") == 2.0 + 5.0


def test_run_without_the_program_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "kg_build",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
