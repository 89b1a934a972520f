"""Output checks.  Each returns a list of problems (empty = correct);
any problem counts the operation as failed.

The store is read back with pyarrow, not through the program's own
reader, so a bug in ``read_store`` cannot hide a bug in the writer.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds


def read_parquet(path: str, columns: list):
    """A parquet directory written by Spark (hive-style partitions)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def per_doc(parsed) -> dict:
    """doc_id → (rows, ok) of a ``parse_documents`` output table."""
    out: dict = {}
    for d, ok in zip(parsed["doc_id"].to_pylist(), parsed["ok"].to_pylist()):
        n, all_ok = out.get(d, (0, True))
        out[d] = (n + 1, all_ok and ok)
    return out


def summarize_store(root: str) -> dict:
    """Row counts, ``:mentionCount`` totals and the lineage digest of
    the committed batches of a store written by ``materialize_graph``."""
    lin = read_parquet(os.path.join(root, "lineage"),
                       ["batch_id", "table", "bucket", "n_rows", "content_hash"])
    committed = pa.array(sorted(set(lin["batch_id"].to_pylist())), pa.string())
    edges = read_parquet(os.path.join(root, "edges"), ["batch", "p", "o"])
    props = read_parquet(os.path.join(root, "node_props"), ["batch", "p", "val"])
    edges = edges.filter(pc.is_in(edges["batch"], value_set=committed))
    props = props.filter(pc.is_in(props["batch"], value_set=committed))
    counts = props.filter(pc.equal(props["p"], ":mentionCount"))["val"]
    lineage = sorted(zip(lin["batch_id"].to_pylist(), lin["table"].to_pylist(),
                         lin["bucket"].to_pylist(), lin["n_rows"].to_pylist(),
                         lin["content_hash"].to_pylist()))
    return {
        "triples": edges.num_rows + props.num_rows,
        "entities": len(counts),
        "mention_count_sum": sum(int(v) for v in counts.to_pylist()),
        "hub_refs": edges.filter(pc.equal(edges["o"], "ent:part_hub")).num_rows,
        "lineage_rows": sum(r[3] for r in lineage if r[1] in ("edges", "node_props")),
        "lineage_digest": hashlib.sha256(
            json.dumps([r[1:] for r in lineage]).encode()).hexdigest(),
    }


def check_build(store: dict, truth: dict) -> list:
    """kg_build: the committed store against the generator's sidecar."""
    want = {
        "triples": truth["store_triples"],
        "entities": truth["distinct_entities"],
        "mention_count_sum": truth["kept_mentions"],
        "hub_refs": truth["mentions_per_entity"].get("part_hub", 0),
        "lineage_rows": truth["store_triples"],
    }
    return [f"{k}: store has {store[k]}, expected {v}"
            for k, v in want.items() if store[k] != v]


def program_digest(root: str, *inputs: str) -> str:
    """sha256 over the sources of the job and its library and every file
    under the ``inputs`` directories, so a digest record is compared only
    across runs of the same code on the same input."""
    h = hashlib.sha256()
    files = [os.path.join(root, "jobs", "kg_construct.py")]
    for d, dirs, names in os.walk(os.path.join(root, "rdf_n3_spark")):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for top in inputs:
        files += [os.path.join(d, n) for d, _, names in os.walk(top) for n in names]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, root).encode() + b"\0" + fh.read())
    return h.hexdigest()


def check_digest(digest: str, record: str) -> list:
    """Lineage content hashes must not change between runs of one seed
    and one version of the program: the first run records the digest,
    later runs compare with it."""
    if os.path.exists(record):
        with open(record) as f:
            seen = json.load(f)["lineage_digest"]
        return [] if seen == digest else [f"lineage digest {digest[:12]} != {seen[:12]} "
                                          f"recorded for this seed"]
    os.makedirs(os.path.dirname(record), exist_ok=True)
    with open(record, "w") as f:
        json.dump({"lineage_digest": digest}, f)
    return []


SERVE_TRUTH_KEYS = {
    "hub_rows": "hub_mentions",
    "rare_rows": "rare_mentions",
    "star_rows": "turn0_mentions",
    "agg_join_rows": "mention_count_join",
    "export_lines": "store_rows",
    "diff_added": "diff_added",
    "diff_removed": "diff_removed",
    "inferred_rows": "entity_conv_pairs",
}


def check_serve(observed: dict, truth: dict) -> list:
    """kg_serve: every observed reader output present in ``observed``
    against the store truth; ``profile_used`` must be 1."""
    problems = [f"{k}: got {observed[k]}, expected {truth[t]}"
                for k, t in SERVE_TRUTH_KEYS.items()
                if k in observed and observed[k] != truth[t]]
    if observed.get("profile_used", 1) != 1:
        problems.append("profile_used: the planner ignored the written profile")
    return problems


def check_parse(per_doc: dict, export_lines: int, truth: dict) -> list:
    """N3 documents: ``per_doc`` maps doc_id to (rows, ok).  Failed
    documents must be exactly the planted malformed set, every other
    document must yield the sidecar's quad count, and the N-Quads
    export must hold one line per quad."""
    problems = []
    if set(per_doc) != set(truth["quads"]):
        problems.append(f"{len(set(truth['quads']) ^ set(per_doc))} documents "
                        "missing from or added to the parse output")
    failed = {d for d, (_, ok) in per_doc.items() if not ok}
    if failed != set(truth["malformed"]):
        problems.append(f"ok=false on {len(failed)} documents, "
                        f"{len(truth['malformed'])} planted malformed")
    wrong = [d for d, (n, ok) in per_doc.items() if ok and n != truth["quads"].get(d)]
    if wrong:
        problems.append(f"{len(wrong)} documents with a wrong quad count, e.g. {wrong[0]}")
    if export_lines != truth["total_quads"]:
        problems.append(f"export has {export_lines} lines, expected {truth['total_quads']}")
    return problems
