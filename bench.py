#!/usr/bin/env python
"""Benchmark harness: headline KG-construction queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "turns_per_sec", "value": N, "unit": "turns/sec",
   "queries": {...per-query seconds...}, "sf": ..., "cpus": N, ...}

The headline metric (BASELINE.json) is triple-emission throughput in
turns/sec: wall time of the pipeline — transcripts table → mentions →
skolemized triples + entity aggregation — divided into the transcript
turn count. Scaling-efficiency runs live in bench_scaling.py →
BENCH/BASELINE.md.

Input protocol (contract-faithful): BASELINE.json's input_hint says the
pipeline input IS an Iceberg/parquet table of transcripts with
(conv_id, turn_idx, role, text, tool, ts). The sandbox derives that
table from the driver-generated lineitem parquet (sources/transcripts);
the derivation is INPUT PREP, not pipeline work, so the harness
materializes the table once (untimed, deterministic, 32 well-sized
files — a real corpus scan has thousands of splits) and times the
pipeline reading it.

Measurement hygiene for the single-JVM sandbox (established
empirically, see BENCH/BASELINE.md):
  * JVM pinned to the benchmarked core count (-XX:ActiveProcessorCount)
    so GC/JIT threads don't leak extra parallelism into small levels;
  * ParallelGC (throughput collector; lower variance than G1 here);
  * shuffle dirs on tmpfs (the virtual disk serializes parallel writes),
    in one per-run /dev/shm directory that also holds the materialized
    input and is removed when the run ends;
  * shuffle partitions sized to the DATA (64 ≈ corpus/64 fits memory),
    not the core count — a 2-core cluster and an 8-core cluster of the
    same total memory use the same partition size;
  * AQE off for the bench: partition counts are pre-sized here, so
    adaptive re-planning only adds per-stage driver latency (it stays
    ON in the engine's session defaults where sizes are dynamic);
  * the query plan is built once per JVM; each timed run wraps it in a
    fresh trivial filter — new QueryExecution, full recompute, but the
    one-time Py4J plan-construction cost (~2 s) is not billed to every
    run (a real job plans once and processes 100 TB).

Env knobs: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
SPARK_GRAFT_CPUS (default 32), BENCH_RUNS (default 5; BENCH_STAT
picks median (default) or min; the per-query min of the same runs is
always reported as queries_min for one-sided-noise diagnostics),
BENCH_QUERIES (comma-separated subset), SPARK_GRAFT_MULT (deterministic input
replication, default 10 → 6M turns at sf0.1).
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

from pyspark.sql import functions as F


def prepare_input(spark, sf_dir: str, mult: int, root: str,
                  files: int = 32) -> str:
    """Materialize the transcripts table (input_hint shape) under ``root``."""
    from rdf_n3_spark.sources.transcripts import transcripts

    path = os.path.join(root, f"transcripts{mult}.parquet")
    (
        transcripts(spark, sf_dir, mult=mult)
        .repartition(files, "conv_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


@contextlib.contextmanager
def bench_session(app: str, cpus: int):
    """(spark, scratch) for one bench run.  ``scratch`` is a fresh tmpfs
    directory that holds Spark's local dir and any materialized input;
    it is removed once the session has stopped."""
    from rdf_n3_spark.session import get_spark

    scratch = tempfile.mkdtemp(prefix=f"{app}-", dir="/dev/shm")
    try:
        spark = get_spark(
            app,
            cores=cpus,
            shuffle_partitions=64,
            extra={
                "spark.driver.extraJavaOptions":
                    f"-XX:ActiveProcessorCount={cpus} -XX:+UseParallelGC",
                "spark.local.dir": scratch,
                "spark.sql.adaptive.enabled": "false",
            },
        )
        try:
            yield spark, scratch
        finally:
            spark.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def timed_runs(q, runs: int, stat: str) -> tuple[float, float]:
    """Warm once, then time ``runs`` full recomputes of the built plan.

    Returns (chosen-stat, min).  The min rides along in the JSON as
    ``queries_min`` because this host's documented interference mode is
    one-sided 2-4× slowdown windows: when a round's median regresses
    with no explaining commit, its own min is the in-artifact evidence
    distinguishing noise from a real plan change (BENCH/BASELINE.md,
    "BENCH_r03 regression A/B")."""
    q.collect()  # warm: JIT, codegen cache, parquet footers
    times = []
    for i in range(runs):
        t0 = time.perf_counter()
        q.where(F.lit(i) >= 0).collect()  # new QueryExecution → no stage reuse
        times.append(time.perf_counter() - t0)
    agg = min if stat == "min" else statistics.median
    return round(agg(times), 4), round(min(times), 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # 5 timed runs per query: this host shows one-sided multi-second
    # interference spikes; a median of 5 tolerates two bad runs where a
    # median of 3 tolerates one (protocol unchanged — still the median
    # of full recomputes after one warm run)
    runs = int(os.environ.get("BENCH_RUNS", "5"))
    mult = int(os.environ.get("SPARK_GRAFT_MULT", "10"))
    stat = os.environ.get("BENCH_STAT", "median")

    from rdf_n3_spark.functions.text import keyword_topk, search_bm25
    from rdf_n3_spark.operators.canon import canonical_map
    from rdf_n3_spark.operators.conversations import conv_dedup
    from rdf_n3_spark.operators.curation import split_leakage
    from rdf_n3_spark.operators.dedup import minhash_neardup_pairs
    from rdf_n3_spark.operators.kb_stats import characteristic_sets
    from rdf_n3_spark.operators.mentions import extract_mentions
    from rdf_n3_spark.operators.relations import relation_candidates
    from rdf_n3_spark.operators.similarity import ivf_topk, ivf_topk_tables
    from rdf_n3_spark.operators.triples import entity_triples, mention_triples
    from rdf_n3_spark.sources.n3_sink import serialize_nquads
    from rdf_n3_spark.sources.n3_source import parse_documents

    with bench_session("bench", cpus) as (spark, scratch):
        transcripts_df = spark.read.parquet(
            prepare_input(spark, sf_dir, mult, scratch))
        n_turns = transcripts_df.count()

        def sink(df):
            """Force full evaluation without driver collect: fold every
            column through a hash (count alone would let Catalyst prune)."""
            h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))
            return df.select(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n"))

        m = extract_mentions(transcripts_df)
        kb = mention_triples(m).unionByName(entity_triples(m))
        docs = (
            transcripts_df.where(F.col("turn_idx") == 0)
            .select(
                F.col("conv_id").alias("doc_id"),
                F.regexp_extract("text", r"(:\S+ :suppliedBy :\S+ \.)$", 1).alias("n3_text"),
            )
        )
        parsed = parse_documents(docs).where(F.col("ok"))
        # training-data operators over the sf documents/embeddings tables
        # (size-independent of MULT; evidence rows, not the headline)
        docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
        embs_tbl = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        # BM25 retrieval over the same corpus-derived query set as the
        # driver row
        bm25_q = docs_tbl.where(F.col("doc_id") < 20).select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(
                " ", F.slice(F.split(F.lower("text"), " "), 1, 3)).alias("qtext"))

        # the headline, one representative per operator family (so its
        # regressions are bench-visible round-over-round), and the
        # transcripts-grain rows over the REPLICATED corpus, which must
        # scale with the headline
        plans = {
            "kg_pipeline": sink(kb),
            "n3_parse_udf": sink(parsed.select("doc_id", "s", "p", "o")),
            # flat-export path: parse + line-per-statement N-Quads
            # serialization (the zero-shuffle sink a 100 TB export job
            # writes); the delta over n3_parse_udf is the serialization
            # cost itself
            "n3_write_nquads": sink(serialize_nquads(parsed.select("s", "p", "o"))),
            "entity_canon": sink(canonical_map(extract_mentions(transcripts_df))),
            "dedup_minhash": sink(minhash_neardup_pairs(docs_tbl)),
            "ann_ivf_multiprobe": sink(ivf_topk(embs_tbl, hamming=1).drop("cos")),
            "keyword_topk": sink(keyword_topk(docs_tbl)),
            "relation_candidates": sink(relation_candidates(transcripts_df)),
            "kb_char_sets": sink(characteristic_sets(kb)),
            "ann_ivf_multitable": sink(ivf_topk_tables(embs_tbl).drop("cos")),
            "search_bm25": sink(search_bm25(docs_tbl, bm25_q)),
            # the minhash pair set + narrow split map — its delta vs the
            # dedup_minhash row IS the audit's marginal cost
            "split_leakage": sink(split_leakage(docs_tbl)),
            # the conversation-grain exact dedup (collect_list fold +
            # conv-grain window) over the REPLICATED corpus
            "conv_dedup": sink(conv_dedup(transcripts_df)),
        }
        # BENCH_QUERIES: comma-separated subset to time (default: all).
        # bench_scaling.py restricts to the headline rows so the scaling
        # rounds don't pay for every evidence row.
        subset = os.environ.get("BENCH_QUERIES", "")
        names = [n.strip() for n in subset.split(",") if n.strip()] or list(plans)
        timed = {n: timed_runs(plans[n], runs, stat) for n in names}
        per_query = {n: v[0] for n, v in timed.items()}
        per_query_min = {n: v[1] for n, v in timed.items()}
        # headline only when the headline query is in the timed subset
        # (BENCH_QUERIES evidence-row probes would otherwise KeyError)
        kg_s = per_query.get("kg_pipeline")
        kg_min = per_query_min.get("kg_pipeline")
        print(json.dumps({
            "metric": "turns_per_sec",
            "value": round(n_turns / kg_s, 1) if kg_s else None,
            "unit": "turns/sec",
            "queries": per_query,
            # one-sided-noise diagnostics: per-query min of the same runs
            # (and the headline recomputed at the min) — see timed_runs
            "queries_min": per_query_min,
            "value_at_min": round(n_turns / kg_min, 1) if kg_min else None,
            "sf": sf_dir,
            "cpus": cpus,
            "turns": n_turns,
            "mult": mult,
            "stat": stat,
            "total_sec": round(sum(per_query.values()), 3),
        }))


if __name__ == "__main__":
    sys.exit(main())
