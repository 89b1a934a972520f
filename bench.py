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
  * shuffle dirs on tmpfs (the virtual disk serializes parallel writes);
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

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F


def prepare_input(spark, sf_dir: str, mult: int, files: int = 32) -> str:
    """Materialize the transcripts table (input_hint shape) once."""
    from rdf_n3_spark.sources.transcripts import transcripts

    base = f"/dev/shm/bench-input-{os.path.basename(sf_dir.rstrip('/'))}"
    path = os.path.join(base, f"transcripts{mult}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            transcripts(spark, sf_dir, mult=mult)
            .repartition(files, "conv_id")
            .write.mode("overwrite")
            .parquet(path)
        )
    return path


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

    from rdf_n3_spark.session import get_spark
    from rdf_n3_spark.operators.canon import canonical_map
    from rdf_n3_spark.operators.dedup import minhash_neardup_pairs
    from rdf_n3_spark.operators.mentions import extract_mentions
    from rdf_n3_spark.operators.similarity import ivf_topk
    from rdf_n3_spark.operators.triples import entity_triples, mention_triples
    from rdf_n3_spark.sources.n3_source import parse_documents

    spark = get_spark(
        "bench",
        cores=cpus,
        shuffle_partitions=64,
        extra={
            "spark.driver.extraJavaOptions":
                f"-XX:ActiveProcessorCount={cpus} -XX:+UseParallelGC",
            "spark.local.dir": "/dev/shm/spark-bench",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    table = prepare_input(spark, sf_dir, mult)
    transcripts_df = spark.read.parquet(table)
    n_turns = transcripts_df.count()

    def sink(df):
        """Force full evaluation without driver collect: fold every
        column through a hash (count alone would let Catalyst prune)."""
        h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))
        return df.select(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n"))

    m = extract_mentions(transcripts_df)
    kg = sink(mention_triples(m).unionByName(entity_triples(m)))

    docs = (
        transcripts_df.where(F.col("turn_idx") == 0)
        .select(
            F.col("conv_id").alias("doc_id"),
            F.regexp_extract("text", r"(:\S+ :suppliedBy :\S+ \.)$", 1).alias("n3_text"),
        )
    )
    parse = sink(parse_documents(docs).where(F.col("ok")).select("doc_id", "s", "p", "o"))
    canon = sink(canonical_map(extract_mentions(transcripts_df)))

    # flat-export path: parse + line-per-statement N-Quads serialization
    # (the zero-shuffle sink a 100 TB export job writes); the delta over
    # n3_parse_udf is the serialization cost itself
    from rdf_n3_spark.sources.n3_sink import serialize_nquads

    nquads = sink(serialize_nquads(
        parse_documents(docs).where(F.col("ok")).select("s", "p", "o")))

    # training-data operators over the sf documents/embeddings tables
    # (size-independent of MULT; evidence rows, not the headline)
    docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
    embs_tbl = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    minhash = sink(minhash_neardup_pairs(docs_tbl))
    ann = sink(ivf_topk(embs_tbl, hamming=1).drop("cos"))

    # one representative per round-3 family (VERDICT r3 item 6), so
    # their regressions are bench-visible round-over-round:
    # substrings / text-search / graph-analytics
    from rdf_n3_spark.operators.graph_algo import (
        cooccurrence_edges,
        triangle_counts,
    )
    from rdf_n3_spark.functions.text import keyword_topk
    from rdf_n3_spark.operators.substrings import dup_spans
    from rdf_n3_spark.sources.transcripts import transcripts as mk_transcripts

    substr = sink(dup_spans(docs_tbl, k=8))
    kw = sink(keyword_topk(docs_tbl))
    # weight ≥ 3: the curation noise floor (entities co-occurring in
    # <3 conversations are incidental).  The UNFILTERED sf0.1 hub graph
    # is a ~1000-node quasi-clique whose exact triangle OUTPUT costs
    # ~190 s regardless of algorithm (measured; BENCH/BASELINE.md) —
    # an output-size fact, not a plan defect; the operator's
    # max_degree celebrity cap is the documented mitigation.
    m1 = extract_mentions(mk_transcripts(spark, sf_dir, mult=1))
    tri = sink(triangle_counts(
        cooccurrence_edges(m1, group="conv_id", node="norm")
        .where(F.col("weight") >= 3)))

    # one representative per round-4/5 family (VERDICT r4 item 6):
    # relation mining + KB profile (both scan-heavy aggregations over
    # the REPLICATED corpus — they must scale with the headline), the
    # mergeable-sketch family, and the multi-table ANN index
    from rdf_n3_spark.operators.kb_stats import characteristic_sets
    from rdf_n3_spark.operators.relations import relation_candidates
    from rdf_n3_spark.operators.sketch import (
        bloom_decontaminate,
        kmv_distinct_tokens,
        token_heavy_hitters,
    )
    from rdf_n3_spark.operators.similarity import ivf_topk_tables

    # conversation-grain profile over the REPLICATED corpus (scales
    # with the headline)
    from rdf_n3_spark.operators.conversations import (
        conv_dedup,
        conversation_stats,
        sft_pairs,
        turn_transitions,
    )

    conv = sink(conversation_stats(transcripts_df).drop(
        "first_ts", "last_ts"))
    trans = sink(turn_transitions(transcripts_df))
    # round-5 transcripts-grain additions, both over the REPLICATED
    # corpus (they must scale with the headline): the SFT pair
    # constructor (one lead window) and the conversation-grain exact
    # dedup (collect_list fold + conv-grain window)
    sft = sink(sft_pairs(transcripts_df))
    cdedup = sink(conv_dedup(transcripts_df))
    # topic segmentation over the REPLICATED corpus (one conv_id
    # exchange + in-row set algebra — must track the headline)
    from rdf_n3_spark.operators.conversations import conv_segments

    segs = sink(conv_segments(transcripts_df))

    # temporal-KB family: fold three sliding KB builds over the
    # REPLICATED corpus into validity intervals (diff + window), and
    # the corrupt-tail negative draw over the :refersTo edges
    from rdf_n3_spark.operators.triples import (
        kb_history_snapshots,
        kg_negatives,
    )

    # evidence rows over the UNREPLICATED corpus (mult-independent,
    # like triangle_counts/pagerank): the operators' real input
    # contract is MATERIALIZED stores (a nightly rebuild folds parquet
    # snapshots; negatives draw from a committed triple table), so the
    # snapshot builds are checkpointed once in setup — otherwise Spark
    # recomputes each snapshot subtree per consumer (the negative draw
    # scans its input four times) and the row times corpus
    # re-tokenization, not the operator.  The fold itself is
    # data-sized by nature (one (s,p,o) exchange over ALL snapshots),
    # measured at mult=10 in BENCH/BASELINE.md.
    t1 = mk_transcripts(spark, sf_dir, mult=1)

    def _kb_slice(lo, hi):
        mm = extract_mentions(t1.where(F.col("turn_idx").between(lo, hi)))
        return (mention_triples(mm).unionByName(entity_triples(mm))
                .localCheckpoint())

    snaps = [(0, _kb_slice(0, 3)), (1, _kb_slice(1, 4)),
             (2, _kb_slice(2, 5))]
    # the one-exchange snapshot fold (kb_history_snapshots) IS the
    # rebuild-pipeline scale path; the diff-stream pair is equality-
    # pinned to it in tests and adds nothing bench-wise but shuffles
    hist = sink(
        kb_history_snapshots(snaps)
        .select("s", "p", "o", "valid_from",
                F.coalesce("valid_to", F.lit(-1)).alias("valid_to")))
    refs = (mention_triples(m1).where(F.col("p") == ":refersTo")
            .localCheckpoint())
    negs = sink(kg_negatives(refs, k=2))

    # round-5 closing additions: BM25 retrieval (same corpus-derived
    # query set as the driver row) and the seed-set k-hop harvest —
    # one row per new family
    from rdf_n3_spark.functions.text import search_bm25
    from rdf_n3_spark.operators.graph_algo import khop_neighbors

    bm25_q = docs_tbl.where(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.lower("text"), " "), 1, 3)).alias("qtext"))
    bm25 = sink(search_bm25(docs_tbl, bm25_q))
    # the harvest's input contract is a MATERIALIZED edge table (same
    # convention as kb_history/kg_negatives) — without the checkpoint
    # every hop's eager localCheckpoint re-derives the co-mention
    # groupBy self-join and the row times graph construction instead
    khop_edges = (cooccurrence_edges(m1, group="conv_id", node="norm")
                  .localCheckpoint())
    khop_seeds = spark.createDataFrame(
        [("part_hub",), ("supp_1",)], "seed string")

    # last round-5 family pair: LPA communities over the same
    # materialized edge table, and the split-leakage audit (the
    # minhash pair set + narrow split map — its delta vs the
    # dedup_minhash row IS the audit's marginal cost)
    from rdf_n3_spark.operators.curation import split_leakage
    from rdf_n3_spark.operators.graph_algo import lpa_communities

    def timed_lpa() -> tuple[float, float]:
        # per-round eager localCheckpoint (like PageRank/khop): each
        # timed run must re-invoke the operator itself
        def run():
            t0 = time.perf_counter()
            sink(lpa_communities(khop_edges, rounds=2)).collect()
            return time.perf_counter() - t0
        run()  # warm
        times = [run() for _ in range(runs)]
        agg = min if stat == "min" else statistics.median
        return round(agg(times), 4), round(min(times), 4)

    leak = sink(split_leakage(docs_tbl))

    # link-prediction evidence row (mult-independent like the other
    # graph rows), at the SAME weight ≥ 3 curation noise floor as the
    # triangle row: the unfiltered sf0.1 hub graph's wedge set through
    # even capped mids costs ~130 s — an input-density fact (incidental
    # co-occurrence edges), not a plan defect
    from rdf_n3_spark.operators.graph_algo import linkpred_scores

    linkpred_edges = (khop_edges.where(F.col("weight") >= 3)
                      .localCheckpoint())
    linkpred = sink(linkpred_scores(linkpred_edges, max_degree=400,
                                    min_common=16))

    def timed_khop() -> tuple[float, float]:
        # khop_neighbors checkpoints per hop eagerly (like PageRank),
        # so each timed run must re-invoke the operator itself
        def run():
            t0 = time.perf_counter()
            sink(khop_neighbors(khop_edges, khop_seeds, k=2)).collect()
            return time.perf_counter() - t0
        run()  # warm
        times = [run() for _ in range(runs)]
        agg = min if stat == "min" else statistics.median
        return round(agg(times), 4), round(min(times), 4)

    rel = sink(relation_candidates(transcripts_df))
    cs = sink(characteristic_sets(
        mention_triples(m).unionByName(entity_triples(m))))
    # predicate domain/range signatures over the same replicated KB
    from rdf_n3_spark.operators.kb_stats import predicate_signatures

    sigs = sink(predicate_signatures(
        mention_triples(m).unionByName(entity_triples(m))))
    kmv = sink(kmv_distinct_tokens(docs_tbl))
    ann_mt = sink(ivf_topk_tables(embs_tbl).drop("cos"))
    bloom = sink(bloom_decontaminate(
        docs_tbl.where(F.col("doc_id") % 20 != 7),
        docs_tbl.where(F.col("doc_id") % 20 == 7)))
    hh = sink(token_heavy_hitters(docs_tbl))

    # iterative-path evidence row: PageRank over the UNREPLICATED
    # sf-dir entity graph (mult-independent like the other evidence
    # rows). pagerank_quantized materializes per-iteration checkpoints
    # eagerly, so each timed run re-invokes the whole function — the
    # plan-rewrap trick would only re-scan the final checkpoint.
    from rdf_n3_spark.operators.graph_algo import pagerank_quantized

    edges = (
        mention_triples(m1).unionByName(entity_triples(m1))
        .where(F.col("o").rlike("^(ent|conv|sk):"))
        .select(F.col("s").alias("src"), F.col("o").alias("dst"))
        .localCheckpoint()
    )

    def timed_pagerank() -> tuple[float, float]:
        def run():
            t0 = time.perf_counter()
            sink(pagerank_quantized(edges, iterations=3)).collect()
            return time.perf_counter() - t0
        run()  # warm
        times = [run() for _ in range(runs)]
        agg = min if stat == "min" else statistics.median
        return round(agg(times), 4), round(min(times), 4)

    # random-walk corpus over the UNREPLICATED co-mention graph
    # (mult-independent iterative evidence row, like pagerank/khop):
    # the operator checkpoints its neighbor table eagerly, so each
    # timed run re-invokes the whole function
    from rdf_n3_spark.operators.graph_algo import random_walks

    walk_edges = (cooccurrence_edges(m1, group="conv_id", node="norm")
                  .localCheckpoint())

    def timed_walks() -> tuple[float, float]:
        def run():
            t0 = time.perf_counter()
            sink(random_walks(walk_edges, walks_per_node=2,
                              length=3)).collect()
            return time.perf_counter() - t0
        run()  # warm
        times = [run() for _ in range(runs)]
        agg = min if stat == "min" else statistics.median
        return round(agg(times), 4), round(min(times), 4)

    # BENCH_QUERIES: comma-separated subset to time (default: all).
    # bench_scaling.py restricts to the headline trio so the scaling
    # rounds don't pay for every evidence row.
    thunks = {
        "kg_pipeline": lambda: timed_runs(kg, runs, stat),
        "n3_parse_udf": lambda: timed_runs(parse, runs, stat),
        "n3_write_nquads": lambda: timed_runs(nquads, runs, stat),
        "entity_canon": lambda: timed_runs(canon, runs, stat),
        "dedup_minhash": lambda: timed_runs(minhash, runs, stat),
        "ann_ivf_multiprobe": lambda: timed_runs(ann, runs, stat),
        "graph_pagerank": timed_pagerank,
        "substring_spans": lambda: timed_runs(substr, runs, stat),
        "keyword_topk": lambda: timed_runs(kw, runs, stat),
        "triangle_counts": lambda: timed_runs(tri, runs, stat),
        "relation_candidates": lambda: timed_runs(rel, runs, stat),
        "kb_char_sets": lambda: timed_runs(cs, runs, stat),
        "kmv_distinct": lambda: timed_runs(kmv, runs, stat),
        "ann_ivf_multitable": lambda: timed_runs(ann_mt, runs, stat),
        "bloom_decontaminate": lambda: timed_runs(bloom, runs, stat),
        "token_heavy_hitters": lambda: timed_runs(hh, runs, stat),
        "conv_stats": lambda: timed_runs(conv, runs, stat),
        "conv_transitions": lambda: timed_runs(trans, runs, stat),
        "kb_history": lambda: timed_runs(hist, runs, stat),
        "kg_negatives": lambda: timed_runs(negs, runs, stat),
        "search_bm25": lambda: timed_runs(bm25, runs, stat),
        "graph_khop": timed_khop,
        "graph_lpa": timed_lpa,
        "split_leakage": lambda: timed_runs(leak, runs, stat),
        "sft_pairs": lambda: timed_runs(sft, runs, stat),
        "conv_dedup": lambda: timed_runs(cdedup, runs, stat),
        "graph_linkpred": lambda: timed_runs(linkpred, runs, stat),
        "conv_segments": lambda: timed_runs(segs, runs, stat),
        "kb_signatures": lambda: timed_runs(sigs, runs, stat),
        "graph_walks": timed_walks,
    }
    subset = os.environ.get("BENCH_QUERIES", "")
    names = [n.strip() for n in subset.split(",") if n.strip()] or list(thunks)
    timed = {n: thunks[n]() for n in names}
    per_query = {n: v[0] for n, v in timed.items()}
    per_query_min = {n: v[1] for n, v in timed.items()}
    total = sum(per_query.values())
    # headline only when the headline query is in the timed subset
    # (BENCH_QUERIES evidence-row probes would otherwise KeyError)
    kg_s = per_query.get("kg_pipeline")
    kg_min = per_query_min.get("kg_pipeline")
    turns_per_sec = round(n_turns / kg_s, 1) if kg_s else None

    print(json.dumps({
        "metric": "turns_per_sec",
        "value": turns_per_sec,
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
        "total_sec": round(total, 3),
    }))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
