"""The perfbench workloads.  Each is a closed loop with one client, this
process, issuing operations back to back on ``local[N]`` in one warm
Spark session until the run's seconds are used (at least one
operation).

``kg_build``  one ``jobs/kg_construct.py --dedup-input`` job per
              operation, through the job's ``main()``, writing a fresh
              graph root (the write path: scan, conv_dedup, mentions,
              triples, materialize).  Set-up starts the session and runs
              two jobs, the first of them cold.
``kg_serve``  the readers of a committed store plus N3 document
              ingest: set-up commits two overlapping batches through the
              job; one operation is one pass of the reader mix (profile,
              N-Quads export, kb_diff, four BGP queries, one rule
              fixpoint) and of ``parse_documents`` followed by an
              N-Quads export of the parsed documents.

Every step of an operation is timed on its own (:class:`Steps`); a
run reports, per step, the median over its operations, scaled by the
:class:`Yardstick` measured in the same session.  With tracing
on, ``kg_build``'s per-layer numbers come from an in-process replay of
the job's stages with an action at each layer boundary (lazy layers are
timed at the action that consumes them); ``kg_serve`` runs the same
set-up and operations with spans around each reader.  In both, one
untraced operation of the same kind gives the tracing overhead.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import checks
import gen
from harness import Op, Steps, Tracer, dir_stats, spark_peak_rss_mb, start_session, stop_session

BUILD_CONVS = 3000          # ~18k turns, ~24k mentions, ~125k store triples
SERVE_BATCH_CONVS = 600     # two batches over 900 conversations, 300 shared
SERVE_DOCS = 5_000
YARDSTICK_CONVS = 3000      # the yardstick's fixed input: ~18k turns, seed 0


@dataclass
class Ctx:
    layout: object
    fit: dict
    seed: int
    seconds: float
    tracer: Tracer
    ledger: object


def _loop(seconds: float, op) -> int:
    """Run ``op(i)`` back to back while the run's ``seconds`` are
    expected to last one more operation (the median so far), at least
    once; return how many ran."""
    durs: list = []
    t0 = time.perf_counter()
    while not durs or time.perf_counter() - t0 + statistics.median(durs) <= seconds:
        t = time.perf_counter()
        op(len(durs))
        durs.append(time.perf_counter() - t)
    return len(durs)


class Yardstick:
    """A fixed Spark SQL job that runs none of the program's code.  It
    scans a transcripts table generated from seed 0, counts its tokens
    per conversation and writes the counts (the throughput side of the
    operations), then runs four small aggregations and collects them
    (the many short jobs of the readers).  After one warm-up run it runs
    twice before a run's operations and twice after them, in the same
    session.  Interference from other tenants only ever slows a run, so
    the mean of its two fastest runs measures how fast the host runs
    Spark at the moment.  On a shared host that speed drifts by 2x and
    more over minutes, which no count of operations in one run can
    average out; every time the run reports is scaled to a host on which
    the yardstick takes one second."""

    def __init__(self, ctx, spark):
        self.spark = spark
        self.inp = ctx.layout.path("in", "yardstick")
        self.out = ctx.layout.path("yardstick-out")
        gen.write_parquet(gen.transcripts_table(gen.corpus(0, YARDSTICK_CONVS)), self.inp,
                          files=4)
        self.ops: list = []
        self._job()

    def _job(self) -> None:
        from pyspark.sql import functions as F

        t = self.spark.read.parquet(self.inp)
        (t.select("conv_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
         .groupBy("conv_id", "tok").count()
         .write.mode("overwrite").parquet(self.out))
        for k in range(4):
            t.where(F.col("turn_idx") == k).groupBy("role").count().collect()

    def measure(self, times: int = 2) -> None:
        for _ in range(times):
            with Op() as o:
                self._job()
            self.ops.append(o)

    def scale(self) -> float:
        """Reported seconds per measured second."""
        return 1.0 / statistics.mean(sorted(o.net for o in self.ops)[:2])


def _summary(steps: Steps, n_ops: int, setup: Op, yard: Yardstick, peak_rss_mb: float,
             work: dict) -> dict:
    k = yard.scale()
    return {"setup_s": setup.net * k, "op_s": steps.total("net") * k,
            "peak_rss_mb": peak_rss_mb,
            "work": dict(work, ops=n_ops,
                         setup={"wall_s": setup.wall, "cpu_s": setup.cpu, "steal_s": setup.steal},
                         steps=steps.record(),
                         yardstick=[{"wall_s": o.wall, "cpu_s": o.cpu, "steal_s": o.steal}
                                    for o in yard.ops])}


@contextlib.contextmanager
def _step(steps: Steps, tr: Tracer, name: str):
    with steps.time(name), tr.span(name):
        yield


@contextlib.contextmanager
def _ending(op: Op):
    """Stop ``op`` when the block ends."""
    try:
        yield
    finally:
        op.stop()


def _job_module(root: str):
    spec = importlib.util.spec_from_file_location(
        "kg_construct", os.path.join(root, "jobs", "kg_construct.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_job_in_process(job, argv: list) -> None:
    """``kg_construct.main`` on the current session; its metrics line is
    captured instead of printed, and must show a committed batch."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = job.main(argv)
    metrics = json.loads(out.getvalue().strip().splitlines()[-1])
    if rc != 0 or metrics.get("skipped", True):
        raise RuntimeError(f"kg_construct exited {rc} without committing: {metrics}")


# --- the job's stages, replayed with spans ---------------------------------

def replay(spark, tracer: Tracer, inp: str, root: str, batch: str) -> dict:
    """``kg_construct.py --dedup-input`` stage by stage, through the same
    public functions, staging at the same points (keep-map, mentions).
    Traced, it adds the two actions that split lazy layers: a hash sink
    over the scan and one over the emitted triples."""
    from pyspark.sql import functions as F

    from rdf_n3_spark.operators.conversations import conv_dedup
    from rdf_n3_spark.operators.materialize import materialize_graph
    from rdf_n3_spark.operators.mentions import extract_mentions
    from rdf_n3_spark.operators.triples import entity_triples, mention_triples

    t = spark.read.parquet(inp)
    if tracer.on:
        with tracer.span("transcripts.scan"):
            turns, _ = t.agg(F.count(F.lit(1)),
                             F.sum(F.xxhash64(*t.columns) % 1_000_003)).first()
    km_path = os.path.join(root, "curation", f"batch={batch}", "conv_dedup")
    with tracer.span("conversations.conv_dedup"):
        conv_dedup(t).write.mode("overwrite").parquet(km_path)
    km = spark.read.parquet(km_path)
    t = t.join(km.where("keep = 1").select("conv_id"), "conv_id", "semi")
    m_path = os.path.join(root, "mentions", f"batch={batch}")
    with tracer.span("mentions.extract"):
        extract_mentions(t).write.mode("overwrite").parquet(m_path)
    m = spark.read.parquet(m_path)
    triples = mention_triples(m).unionByName(entity_triples(m))
    if tracer.on:
        with tracer.span("triples.emit"):
            n_triples, refs, hub, _ = triples.agg(
                F.count(F.lit(1)),
                F.sum((F.col("p") == ":refersTo").cast("long")),
                F.sum((F.col("o") == "ent:part_hub").cast("long")),
                F.sum(F.xxhash64("s", "p", "o") % 1_000_003)).first()
        kept, convs = km.agg(F.sum("keep"), F.count(F.lit(1))).first()
        n_mentions = m.count()
        tracer.count("conversations.keep_rate", kept / convs)
        tracer.count("mentions.rows", n_mentions)
        tracer.count("mentions.per_turn", n_mentions / turns)
        tracer.count("triples.rows", n_triples)
        tracer.count("triples.hub_share", hub / refs)
    with tracer.span("materialize.graph"):
        metrics = materialize_graph(spark, triples, root, batch)
    if tracer.on:
        tabs = metrics["tables"]
        size, files = dir_stats(*(os.path.join(root, n, f"batch={batch}") for n in tabs))
        stored = tabs["edges"]["n_rows"] + tabs["node_props"]["n_rows"]
        tracer.count("materialize.rows_written", sum(v["n_rows"] for v in tabs.values()))
        tracer.count("materialize.bytes_written", size)
        tracer.count("materialize.files_written", files)
        tracer.count("materialize.dedup_rate", 1 - stored / n_triples)
    return metrics


# --- kg_build ----------------------------------------------------------------

def _build_inputs(ctx) -> tuple:
    convs = gen.corpus(ctx.seed, BUILD_CONVS)
    truth = gen.build_truth(convs)
    inp = ctx.layout.path("in", "transcripts")
    gen.write_parquet(gen.transcripts_table(convs), inp, files=4)
    gen.write_sidecar(truth, ctx.layout.path("in", "truth.json"))
    return inp, truth


def _check_store(ctx, op: str, root: str, truth: dict) -> None:
    try:
        store = checks.summarize_store(root)
    except FileNotFoundError as e:
        ctx.ledger.record(op, [f"no committed store: {e}"])
        return
    problems = checks.check_build(store, truth)
    # keyed by the program's sources and the input: only runs of the same
    # code on the same table must agree
    key = checks.program_digest(ctx.layout.root, ctx.layout.path("in", "transcripts"))
    record = os.path.join(ctx.layout.out, "lineage", f"kg_build-{key[:16]}-seed{ctx.seed}.json")
    problems += checks.check_digest(store["lineage_digest"], record)
    ctx.ledger.record(op, problems)


def kg_build(ctx) -> dict:
    inp, truth = _build_inputs(ctx)
    if ctx.tracer.on:
        return _kg_build_traced(ctx, inp, truth)
    job = _job_module(ctx.layout.root)
    steps = Steps()

    def build(graph: str, timer) -> None:
        """One job into ``graph`` under ``timer``; the store is checked
        after the timer stops, then deleted."""
        try:
            with timer:
                _run_job_in_process(job, ["--transcripts", inp, "--graph-root", graph,
                                          "--batch-id", "b0", "--dedup-input"])
        except Exception as e:  # noqa: BLE001 — a failed job is a failed operation
            ctx.ledger.record("kg_construct", [f"{type(e).__name__}: {e}"])
        else:
            _check_store(ctx, "kg_construct", graph, truth)
        shutil.rmtree(graph, ignore_errors=True)

    setup = Op().start()
    spark = start_session(ctx.fit)
    try:
        # the cold job, then one more: the JIT is still compiling the
        # pipeline after the first, and a second job's time varies most
        build(ctx.layout.path("graph-cold"), contextlib.nullcontext())
        build(ctx.layout.path("graph-warm"), _ending(setup))
        yard = Yardstick(ctx, spark)
        yard.measure()
        n = _loop(ctx.seconds, lambda i: build(ctx.layout.path(f"graph{i}"),
                                               steps.time("kg_construct")))
        yard.measure()
        peak = spark_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    return _summary(steps, n, setup, yard, peak, {"turns": truth["turns"]})


def _kg_build_traced(ctx, inp: str, truth: dict) -> dict:
    tr = ctx.tracer
    with tr.span("session.start"):
        spark = start_session(ctx.fit)
    try:
        # warm-up (untraced): JIT and codegen, so the traced and the
        # untraced replay below compare like with like
        replay(spark, Tracer(False), inp, ctx.layout.path("graph-warm"), "b0")

        steps = Steps()

        def op(i):
            root = ctx.layout.path(f"graph{i}")
            with steps.time("replay"), tr.span("op"):
                replay(spark, tr, inp, root, "b0")
            with tr.span("materialize.read_store"):
                _read_store_count(spark, tr, root)
            _check_store(ctx, "replay", root, truth)
            shutil.rmtree(root, ignore_errors=True)

        _loop(ctx.seconds, op)
        plain = ctx.layout.path("graph-untraced")
        with Op() as untraced:
            replay(spark, Tracer(False), inp, plain, "b0")
        _check_store(ctx, "replay-untraced", plain, truth)
    finally:
        stop_session(spark)
    return {"overhead": (steps.total("net"), untraced.net)}


def _read_store_count(spark, tr: Tracer, root: str) -> None:
    from rdf_n3_spark.operators.materialize import committed_batches, read_store

    read_store(spark, root).count()
    tr.count("materialize.lineage_batches", len(committed_batches(spark, root)))


# --- kg_serve ----------------------------------------------------------------

def _serve_inputs(ctx) -> tuple:
    b = SERVE_BATCH_CONVS
    convs = gen.corpus(ctx.seed, b + b // 2)
    batches = [convs[:b], convs[b // 2:]]
    paths = []
    for i, batch in enumerate(batches, 1):
        paths.append(ctx.layout.path("in", f"b{i}"))
        gen.write_parquet(gen.transcripts_table(batch), paths[-1], files=4)
    truth = gen.serve_truth(batches, batches[:1])
    docs, doc_truth = gen.n3_corpus(ctx.seed, SERVE_DOCS)
    docs_path = ctx.layout.path("in", "docs")
    gen.write_parquet(docs, docs_path, files=4)
    gen.write_sidecar({"store": truth, "docs": doc_truth}, ctx.layout.path("in", "truth.json"))
    return paths, docs_path, truth, doc_truth


def _queries(truth: dict) -> dict:
    return {
        "hub": [("?m", ":refersTo", "ent:part_hub")],
        "rare": [("?m", ":refersTo", "ent:" + truth["rare_entity"])],
        "star": [("?m", ":refersTo", "?e"), ("?m", ":inConv", "?c"), ("?m", ":atTurn", "0")],
        "agg_join": [("?m", ":refersTo", "?e"), ("?e", ":mentionCount", "?n")],
    }


def kg_serve(ctx) -> dict:
    tr = ctx.tracer
    paths, docs_path, truth, doc_truth = _serve_inputs(ctx)
    live, prev = ctx.layout.path("live"), ctx.layout.path("prev")
    setup = Op().start()
    with tr.span("session.start"):
        spark = start_session(ctx.fit)
    try:
        job = _job_module(ctx.layout.root)
        for i, inp in enumerate(paths, 1):
            _run_job_in_process(job, ["--transcripts", inp, "--graph-root", live,
                                      "--batch-id", f"b{i}", "--dedup-input"])
            if i == 1:
                # the previous build: the store as it stood after batch 1
                shutil.copytree(live, prev)
        docs = spark.read.parquet(docs_path)
        _warm_up(spark, live, docs)
        setup.stop()
        yard, steps = Yardstick(ctx, spark), Steps()
        yard.measure()
        n = _loop(ctx.seconds, lambda i: _serve_op(ctx, spark, tr, steps, live, prev, docs,
                                                     truth, doc_truth, i))
        yard.measure()
        if tr.on:
            plain = Steps()
            _serve_op(ctx, spark, Tracer(False), plain, live, prev, docs, truth, doc_truth, n)
            overhead = (steps.total("net"), plain.total("net"))
        peak = spark_peak_rss_mb(spark)
    finally:
        stop_session(spark)
    res = _summary(steps, n, setup, yard, peak, {"store_rows": truth["store_rows"], "docs": SERVE_DOCS})
    return dict(res, overhead=overhead) if tr.on else res


def _warm_up(spark, live: str, docs) -> None:
    """The first read of a store is several times slower than later
    ones, and the first Python UDF starts the worker processes; pay both
    before timing."""
    from rdf_n3_spark.operators.materialize import read_store
    from rdf_n3_spark.sources.n3_source import parse_documents

    read_store(spark, live).count()
    parse_documents(docs.limit(100)).count()


def _serve_op(ctx, spark, tr: Tracer, steps: Steps, live, prev, docs, truth, doc_truth,
              i) -> None:
    """One pass of the reader mix and of N3 document ingest, each reader
    a step; outputs are checked after the pass, untimed."""
    from rdf_n3_spark.operators.kb_stats import load_profile, write_profile
    from rdf_n3_spark.operators.materialize import committed_batches, read_store
    from rdf_n3_spark.operators.triples import kb_diff
    from rdf_n3_spark.plans.bgp import Rule, bgp, conclusions, fixpoint
    from rdf_n3_spark.sources.n3_sink import serialize_nquads
    from rdf_n3_spark.sources.n3_source import parse_documents

    out = ctx.layout.path("serve", str(i))
    export, delta = os.path.join(out, "export"), os.path.join(out, "delta")
    parsed, nquads = os.path.join(out, "parsed"), os.path.join(out, "docs_nq")
    rows: dict = {}
    with tr.span("op"):
        if tr.on:
            with tr.span("materialize.read_store"):
                _read_store_count(spark, tr, live)
        with _step(steps, tr, "kb_stats.profile"):
            write_profile(spark, read_store(spark, live), live, "b2",
                          covers=committed_batches(spark, live))
        with _step(steps, tr, "n3_sink.export"):
            serialize_nquads(read_store(spark, live)).write.mode("overwrite").text(export)
        with _step(steps, tr, "triples.diff"):
            kb_diff(read_store(spark, prev), read_store(spark, live)) \
                .write.mode("overwrite").parquet(delta)
        with _step(steps, tr, "kb_stats.load_profile"):
            counts, cs = load_profile(spark, live)
        for name, pats in _queries(truth).items():
            with _step(steps, tr, f"bgp.{name}"):
                rows[f"{name}_rows"] = bgp(read_store(spark, live), pats,
                                           predicate_counts=counts, star_cards=cs).count()
        rule = Rule(antecedent=(("?m", ":refersTo", "?e"), ("?m", ":inConv", "?c")),
                    consequent=(("?e", ":mentionedIn", "?c"),))
        with _step(steps, tr, "bgp.fixpoint"):
            rows["inferred_rows"] = conclusions(fixpoint(read_store(spark, live), [rule])).count()
        with _step(steps, tr, "n3_source.parse"):
            parse_documents(docs).write.mode("overwrite").parquet(parsed)
        with _step(steps, tr, "n3_sink.docs_export"):
            serialize_nquads(spark.read.parquet(parsed).where("ok")) \
                .write.mode("overwrite").text(nquads)

    # --- checks (untimed) ---
    rows["profile_used"] = int(counts is not None and cs is not None)
    rows["export_lines"] = _text_lines(export)
    change = checks.read_parquet(delta, ["change"])["change"].to_pylist()
    rows["diff_added"], rows["diff_removed"] = change.count("+"), change.count("-")
    per_doc = checks.per_doc(checks.read_parquet(parsed, ["doc_id", "ok"]))
    doc_lines = _text_lines(nquads)
    for k, v in rows.items():
        ctx.ledger.record(k, checks.check_serve({k: v}, truth))
    ctx.ledger.record("n3_docs", checks.check_parse(per_doc, doc_lines, doc_truth))
    tr.count("bgp.profile_used", rows["profile_used"])
    tr.count("bgp.inferred_rows", rows["inferred_rows"])
    tr.count("triples.diff_added", rows["diff_added"])
    tr.count("triples.diff_removed", rows["diff_removed"])
    tr.count("n3_sink.lines", rows["export_lines"])
    tr.count("n3_sink.bytes", _text_bytes(export))
    tr.count("n3_source.quads", sum(n for n, ok in per_doc.values() if ok))
    tr.count("n3_source.failed_docs", sum(1 for _, ok in per_doc.values() if not ok))
    shutil.rmtree(out, ignore_errors=True)


def _text_parts(path: str) -> list:
    return [os.path.join(d, n) for d, _, names in os.walk(path)
            for n in names if n.startswith("part-")]


def _text_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _text_parts(path))


def _text_lines(path: str) -> int:
    n = 0
    for f in _text_parts(path):
        with open(f, "rb") as fh:
            n += sum(1 for _ in fh)
    return n


WORKLOADS = {"kg_build": kg_build, "kg_serve": kg_serve}
