"""Graph materialization: node/edge tables bucketed by entity hash,
with per-partition lineage rows, metric counters, and checkpointed
resume.

North-rule requirement: "graph materialization writes node/edge
Iceberg tables partitioned by entity-hash bucket with per-partition
lineage rows and metric counters for checkpointed resume". The
reference's sink is an in-process set-insert repository
(reference lib/rdf/n3/repository.rb:247-249, 297-313 — duplicate
insert is a no-op); at cluster scale the same set semantics become
``dropDuplicates`` before an idempotent, batch-keyed append.

Layout (parquet here; the same calls target an Iceberg catalog by
swapping ``.parquet(path)`` for ``.writeTo(table).append()`` — the
sandbox has no Iceberg runtime, so the table layout reproduces
Iceberg's ``bucket(N, entity)`` partition transform explicitly):

    <root>/nodes/batch=<id>/bucket=<b>/*.parquet   node rows, hash-bucketed
    <root>/edges/batch=<id>/bucket=<b>/*.parquet   edge rows, bucketed by subject
    <root>/lineage/*.parquet                       one row per (batch, table, bucket)

Lineage rows double as the resume checkpoint AND the metric counters:
``(batch_id, table, bucket, n_rows, content_hash, committed_at)``.
``materialize_graph`` first consults lineage; a batch id that already
committed is skipped entirely (idempotent re-run after a failed or
pre-empted job — "checkpointed resume"). Because the lineage append is
the LAST write, a crash mid-batch leaves no lineage row and the retry
rewrites the batch's files (overwrite-by-batch-partition), never
double-counting.

The three tables commit concurrently: each runs write-then-stats in its
own driver thread, so their small Spark jobs overlap instead of queueing
(on small batches fixed per-job costs, not data volume, dominate).  The
stats hash the batch's partition as read back from the written files,
so the lineage attests to the files themselves, and the node table's
degree join runs once.  Each write sets dynamic partition overwrite as
its own option; the session conf is never touched, since a conf flip
would race between threads.

Readers see committed batches only, through one store SNAPSHOT per
(session, root): the committed batch ids with their commit times, and
the scan frames built over them.  A scan reads the tables with fixed
schemas under a ``batch IN (...)`` partition filter, so planning prunes
uncommitted ``batch=`` directories and no join runs.  A committed batch
never changes (the writer skips a committed batch id, and the lineage
is append-only), so a snapshot stays valid for as long as the lineage
does.  It is keyed by the lineage directory's listing: each file's
name, length and modification time, read on the driver with the Hadoop
FS API in a fixed number of calls and no Spark job.  While the listing
is unchanged a reader reuses the snapshot, frames included, and runs no
lineage job and no relisting of the tables; any commit, from this
process or another, and any lineage file rewritten in place changes
the listing, and the next reader resolves the snapshot anew.  A missing
lineage table means nothing committed; one that exists but cannot be
read raises.

The bucket function is engine-portable (md5-prefix mod N, mirrored in
the DuckDB oracle) rather than Spark's xxhash64, so correctness checks
and external readers agree on placement.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from functools import partial

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType

N_BUCKETS = 16

# object values with these prefixes are node references; everything else
# is a literal property value
NODE_REF_RX = r"^(ent|conv|sk):"

LINEAGE_SCHEMA = ("batch_id string, table string, bucket int, n_rows long, "
                  "content_hash long, committed_at double")

# the tables as materialize_graph writes them, partition columns last;
# read with these schemas, a batch id stays the string it was written as
# (inference would read batch=01 and batch=1 as the same int 1)
TABLE_SCHEMAS = {
    "nodes": "node_id string, kind string, out_degree long, in_degree long, "
             "batch string, bucket int",
    "edges": "s string, p string, o string, batch string, bucket int",
    "node_props": "s string, p string, val string, batch string, bucket int",
}


def bucket_expr(col, n_buckets: int = N_BUCKETS):
    """Portable entity-hash bucket: first 8 hex chars of md5, mod N.

    Spark: conv(hex, 16, 10); DuckDB oracle: ('0x' || hex)::BIGINT.
    Stays a built-in Column expression (codegen'd, no Python).
    """
    c = col if not isinstance(col, str) else F.col(col)
    return F.pmod(
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def graph_edges(triples: DataFrame) -> DataFrame:
    """Triples whose object is a node reference → edge rows.

    Bucketed by SUBJECT hash: all out-edges of an entity land in one
    bucket, so per-entity reads prune to a single partition (the
    Iceberg ``bucket(N, s)`` layout of SURVEY §1.1). Pure narrow
    filter + projection — no shuffle until the writer partitions.
    """
    return (
        triples.where(F.col("o").rlike(NODE_REF_RX))
        .select("s", "p", "o", bucket_expr("s").alias("bucket"))
    )


def graph_node_props(triples: DataFrame) -> DataFrame:
    """Triples whose object is a literal → node-property rows,
    bucketed by subject like the edge table."""
    return (
        triples.where(~F.col("o").rlike(NODE_REF_RX))
        .select("s", "p", F.col("o").alias("val"), bucket_expr("s").alias("bucket"))
    )


def graph_nodes(triples: DataFrame) -> DataFrame:
    """Node table: every id that appears as a subject or as a node-ref
    object, with kind (id prefix), out/in degree, and bucket.

    Two map-side-combinable aggregations + one outer join on the node
    id. Hub entities (ent:part_hub holds ~20% of mentions) produce one
    partial row per input partition, not a data-volume skew; the final
    join keys are pre-aggregated so AQE's skew-join split handles any
    residual imbalance.
    """
    out_deg = triples.groupBy(F.col("s").alias("node_id")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = (
        triples.where(F.col("o").rlike(NODE_REF_RX))
        .groupBy(F.col("o").alias("node_id"))
        .agg(F.count(F.lit(1)).alias("in_degree"))
    )
    return (
        out_deg.join(in_deg, "node_id", "full_outer")
        .select(
            "node_id",
            F.split("node_id", ":").getItem(0).alias("kind"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            bucket_expr("node_id").alias("bucket"),
        )
    )


def _content_hash(df: DataFrame):
    """Order-insensitive content fingerprint per bucket: sum of row
    hashes mod a prime (overflow-safe under ANSI mode)."""
    h = F.pmod(F.xxhash64(*[c for c in df.columns if c != "bucket"]), F.lit(1_000_000_007))
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.pmod(F.sum(h), F.lit(1_000_000_007)).alias("content_hash"),
    )


def rows_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A frame of a few driver-side rows, sent to the JVM as a pyarrow
    Table.  That path reads no Arrow setting and starts no Python
    worker; a pandas frame or a list of tuples takes the row path, with
    a worker, whenever ``spark.sql.execution.arrow.pyspark.enabled`` is
    false (Spark's default, and what a spark-submit job gets)."""
    arrow = to_arrow_schema(DataType.fromDDL(schema))
    return spark.createDataFrame(
        pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], schema=arrow))


def _hadoop_path(spark: SparkSession, path: str) -> tuple:
    """(file system, Hadoop ``Path``) of ``path``."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Existence through the Hadoop FS API, so the answer is right on
    object stores too (``os.path.exists`` is always False there)."""
    fs, p = _hadoop_path(spark, path)
    return fs.exists(p)


def concurrently(spark: SparkSession, *calls) -> list:
    """Run each no-argument callable in its own driver thread and return
    their results in order; if any raises, the first failure raises once
    all have finished.  Every thread inherits the caller's local
    properties, the job group and tags among them, so the jobs it
    starts are the caller's.  Small Spark jobs submitted from several
    threads overlap instead of queueing."""
    def inheriting(f):
        # wrapped anew per call, so every thread gets its own copy of the
        # caller's local properties.  With pinned-thread mode off
        # (PYSPARK_PIN_THREAD=false) the session form returns the session
        # itself: threads then inherit nothing
        wrap = inheritable_thread_target(spark)
        return wrap(f) if callable(wrap) else f

    with ThreadPoolExecutor(len(calls)) as pool:
        futures = [pool.submit(inheriting(f)) for f in calls]
        return [f.result() for f in futures]


# a FileStatus's text carries path, length and modification time, and
# also the access time, which a read of the file may move
_ACCESS_TIME = re.compile(r"access_time=\d+")


def _lineage_listing(spark: SparkSession, root: str) -> str | None:
    """The lineage directory's listing as one string, or None when no
    batch ever committed.  The whole listing crosses Py4J as one
    string, so the cost does not grow with the number of files."""
    fs, path = _hadoop_path(spark, os.path.join(root, "lineage"))
    if not fs.exists(path):
        return None
    # ArrayUtils.toString takes an Object; Py4J matches no Object[]
    # parameter (java.util.Arrays.toString) to a FileStatus[]
    listing = spark.sparkContext._jvm.org.apache.commons.lang3.ArrayUtils.toString(
        fs.listStatus(path))
    return _ACCESS_TIME.sub("", listing)


class _Snapshot:
    """The committed state of one store root as one session saw it:
    ``times`` maps each committed batch id to its commit time, and
    ``frames`` holds the scan frames built over those batches.  A
    lineage table that exists but cannot be read raises: reading it as
    "nothing committed" would empty every reader and re-write committed
    batches."""

    def __init__(self, spark: SparkSession, root: str, listing: str | None):
        self.listing = listing
        self.times: dict = {}
        if listing is not None:
            # built on the driver: a groupBy would cost a shuffle stage for
            # a table of a few rows per batch
            lin = spark.read.schema(LINEAGE_SCHEMA).parquet(os.path.join(root, "lineage"))
            for batch_id, t in lin.select("batch_id", "committed_at").collect():
                self.times[batch_id] = max(t, self.times.get(batch_id, t))
        self.frames: dict = {}


# (session, root) -> _Snapshot, least recently used first.  The key holds
# the session itself, so a snapshot is never served to another session,
# not even one that later gets the same id(); the bound matters because
# every build job writes a fresh root
_SNAPSHOTS: OrderedDict = OrderedDict()
_SNAPSHOTS_MAX = 16
_SNAPSHOTS_LOCK = threading.Lock()


def _snapshot(spark: SparkSession, root: str) -> _Snapshot:
    # the listing is read BEFORE the lineage: a commit landing in between
    # is then stored under the older listing, and the next call resolves
    # again, where the other order would keep serving the older state
    listing = _lineage_listing(spark, root)
    key = (spark, root)
    with _SNAPSHOTS_LOCK:
        snap = _SNAPSHOTS.get(key)
        if snap is not None and snap.listing == listing:
            _SNAPSHOTS.move_to_end(key)
            return snap
    snap = _Snapshot(spark, root, listing)
    with _SNAPSHOTS_LOCK:
        _SNAPSHOTS[key] = snap
        _SNAPSHOTS.move_to_end(key)
        while len(_SNAPSHOTS) > _SNAPSHOTS_MAX:
            _SNAPSHOTS.popitem(last=False)
    return snap


def _snapshot_frame(spark: SparkSession, root: str, name: str, build) -> DataFrame:
    """The snapshot's frame ``name``, built by ``build(committed)`` on
    first use; later readers get the same frame, so its file index is
    listed once."""
    snap = _snapshot(spark, root)
    df = snap.frames.get(name)
    if df is None:
        # two threads may both build; setdefault keeps the first frame
        df = snap.frames.setdefault(name, build(set(snap.times)))
    return df


def commit_times(spark: SparkSession, root: str) -> dict:
    """{batch id: commit time} of the committed batches, from the store
    snapshot (see the module docstring)."""
    return dict(_snapshot(spark, root).times)


def committed_batches(spark: SparkSession, root: str) -> set:
    """The committed batch ids, from the store snapshot: a repeat call
    on an unchanged lineage runs no Spark job."""
    return set(_snapshot(spark, root).times)


def materialize_graph(
    spark: SparkSession,
    triples: DataFrame,
    root: str,
    batch_id: str,
    n_buckets: int = N_BUCKETS,
) -> dict:
    """Write node/edge/prop tables for one batch; return metric counters.

    Resume contract: if ``batch_id`` already has lineage rows the call
    is a no-op returning ``{"skipped": True}`` — re-running a partially
    failed job re-does only uncommitted batches. Data files are laid
    out ``<table>/batch=<id>/bucket=<b>/``, and each write sets dynamic
    partition overwrite as its own option, so a retry of an uncommitted
    batch replaces its own files and nothing else (idempotent).

    The three tables commit at once, one driver thread each: the thread
    writes its table, then reads the batch's partition back and hashes
    it into per-bucket lineage rows.  The threads inherit the caller's
    job group and tags.  Only when all three succeed is the lineage
    appended, on the calling thread; if any table fails, the call
    raises and commits nothing.

    Set semantics (reference repository.rb:297-307: duplicate insert is
    a no-op) are applied per batch via dropDuplicates before the write.
    """
    if batch_id in committed_batches(spark, root):
        return {"skipped": True, "batch_id": batch_id}

    t = triples.dropDuplicates(["s", "p", "o"]).localCheckpoint()
    tables = {
        "nodes": graph_nodes(t),
        "edges": graph_edges(t),
        "node_props": graph_node_props(t),
    }

    def commit_table(name: str, df: DataFrame) -> list:
        (
            df.withColumn("batch", F.lit(batch_id))
            .repartition("bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch", "bucket")
            .parquet(os.path.join(root, name))
        )
        return _content_hash(_scan(spark, root, name, {batch_id}).drop("batch")).collect()

    stats = dict(zip(tables, concurrently(
        spark, *[partial(commit_table, name, df) for name, df in tables.items()])))

    now = time.time()
    _commit_lineage(spark, root, [
        (batch_id, name, r["bucket"], r["n_rows"], r["content_hash"], now)
        for name, rows in stats.items() for r in rows])
    return {"batch_id": batch_id, "skipped": False, "tables": {
        name: {"n_rows": int(sum(r["n_rows"] for r in rows)), "n_buckets": len(rows)}
        for name, rows in stats.items()}}


def _commit_lineage(spark: SparkSession, root: str, rows: list) -> None:
    """Append a batch's lineage rows: the last write, and the commit
    point."""
    rows_frame(spark, rows, LINEAGE_SCHEMA).coalesce(1).write.mode(
        "append").parquet(os.path.join(root, "lineage"))


def _scan(spark: SparkSession, root: str, table: str, committed: set) -> DataFrame:
    if not committed:
        # the table's directory need not exist: its first write may have failed
        return rows_frame(spark, [], TABLE_SCHEMAS[table])
    return (spark.read.schema(TABLE_SCHEMAS[table]).parquet(os.path.join(root, table))
            .where(F.col("batch").isin(sorted(committed))))


def read_graph(spark: SparkSession, root: str, table: str) -> DataFrame:
    """Read back only COMMITTED batches — the reader-side half of the
    resume contract.  The committed set comes from the store snapshot
    and becomes a ``batch IN (...)`` partition filter: planning prunes
    uncommitted ``batch=`` directories from the scan, and no join runs.
    While the lineage listing is unchanged, every call returns the same
    frame (committed batches never change), so the table is listed once
    per snapshot."""
    return _snapshot_frame(spark, root, table,
                           lambda committed: _scan(spark, root, table, committed))


def read_store(spark: SparkSession, root: str) -> DataFrame:
    """The committed store as ONE (s, p, o) stream: edges ∪ node
    properties, both scanned under the same committed-batch set, so the
    two tables form one consistent snapshot.  The shape every
    store-wide consumer takes — the --profile statistics, the N-Quads
    export, BGP answering, and cross-build diffing (triples.kb_diff).
    Like :func:`read_graph`, a repeat call on an unchanged lineage
    listing returns the same frame and runs no Spark job."""
    def build(committed):
        return (
            _scan(spark, root, "edges", committed).select("s", "p", "o")
            .unionByName(
                _scan(spark, root, "node_props", committed)
                .select("s", "p", F.col("val").alias("o")))
        )

    return _snapshot_frame(spark, root, "store", build)
