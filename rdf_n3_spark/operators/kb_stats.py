"""KB profile statistics: characteristic sets and VoID-style
per-predicate partitions.

Characteristic sets (Neumann & Moerkotte, "Characteristic Sets:
Accurate Cardinality Estimation for RDF Queries with Multiple Joins",
ICDE 2011) are THE cardinality statistic for star-shaped BGP joins —
the exact join shape this engine's `plans/bgp.py` multiway join runs
over `?s p1 ?o1 . ?s p2 ?o2 ...` patterns (reference
lib/rdf/n3/algebra/formula.rb:125-147 evaluates the same stars
in-process, where no statistics are needed; at cluster scale the
optimizer wants them).  A subject's characteristic set is its distinct
predicate set; the profile says exactly how many subjects will survive
any star of predicates — an EXACT cardinality for distinct-subject
star queries, not an estimate.

VoID (the W3C "Vocabulary of Interlinked Datasets" property-partition
profile) is the standard dataset descriptor RDF stores publish:
per-predicate triple counts and distinct subject/object counts.

Scale shape: both are two-exchange profiles.  `characteristic_sets`
groups by subject (collect_set over the FEW distinct predicates a
subject carries — bounded by schema width, not data; partial-merged
map-side) then by the set itself; `void_stats` is one predicate-keyed
agg whose count-distincts Spark expands and partial-aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _esc(p):
    """Delimiter-safe predicate encoding for the cs string: '%'→'%25'
    then '|'→'%7C', so a predicate CONTAINING '|' (mined relation
    surfaces come from raw prose) can never collide {'a|b'} with
    {'a','b'} — without escaping, those two distinct characteristic
    sets would merge and star_cardinality's split would see phantom
    predicates."""
    return F.regexp_replace(F.regexp_replace(p, "%", "%25"), r"\|", "%7C")


def _esc_py(p: str) -> str:
    """Driver-side twin of :func:`_esc` for probe predicates."""
    return p.replace("%", "%25").replace("|", "%7C")


def characteristic_sets(triples: DataFrame) -> DataFrame:
    """(cs, n_subjects, n_triples) — one row per distinct
    characteristic set: the '|'-joined sorted predicate set
    (predicates delimiter-escaped via :func:`_esc`), how many subjects
    carry exactly that set, and their total triple count.

    Cardinality use: a star query over predicates P matches exactly
    sum(n_subjects) over the sets cs ⊇ P (distinct-subject
    semantics) — the ICDE'11 estimator, exact by construction.

    The second groupBy keys on the sorted RAW predicate array; both
    the delimiter escaping and the '|'-join run only on the final
    rows (one per distinct set, schema-width many), never per triple
    or per subject.  Arrays don't collide, so the grouping key needs
    no escaping, and escaping is injective, so distinct raw sets stay
    distinct after it; sorting the escaped forms at the end emits the
    exact string the escape-before-sort formulation produced.  The
    per-subject stage is then a pure collect_set/count hash agg — no
    regex and no row-wide string construction touches the data-sized
    stages (the regexp_replace pair alone cost ~2 s/6M turns when it
    ran per triple)."""
    per_subj = triples.groupBy("s").agg(
        F.array_sort(F.collect_set(F.col("p"))).alias("csa"),
        F.count(F.lit(1)).cast("bigint").alias("nt"),
    )
    return (
        per_subj.groupBy("csa")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
            F.sum("nt").cast("bigint").alias("n_triples"),
        )
        .select(
            F.concat_ws(
                "|",
                F.array_sort(F.transform("csa", lambda p: _esc(p))),
            ).alias("cs"),
            "n_subjects",
            "n_triples",
        )
    )


def void_stats(triples: DataFrame) -> DataFrame:
    """(p, n_triples, n_subjects, n_objects) — the VoID property
    partition: per predicate, total triples and exact distinct
    subject/object counts."""
    return triples.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triples"),
        F.countDistinct("s").cast("bigint").alias("n_subjects"),
        F.countDistinct("o").cast("bigint").alias("n_objects"),
    )


def load_predicate_counts(void_df: DataFrame) -> dict:
    """Collect a VoID profile (``void_stats`` output, or the parquet
    the batch job's ``--profile`` stage wrote) into the
    {predicate: n_triples} dict that
    :func:`rdf_n3_spark.plans.bgp.order_patterns` consumes.  The one
    ``.collect()`` that is genuinely driver-sized: rows ∝ distinct
    predicates (schema width), never data."""
    return {r["p"]: r["n_triples"]
            for r in void_df.select("p", "n_triples").collect()}


def _unesc_py(p: str) -> str:
    """Inverse of :func:`_esc_py` (order matters: '|' first)."""
    return p.replace("%7C", "|").replace("%25", "%")


def load_char_sets(cs_df: DataFrame) -> list:
    """Collect a characteristic-set profile (``characteristic_sets``
    output) into driver-side ``[(frozenset(predicates), n_subjects)]``
    rows — the ``star_cards`` input of
    :func:`rdf_n3_spark.plans.bgp.order_patterns`.  Driver-sized like
    :func:`load_predicate_counts`: one row per distinct schema shape."""
    return [
        (frozenset(_unesc_py(t) for t in r["cs"].split("|")),
         int(r["n_subjects"]))
        for r in cs_df.select("cs", "n_subjects").collect()
    ]


def star_card_from_cs(char_sets: list, predicates) -> int:
    """EXACT distinct-subject cardinality of the star over
    ``predicates`` from a collected cs profile (ICDE'11 superset sum)
    — the driver-side twin of :func:`star_cardinality`."""
    ps = frozenset(predicates)
    return sum(n for cs, n in char_sets if ps <= cs)


VOID_SCHEMA = "p string, n_triples long, n_subjects long, n_objects long"
CHAR_SETS_SCHEMA = "cs string, n_subjects long, n_triples long"
META_SCHEMA = "batch_id string, covers string, n_predicates long"


def write_profile(spark, triples: DataFrame, root: str, batch_id: str,
                  covers: set | None = None) -> str:
    """Write the KB statistics profile beside a materialized graph:
    ``<root>/profile/batch=<id>/{void,char_sets,meta}``.

    ``meta`` is the COVERAGE FINGERPRINT (VERDICT r4 item 4): the set
    of committed store batches whose triples went into this profile
    plus the distinct-predicate count.  :func:`load_profile` refuses a
    profile whose recorded coverage no longer matches the store, so a
    stale/partial profile can never reach ``order_patterns`` (where
    absent-from-profile = zero-cardinality = "most selective" would
    misorder).  Profile tables are tiny (rows ∝ schema shapes), so
    ``coalesce(1)`` writes are driver-cheap.  The two aggregates are
    independent: each is written (the void table also counted back) in
    its own driver thread that inherits the caller's job group, over
    one persisted scan of the triples, which is unpersisted before the
    call returns (``read_store`` hands the same frame to every reader
    of a snapshot)."""
    import os

    from rdf_n3_spark.operators.materialize import concurrently, rows_frame

    prof = os.path.join(root, "profile", f"batch={batch_id}")
    void, char_sets = os.path.join(prof, "void"), os.path.join(prof, "char_sets")

    def write_void() -> int:
        void_stats(triples).coalesce(1).write.mode("overwrite").parquet(void)
        return spark.read.schema(VOID_SCHEMA).parquet(void).count()

    def write_char_sets() -> None:
        characteristic_sets(triples).coalesce(1).write.mode("overwrite").parquet(char_sets)

    triples.persist()
    try:
        n_preds, _ = concurrently(spark, write_void, write_char_sets)
    finally:
        triples.unpersist()
    cover = sorted(covers) if covers is not None else [batch_id]
    meta = [(batch_id, "|".join(_esc_py(b) for b in cover), n_preds)]
    rows_frame(spark, meta, META_SCHEMA).coalesce(1).write.mode(
        "overwrite").parquet(os.path.join(prof, "meta"))
    return prof


def load_profile(spark, root: str) -> tuple:
    """Load the store's freshest profile IF AND ONLY IF its coverage
    fingerprint matches the store's committed batches; otherwise
    ``(None, None)`` so the planner falls back to statistics-free
    ordering (correct in every order, just less refined) instead of
    trusting stale statistics.  A store with no commits, or no profile
    for its latest batch, is a fallback; a lineage or profile table
    that exists but cannot be read raises.

    Returns ``(predicate_counts dict, char_sets list)`` for
    :func:`rdf_n3_spark.plans.bgp.order_patterns` /
    :func:`rdf_n3_spark.plans.bgp.bgp`."""
    import os

    from rdf_n3_spark.operators.materialize import commit_times, hadoop_exists

    # committed set + commit time of each batch, from the store snapshot:
    # no Spark job while the lineage is unchanged
    times = commit_times(spark, root)
    if not times:
        return None, None
    latest = max(times, key=times.get)
    prof = os.path.join(root, "profile", f"batch={latest}")
    if not hadoop_exists(spark, os.path.join(prof, "meta", "_SUCCESS")):
        return None, None  # no (complete) profile for the latest snapshot
    meta = spark.read.schema(META_SCHEMA).parquet(os.path.join(prof, "meta")).first()
    covers = {_unesc_py(b) for b in meta["covers"].split("|") if b}
    if covers != set(times):
        return None, None  # profile predates (or post-dates) the store
    counts = load_predicate_counts(
        spark.read.schema(VOID_SCHEMA).parquet(os.path.join(prof, "void")))
    if len(counts) != meta["n_predicates"]:
        return None, None  # truncated/partial profile table
    cs = load_char_sets(
        spark.read.schema(CHAR_SETS_SCHEMA).parquet(os.path.join(prof, "char_sets")))
    return counts, cs


def star_cardinality(triples: DataFrame, predicates: list[str]) -> DataFrame:
    """(n_subjects) — EXACT number of distinct subjects matching the
    star `?s p1 ?o1 . ?s p2 ?o2 ...` over ``predicates``, answered
    from the characteristic-set profile alone (sets are superset-
    matched with array_contains over the tiny profile table — the
    profile has one row per distinct schema shape, not per subject)."""
    cs = characteristic_sets(triples).withColumn(
        "ps", F.split(F.col("cs"), r"\|"))
    cond = F.lit(True)
    for p in predicates:
        cond = cond & F.array_contains("ps", _esc_py(p))
    return cs.where(cond).agg(
        F.coalesce(F.sum("n_subjects"), F.lit(0)).cast("bigint")
        .alias("n_subjects"))
