"""N3 serialization sink: quad rows → one N3 document per group.

The distributed form of the reference's writer surface
(``log:n3String``, lib/rdf/n3/algebra/log/n3_string.rb:13-22, and the
Writer epilogue, writer.rb:157-198): graphs are independent documents,
so serialization is a grouped stage — the JVM gathers and orders each
graph's statements, then one Arrow-batched Python pass serializes a
whole batch of graphs; output inherits the group partitioning. The
actual text rules (prefix compaction, predicate sugar, collections,
bnode property lists) live in functions/n3_writer.N3Writer, shared
verbatim between this distributed sink and driver-side debugging.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OUT_SCHEMA = "doc_id string, n3 string"


def serialize_graphs(quads: DataFrame, group_col: str = "doc_id") -> DataFrame:
    """(doc_id, s, p, o[, g]) rows → (doc_id, n3) documents.

    One shuffle gathers each document's statements in the JVM as an
    ``array_sort``-ed list of (s, p, o, g) structs (many small
    documents: the shape groupBy handles without skew); one
    ``mapInPandas`` pass then serializes every document of an Arrow
    batch, so Python pays per batch, not per document."""
    g = F.col("g") if "g" in quads.columns else F.lit("")
    docs = quads.groupBy(F.col(group_col).cast("string").alias("doc_id")).agg(
        F.array_sort(F.collect_list(F.struct("s", "p", "o", g.alias("g"))))
        .alias("qs"))

    def write(batches):
        from rdf_n3_spark.functions.n3_writer import N3Writer

        for pdf in batches:
            yield pdf[["doc_id"]].assign(n3=[
                N3Writer([tuple(q.values()) for q in qs]).serialize()
                for qs in pdf["qs"]])

    return docs.mapInPandas(write, schema=OUT_SCHEMA)


def expand_term(col, prefixes: dict | None = None):
    """Engine-encoded term → strict N-Triples term syntax, as a pure
    Column expression: literals (`"`), full IRIs (`<`), bnodes (`_:`)
    and variables pass through verbatim (the parser's encoding IS
    N-Triples syntax for those); compact KG-namespace terms
    (``ent:x``, ``:rel_y``, ``rdf:type``) expand through ``prefixes``
    ({prefix: namespace-IRI}) into ``<namespace+local>``.  Unknown
    prefixes fall back to urn:x-kg: so the line stays parseable
    instead of silently emitting a bare word."""
    c = col if not isinstance(col, str) else F.col(col)
    first = F.substring(c, 1, 1)
    passthrough = first.isin('"', "<", "?") | c.startswith("_:")
    pfx = F.substring_index(c, ":", 1)
    branches = list((prefixes or {}).items())
    expr = F.concat(F.lit("<urn:x-kg:"),
                    F.regexp_replace(c, "^([^:]*):", "$1/"), F.lit(">"))
    for p, ns in reversed(branches):
        expr = F.when(pfx == p, F.concat(
            F.lit(f"<{ns}"),
            F.substring(c, len(p) + 2, 1 << 20), F.lit(">"),
        )).otherwise(expr)
    return F.when(passthrough, c).otherwise(expr)


def serialize_nquads(quads: DataFrame, prefixes: dict | None = None,
                     graph_col: str | None = None) -> DataFrame:
    """quad rows → (line) N-Quads/N-Triples lines, entirely JVM-side.

    The flat-interchange complement of :func:`serialize_graphs`: the
    N3 pretty-printer needs each document's statements on one worker
    (a grouped Arrow stage); N-Quads is line-per-statement with no
    document state, so this sink is a pure narrow Project — zero
    shuffle, zero Python, whole-stage codegen, any partitioning — the
    format a 100 TB export job actually writes.  Pair with
    ``.write.text(...)`` for the on-disk form; round-trips through the
    engine's own parser (pinned by tests)."""
    parts = [expand_term("s", prefixes), expand_term("p", prefixes),
             expand_term("o", prefixes)]
    if graph_col is not None:
        parts.append(expand_term(graph_col, prefixes))
    return quads.select(
        F.concat(F.concat_ws(" ", *parts), F.lit(" .")).alias("line"))
