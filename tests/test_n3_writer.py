"""Writer round-trip tests: parse(serialize(q)) ≅ q over the reference
example corpus (writer behaviors per SURVEY.md §2.9)."""

from __future__ import annotations

import glob

from rdf_n3_spark.functions.isomorphism import isomorphic
from rdf_n3_spark.functions.n3_parser import parse_n3
from rdf_n3_spark.functions.n3_writer import serialize_n3
from rdf_n3_spark.plans.reason import Reasoner


def test_roundtrip_corpus():
    ok = bad = 0
    for f in sorted(glob.glob("/root/reference/examples/**/*.n3", recursive=True)):
        try:
            q = parse_n3(
                open(f, encoding="utf8", errors="replace").read(),
                base_uri="http://example.org/" + f.rsplit("/", 1)[-1],
            )
        except Exception:
            continue  # malformed snippet files
        q2 = parse_n3(serialize_n3(q))
        ok += isomorphic(q, q2)
        bad += not isomorphic(q, q2)
    assert bad == 0, f"{bad} round-trip failures ({ok} ok)"


def test_predicate_sugar_and_prefixes():
    q = parse_n3(
        "@prefix : <http://ex/>. :a a :T . :a = :b . { :x :y :z } => { :q :r :s } ."
    )
    txt = serialize_n3(q, prefixes={"": "http://ex/"})
    assert " a " in txt and " = " in txt and "=>" in txt
    assert ":a" in txt  # pname compaction


def test_collection_rendering():
    q = parse_n3("@prefix : <http://ex/>. :s :p (1 2 (3)) .")
    txt = serialize_n3(q)
    assert "( 1 2 ( 3 ) )" in txt


def test_literal_lexical_preserved():
    q = parse_n3('@prefix : <http://ex/>. :s :p 4.50, 1e3, "x\\ny" .')
    txt = serialize_n3(q)
    assert "4.50" in txt  # non-canonical lexical form kept (writer.rb:277-296)
    assert "1e3" in txt
    assert '"""' in txt  # multiline quote strategy


def test_log_n3string_builtin():
    r = Reasoner(parse_n3(
        "@prefix log: <http://www.w3.org/2000/10/swap/log#>."
        "@prefix : <http://ex/>."
        "{ { :a :b :c } log:n3String ?s } => { :r :text ?s } ."
    )).execute()
    vals = [q[2] for q in r.inferred if q[1] == "<http://ex/text>"]
    assert len(vals) == 1 and "ex/b" in vals[0]


def test_bnode_property_list_inlining():
    """A bnode object referenced exactly once renders as [ ... ]
    (writer.rb:604-623 blankNodePropertyList)."""
    q = parse_n3("@prefix : <http://ex/>. :a :p [ :q :r ; :s :t ] .")
    txt = serialize_n3(q, prefixes={"": "http://ex/"})
    assert "[ " in txt and " ]" in txt
    assert "_:" not in txt  # no labeled bnode needed
    assert isomorphic(q, parse_n3(txt))


def test_bnode_subject_property_list():
    """A never-referenced bnode subject renders as [ ... ] .
    (writer.rb:620 subject-position branch)."""
    q = parse_n3("@prefix : <http://ex/>. [ :p :o ; :q :r ] .")
    txt = serialize_n3(q, prefixes={"": "http://ex/"})
    body = txt.split("\n\n", 1)[1]
    assert body.startswith("[ ") and " ] ." in body.replace("\n", " ")
    assert "_:" not in txt
    assert isomorphic(q, parse_n3(txt))


def test_bnode_cycle_not_lost():
    """A pure bnode cycle cannot inline — both nodes keep labels and no
    triple is dropped."""
    q = [("_:a", "<http://ex/p>", "_:b", ""), ("_:b", "<http://ex/p>", "_:a", "")]
    txt = serialize_n3(q)
    assert isomorphic(q, parse_n3(txt))


def test_predicate_order_precedence():
    """rdf:type then rdfs:label head the description (writer.rb:356-366),
    remaining predicates lexical."""
    q = parse_n3(
        "@prefix : <http://ex/>. @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#>."
        ':a :zzz :z ; rdfs:label "L" ; :aaa :b ; a :T .'
    )
    txt = serialize_n3(q, prefixes={"": "http://ex/",
                                    "rdfs": "http://www.w3.org/2000/01/rdf-schema#"})
    body = txt[txt.index(":a "):]
    assert body.index(" a ") < body.index("rdfs:label")
    assert body.index("rdfs:label") < body.index(":aaa")
    assert body.index(":aaa") < body.index(":zzz")


def test_subject_order_classes_first():
    """rdfs:Class-typed subjects come before other subjects
    (writer.rb:383-390 top_classes)."""
    q = parse_n3(
        "@prefix : <http://ex/>. @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#>."
        ":aaa :p :o . :zzz a rdfs:Class ."
    )
    txt = serialize_n3(q, prefixes={"": "http://ex/",
                                    "rdfs": "http://www.w3.org/2000/01/rdf-schema#"})
    assert txt.index(":zzz") < txt.index(":aaa")


def test_relative_iri_output():
    """IRIs relativize against the base (writer.rb:314-318): fragment
    and same-directory forms."""
    q = parse_n3(
        "<http://ex.org/dir/doc.n3#s> <http://ex.org/dir/other> <http://other.org/x> .",
    )
    txt = serialize_n3(q, base_uri="http://ex.org/dir/doc.n3")
    assert "<#s>" in txt
    assert "<other>" in txt
    assert "<http://other.org/x>" in txt  # different authority: absolute


def test_byte_level_goldens():
    """VERDICT r2 item 6: serialization of reference examples/*.n3
    graphs byte-compared against committed expected N3 — belt and
    braces on top of round-trip isomorphism, pinning the writer's
    conventions (subject order writer.rb:372-413, bnodePropertyList
    inlining writer.rb:604-623, rule sugar, relativize) so an
    accidental formatting change to log:n3String output fails CI.
    Also asserts serialization is deterministic run-to-run."""
    import os

    gold_dir = os.path.join(os.path.dirname(__file__), "goldens")
    for name in ("example-1", "foo", "gk-list-issue-12"):
        src = open(f"/root/reference/examples/{name}.n3", encoding="utf8").read()
        base = f"http://example.org/{name}.n3"
        q = parse_n3(src, base_uri=base)
        out = serialize_n3(q, base_uri=base)
        assert out == serialize_n3(parse_n3(src, base_uri=base), base_uri=base)
        expected = open(os.path.join(gold_dir, f"{name}.expected.n3")).read()
        assert out == expected, f"{name}: byte-level golden mismatch"
        # and the golden itself must round-trip to the source graph
        assert isomorphic(parse_n3(expected, base_uri=base),
                          parse_n3(src, base_uri=base))


# ------------------------------------------------- flat N-Quads sink

def test_nquads_sink_round_trips_through_own_parser(spark):
    """serialize_nquads over strict parsed terms → rejoining the lines
    re-parses to the identical quad set (bnode labels pass through
    verbatim, escapes preserved)."""
    from rdf_n3_spark.functions.n3_parser import parse_n3
    from rdf_n3_spark.sources.n3_sink import serialize_nquads

    doc = (
        '@prefix : <http://example.org/> .\n'
        ':a :b "plain" .\n'
        ':a :b "esc \\"q\\" \\n tab\\t" .\n'
        ':a :b "tagged"@en .\n'
        ':a :b "42"^^<http://www.w3.org/2001/XMLSchema#integer> .\n'
        '_:x :b :a .\n'
        ':a :c _:x .\n'
    )
    quads = parse_n3(doc)
    df = spark.createDataFrame(
        [(s, p, o) for s, p, o, _ in quads], ["s", "p", "o"])
    lines = [r["line"] for r in serialize_nquads(df).collect()]
    assert all(li.endswith(" .") for li in lines)
    reparsed = parse_n3("\n".join(lines))
    assert {(s, p, o) for s, p, o, _ in reparsed} \
        == {(s, p, o) for s, p, o, _ in quads}


def test_nquads_prefix_expansion_and_fallback(spark):
    from rdf_n3_spark.sources.n3_sink import serialize_nquads

    df = spark.createDataFrame(
        [("ent:x", "rdf:type", ":thing"),
         ("ent:x", "foo:unknown", '"lit"')],
        ["s", "p", "o"],
    )
    pfx = {"ent": "http://kg/e/", "": "http://kg/",
           "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#"}
    lines = sorted(r["line"] for r in serialize_nquads(df, pfx).collect())
    assert lines == [
        '<http://kg/e/x> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type>'
        ' <http://kg/thing> .',
        '<http://kg/e/x> <urn:x-kg:foo/unknown> "lit" .',
    ]


def test_nquads_graph_column(spark):
    from rdf_n3_spark.sources.n3_sink import serialize_nquads

    df = spark.createDataFrame(
        [("<http://e/s>", "<http://e/p>", '"o"', "<http://e/g>")],
        ["s", "p", "o", "g"],
    )
    assert serialize_nquads(df, graph_col="g").collect()[0]["line"] \
        == '<http://e/s> <http://e/p> "o" <http://e/g> .'


def test_nquads_sink_is_a_pure_narrow_project(spark):
    """The flat sink adds NO exchange and NO Python stage over its
    input — the 100 TB export property (line-per-statement, any
    partitioning).  The input carries one Exchange of its own (the
    repartition that makes it multi-partition); the sink's plan must
    contain exactly that one and nothing more."""
    from rdf_n3_spark.sources.n3_sink import serialize_nquads

    df = spark.createDataFrame(
        [("ent:x", ":p", '"v"')] * 10, ["s", "p", "o"]).repartition(4)
    base = df._jdf.queryExecution().executedPlan().toString()
    plan = serialize_nquads(df, {"ent": "http://kg/e/", "": "http://kg/"}) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == base.count("Exchange") == 1, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


# ------------------------------------------------- grouped N3 document sink

def test_graph_sink_equals_driver_writer_per_document(spark):
    """serialize_graphs over multi-statement documents — a formula
    (g ≠ ""), blank-node objects, a collection — gives each document
    the driver-side N3Writer text of its sorted quads; without a ``g``
    column every statement is in the default graph."""
    from rdf_n3_spark.functions.n3_writer import N3Writer
    from rdf_n3_spark.sources.n3_sink import serialize_graphs

    texts = {
        "d1": "@prefix : <http://ex/>. :b :p :c . :a :p [ :q :r ] ."
              " :a :list (1 2) .",
        "d2": "@prefix : <http://ex/>. { :x :y :z . :x :w _:n } =>"
              ' { :q :r :s } . :z :k "lit" .',
        "d3": "@prefix : <http://ex/>. :s :p :o .",
    }
    quads = [(d, *q) for d, t in texts.items() for q in parse_n3(t)]
    assert any(g for *_, g in quads) and any(
        o.startswith("_:") for _, _, _, o, g in quads if not g)
    df = spark.createDataFrame(
        quads, "doc_id string, s string, p string, o string, g string"
    ).repartition(3)

    def doc_quads(d, with_g=True):
        return sorted((s, p, o, g if with_g else "")
                      for dd, s, p, o, g in quads if dd == d)

    got = {r["doc_id"]: r["n3"] for r in serialize_graphs(df).collect()}
    assert got == {d: N3Writer(doc_quads(d)).serialize() for d in texts}
    got = {r["doc_id"]: r["n3"]
           for r in serialize_graphs(df.drop("g")).collect()}
    assert got == {d: N3Writer(doc_quads(d, False)).serialize()
                   for d in texts}
