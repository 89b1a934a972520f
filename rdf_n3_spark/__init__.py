"""rdf_n3_spark — a PySpark-native knowledge-graph construction engine.

A brand-new engine (NOT a port) with the query/data-processing
capabilities of ruby-rdf/rdf-n3 (reference at /root/reference),
re-expressed Spark-first:

- ``sources``    — transcript/document readers and the deterministic
                   synthetic transcripts derivation (input_hint shape).
- ``functions``  — pure-Python N3 parser/writer, builtin vocabulary
                   (math/string/time/list/log) as Column transforms,
                   text-analysis functions.
- ``operators``  — mention detection, triple emission/skolemization,
                   entity canonicalization (MinHash-LSH + connected
                   components), dedup, similarity search.
- ``plans``      — rule compilation + semi-naive fixpoint reasoner
                   (the DataFrame equivalent of rdf-n3's Reasoner).

Everything in the hot path is DataFrame/Column expressions (JVM-side,
whole-stage-codegen'd); Python appears only inside Arrow-batched pandas
UDFs (the N3 parser) and driver-side planning (rule compilation).
"""

__version__ = "0.1.0"
