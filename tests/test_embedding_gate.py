"""Embedding-space incremental ingest gate: corpus-dup / batch-dup /
novel verdicts, the zero-norm NaN guard and the plan shape."""

from __future__ import annotations

from rdf_n3_spark.operators.dedup import (
    embedding_band_index,
    incremental_embedding_neardup,
)

DIMS = 64


def _vec(support: dict[int, float]) -> list[float]:
    v = [0.0] * DIMS
    for i, x in support.items():
        v[i] = x
    return v


def _mk(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_gate_verdicts(spark):
    """Corpus twin → dup_of_corpus; intra-batch twin → dup_of_batch
    (min earlier id); disjoint-support vector → keep=1 even when it
    bucket-collides (the exact verify rejects)."""
    base = _vec({0: 1.0, 1: 0.5, 2: 0.25})
    other = _vec({10: 1.0, 11: -0.5})
    corpus = _mk(spark, [(1, base), (2, other)])
    novel = _vec({30: 1.0, 31: 1.0})
    batch = _mk(spark, [
        (100, base),          # exact corpus twin → all bands agree
        (101, novel),         # novel
        (102, novel),         # batch twin of 101
    ])
    got = {
        r["vec_id"]: (r["dup_of_corpus"], r["dup_of_batch"], r["keep"])
        for r in incremental_embedding_neardup(batch, corpus, 0.95).collect()
    }
    assert got[100] == (1, None, 0)
    assert got[101] == (None, None, 1)
    assert got[102][1:] == (101, 0)  # corpus-dup verdict irrelevant here


def test_zero_norm_vector_is_guarded(spark):
    """A zero (all-below-quantization) vector yields cos = 0/0 = NaN,
    which Spark orders ABOVE every double — unguarded it would flag as
    a duplicate of everything.  The gate excludes zero-norm vectors
    from both verifies, so it keeps cleanly and poisons nothing."""
    corpus = _mk(spark, [(1, _vec({0: 1.0}))])
    batch = _mk(spark, [
        (100, _vec({})),          # exactly zero
        (101, _vec({5: 0.0002})), # quantizes to zero (|x| < 0.0005)
        (102, _vec({0: 1.0})),    # real corpus dup, must still flag
    ])
    got = {
        r["vec_id"]: (r["dup_of_corpus"], r["dup_of_batch"], r["keep"])
        for r in incremental_embedding_neardup(batch, corpus, 0.95).collect()
    }
    assert got[100] == (None, None, 1)
    assert got[101] == (None, None, 1)
    assert got[102] == (1, None, 0)


def test_band_index_is_one_row_per_key(spark):
    """The persisted index has exactly one (band_key, rep) row per
    distinct key — rep = min vec_id — so probe joins cannot skew."""
    base = _vec({0: 1.0, 1: 0.5})
    corpus = _mk(spark, [(3, base), (1, base), (2, base)])
    idx = embedding_band_index(corpus).collect()
    assert len({r["band_key"] for r in idx}) == len(idx)
    assert {r["rep"] for r in idx} == {1}  # identical vectors → min id


def test_gate_plan_has_no_cartesian(spark):
    """Scale audit: probe and verify are equi-joins; no cartesian or
    broadcast nested loop anywhere in the gate's plan."""
    base = _vec({0: 1.0})
    corpus = _mk(spark, [(i, base) for i in range(5)])
    batch = _mk(spark, [(100 + i, base) for i in range(3)])
    out = incremental_embedding_neardup(batch, corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
