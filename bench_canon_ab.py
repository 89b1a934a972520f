#!/usr/bin/env python
"""Interleaved A/B for the entity_canon pointer-jump cost (VERDICT r2 #3).

BENCH_r02 showed entity_canon at 1.33 s vs 0.85 s in round 1; the
suspects were (a) the pointer-jump self-join added in round 2 and
(b) single-run sandbox noise (this host swings 2-4×). This harness
measures the jump's true cost with the interleaved min-of-rounds
protocol from BENCH/BASELINE.md: one JVM, variants alternated
round-robin (A jump, B no-jump), END-TO-END timing per run — plan
construction plus the CC driver loop (where the jump join lives) plus
the final collect — and per-variant MIN reported (one-sided host noise).

Note the round-3 CC loop also folded the convergence check into the
round's own aggregate (one driver action per round instead of two), so
both variants here are cheaper than the round-2 shape by construction.

Run: python bench_canon_ab.py   (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
     AB_ROUNDS default 5)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("AB_ROUNDS", "5"))

    from bench import bench_session
    from rdf_n3_spark.operators.canon import canonical_map
    from rdf_n3_spark.operators.mentions import extract_mentions
    from rdf_n3_spark.sources.transcripts import transcripts

    with bench_session("bench_canon_ab", cpus) as (spark, _):
        t = transcripts(spark, sf_dir).localCheckpoint()  # input prep untimed

        def run(pointer_jump: bool) -> float:
            t0 = time.perf_counter()
            df = canonical_map(extract_mentions(t), pointer_jump=pointer_jump)
            h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))
            df.select(F.sum(h), F.count(F.lit(1))).collect()
            return time.perf_counter() - t0

        variants = (True, False, "auto")
        for v in variants:  # warm: JIT, codegen, parquet footers
            run(v)
        times = {v: [] for v in variants}
        for _ in range(rounds):
            for v in variants:
                times[v].append(run(v))
        print(json.dumps({
            "metric": "entity_canon_end_to_end_sec",
            "protocol": "interleaved min-of-rounds, one JVM, end-to-end "
                        "(plan + CC driver loop + collect)",
            "rounds": rounds,
            "jump_min_sec": round(min(times[True]), 3),
            "nojump_min_sec": round(min(times[False]), 3),
            "auto_min_sec": round(min(times["auto"]), 3),
            "all": {str(v): [round(x, 3) for x in times[v]] for v in variants},
            "sf": sf_dir,
            "cpus": cpus,
        }))


if __name__ == "__main__":
    sys.exit(main())
