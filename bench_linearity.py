#!/usr/bin/env python
"""Data-size linearity evidence run: the SAME pipeline at 1× and 4×
the input (default 6M vs 24M turns), one JVM, interleaved timed runs.

Per-turn cost must be ~constant — wall ≈ 4× for 4× data is the
property that extrapolates to the 10^12-turn target (mildly sublinear
is expected as fixed per-job overheads amortize).  Appends a results
section to BENCH/BASELINE.md.

Protocol (same hygiene as bench.py): one JVM pinned to
$SPARK_GRAFT_CPUS (default 32), ParallelGC, tmpfs shuffle dirs, AQE
off, both inputs materialized untimed as 32-file tables, plans built
once, runs interleaved (1×, 4×, 1×, 4×, ...) so host-interference
windows hit both levels equally, per-level stat = median of
$BENCH_RUNS (default 5).
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = int(os.environ.get("BENCH_RUNS", "5"))
MULTS = tuple(int(x) for x in
              os.environ.get("SPARK_GRAFT_MULTS", "10,40").split(","))


def main() -> None:
    from bench import bench_session, prepare_input
    from rdf_n3_spark.operators.mentions import extract_mentions
    from rdf_n3_spark.operators.triples import entity_triples, mention_triples

    with bench_session("bench-linearity", CPUS) as (spark, scratch):
        def sink(df):
            h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))
            return df.select(F.sum(h).alias("h"), F.count(F.lit(1)).alias("n"))

        plans, turns = {}, {}
        for mult in MULTS:
            t = spark.read.parquet(prepare_input(spark, SF_DIR, mult, scratch))
            turns[mult] = t.count()
            m = extract_mentions(t)
            plans[mult] = sink(mention_triples(m).unionByName(entity_triples(m)))
            plans[mult].collect()  # warm: JIT, codegen, parquet footers

        walls: dict[int, list[float]] = {m: [] for m in MULTS}
        for i in range(RUNS):
            for mult in MULTS:  # interleave levels within each round
                t0 = time.perf_counter()
                plans[mult].where(F.lit(i) >= 0).collect()
                walls[mult].append(time.perf_counter() - t0)

    med = {m: statistics.median(walls[m]) for m in MULTS}
    lo, hi = MULTS
    ratio = med[hi] / med[lo]
    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")

    lines = [
        f"\n## Data-size linearity (round 5, {stamp})\n\n",
        f"Same JVM (`local[{CPUS}]`), same pipeline plan, interleaved "
        f"medians of {RUNS} full recomputes per level:\n\n",
        "| input | turns | wall sec (median) | all runs | turns/sec |\n",
        "|---|---|---|---|---|\n",
    ]
    for m in MULTS:
        lines.append(
            f"| {SF_DIR} × {m} | {turns[m]} | {round(med[m], 3)} | "
            f"{[round(w, 3) for w in walls[m]]} | "
            f"{round(turns[m] / med[m], 1)} |\n")
    lines.append(
        f"\n**Wall ratio = {round(med[hi], 3)} / {round(med[lo], 3)} = "
        f"{ratio:.2f}× for {hi // lo}× data** — per-turn cost "
        f"{'constant-or-better' if ratio <= hi / lo else 'SUPERLINEAR (investigate)'}"
        f"; the property that extrapolates to the 10^12-turn target.\n")
    with open("BENCH/BASELINE.md", "a") as f:
        f.writelines(lines)
    print("".join(lines[4:]))


if __name__ == "__main__":
    main()
