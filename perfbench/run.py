#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The inputs are generated from
``--seed``; operations run back to back for ``--seconds``; every output
is checked against the generator's ground truth.  The last stdout line
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics of BENCHMARK.json with ``--trace 0``, its
per-layer metrics with ``--trace 1`` (spans and self times are written
to ``.perfbench_out/``).  The line before it records the host and the
Spark launch settings.  Exit code 1 on a failed operation or output
check, 2 when the program's sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import Layout, Ledger, Tracer, host_fit, host_record  # noqa: E402

# per-layer metric → (unit, span name or None for a counter)
PER_LAYER = {
    "session.start_s": ("s", "session.start"),
    "transcripts.scan_s": ("s", "transcripts.scan"),
    "conversations.conv_dedup_s": ("s", "conversations.conv_dedup"),
    "conversations.keep_rate": ("ratio", None),
    "mentions.extract_s": ("s", "mentions.extract"),
    "mentions.rows": ("count", None),
    "mentions.per_turn": ("ratio", None),
    "triples.emit_s": ("s", "triples.emit"),
    "triples.rows": ("count", None),
    "triples.hub_share": ("ratio", None),
    "materialize.graph_s": ("s", "materialize.graph"),
    "materialize.rows_written": ("count", None),
    "materialize.bytes_written": ("bytes", None),
    "materialize.files_written": ("count", None),
    "materialize.dedup_rate": ("ratio", None),
    "materialize.read_store_s": ("s", "materialize.read_store"),
    "materialize.lineage_batches": ("count", None),
    "kb_stats.profile_s": ("s", "kb_stats.profile"),
    "n3_sink.export_s": ("s", "n3_sink.export"),
    "n3_sink.lines": ("count", None),
    "n3_sink.bytes": ("bytes", None),
    "n3_sink.docs_export_s": ("s", "n3_sink.docs_export"),
    "triples.diff_s": ("s", "triples.diff"),
    "triples.diff_added": ("count", None),
    "triples.diff_removed": ("count", None),
    "bgp.hub_s": ("s", "bgp.hub"),
    "bgp.rare_s": ("s", "bgp.rare"),
    "bgp.star_s": ("s", "bgp.star"),
    "bgp.agg_join_s": ("s", "bgp.agg_join"),
    "bgp.profile_used": ("count", None),
    "bgp.fixpoint_s": ("s", "bgp.fixpoint"),
    "bgp.inferred_rows": ("count", None),
    "n3_source.parse_s": ("s", "n3_source.parse"),
    "n3_source.quads": ("count", None),
    "n3_source.failed_docs": ("count", None),
    "trace.overhead": ("ratio", None),
    "trace.unattributed_s": ("s", None),
}

END_TO_END = {"setup_s": "s", "op_s": "s", "peak_rss_mb": "MB"}


def _per_layer(tracer: Tracer, overhead) -> dict:
    traced, untraced = overhead
    op_self = [s["self"] for s in tracer.self_times() if s["name"] == "op"]
    derived = {"trace.overhead": traced / untraced - 1,
               "trace.unattributed_s": sorted(op_self)[len(op_self) // 2] if op_self else 0.0}
    out = {}
    for name, (unit, span) in PER_LAYER.items():
        if span is not None:
            value = tracer.median(span)
        else:
            value = derived.get(name, tracer.counts.get(name, 0))
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    from workloads import WORKLOADS, Ctx

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("jobs/kg_construct.py", "rdf_n3_spark/__init__.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    layout = Layout(ROOT)
    layout.fresh()
    fit = host_fit(layout)
    os.environ.update(fit["env"])
    tracer, ledger = Tracer(args.trace == 1), Ledger()
    ctx = Ctx(layout, fit, args.seed, args.seconds, tracer, ledger)
    try:
        res = WORKLOADS[args.workload](ctx)
    except Exception:  # noqa: BLE001 — the run fails; report it, print no result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(layout.run, ignore_errors=True)

    if args.trace:
        metrics = _per_layer(tracer, res["overhead"])
        trace_path = os.path.join(layout.out, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, {"workload": args.workload, "seed": args.seed,
                                 "overhead": res["overhead"], "errors": ledger.errors})
        print(f"perfbench: spans written to {trace_path}", file=sys.stderr)
    else:
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    for e in ledger.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"host": host_record(fit), "work": res.get("work")}))
    print(json.dumps({"correct": ledger.failed == 0, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0 if ledger.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
