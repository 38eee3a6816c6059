"""pincspark benchmark entry point.

    python3 perfbench/run.py --workload {archive_day,stream_ingest} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json; with
``--trace 1`` they are the per-layer ones. Everything the run writes stays
under ``perfbench/.work``. See NOTES.md for what each workload measures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

WORKLOADS = ("archive_day", "stream_ingest")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    harness.prepare_process()
    try:
        if args.workload == "archive_day":
            import archive_day as workload
        else:
            import stream_ingest as workload
        run, metrics = workload.run(args.seed, args.seconds, bool(args.trace))
    finally:
        harness.shutdown()
    if args.trace:
        metrics["fail_ratio"] = harness.metric(run.failed / max(run.attempted, 1), "ratio")
    for note in run.notes:
        print(f"FAILED: {note}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": declared(metrics, "per_layer" if args.trace else "end_to_end"),
    }))
    return 0


def declared(measured: dict, kind: str) -> dict:
    """The metrics BENCHMARK.json declares, in its order and units. Every
    workload prints every per-layer name; a layer the workload does not run
    reads 0. An undeclared measurement goes to standard error only."""
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    names = {m["name"] for m in spec}
    extra = {k: v["value"] for k, v in measured.items() if k not in names}
    if extra:
        print(f"undeclared metrics: {extra}", file=sys.stderr)
    out = {}
    for m in spec:
        got = measured.get(m["name"])
        if got is None and kind == "end_to_end":
            raise SystemExit(f"end-to-end metric {m['name']} was not measured")
        out[m["name"]] = harness.metric(0 if got is None else got["value"], m["unit"])
    return out


if __name__ == "__main__":
    sys.exit(main())
