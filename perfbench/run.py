"""Layered benchmark of pandas_sigproc_spark.

    python3 perfbench/run.py --workload recording --seed 1 --seconds 20 --trace 0

Runs one workload at ``local[<host cores>]`` in this process and prints,
as the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics named
in ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The line before it carries the run's details (sample
counts, the tail percentile, resolved planner modes, any mismatch).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("recording", "fleet", "stream")


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import pandas_sigproc_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        fail(f"cannot import the engine from {ROOT}: {exc}")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError as exc:
        fail(f"cannot read BENCHMARK.json: {exc}")

    import harness

    if args.workload == "stream":
        import stream as mod
    else:
        import sigmix as mod

    with harness.RssSampler() as rss:
        session = harness.Session(rss)
        try:
            session.start()
            res = mod.run(args.workload, args.seed, args.seconds, bool(args.trace), session)
        finally:
            session.shutdown()

    metrics = dict(res.metrics)
    metrics["setup_s"] = (session.setup_s, "s")
    metrics["peak_rss_mb"] = (session.peak_rss_mb, "MB")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res.layers if args.trace else metrics
    out = {}
    for m in wanted:
        if m["name"] in source:
            value = float(source[m["name"]][0])
        elif args.trace:
            value = 0.0  # the layer does no work on this workload
        else:
            fail(f"workload {args.workload} did not measure {m['name']}")
        # a failed operation's latency is infinite, which JSON cannot hold
        out[m["name"]] = {"value": value if math.isfinite(value) else 1e9, "unit": m["unit"]}
    details = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "tail_percentile": metrics.get("_tail_percentile"),
        "samples": metrics.get("_samples"),
        "session_s": session.session_s,
        "calibration_s": harness.median([c for _, c in session.cal.samples]),
        **res.details,
        "mismatches": res.mismatches[:50],
    }
    print(json.dumps(details, default=str))
    print(
        json.dumps(
            {
                "correct": not res.mismatches,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": out,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
