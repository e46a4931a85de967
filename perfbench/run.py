"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Human-readable lines (host facts, then
every measurement with unit and sample count) come first on stdout; the
last line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` — the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Scratch files go to `.bench_work/`, traced spans to
`.bench_traces/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("interactive", "update")

#: metric name -> unit, as declared in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "search_p50_s": "s",
    "bulk_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="measured closed-loop time")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None, help="corpus size (default: the benchmark's)")
    return ap.parse_args(argv)


def per_layer_units(name: str) -> str:
    if name.endswith("_s") or ".phase_sec." in name:
        return "s"
    if name.endswith("_bytes") or name.startswith("index.bytes."):
        return "bytes"
    if name.endswith(("_share", "_ratio")):
        return "ratio"
    if name.endswith("postings_per_block"):
        return "postings/block"
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[0] = ROOT  # the package and the checkout root, not this directory
    from perfbench import host, workloads

    work = os.path.join(ROOT, ".bench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(host.session_env(work))

    run = workloads.Run(
        args.workload, args.seed, args.seconds, bool(args.trace),
        args.turns or workloads.TURNS, work,
    )
    try:
        run.run()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = run.measured()
    print("host " + json.dumps(run.host, sort_keys=True))
    print(f"workload {args.workload} seed {args.seed} turns {run.turns} trace {args.trace}")
    for name, (value, unit, n, tail) in measured.items():
        extra = f" p{tail[0]:g}={tail[1]:.6g}" if tail and tail[0] is not None else ""
        print(f"metric {name} = {value:.6g} {unit} (n={n}){extra}")
    for err in run.errors:
        print(f"mismatch {err}")

    if args.trace:
        layer = run.per_layer()
        metrics = {k: {"value": v, "unit": per_layer_units(k)} for k, v in layer.items()}
        traces = os.path.join(ROOT, ".bench_traces")
        os.makedirs(traces, exist_ok=True)
        stem = os.path.join(traces, f"{args.workload}-{args.seed}")
        run.tracer.dump(stem + ".spans.jsonl")
        with open(stem + ".record.json", "w") as f:
            json.dump({"host": run.host, "measured": measured, "per_layer": layer}, f, indent=1)
    else:
        metrics = {k: {"value": measured[k][0], "unit": u} for k, u in END_TO_END.items()}
    failed = run.failed_ops + len(run.errors)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
