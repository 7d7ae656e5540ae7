"""Trace report: where each workload's time goes, layer by layer.

    python3 etlbench/report.py --seed 1 --seconds 8 [--workload dedup_ingest ...]

For each workload it runs ``run.py`` twice, untraced and traced, each
in a fresh process, then prints

- the self time of every layer (span time minus covered children) and
  its share of the measured window,
- one row per span name with its calls, time, self time and the Spark
  jobs it ran: job count, summed job time, gaps between its jobs,
  executor task time and CPU time (UI REST API, by job group),
- the tracing overhead: traced minus untraced, per end-to-end metric.

It only reads what the two runs print; run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from etlbench.run import END_TO_END, WORKLOAD_NAMES  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(detail, result) lines of one run.py process."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def layer_table(summary: dict) -> list[str]:
    window_ms = summary["window_s"] * 1000.0
    rows = sorted(summary["layers_self_ms"].items(), key=lambda kv: -kv[1])
    out = [f"  {'layer':<26} {'self_ms':>10} {'share':>7}"]
    for layer, ms in rows:
        out.append(f"  {layer:<26} {ms:10.1f} {ms / window_ms:7.1%}")
    return out


def span_table(summary: dict) -> list[str]:
    head = (f"  {'span':<36} {'calls':>5} {'ms':>9} {'self_ms':>9} {'jobs':>5} "
            f"{'job_s':>7} {'gap_s':>7} {'task_s':>7} {'cpu_s':>7}")
    out = [head]
    for name, r in sorted(summary["spans"].items(), key=lambda kv: -kv[1]["self_ms"]):
        out.append(
            f"  {name:<36} {r['calls']:5d} {r['ms']:9.1f} {r['self_ms']:9.1f} {r['jobs']:5d} "
            f"{r['job_s']:7.2f} {r['gap_s']:7.2f} {r['task_s']:7.2f} {r['cpu_s']:7.2f}"
        )
    return out


def overhead_table(untraced: dict, traced: dict) -> list[str]:
    out = [f"  {'metric':<18} {'untraced':>12} {'traced':>12} {'overhead':>12}"]
    for name in END_TO_END:
        u = untraced["metrics"][name]["value"]
        t = traced["metrics"][f"trace.{name}"]["value"]
        out.append(f"  {name:<18} {u:12.2f} {t:12.2f} {t - u:+12.2f}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--workload", action="append", choices=WORKLOAD_NAMES)
    args = ap.parse_args(argv)
    for w in args.workload or WORKLOAD_NAMES:
        _, untraced = run_once(w, args.seed, args.seconds, 0)
        detail, traced = run_once(w, args.seed, args.seconds, 1)
        summary = detail["trace"]
        print(f"== {w} (seed {args.seed}, {summary['window_s']:.1f} s window, "
              f"correct={untraced['correct'] and traced['correct']})")
        print("layer self time")
        print("\n".join(layer_table(summary)))
        print("spans")
        print("\n".join(span_table(summary)))
        print("tracing overhead")
        print("\n".join(overhead_table(untraced, traced)))
        print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
