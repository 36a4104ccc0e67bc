#!/usr/bin/env python3
"""Traced-run report: per-layer self time and counters per workload.

    python3 perfbench/report.py --seed 1 --seconds 16 --workloads pipeline

Runs every workload once untraced and once traced with the same seed and
prints, per workload: each layer's self time per op and its share of the
traced op time, the layer counters, every ratio next to its base, and the
tracing overhead (traced minus untraced end-to-end result).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYER_SELF = ["sparql.parse_ms", "subsumption.rewrite_ms",
              "translator.translate_ms", "catalyst.plan_ms", "exec.wall_ms",
              "pipeline.call_ms", "store.self_ms", "update.self_ms",
              "op.glue_ms"]

# ratio -> (numerator, denominator) metrics it is computed from
RATIOS = {
    "exec.input_rows_per_result_row": ("exec.input_rows", "exec.result_rows"),
    "store.input_rows_per_result_row": ("store.read_input_rows",
                                        "store.read_result_rows"),
    "update.rows_written_per_quad_changed": ("update.rows_written",
                                             "update.quads_changed"),
    "exec.slot_idle_frac": ("exec.executor_run_ms", "exec.wall_ms"),
    "trace.attributed_frac": ("op.glue_ms", "trace.op_ms"),
}


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True,
        timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} failed:\n"
                           f"{p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    out["diag"] = [json.loads(x[5:]) for x in lines if x.startswith("DIAG ")]
    return out


def _v(res: dict, name: str) -> float:
    return res["metrics"][name]["value"]


def report(workload: str, plain: dict, traced: dict) -> str:
    op_ms = _v(traced, "trace.op_ms")
    lines = [f"## {workload}",
             f"correct: untraced={plain['correct']} traced={traced['correct']}"
             f" (ops {plain['attempted']} / {traced['attempted']})", "",
             "| layer | self ms/op | share of traced op time |",
             "|---|---:|---:|"]
    for name in LAYER_SELF:
        v = _v(traced, name)
        lines.append(f"| {name.split('.')[0]} | {v:.1f} | "
                     f"{v / op_ms if op_ms else 0:.1%} |")
    lines.append(f"| traced op | {op_ms:.1f} | 100% |")
    lines += ["", "| counter | value | unit |", "|---|---:|---|"]
    for name, m in traced["metrics"].items():
        if name in LAYER_SELF or name in RATIOS or m["value"] == 0:
            continue
        lines.append(f"| {name} | {m['value']:.4g} | {m['unit']} |")
    lines += ["", "| ratio | value | base |", "|---|---:|---|"]
    for name, (num, den) in RATIOS.items():
        lines.append(f"| {name} | {_v(traced, name):.4g} | {num} = "
                     f"{_v(traced, num):.4g}, {den} = {_v(traced, den):.4g} |")
    p50, tp50 = _v(plain, "latency_p50_s"), _v(traced, "trace.latency_p50_s")
    ops, tops = _v(plain, "ops_per_s"), _v(traced, "trace.ops_per_s")
    lines += ["", "Tracing overhead (traced minus untraced, same seed): "
              f"latency_p50_s {tp50 - p50:+.4f} s ({tp50:.4f} vs {p50:.4f}), "
              f"ops_per_s {tops - ops:+.4f} ({tops:.4f} vs {ops:.4f})."]
    counters = [d for d in traced["diag"] if "counters_by_name" in d]
    if counters:
        lines += ["", "| op name | n | median s | jobs | tasks | executor "
                  "cpu ms | input rows | shuffle bytes |",
                  "|---|---:|---:|---:|---:|---:|---:|---:|"]
        for name, c in counters[0]["counters_by_name"].items():
            lines.append(
                f"| {name} | {c['n']} | {c['median_s']:.3f} | {c['jobs']:.1f}"
                f" | {c['tasks']:.1f} | {c['executor_cpu_ms']:.0f} | "
                f"{c['input_rows']:.0f} | {c['shuffle_bytes']:.0f} |")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--workloads",
                    default="explore,analytic,pipeline,loaded_rw")
    args = ap.parse_args()
    for w in args.workloads.split(","):
        plain = run_once(w, args.seed, args.seconds, 0)
        traced = run_once(w, args.seed, args.seconds, 1)
        print(report(w, plain, traced) + "\n", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
