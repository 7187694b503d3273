"""Traced-run report: each layer's self time and the tracing overhead.

    python3 perfbench/report.py --seed N

For every workload in BENCHMARK.json it runs the benchmark twice with the
same seed, untraced and traced, and writes one JSON file with, per
workload: the traced run's per-layer metrics, each span name's self time
(its duration minus the time its child spans cover) in total and per
consume cycle or query execution, the spans themselves, and the
end-to-end metrics of both runs with their difference, the tracing
overhead. The two runs are separate processes, so the difference also
carries run-to-run noise. The file is perfbench/results/TRACE.json.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

from common import self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _group(span: dict) -> str:
    """Consume cycles ("c"), cold query executions ("cold") or warm ones
    ("warm"), from the span's trace id."""
    return re.match(r"[a-z]*", span["trace_id"] or "").group()


def _self_times_by_group(spans: list[dict]) -> dict[str, dict]:
    out = {}
    for g in sorted({_group(s) for s in spans}):
        traces = len({s["trace_id"] for s in spans if _group(s) == g})
        st = self_times(spans, lambda s: _group(s) == g)
        out[g] = {
            "traces": traces,
            "self_s": {
                k: {"total": v, "per_trace": v / traces}
                for k, v in sorted(st.items(), key=lambda kv: -kv[1])
            },
        }
    return out


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL, timeout=600,
    )
    path = os.path.join(HERE, "_out",
                        f"{workload}-seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    out = os.path.join(HERE, "results", "TRACE.json")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    report = {"seed": args.seed, "seconds": spec["run_seconds"],
              "workloads": {}}
    for w in spec["workloads"]:
        name = w["name"]
        plain = _run(name, args.seed, spec["run_seconds"], 0)
        traced = _run(name, args.seed, spec["run_seconds"], 1)
        overhead = {
            m: {"untraced": v, "traced": traced["e2e"][m],
                "traced_minus_untraced": traced["e2e"][m] - v,
                "share": (traced["e2e"][m] - v) / v}
            for m, v in plain["e2e"].items() if v
        }
        host = dict(traced["host"])
        host["cwd"] = os.path.relpath(host["cwd"], ROOT)
        report["workloads"][name] = {
            "host": host,
            "correct": {"untraced": plain["failed"] == 0,
                        "traced": traced["failed"] == 0},
            "self_time_s": _self_times_by_group(traced["spans"]),
            "per_layer": traced["layer"],
            "tracing_overhead": overhead,
            "info": traced["info"],
            "spans": traced["spans"],
        }
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1, default=str)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
