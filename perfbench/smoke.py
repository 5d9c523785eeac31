"""Smoke test of the benchmark itself, at a tiny size.

    python3 perfbench/smoke.py

Runs every workload at sf0.001 (×2 derived log), untraced and traced,
and checks that each run
  - ends its output with exactly {correct, attempted, failed, metrics},
  - has no failed request,
  - emits every metric BENCHMARK.json names for that mode, with its unit,
  - (traced) has construct + execute inside each request's wall.
Exits 1 and lists the problems if any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["lookup", "history", "pipeline", "ingest"]


def spans_within_walls(path: str) -> list[str]:
    """Requests whose construct + execute spans exceed their wall."""
    with open(path) as f:
        spans = json.load(f)
    roots = {s["id"]: s for s in spans if s["name"] == "harness.request"}
    inner: dict[int, float] = {}
    for s in spans:
        if s["parent"] in roots and s["name"].endswith((".construct", ".execute")):
            inner[s["parent"]] = inner.get(s["parent"], 0.0) + s["end"] - s["start"]
    return [
        f"{roots[i]['request']}: construct+execute {t:.4f}s > wall "
        f"{roots[i]['end'] - roots[i]['start']:.4f}s"
        for i, t in inner.items()
        if t > roots[i]["end"] - roots[i]["start"]
    ]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for wl in WORKLOADS:
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            seed = 7
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                   "--seconds", "2", "--trace", str(trace), "--size", "tiny"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{wl} trace={trace}"
            before = len(problems)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-1500:]}")
                continue
            out = json.loads(lines[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(out)}")
                continue
            if out["failed"] or not out["correct"] or out["attempted"] < 1:
                problems.append(f"{tag}: {out['failed']} of {out['attempted']} failed: "
                                f"{json.loads(lines[-2])['perfbench']['failures']}")
            for m in spec:
                got = out["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{tag}: metric {m['name']} missing or unit {got}")
            if trace:
                trace_file = os.path.join(ROOT, ".perfbench_work", "traces", f"{wl}-seed{seed}.json")
                problems += [f"{tag}: {e}" for e in spans_within_walls(trace_file)]
            print(f"{tag}: {'ok' if len(problems) == before else 'FAILED'}", flush=True)
    for p in problems:
        print("PROBLEM", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
