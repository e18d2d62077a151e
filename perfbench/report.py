"""Traced vs untraced runs of every workload, summarised in one file.

    python3 perfbench/report.py --seeds 1,2 --out .perfbench/report.json

For each workload and seed it runs the benchmark untraced and traced
(alternating which goes first), then records per workload: the median
of every metric the untraced runs measure, the same medians from the
traced runs, the tracing overhead (traced / untraced - 1 per metric),
and the median of every metric the traced runs record (BENCHMARK.json's
per-layer list plus the layer spans, streaming progress and catalog
per-query splits beside it). It ranks the catalog queries by DataFrame
build time, with the Spark jobs each build runs. Run from the
repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                    str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = ROOT / ".perfbench" / "results" / f"{workload}-seed{seed}-trace{trace}.json"
    return json.loads(path.read_text())


def medians(runs: list[dict], names) -> dict:
    return {n: statistics.median(r["all_metrics"].get(n, 0.0) for r in runs) for n in names}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1,2")
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out", default=".perfbench/report.json")
    args = ap.parse_args()
    seeds = [int(s) for s in args.seeds.split(",")]

    report: dict = {"seconds": args.seconds, "seeds": seeds, "workloads": {}}
    for w in (x["name"] for x in spec["workloads"]):
        runs: dict[int, list[dict]] = {0: [], 1: []}
        for i, seed in enumerate(seeds):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                runs[trace].append(run(w, seed, args.seconds, trace))
        # every metric the untraced runs measure (the end-to-end ones and
        # the latencies and memory they record beside them)
        measured = [n for n in runs[0][0]["all_metrics"] if n != "samples"]
        plain, traced = medians(runs[0], measured), medians(runs[1], measured)
        report["workloads"][w] = {
            "context": [r["context"] for r in runs[0] + runs[1]],
            "correct": all(r["result"]["correct"] for r in runs[0] + runs[1]),
            "untraced": plain,
            "traced": traced,
            "tracing_overhead": {n: traced[n] / plain[n] - 1 for n in measured if plain[n]},
            "per_layer": medians(runs[1], [n for n in runs[1][0]["all_metrics"] if n != "samples"]),
        }
    cat = report["workloads"].get("catalog_eager", {}).get("per_layer", {})
    ranked = sorted(((k.split(".")[1], v) for k, v in cat.items()
                     if k.startswith("catalog.") and k.endswith(".build_s") and k.count(".") == 2),
                    key=lambda kv: -kv[1])
    report["top_build_queries"] = [
        {"query": q, "build_s": s, "build_jobs": cat[f"catalog.{q}.build_jobs"],
         "exec_s": cat[f"catalog.{q}.exec_s"]} for q, s in ranked]
    Path(args.out).parent.mkdir(parents=True, exist_ok=True)
    Path(args.out).write_text(json.dumps(report, indent=1) + "\n")
    print(json.dumps({w: v["tracing_overhead"] for w, v in report["workloads"].items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
