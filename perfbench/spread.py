#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/spread.py --workloads etl_io,llm_pipeline --seeds 1-10 [--trace 1]

Every run is kept: no run is dropped for being noisy, and the host's steal
and load are listed for each run. Each metric is summarised by its median
and quartiles over the runs (Python's statistics.quantiles, n=4); the
spread is the distance between the quartiles as a share of the median,
which for the end-to-end metrics is compared with a third of the bound
in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RUNS = ROOT / ".bench_build" / "perfbench" / "runs"


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="etl_io,llm_pipeline")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        results = []
        for s in seeds(a.seeds):
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s}: exit {p.returncode}\n{p.stderr}")
            res = json.loads(p.stdout.splitlines()[-1])
            host = next(l for l in p.stdout.splitlines() if l.startswith("host "))
            results.append((s, res, host))
            print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}/{res['attempted']} {host}",
                  flush=True)
        names = list(results[0][1]["metrics"])
        print(f"\n{w}: {len(results)} runs")
        print(f"  {'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound/3':>8}")
        rows = {}
        for n in names:
            vals = [r["metrics"][n]["value"] for _, r, _ in results]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(n) if a.trace == 0 else None
            flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE")
            print(f"  {n:24} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
                  f"{'' if b is None else f'{b / 3:8.3f}'} {flag}")
            rows[n] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": spread}
        report[w] = {"seeds": [s for s, _, _ in results], "hosts": [h for _, _, h in results],
                     "failed": [r["failed"] for _, r, _ in results], "metrics": rows}
    RUNS.mkdir(parents=True, exist_ok=True)
    out = RUNS.parent / f"spread-trace{a.trace}.json"
    out.write_text(json.dumps(report, indent=1))
    print(f"\nwritten {out.relative_to(ROOT)}")


if __name__ == "__main__":
    main()
