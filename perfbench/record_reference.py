#!/usr/bin/env python3
"""Record the per-key reference results the benchmark checks against.

    python3 perfbench/record_reference.py [--workloads etl_io,llm_pipeline]

Runs every key of each workload four times through the benchmark program,
keys sharing the engine's cached fixtures as in a benchmark run, so the
first consumer of each builds it: registry order with the default shuffle
partitions (the reference), registry order with 3 and with 11 shuffle
partitions, and a shuffled order (seed 7), which moves every fixture to
another first consumer. A key whose digest differs between these passes is
written with check `rows` (rows and schema only) and the reason; a key
whose row count or schema differs, or that fails, stops the recording.
Writes perfbench/reference/sf0.1.tsv, with each key's seconds in the
reference pass (`cost_s`, which the benchmark's key selection stratifies
on), and prints the invariance table that perfbench/NOTES.md quotes.
"""
import argparse
import random
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench" / "record"
WORKLOADS = ("etl_io", "llm_pipeline")
PASSES = {
    "p4": ["--keys", "all"],
    "p3": ["--keys", "all", "--partitions", "3"],
    "p11": ["--keys", "all", "--partitions", "11"],
}


def record(workload, name, extra):
    out = OUT / f"{workload}-{name}.tsv"
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "0",
           "--seconds", "60", "--", "--record", str(out)] + extra
    subprocess.run(cmd, cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    rows = {}
    for line in out.read_text().splitlines():
        f = line.split("\t")
        if f[7:] and f[7]:
            sys.exit(f"{workload} {name}: {f[0]} failed: {f[7]}")
        rows[f[0]] = (f[1], f[2], f[3], sum(float(x) for x in f[4:7]))
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    OUT.mkdir(parents=True, exist_ok=True)
    lines = ["# key\trows\tdigest\tschema\tcost_s\tcheck\treason"]
    for w in a.workloads.split(","):
        passes = {n: record(w, n, extra) for n, extra in PASSES.items()}
        ref = passes["p4"]
        shuffled = list(ref)
        random.Random(7).shuffle(shuffled)
        passes["seed7"] = record(w, "seed7", ["--keys", ",".join(shuffled)])
        stable = 0
        for key, (rows, digest, schema, cost) in ref.items():
            differs = []
            for n, got in passes.items():
                g_rows, g_digest, g_schema, _ = got[key]
                if (g_rows, g_schema) != (rows, schema):
                    sys.exit(f"{w}: {key} gives {g_rows} rows / schema {g_schema} in pass {n}, "
                             f"{rows} / {schema} in the reference")
                if g_digest != digest:
                    differs.append(n)
            if differs:
                reason = "digest differs in pass " + ",".join(differs)
                lines.append(f"{key}\t{rows}\t{digest}\t{schema}\t{cost:.3f}\trows\t{reason}")
                print(f"{w}\t{key}\tunstable\t{reason}")
            else:
                stable += 1
                lines.append(f"{key}\t{rows}\t{digest}\t{schema}\t{cost:.3f}\texact\t")
        print(f"{w}\t{len(ref)} keys\t{stable} with the same digest in all {len(passes)} passes")
    ref_file = BENCH / "reference" / "sf0.1.tsv"
    keep = []
    if ref_file.exists():
        done = {l.split("\t")[0] for l in lines[1:]}
        keep = [l for l in ref_file.read_text().splitlines()[1:] if l and l.split("\t")[0] not in done]
    ref_file.write_text("\n".join(lines[:1] + keep + lines[1:]) + "\n")


if __name__ == "__main__":
    main()
