#!/usr/bin/env python3
"""Run one benchmark workload of the graft Spark engine.

    python3 perfbench/run.py --workload etl_io --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark with sbt (offline) into `target/` and `perfbench/target/`; later
runs reuse the build while the sources are unchanged. Everything a run
writes goes under `.bench_build/perfbench/` in the checkout. The last line
of standard output is the result object; the exit code is 0 only when a
result was printed. Arguments after `--` go to the benchmark program
unchanged (see perfbench/NOTES.md for the recording options).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_build" / "perfbench"
DATA = BENCH / "data" / "sf0.1"
REFERENCE = BENCH / "reference" / "sf0.1.tsv"
WORKLOADS = ("etl_io", "llm_pipeline")
HEAP = "4g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p, p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return p, None


def build():
    """Returns the JVM arguments (options and classpath) of the benchmark."""
    launch = WORK / "launch.txt"
    want = stamp()
    stamp_file = WORK / "build.stamp"
    if launch.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return launch.read_text().splitlines()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = WORK / "logs" / "build.log"
    with open(log, "w") as out:
        _, code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    built = BENCH / "target" / "launch.txt"
    if code != 0 or not built.exists():
        tail = log.read_text().splitlines()[-20:]
        die("build failed (see .bench_build/perfbench/logs/build.log):\n" + "\n".join(tail), 1)
    launch.write_text(built.read_text())
    stamp_file.write_text(want)
    return launch.read_text().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("extra", nargs="*", help="passed to the benchmark program after --")
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no engine sources at {ROOT}: run from the root of a checkout of the repository")
    if not DATA.is_dir() or not REFERENCE.is_file():
        die(f"benchmark inputs missing under {BENCH}")
    for d in ("logs", "tmp"):
        (WORK / d).mkdir(parents=True, exist_ok=True)

    jvm = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # A fixed heap, touched in full at start: a growing heap made the peak
    # RSS of runs of the same code differ by 30%, and a fixed one left
    # untouched by 13%. The peak RSS is then the heap plus the memory outside
    # it; the live heap is a metric of its own.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={WORK / 'tmp'}"] + jvm +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", str(DATA),
            "--reference", str(REFERENCE), "--work", str(WORK)] + a.extra)
    log = WORK / "logs" / f"{tag}.log"
    out_file = WORK / "logs" / f"{tag}.out"
    with open(log, "w") as err, open(out_file, "w") as out:
        # Recording runs (extra arguments) cover whole families and may run long.
        _, code = run_group(cmd, RUN_TIMEOUT_S if not a.extra else 3600, cwd=ROOT, stdout=out, stderr=err,
                            stdin=subprocess.DEVNULL)
    lines = out_file.read_text().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        tail = log.read_text().splitlines()[-15:]
        why = "timed out" if code is None else f"exit code {code}"
        die(f"benchmark program failed ({why}); log {log.relative_to(ROOT)}:\n" + "\n".join(tail), 1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
