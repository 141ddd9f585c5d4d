"""Benchmark of the transcript-to-triples engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds T --trace 0|1
                             [--size full|smoke] [--spans-out FILE]

Run from the root of a checkout. The first run builds the engine from source
(see build.py). One run is one JVM: a closed loop of one caller on a
`local[nproc]` Spark session, timing the workload's operation back to back
for at least T seconds right after set-up, so the first timed call is the
process's first (perfbench/README.md says why).

Workloads (BENCHMARK.json says why each exists):
  kg_short_convs   fused KgPipeline.computeTriples over many ~16-turn convs
  kg_long_convs    the same call over about as many turns in ~260-turn convs

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the traced
variant and prints the per-layer metrics. Either way the last line of stdout
is one JSON object {"correct", "attempted", "failed", "metrics"}; the line
before it is the run annotation (steal %, loadavg, nproc, heap, commit),
which is also kept under the build directory in runs/.

Seeds: 42 is the development seed; 1729 is held out for confirming a claimed
gain on inputs the change was not tuned on.
"""

import argparse
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_LIMIT_S = 175


def loadavg() -> str:
    try:
        return Path("/proc/loadavg").read_text().split(" ")[0]
    except OSError:
        return "unknown"


def commit() -> str:
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--size", default="full", choices=["full", "smoke"])
    ap.add_argument("--spans-out")
    a = ap.parse_args()

    try:
        out = build.ensure()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    started = time.time()
    work = out.parent / "work" / f"{a.workload}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    load_before = loadavg()
    cmd = ([build.java()] + build.jvm_options(out)
           + ["-cp", build.classpath(out), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--size", a.size, "--model", str(out / "tagger_model"),
              "--work", str(work)]
           + (["--spans-out", str(Path(a.spans_out).resolve())] if a.spans_out else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=build.jvm_env(out),
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
        return 1
    finally:
        subprocess.run(["rm", "-rf", str(work)])

    lines = stdout.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        print(f"[perfbench] benchmark JVM exited with {proc.returncode} and no result",
              file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    notes = {}
    for line in lines[:-1]:
        if line.startswith("ANNOTATION "):
            notes = json.loads(line[len("ANNOTATION "):])
        else:
            print(line)

    annotation = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                  "trace": int(a.trace), "size": a.size, "nproc": len(os.sched_getaffinity(0)),
                  "heap": build.HEAP, "loadavg_before": load_before, "loadavg_after": loadavg(),
                  "commit": commit(), "build": out.name, "run_wall_s": round(time.time() - started, 1),
                  **notes}
    runs = out.parent / "runs"
    runs.mkdir(exist_ok=True)
    name = f"{time.strftime('%Y%m%dT%H%M%S')}-{a.workload}-{a.seed}-t{a.trace}.json"
    (runs / name).write_text(json.dumps({"annotation": annotation, "result": result}, indent=1))
    print("# run " + json.dumps(annotation))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
