"""Smoke-size self-test of the benchmark.

    python3 perfbench/test/selftest.py [WORKLOAD ...]

Runs every workload named in BENCHMARK.json (or only the ones given) at smoke
size, untraced and traced, and checks that

  - each run exits 0 and its last stdout line is the result object, with
    "correct": true and no failed operation;
  - every end-to-end metric of BENCHMARK.json is printed, with its unit, by
    the untraced run, and every per-layer metric by the traced run;
  - the traced run's spans nest: each child lies inside its parent, and
    every self time is >= 0.

Exits 1 on the first failed check.
"""

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402


def fail(msg: str) -> None:
    print(f"selftest: FAIL: {msg}", file=sys.stderr)
    sys.exit(1)


def run(workload: str, trace: int, spans: Path) -> dict:
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "42",
           "--seconds", "1", "--trace", str(trace), "--size", "smoke", "--spans-out", str(spans)]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        fail(f"{workload} trace={trace} exited {r.returncode}")
    result = json.loads(r.stdout.rstrip("\n").split("\n")[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload} trace={trace}: result keys {sorted(result)}")
    if result["correct"] is not True or result["failed"] != 0 or result["attempted"] < 1:
        fail(f"{workload} trace={trace}: correct={result['correct']} "
             f"attempted={result['attempted']} failed={result['failed']}")
    return result["metrics"]


def check_metrics(workload: str, trace: int, metrics: dict, declared: list) -> None:
    for m in declared:
        got = metrics.get(m["name"])
        if got is None:
            fail(f"{workload} trace={trace}: metric {m['name']} not printed")
        if got["unit"] != m["unit"]:
            fail(f"{workload} trace={trace}: {m['name']} unit {got['unit']} != {m['unit']}")
        if not isinstance(got["value"], (int, float)):
            fail(f"{workload} trace={trace}: {m['name']} value {got['value']!r}")


def check_spans(workload: str, spans: Path) -> None:
    spans = json.loads(spans.read_text())
    if not spans:
        fail(f"{workload}: no spans recorded")
    by_id = {s["id"]: s for s in spans}
    if len({s["trace"] for s in spans}) != 1:
        fail(f"{workload}: spans of one run carry several trace ids")
    for s in spans:
        if s["end_ns"] < s["start_ns"]:
            fail(f"{workload}: span {s['name']} ends before it starts")
        if s["self_s"] < 0:
            fail(f"{workload}: span {s['name']} has self time {s['self_s']}")
        if s["parent"] >= 0:
            p = by_id.get(s["parent"])
            if p is None:
                fail(f"{workload}: span {s['name']} has unknown parent {s['parent']}")
            if s["start_ns"] < p["start_ns"] or s["end_ns"] > p["end_ns"]:
                fail(f"{workload}: span {s['name']} lies outside its parent {p['name']}")


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    scratch = build.build_root() / "selftest"
    scratch.mkdir(parents=True, exist_ok=True)
    for w in names:
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            spans = scratch / f"{w}-{trace}.spans.json"
            spans.unlink(missing_ok=True)
            check_metrics(w, trace, run(w, trace, spans), declared)
            if trace == 1:
                check_spans(w, spans)
            print(f"selftest: {w} trace={trace} ok")
    print("selftest: all ok")


if __name__ == "__main__":
    main()
