#!/usr/bin/env python3
"""Self-test of the warehouse benchmark at a tiny input size.

    python3 whbench/selftest.py

Runs each workload untraced and traced on 1 % of the default rows and
checks that
  - every metric BENCHMARK.json names is emitted, with its unit;
  - the correctness checks ran and held (`attempted` counts them);
  - every layer is measured by some workload;
  - in a directory holding only BENCHMARK.json and the benchmark, the
    benchmark fails without printing a result.
Exits non-zero on the first failed check.
"""
import json
import math
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
# a reload plus the 11 report queries twice; about 24 files plus the
# drain's check
MIN_ATTEMPTED = {"etl_report": 23, "stream_upsert": 20}


def run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "whbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.01"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def check(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {what}")


def main() -> int:
    layers_seen = {}
    for w in (x["name"] for x in SPEC["workloads"]):
        for trace in (0, 1):
            r = run(w, trace)
            check(r.returncode == 0, f"{w} trace={trace} exited {r.returncode}:\n"
                  + r.stderr[-3000:])
            res = json.loads(r.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w}: result keys {sorted(res)}")
            check(res["correct"] and res["failed"] == 0, f"{w}: checks failed")
            check(res["attempted"] >= MIN_ATTEMPTED[w],
                  f"{w}: only {res['attempted']} checked operations")
            declared = SPEC["per_layer" if trace else "end_to_end"]
            check(sorted(res["metrics"]) == sorted(m["name"] for m in declared),
                  f"{w} trace={trace}: metric names differ from BENCHMARK.json")
            for m in declared:
                got = res["metrics"][m["name"]]
                check(got["unit"] == m["unit"], f"{w}: unit of {m['name']}")
                check(isinstance(got["value"], (int, float)) and math.isfinite(got["value"]),
                      f"{w}: value of {m['name']}")
                if not trace:
                    check(got["value"] > 0, f"{w}: {m['name']} is not positive")
                elif got["value"] != 0:
                    layers_seen[m["name"].rsplit(".", 1)[0]] = w
            print(f"selftest: {w} trace={trace} ok ({res['attempted']} checked operations)")
    layers = {m["name"].rsplit(".", 1)[0] for m in SPEC["per_layer"]}
    unmeasured = sorted(layers - set(layers_seen))
    check(not unmeasured, f"layers no workload measured: {unmeasured}")

    (ROOT / ".bench_build").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as bare:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in SPEC["paths"]:
            shutil.copytree(ROOT / p, Path(bare) / p,
                            ignore=shutil.ignore_patterns("__pycache__"))
        r = run(SPEC["workloads"][0]["name"], 0, cwd=Path(bare))
        check(r.returncode != 0 and not r.stdout.strip(),
              "without the program the benchmark must fail and print nothing")
    print("selftest: a checkout without the program fails as it should")
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
