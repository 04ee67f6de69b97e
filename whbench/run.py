#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one fresh JVM.

    python3 whbench/run.py --workload etl_report --seed 1 --seconds 10 --trace 0

Workloads (closed loops, one client, `local[nproc]`; see README.md):
  etl_report     a full reload, then the 11 analytics queries over its star
  stream_upsert  files dropped one at a time into a running stream

The program is built from `src/main/scala` (see build.py), the inputs are
generated from the seed, and the last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics named
in BENCHMARK.json untraced (`--trace 0`), the per-layer metrics traced
(`--trace 1`). Every run also writes its full record (metrics, the tail
percentile and its sample count, stamps, calibration probe, spans) to
`.bench_build/results/`. A traced run reports its overhead against the
latest untraced run of the same workload found there.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # the benchmark's directory holds sources only
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_report", "stream_upsert")
HEAP = "4g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def calibrate() -> float:
    """Fixed single-thread CPU probe: seconds of CPU for a fixed loop."""
    t0 = time.process_time()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.process_time() - t0


def source_stamp(classes: Path) -> dict:
    """The build id (a hash of the sources), and the git SHA when the
    checkout is a git work tree of its own."""
    stamp = {"classes": classes.name}
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             text=True, capture_output=True, timeout=10)
        lines = top.stdout.split()
        if top.returncode == 0 and Path(lines[0]).resolve() == ROOT:
            stamp["git_sha"] = lines[1]
    except (OSError, subprocess.SubprocessError, IndexError):
        pass
    return stamp


def declared() -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def run_jvm(classes: Path, a, work: Path, out: Path) -> None:
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    # no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-Xss16m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={Path(__file__).parent / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", f"{classes}{os.pathsep}{jars / '*'}", "whbench.Main",
            a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work),
            str(a.scale), str(out)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1), SPARK_LOCAL_DIRS=str(tmp))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code is None:
        raise RuntimeError(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s")
    if code != 0:
        raise RuntimeError(f"the benchmark JVM exited with code {code}")


def overhead(rec: dict, results: Path) -> dict:
    """Traced minus untraced, as a share of untraced, per end-to-end metric,
    against the latest untraced record of the workload (same seed first)."""
    mine = glob.glob(str(results / f"{rec['workload']}-trace0-*.json"))
    same = [f for f in mine if f"-seed{rec['seed']}-" in f]
    pick = max(same or mine, key=os.path.getmtime, default=None)
    if pick is None:
        return {}
    base = json.loads(Path(pick).read_text())["end_to_end"]
    return {"against": Path(pick).name,
            "share": {k: (v - base[k]) / base[k] for k, v in rec["end_to_end"].items()
                      if base.get(k)}}


def main() -> int:
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.05,
                    help="input size as a share of the reference (self-test only)")
    a = ap.parse_args()

    cal0 = calibrate()
    try:
        spec = declared()
        classes = build.build()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        print(f"whbench: cannot build: {e}", file=sys.stderr)
        return 2

    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    work = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "result.json"
    try:
        run_jvm(classes, a, work, out)
        res = json.loads(out.read_text())
    except (RuntimeError, OSError, ValueError) as e:
        print(f"whbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    cal1 = calibrate()

    e2e = res["metrics"]
    layers = res["layers"]
    # a layer the workload does not run reads 0 (whbench/selftest.py checks
    # that every layer metric is produced by some workload)
    missing = [m for m in spec["end_to_end"] if m not in e2e]
    if missing:
        print(f"whbench: the run did not produce {missing}", file=sys.stderr)
        return 1
    attempted, failed = int(res["attempted"]), int(res["failed"])
    correct = failed == 0 and attempted > 0

    rec = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": a.trace, "scale": a.scale, "correct": correct,
           "attempted": attempted, "failed": failed,
           "failed_share": failed / attempted if attempted else 1.0,
           "end_to_end": {k: e2e[k] for k in spec["end_to_end"]},
           "per_layer": {k: layers.get(k, 0.0) for k in spec["per_layer"]},
           "op_tail": res["op_tail"], "ops": res["ops"], "loads": res["loads"],
           "op_ms": res["op_ms"], "load_s": res["load_s"],
           "stamp": dict(res["stamp"], nproc=os.cpu_count(), heap=HEAP,
                         **source_stamp(classes), **{"box.cal_cpu_s": [cal0, cal1]}),
           "spans": res["spans"]}
    if a.trace:
        rec["tracing_overhead"] = overhead(rec, results)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    (results / f"{a.workload}-trace{a.trace}-seed{a.seed}-{stamp}-{os.getpid()}.json") \
        .write_text(json.dumps(rec, indent=1, sort_keys=True))

    tail = res["op_tail"]
    print(f"whbench {a.workload} seed={a.seed} trace={a.trace} correct={correct} "
          f"attempted={attempted} failed={failed} failed_share={rec['failed_share']:.4f}")
    print(f"  op tail = {tail['ms']:.6g} ms at p{tail['percentile']} over {tail['samples']} "
          f"samples ({tail['samples_beyond']} beyond); box.cal_cpu_s start={cal0:.3f} "
          f"end={cal1:.3f}")
    for k, unit in spec["end_to_end"].items():
        print(f"  {k} = {e2e[k]:.6g} {unit}")
    if a.trace:
        for k, v in sorted(rec.get("tracing_overhead", {}).get("share", {}).items()):
            print(f"  tracing overhead {k}: {100 * v:+.1f} %")
    shown = spec["per_layer"] if a.trace else spec["end_to_end"]
    src = rec["per_layer"] if a.trace else rec["end_to_end"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": src[k], "unit": u} for k, u in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
