#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the program and the benchmark from source (see build.py), runs the
benchmark JVM, adds its peak resident memory, and prints one JSON object:
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` its
per-layer ones (0 where the workload does not exercise that layer). Exits
non-zero when any output is wrong or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
HERE = ROOT / "perfbench"
TIMEOUT_S = 170
# Heap of the benchmark JVM, fixed (-Xms = -Xmx). Left to G1's own sizing,
# peak RSS on one cdc_upsert configuration ran from 1.26 to 1.63 GB across
# five seeds, in steps of whole heap expansions; fixed, `rss_peak_mb` is
# steady and moves with off-heap growth, while the traced run's
# `jvm.live_peak_mb` follows the program's live heap.
HEAP = "2g"


def jvm(main, args, heap, workdir):
    """Run a benchmark main; returns (stdout lines, exit code, peak RSS in MB)."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", *build.JVM_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={workdir / 'derby.log'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", build.classpath(), main, *args]
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         cwd=workdir, text=True)
    lines = []

    def pump():
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("PERFBENCH_RESULT "):
                print(line, end="", file=sys.stderr)

    reader = threading.Thread(target=pump)
    reader.start()
    timer = threading.Timer(TIMEOUT_S, p.kill)
    timer.start()
    try:
        _, status, usage = os.wait4(p.pid, 0)
    finally:
        timer.cancel()
    p.returncode = os.waitstatus_to_exitcode(status)
    reader.join()
    return lines, p.returncode, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    build.build()
    workdir = ROOT / ".bench_build" / "perfbench" / "run"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    if a.selftest:
        _, code, _ = jvm("perfbench.SelfTest", [], "512m", workdir)
        sys.exit(code)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    if a.workload not in names:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; one of {names}")
    config = json.loads((HERE / "workloads.json").read_text())
    config["corpus"] = os.path.expanduser(config["corpus"])
    config["expected_counts"] = {
        k: v["count"] for k, v in
        json.loads((HERE / "expected_counts.json").read_text()).items()}
    cfg_file = workdir / "config.json"
    cfg_file.write_text(json.dumps(config))
    out_dir = ROOT / ".bench_build" / "perfbench" / "out"
    lines, code, rss_mb = jvm(
        "perfbench.Main",
        ["--config", str(cfg_file), "--out-dir", str(out_dir),
         "--workload", a.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--trace", str(a.trace)],
        HEAP, workdir)
    shutil.rmtree(workdir, ignore_errors=True)
    found = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not found:
        sys.exit(f"perfbench: benchmark JVM exited with {code} and no result")
    r = json.loads(found[-1][len("PERFBENCH_RESULT "):])
    got = r["metrics"]
    got["rss_peak_mb"] = {"value": rss_mb, "unit": "MB"}
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    failed = r["failed"] + len(missing)
    for e in r["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    for m in missing:
        print(f"perfbench: FAILED metric {m} was not measured", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"] + len(missing),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
