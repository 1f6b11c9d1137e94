#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload rules|chain --seed N \\
        --seconds S --trace 0|1

Run it from the repository root. It builds graft and the benchmark when
the sources changed (see build.py), launches the benchmark JVM once, and
prints one JSON line
as the last line of stdout. The full report (quartiles, sample counts,
every op) goes to .bench_work/reports/, spans of traced runs beside it.
See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import harness  # noqa: E402

JVM_TIMEOUT_S = 170

# fixed for every launch, so runs of different code compare
JVM_FLAGS = [
    "-Xms2g", "-Xmx2g",          # fixed heap
    "-Xss1m",                    # default thread stack (the cold probe's)
    "-XX:+UseParallelGC",
    "-XX:ParallelGCThreads=2",
    "-XX:ReservedCodeCacheSize=256m",
    "-XX:MetaspaceSize=256m",    # no full GCs as generated classes load
    "-XX:-UsePerfData",          # no hsperfdata file outside the checkout
    "-Dspark.callstack.depth=200",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def launch(root, cp, work, args, log):
    """One benchmark JVM; returns its result.json."""
    if os.path.exists(work):
        shutil.rmtree(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "perfbench.Main",
                                  "--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--cores", str(harness.CORES), "--work", work,
                                  "--launch-ms", str(int(time.time() * 1000))]
    if args.width:
        cmd += ["--width", str(args.width)]
    p = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=log, start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0:
        raise RuntimeError(f"benchmark JVM exited with {code}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=harness.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--width", type=int, default=0, help="wide suite width (tuning only)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not build.has_sources(root):
        print(f"perfbench: no graft sources under {root}", file=sys.stderr)
        return 2
    base = os.path.join(root, ".bench_work")
    reports = os.path.join(base, "reports")
    os.makedirs(reports, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    log_path = os.path.join(reports, tag + ".log")
    work = os.path.join(base, f"{tag}-{os.getpid()}")
    with open(log_path, "w") as log:
        try:
            cp = build.ensure(root, log)
            result = launch(root, cp, work, args, log)
            for extra in ("spans", "jobs"):
                f = os.path.join(work, extra + ".json")
                if os.path.exists(f):
                    shutil.copy(f, os.path.join(reports, f"{tag}-{extra}.json"))
        except Exception as e:  # noqa: BLE001 - any failure means no result line
            print(f"perfbench: {e}; see {log_path}", file=sys.stderr)
            return 1
        finally:
            shutil.rmtree(work, ignore_errors=True)

    line, report = harness.result_line(result, args.trace)
    with open(os.path.join(reports, tag + ".json"), "w") as fh:
        json.dump({"result": line, "report": report, "raw": result}, fh, indent=1)
    for p in harness.problems(result):
        print(f"perfbench: MISMATCH {p}", file=sys.stderr)
    probe = result.get("cold_probe")
    print(f"perfbench: {tag} ops={len(result['ops'])} "
          f"cold_probe={'n/a' if not probe else ('ok' if probe['ok'] else 'FAILED ' + probe['error'])} "
          f"wscg_fallbacks={result.get('codegen_fallbacks')} "
          + " ".join(f"{k}={v['value']:.4g}[{v.get('q1', v['value']):.4g},{v.get('q3', v['value']):.4g}]"
                     for k, v in report.items() if not k.startswith("pipeline.")),
          file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
