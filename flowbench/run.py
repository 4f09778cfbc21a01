#!/usr/bin/env python3
"""Nightly-flow benchmark for graft (see flowbench/README.md).

Usage:
  python3 flowbench/run.py --workload ortholog_sf01|corpus_x4 --seed N \
      --seconds S --trace 0|1 [--record-goldens]

Builds graft and the harness from source (flowbench/build.py), runs the
workload's flow once in a fresh JVM and prints, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
with --trace 0, the per-layer split with --trace 1). With --trace 1 the
spans are also written to .bench_build/traces/<workload>-seed<N>.json.
One flow of either workload takes longer than the --seconds the
benchmark is run with, so --seconds is met by the single flow and is not
passed on. --record-goldens stores this run's output hashes and audit counts as the
goldens every later run is checked against.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("ortholog_sf01", "corpus_x4")
GOLDENS = os.path.join(HERE, "goldens.json")
RUN_LIMIT_S = 170      # one run, build excluded
FIRST_RUN_LIMIT_S = 880  # a run that builds
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm_command(classes, args, work, parity):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    return (["java"] + opens
            + ["-Xms4g", "-Xmx4g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", build.classpath(classes), "flowbench.FlowBench",
               "--workload", args.workload, "--seed", str(args.seed),
               "--trace", str(args.trace), "--data", os.path.join(HERE, "data"),
               "--work", work, "--result", os.path.join(work, "result.json"),
               "--parity", "1" if parity else "0"])


def run_jvm(cmd, work, limit_s):
    """Run the benchmark JVM to completion (killed at `limit_s`); returns
    its result object, or None with the log tail on stderr."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=max(limit_s, 1))
        except subprocess.TimeoutExpired:
            code = "timeout after %ds" % limit_s
        finally:
            if proc.poll() is None:  # timed out, or this process was stopped
                proc.kill()
                proc.wait()
    result_path = os.path.join(work, "result.json")
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as fh:
            return json.load(fh)
    with open(log_path, errors="replace") as fh:
        tail = fh.read()[-4000:]
    print("benchmark JVM failed (%s):\n%s" % (code, tail), file=sys.stderr)
    return None


def main():
    # a stop request unwinds through run_jvm, which stops the JVM first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true")
    args = ap.parse_args()
    t0 = time.monotonic()

    try:
        classes, built = build.ensure()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 1
    # CLI parity is checked once per build, by the first ortholog run
    parity_mark = os.path.join(classes, ".parity-ok")
    parity = args.workload == "ortholog_sf01" and not os.path.exists(parity_mark)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    work = os.path.join(build.BUILD, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run_jvm(jvm_command(classes, args, work, parity), work, limit)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1

    if args.record_goldens:
        record_goldens(args.workload, result)
    with open(GOLDENS) as fh:
        golden = json.load(fh)[args.workload]
    out = report.summarize(result, golden)
    if parity and report.parity_ok(result["parity"]):
        open(parity_mark, "w").close()
    if args.trace:
        traces = os.path.join(build.BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, "%s-seed%d.json" % (args.workload, args.seed)), "w") as fh:
            json.dump(report.trace_record(result), fh)
    flow = result["flow"]
    print("wall %.1fs, jvm %.2fs, session %.2fs, staging %.2fs, set-ups %s, flow %.2fs, check %.2fs, steps %s" % (
        time.monotonic() - t0, result["jvm_s"], result["session_s"], result["stage_s"],
        [round(s, 2) for s in result["setup_s"]], flow["flow_s"],
        flow["check_s"], [(s["name"], round(s["seconds"], 2)) for s in flow["steps"]]),
        file=sys.stderr)
    print(json.dumps(out))
    return 0


def record_goldens(workload, result):
    flow = result["flow"]
    goldens = {}
    if os.path.exists(GOLDENS):
        with open(GOLDENS) as fh:
            goldens = json.load(fh)
    goldens[workload] = {"hashes": flow["hashes"], "audits": flow["audits"]}
    with open(GOLDENS, "w") as fh:
        json.dump(goldens, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.exit(main())
