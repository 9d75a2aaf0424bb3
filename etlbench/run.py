#!/usr/bin/env python3
"""Benchmark entry point. From the root of a checkout:

    python3 etlbench/run.py --workload etl_batch --seed 1 --seconds 20 --trace 0
    python3 etlbench/run.py --selftest

Builds the program from source when needed (etlbench/build.py), runs one
JVM with the benchmark main, and prints that JVM's result as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. Work files
live under .bench_build/ in the checkout and are removed afterwards;
traced runs keep their spans in .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing behind but .bench_build/
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("etl_batch", "etl_stream", "corpus_dedup")
# wall-clock cap of the benchmark JVM, under the 180 s a run may take
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print("[graftbench] %s" % msg, file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")

    try:
        build.ensure_built()
    except build.BuildError as e:
        fail("build failed: %s" % e)

    tag = "selftest" if a.selftest else "%s-%d" % (a.workload, a.seed)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (tag, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = ["--work", work]
    if a.selftest:
        args.append("--selftest")
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--trace-out", os.path.join(build.BUILD, "traces")]
    proc = subprocess.Popen(build.java_args(tmp) + ["graftbench.Main"] + args,
                            stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail("run did not finish in time or was interrupted", 3)
    shutil.rmtree(work, ignore_errors=True)

    lines = out.decode("utf-8", "replace").splitlines()
    if proc.returncode != 0:
        sys.stdout.write("\n".join(lines) + "\n")
        fail("benchmark JVM exited with code %d" % proc.returncode, proc.returncode)
    if a.selftest:
        return
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result line", 4)
    result["metrics"] = with_units(result["metrics"], a.trace)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


def with_units(measured, trace):
    """The declared metrics of BENCHMARK.json (end_to_end, or per_layer when
    traced) with their units; a layer the workload does not reach is 0."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in declared]
    unknown = set(measured) - set(names)
    missing = [n for n in names if n not in measured]
    if unknown:
        fail("undeclared metrics: %s" % ", ".join(sorted(unknown)), 4)
    if missing and not trace:
        fail("missing metrics: %s" % ", ".join(missing), 4)
    return {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared}


if __name__ == "__main__":
    main()
