#!/usr/bin/env python3
"""Layered benchmark of the lambda ELT pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. Builds the library and the benchmark from
source (see build.py), runs one workload in a fresh JVM at local[nproc],
and prints, as its last line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. The line before it is
the detail record (seed, cpus, heap, per-operation samples, spans). All
scratch lives under one run-owned dir inside the checkout, removed at exit.
Exits non-zero, without a result line, when the build or set-up fails;
exits 1 after the result line when a correctness check or an operation
failed. `--self-test` runs the benchmark's own tests (plan guard and
query digests over the whole declared surface).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

BENCH_DIR = build.BENCH_DIR
ROOT = build.ROOT
WORKLOADS = ("batch_daily", "stream_hourly", "query_surface")
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_jvm(cmd, timeout):
    """Run the JVM, relaying its stderr; return (exit code, stdout lines)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("interrupted", 130)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"timed out after {timeout} s", 124)
    return proc.returncode, out.splitlines()


def cpu_times():
    """Host CPU jiffies from /proc/stat: (steal, total), or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return f[7] if len(f) > 7 else 0, sum(f[:8])


def declared_metrics():
    """BENCHMARK.json's end-to-end and per-layer metrics, with units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]},
            [w["name"] for w in spec["workloads"]])


def shape(result, detail, traced, workload):
    """Keep exactly the metrics BENCHMARK.json declares for this mode. A
    per-layer metric of a layer the workload never calls reads 0 and is
    listed in the detail record as not applicable."""
    e2e, layers, listed = declared_metrics()
    if workload not in listed:
        return result
    want = layers if traced else e2e
    got = result["metrics"]
    missing = [n for n in want if n not in got]
    if not traced and missing:
        fail(f"workload produced no {missing}")
    for n in missing:
        got[n] = {"value": 0, "unit": want[n]}
    detail["not_applicable"] = missing
    result["metrics"] = {n: got[n] for n in want}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", metavar="VERIFY_DUMP",
                    help="write the expected query digests from a graft.Verify dump")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record):
        ap.error("--workload, --self-test or --record is required")

    try:
        jar = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload or 'self_test'}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if not a.workload:
            extra = ["--record", os.path.abspath(a.record)] if a.record else []
            cmd = build.java_cmd(jar, run_dir, "graftbench.SelfTest",
                                 ["--fixtures", os.path.join(BENCH_DIR, "fixtures"),
                                  "--run-dir", run_dir, "--cpus", str(build.cpus())] + extra)
            code, lines = run_jvm(cmd, None)
            print("\n".join(lines))
            sys.exit(code)
        cmd = build.java_cmd(jar, run_dir, "graftbench.Main",
                             build.workload_args(a.workload, a.seed, a.seconds, a.trace,
                                                 run_dir))
        cpu0 = cpu_times()
        code, lines = run_jvm(cmd, JVM_TIMEOUT_S)
        cpu1 = cpu_times()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if code not in (0, 1) or len(lines) < 2:
        fail(f"{a.workload} exited {code} without a result")
    try:
        detail = json.loads(lines[-2])["detail"]
        result = json.loads(lines[-1])
    except (ValueError, KeyError) as e:
        fail(f"unreadable result: {e}")
    result = shape(result, detail, a.trace == 1, a.workload)
    detail["build"] = os.path.relpath(os.path.dirname(jar), ROOT)
    detail["cds_archive"] = os.path.relpath(build.archive(jar), ROOT)
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # share of the vCPUs' time the host gave to others during the run
        detail["cpu_steal_share"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    for line in lines[:-2]:
        print(line)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
