#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repo root. Builds the program and the benchmark from source
(perfbench/build.py), starts one benchmark JVM, and prints two lines: an
`info` JSON object (environment, input ground truth, sample sizes), then,
as the last line, the result object with exactly the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are the
end-to-end ones, with `--trace 1` the per-layer ones (BENCHMARK.json).
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("medallion_backfill", "stream_open_loop", "curate_corpus")
HEAP = "3g"  # fits a 16 GiB machine shared with other processes
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat, or None where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    # a terminated run unwinds through the `finally`s below, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and not a.workload:
        p.error("--workload is required")

    cp = build.build()
    tag = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build.OUT, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(build.OUT, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    result_file = os.path.join(work, "result.json")
    log_file = os.path.join(results, f"{tag}.log")

    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dderby.system.home={work}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--work", work]
    if a.selftest:
        cmd += ["--selftest", "1"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--result", result_file]

    cpu0 = cpu_times()
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log if not a.selftest else None,
                                    stderr=log, cwd=work)
            try:
                code = proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                sys.stderr.write(f"perfbench: run exceeded {TIMEOUT_S} s; see {log_file}\n")
                return 1
            finally:  # timed out or terminated: never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if code != 0 or (not a.selftest and not os.path.exists(result_file)):
            with open(log_file) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write(f"perfbench: benchmark JVM exited with {code}\n")
            return 1
        if a.selftest:
            return 0
        with open(result_file) as fh:
            res = json.load(fh)
        cpu1 = cpu_times()
        if cpu0 and cpu1 and len(cpu0) > 7:
            # time the hypervisor gave to other machines while this run ran
            d = [b - a for a, b in zip(cpu0, cpu1)]
            res["info"]["cpu_steal_pct"] = f"{100.0 * d[7] / max(sum(d[:8]), 1):.1f}"
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            kept = os.path.join(results, f"{tag}.spans.jsonl")
            shutil.copy(spans, kept)
            res["info"]["spans_file"] = kept
        with open(os.path.join(results, f"{tag}.json"), "w") as fh:
            json.dump(res, fh, indent=1)
        print(json.dumps({"info": res["info"]}))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
