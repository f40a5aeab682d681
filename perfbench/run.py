#!/usr/bin/env python3
"""Crawl + curation benchmark.

    python3 perfbench/run.py --workload <crawl_wave|query_suite> \
        --seed <n> --seconds <s> --trace <0|1> [--record]

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (perfbench/build.py), then runs one workload in one
JVM on local[4]. Prints the JVM's info line, an environment line (1-minute
load average, cores and memory at the start and end of the run) and, last,
one JSON result line: {"correct", "attempted", "failed", "metrics"}.
--record (query_suite only) adds the result digests of queries that
perfbench/query_hashes.json does not list yet, instead of failing on them.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the source tree free of build output
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl_wave", "query_suite")
JVM_TIMEOUT_S = 172
DATA = os.path.join(build.HERE, "data", "sf0.001")
HASHES = os.path.join(build.HERE, "query_hashes.json")
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (the list spark-submit injects)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# logged by Spark when two concurrent jobs compute the same cached partition
DUP_BLOCK = "already exists on this machine"


def environment():
    mem = {}
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemTotal", "MemAvailable"):
                    mem[k] = int(v.split()[0]) // 1024
    except OSError:
        pass
    return {"loadavg_1m": os.getloadavg()[0], "cores": os.cpu_count(),
            "mem_total_mb": mem.get("MemTotal"), "mem_available_mb": mem.get("MemAvailable")}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--record", action="store_true")
    a = p.parse_args()
    if a.record and a.workload != "query_suite":
        p.error("--record needs --workload query_suite")

    env_start = environment()
    classes, jars = build.build()
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # no hsperfdata file in the system temp dir: the run writes only inside the checkout
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    cmd += [f"--add-opens=java.base/{o}=ALL-UNNAMED" for o in OPENS]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.work={work}",
            f"-Dperfbench.data={DATA}", f"-Dperfbench.hashes={HASHES}",
            f"-Dperfbench.record={int(a.record)}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace]
    log_path = os.path.join(work, "jvm.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                out = ""
        with open(log_path) as fh:
            log_text = fh.read()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(log_text[-6000:])
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {a.workload} failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    dup_blocks = log_text.count(DUP_BLOCK)
    if a.trace == "1":
        result["metrics"]["BlockManager.duplicate_block_warnings"] = {"value": dup_blocks, "unit": "count"}
    for line in lines[:-1]:
        print(line)
    print(json.dumps({"env": {"start": env_start, "end": environment(),
                              "duplicate_block_warnings": dup_blocks}}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
