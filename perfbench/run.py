#!/usr/bin/env python3
"""The lake benchmark: one workload, one seed, one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from source on first use (sbt,
offline), generates the workload's inputs from the seed, runs the workload
in one JVM on local[nproc], checks its outputs apart from the engine, and
prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, measured with Spark listeners on. Every run works in a
fresh directory under ``.bench_work/`` and removes it at the end.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("lake_ingest", "corpus_ops")
# Input sizes per workload: 30 source days of events at about 6% of sf0.1's
# volume, so that a run fits the benchmark's time (README, "Workloads"), and
# a corpus of the sf0.01 corpus's shape at twice its row count.
SIZES = {
    "lake_ingest": {"events_per_day": 200, "users": 200, "correction_share": 0.1},
    "corpus_ops": {"documents": 1000, "embeddings": 1000},
}
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# The one operation expected to fail: `CALL show_commits` resolves only
# timeline tables, though every layout keeps a commit log.
KNOWN_FAILURE = ("probe", "show_commits")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark program with sbt unless this tree is built."""
    stamp = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    log("building the engine and the benchmark program (sbt compile)")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0:
        sys.exit(f"build failed ({r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)


def host():
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return len(os.sched_getaffinity(0)), mem_kb


def cpu_times():
    """(steal, total) jiffies of all CPUs: a shared host's noisy neighbours
    show as steal, and a run with a high steal share is slow for that."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def heap(mem_kb):
    """Half the memory, 2 to 8 GiB: the sizing of the test command."""
    g = mem_kb // 2097152
    return f"{min(max(g, 2), 8)}g"


def run_jvm(args, work, inputs, cores, mem_kb, deadline):
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # the throughput collector: the run is a batch, and G1's concurrent
        # threads would compete with the task threads for the same cores
        f"-Xmx{heap(mem_kb)}", "-XX:+UseParallelGC",
        f"-Djava.io.tmpdir={work}/tmp", "-XX:-UsePerfData",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{spark_home}/jars/*", "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--in", inputs, "--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        sys.exit("workload did not finish in time")
    if proc.returncode != 0:
        sys.exit(f"workload failed ({proc.returncode})")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("engine sources not found: run from a checkout of the repository")
    cores, mem_kb = host()
    load0 = os.getloadavg()
    build()
    cpu0 = cpu_times()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "in")
        gen.generate(inputs, args.seed, args.workload, SIZES[args.workload])
        res = run_jvm(args, work, inputs, cores, mem_kb, deadline)
        checks = list(res["checks"])
        ops = res["ops"]
        if args.workload == "corpus_ops":
            bad = oracle.check(os.path.join(inputs, "corpus"), res["info"]["results"])
            checks.append({"name": "duckdb_oracle", "ok": not bad,
                           "detail": "; ".join(f"{q}: {why}" for q, why in bad.items())})
            for o in ops:
                if o["name"] in bad:
                    o["ok"] = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = [o for o in ops if not o["ok"]]
    unexpected = sorted({f"{o['kind']} {o['name']} {o['layout']}: {o['error']}"
                         for o in failed if (o["kind"], o["name"]) != KNOWN_FAILURE})
    for c in checks:
        log(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
    for u in unexpected:
        log(f"failed op: {u}")
    by = {}
    for o in ops:
        by.setdefault((o["kind"], o["name"], o["layout"]), []).append(o["seconds"])
    for (kind, name, layout), xs in sorted(by.items()):
        xs.sort()
        log(f"op {kind:7} {name:22} {layout:12} n={len(xs):3} p50={xs[len(xs) // 2]:.3f}s")
    load1 = os.getloadavg()
    cpu1 = cpu_times()
    print(json.dumps({"workload": args.workload, "seed": args.seed, "nproc": cores,
                      "mem_total_kb": mem_kb, "loadavg_start": list(load0),
                      "loadavg_end": list(load1),
                      "cpu_steal_share": round((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]), 4),
                      "loop_s": res["loop_s"],
                      "setup_s": res["setup_s"], **res["info"]}))
    print(json.dumps({
        "correct": all(c["ok"] for c in checks),
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": res["metrics"],
    }))


if __name__ == "__main__":
    main()
