#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

usage: python3 perfbench/run.py --workload nba|corpus-queries --seed N
                                --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark from source (sbt, offline); later runs reuse the build. Each run
gets a temp root under perfbench/work/ for Spark's local, warehouse and
checkpoint dirs, the JVM's temp dir and the workload's files, and removes it
when it ends. The JVM is sized to the machine: one task thread per CPU
(nproc) and a heap derived from MemTotal the way the repo's Tier-1 command
derives it.

The last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics. Every workload reports the same metrics,
each measured on its own surface (see README.md). With --trace 1 the
metrics are the per-layer ones; the spans, and the metrics of single
surfaces (fetch requests, gate phases, query families, ...), are written to
perfbench/out/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_tables  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("nba", "corpus-queries")
END_TO_END = ("setup_s", "pass_s", "publish_s", "update_s")
STEPS = ("pass", "publish", "update")
PER_LAYER = tuple(f"{s}.{m}" for s in STEPS for m in (
    "spark.jobs", "spark.one_task_stages", "spark.driver_idle_s", "spark.executor_cpu_s",
    "spark.shuffle_bytes", "staging.peak_bytes", "files_written", "bytes_written")
) + ("staging.blocks_left",)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def sources_newest():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, _, fs in os.walk(base):
            if "target" in d.split(os.sep):
                continue
            for f in fs:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the program and the benchmark unless the build is current."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: no program sources beside the benchmark "
                 "(build.sbt and src/main/scala at the checkout root)")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) > sources_newest():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dsbt.ivy.home={HERE}/work/ivy2",
                        "compile", "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.exit(f"perfbench: build failed (sbt exit {r.returncode})")


def machine():
    """(cpus, heap) for this box: nproc, and MemTotal/2 clamped to 2..8 GiB."""
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return cpus, f"{min(8, max(2, gib))}g"


def run_jvm(root, args, extra):
    cpus, heap = machine()
    for d in ("local", "warehouse", "checkpoint", "tmp", "work"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap}", f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={root}/local",
            f"-Dspark.sql.warehouse.dir={root}/warehouse",
            f"-Dspark.checkpoint.dir={root}/checkpoint",
            f"-Djava.io.tmpdir={root}/tmp",
            f"-Dderby.system.home={root}/tmp",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", f"{root}/work", "--out", f"{root}/result.json"] + extra
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=f"{root}/local")
    r = subprocess.run(cmd, cwd=root, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=170)
    if r.returncode != 0:
        sys.exit(f"perfbench: workload JVM exited {r.returncode}")
    with open(f"{root}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    build()
    root = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    try:
        extra = []
        if args.trace:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            extra += ["--spans", os.path.join(
                HERE, "out", f"spans-{args.workload}-seed{args.seed}.jsonl")]
        if args.workload == "corpus-queries":
            t0 = time.perf_counter()
            tables = os.path.join(root, "tables")
            gen_tables.write_all(tables, args.seed)
            gen_s = time.perf_counter() - t0
            extra += ["--tables", tables, "--results", os.path.join(root, "work", "results")]
        t0 = time.perf_counter()
        res = run_jvm(root, args, extra)
        t1 = time.perf_counter()
        if args.workload == "corpus-queries":
            bad = oracle.compare(res.pop("outputs", {}), tables)
            res["failed"] += len(bad)
            res["problems"] += bad
            if not args.trace:
                res["metrics"]["setup_s"]["value"] += gen_s
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for p in res.get("problems", []):
        print(f"perfbench: {p}", file=sys.stderr)
    print(f"perfbench: JVM {t1 - t0:.1f} s, oracle check {time.perf_counter() - t1:.1f} s; "
          f"{res['passes']} passes; "
          f"per-pass samples {json.dumps(res['samples'])}", file=sys.stderr)
    wanted = PER_LAYER if args.trace else END_TO_END
    missing = [k for k in wanted if k not in res["metrics"]]
    if missing:
        sys.exit(f"perfbench: the workload did not measure {', '.join(missing)}")
    metrics = {k: res["metrics"][k] for k in wanted}
    if args.trace:
        detail = {k: v for k, v in res["metrics"].items() if k not in metrics}
        detail.update({k: {"value": statistics.median(v), "unit": "s"}
                       for k, v in res["samples"].items()})
        path = os.path.join(HERE, "out", f"detail-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(detail, f, indent=1)
        print(f"perfbench: single-surface metrics in {path}", file=sys.stderr)
    out = {"correct": res["correct"], "attempted": res["attempted"],
           "failed": res["failed"], "metrics": metrics}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
