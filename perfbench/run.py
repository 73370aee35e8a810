#!/usr/bin/env python3
"""graft benchmark: drive-log ingest and lake queries.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_drive|lake_queries \
      --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed under .bench_work/, runs the JVM side
(graft.perfbench.Main) in one JVM at local[4], checks the outputs, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_drive", "lake_queries")
LAKE_SF = 0.01
DEADLINE_S = 175
JDK_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio "
             "java.util java.util.concurrent java.util.concurrent.atomic sun.nio.ch "
             "sun.nio.cs sun.security.action sun.util.calendar").split()


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        fail("refusing to run with SPARK_GRAFT_EXTRA_CONF set: it would change what is measured")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    sys.dont_write_bytecode = True
    sys.path.insert(0, HERE)
    import build
    import lakegen
    import oracle

    before = snapshot(ROOT)
    t_build = time.monotonic()
    cp = build.classpath(ROOT)
    # the deadline starts after the build: a cold build may take minutes
    t_start = time.monotonic()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    lake = os.path.join(work, "lake")
    if args.workload == "lake_queries":
        lakegen.write(lake, args.seed, LAKE_SF)
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx4g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--lake", lake, "--out", out])
    t_inputs = time.monotonic()
    budget = DEADLINE_S - (t_inputs - t_start)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = proc.wait(timeout=max(budget - 10, 30))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM ran out of time")
    if rc != 0:
        fail(f"benchmark JVM exited with code {rc}")
    t_jvm = time.monotonic()
    res = json.load(open(out))
    problems = list(res["problems"])
    failed = res["failed"]
    if args.workload == "lake_queries":
        wrong = oracle.check(lake, os.path.join(work, "check"), mix(work))
        problems += [f"{q}: {p}" for q, p in sorted(wrong.items())]
        failed += len(wrong)
    after = snapshot(ROOT)
    stray = sorted(p for p in before.keys() | after.keys() if before.get(p) != after.get(p))
    if stray:
        problems.append(f"wrote outside .bench_work: {stray[:5]} ({len(stray)} paths)")
        failed += 1
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(f"perfbench: {args.workload} seed {args.seed}: first pass {res['first_pass_s']:.2f} s, "
          f"passes {res['passes']} cpu {res['pass_cpu_s']}, jit {res['pass_jit_s']}, gc {res['pass_gc_s']}, "
          f"peak rss {res['peak_rss_mb']:.0f} MB, setups {res['setups_s']}, bag bytes {res['bag_bytes']}; wall: build "
          f"{t_start - t_build:.1f} s, lake {t_inputs - t_start:.1f} s, jvm {t_jvm - t_inputs:.1f} s, "
          f"checks {time.monotonic() - t_jvm:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": res["attempted"],
        "failed": min(failed, res["attempted"]),
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                    for m in wanted}}))


def snapshot(root):
    """Every path under the checkout with its size and mtime, outside the
    benchmark's own build and work directories."""
    out = {}
    for d, dirs, files in os.walk(root):
        if d == root:
            dirs[:] = [x for x in dirs if x not in (".git", ".bench_build", ".bench_work")]
        for name in dirs + files:
            p = os.path.join(d, name)
            st = os.lstat(p)
            out[os.path.relpath(p, root)] = None if name in dirs else (st.st_size, st.st_mtime_ns)
    return out


def mix(work):
    """The query names the JVM checked: the keys of its oracle file."""
    return sorted(json.load(open(os.path.join(work, "check", "oracle_sql.json"))))


if __name__ == "__main__":
    main()
