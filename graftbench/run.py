#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload pipeline|query_mix|warehouse \
        --seed N --seconds S --trace 0|1 [--size full|smoke] [--result-out FILE]

Run from the root of a graft checkout. The first run builds the library
and the harness from source with sbt (graftbench/build.sbt) and caches
the classpath under graftbench/target; later runs reuse it while the
sources are unchanged. Each run starts one JVM (local[<cores>]) that
builds seeded inputs, checks outputs untimed, then times passes for S
seconds. Human-readable lines come first; the last line of stdout is one
JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_INFO = os.path.join(BENCH, "target", "graftbench-build.json")
WORKLOADS = ("pipeline", "query_mix", "warehouse")
# Wall-clock limits for one invocation, without and with a build.
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880
# Fixed heap and young generation: with adaptive sizing, early passes ran
# slower than later ones by a varying amount while the collector resized.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
              "-XX:-UsePerfData"]

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile (when sources changed); return (runtime classpath, built)."""
    digest = sources_digest()
    if os.path.exists(BUILD_INFO):
        with open(BUILD_INFO) as f:
            info = json.load(f)
        if info.get("digest") == digest:
            return info["classpath"], False
    print("graftbench: building library and harness with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_RUN_LIMIT_S - 180, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = r.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(BUILD_INFO), exist_ok=True)
    with open(BUILD_INFO, "w") as f:
        json.dump({"digest": digest, "classpath": cp[-1]}, f)
    return cp[-1], True


def show(title, metrics):
    if metrics:
        print(title)
        for k, m in metrics.items():
            print(f"  {k} = {m['value']} {m['unit']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "smoke"))
    ap.add_argument("--result-out", help="also write the full run record here")
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"no graft sources under {LIB_SRC}; run from a full graft checkout")
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace == "1" else "end_to_end"]

    cp, built = classpath()
    work = os.path.join(ROOT, ".graftbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    log_file = os.path.join(work, "jvm.log")
    cmd = (["java"] + JVM_MEMORY + [f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.bench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--size", args.size, "--work", work, "--out", result_file,
              "--oracle-check", os.path.join(BENCH, "oracle_check.py")])
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - started)
    try:
        with open(log_file, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, cwd=work)
            try:
                rc = proc.wait(timeout=limit)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = None
        if rc != 0 or not os.path.exists(result_file):
            with open(log_file, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"run {'timed out' if rc is None else f'exited {rc}'}")
        with open(result_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.result_out:
        with open(args.result_out, "w") as f:
            json.dump(res, f, indent=1)

    print(f"graftbench {args.workload} seed={args.seed} trace={args.trace} cores={res['cores']} "
          f"size={args.size}")
    problems = res["problems"]
    print(f"correctness: {'PASS' if not problems else 'FAIL'}")
    for p in problems:
        print(f"  problem: {p}")
    for fl in res["failures"]:
        print(f"  failed op: {fl['op']} (pass {fl['pass']}): {fl['error']}")
    show("set-up parts:", res["setup_parts"])
    print(f"correctness check (untimed): {res['check_s']:.3f} s")
    show("end-to-end:", res["end_to_end"])
    show(f"{args.workload} metrics:", res["named"])
    shapes = res["shapes"]
    print(f"plan shapes: {res['distinct_shapes']} distinct over {len(shapes)} untraced passes: "
          + ", ".join(f"{s['wall_s']:.3f} s/{s['jobs']} jobs/{s['stages']} stages/{s['shuffle_bytes']} B"
                      f"/task cpu {s['task_cpu_s']:.3f} s/driver gap {s['driver_gap_s']:.3f} s"
                      for s in shapes))
    if args.trace == "1":
        show("per-layer:", res["per_layer"])
        show("per-module spans (traced passes):", res["modules"])

    got = res["per_layer" if args.trace == "1" else "end_to_end"]
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None or v["value"] is None or not math.isfinite(v["value"]):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    attempted = int(res["attempted"])
    failed = int(res["failed"])
    print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
