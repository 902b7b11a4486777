#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                                --trace <0|1> [--report]

Run from the root of a checkout. The first run builds the engine from the
checkout's sources together with the benchmark's code (perfbench/build.sbt)
and caches the classpath under .bench_build/; later runs reuse it while no
source file changed. Each run starts one JVM, which sets up the workload,
runs its timed loop and checks every answer.

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}, where the metrics are the end-to-end metrics of
BENCHMARK.json (--trace 0) or its per-layer metrics (--trace 1). A table of
every metric the run measured, with its unit, goes to stderr; --report also
prints the per-op-kind rows. The full report is kept in
.bench_build/out/<workload>-<seed>-<trace>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CP_FILE = os.path.join(BUILD, "classpath.txt")
STAMP_FILE = os.path.join(BUILD, "classpath.stamp")
WORKLOADS = ("vector_search", "cdc_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JAVA_OPTS = [
    # soft references go at every collection, so the live heap measured
    # after a full GC does not depend on when caches were last touched
    "-Xmx4g", "-XX:+UseG1GC", "-XX:SoftRefLRUPolicyMSPerMB=0",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    or interrupt, and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise
    return p.returncode, out, err


def build():
    stamp = source_stamp()
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CP_FILE) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        code, out, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")
          and ".jar" in ln and os.pathsep in ln]
    if not cp:
        sys.stderr.write(out[-4000:])
        fail("no classpath in the build output")
    with open(CP_FILE, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1].strip()


def table(report, by_kind):
    rows = [(n, m["value"], m["unit"]) for n, m in report["metrics"].items()]
    w = max(len(n) for n, _, _ in rows)
    lines = [f"{n:<{w}}  {v if v is None else f'{v:.6g}':>12}  {u}" for n, v, u in rows]
    lines.append(f"read tail = p{round(100 * (report['read_tail_percentile'] or 0))} "
                 f"of {report['read_samples']} reads; write tail = "
                 f"p{round(100 * (report['write_tail_percentile'] or 0))} of "
                 f"{report['write_samples']} writes; "
                 f"{report['timed_ops']} ops in {report['timed_seconds']:.2f} s")
    for f in report["warmup_failures"] + report["failures"]:
        lines.append("FAILED " + f)
    if by_kind:
        for kind, ms in report["by_kind"].items():
            lines.append(f"-- {kind}")
            lines += [f"   {k} = {v:.6g}" for k, v in sorted(ms.items()) if v]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true",
                    help="also print the per-op-kind rows to stderr")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the engine (no build.sbt / src/main)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()

    tag = f"{args.workload}-{args.seed}-{args.trace}"
    # fixed width: the engine records some absolute paths in its manifests,
    # so a path's length shows in the bytes written
    data = os.path.join(BUILD, "data", f"{tag}-{os.getpid():07d}")
    report_file = os.path.join(BUILD, "out", f"{tag}.json")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    shutil.rmtree(data, ignore_errors=True)
    if os.path.exists(report_file):
        os.remove(report_file)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
           "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--report", report_file])
    try:
        code, out, err = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env,
                                   stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                   text=True)
    except subprocess.TimeoutExpired:
        fail("run timed out")
    finally:
        shutil.rmtree(data, ignore_errors=True)
    if code != 0 or not os.path.exists(report_file):
        sys.stderr.write(err[-6000:])
        fail(f"benchmark JVM exited with code {code}")
    with open(report_file) as f:
        report = json.load(f)
    print(table(report, args.report), file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = report["metrics"].get(m["name"])
        if got is None or got["value"] is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    failed = len(report["failures"]) + len(report["warmup_failures"])
    attempted = len(report["ops"]) + report["warmup_ops"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
