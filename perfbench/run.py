#!/usr/bin/env python3
"""lshspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload hash_scan --seed 1 --seconds 10 --trace 0

Run from the root of a checkout with SPARK_HOME set. The first run compiles
the library from the checkout's own sources together with the harness, with
the Scala compiler in $SPARK_HOME/jars, into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run is one JVM with
Spark in local mode on up to 4 cores.
It prints the input digest, every metric by name and unit, and as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones; a traced run also writes its spans, self times and box identity to
perfbench/target/trace/<workload>-seed<seed>.json.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import metrics  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("hash_scan", "dedup_batch", "index_ingest")
MAX_CORES = 4
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def spark_jars():
    return os.path.join(os.environ["SPARK_HOME"], "jars", "*")


def scala_sources():
    files = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def build():
    """Compile the library and the harness unless the sources are unchanged
    since the last build.

    The Scala compiler is the one in $SPARK_HOME/jars, the same version as
    the scala-library the library runs against, so the build needs nothing
    but the JDK, the Spark install and the checkout: no sbt, no dependency
    cache and no network."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources at %s; run from the root of a full checkout"
             % os.path.join(ROOT, "src", "main", "scala"))
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set; the build and the run need $SPARK_HOME/jars")
    if not glob.glob(os.path.join(os.environ["SPARK_HOME"], "jars", "scala-compiler-*.jar")):
        fail("no scala-compiler jar in $SPARK_HOME/jars")
    sources = scala_sources()
    h = hashlib.sha256()
    for f in sources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    staging = CLASSES + ".tmp"
    tmp = os.path.join(TARGET, "build-tmp")
    for d in (staging, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = [java_bin(), "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-encoding", "UTF-8", "-d", staging, "@" + argfile]
    print("[perfbench] building %d sources with scala.tools.nsc.Main" % len(sources), file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:  # also on SIGTERM: never leave the compiler behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        shutil.rmtree(staging, ignore_errors=True)
        fail("build failed" if code is not None else "build exceeded %d s" % BUILD_TIMEOUT_S, 3)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, run_dir):
    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    out = os.path.join(run_dir, "raw.json")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = [java_bin()] + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"), spark_jars()]),
        "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(cores), "--dir", run_dir, "--out", out]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("run exceeded %d s" % RUN_TIMEOUT_S, 4)
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    sys.stdout.write(stdout)
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.readlines()[-40:]
        sys.stderr.writelines(tail)
        fail("the harness exited with code %d" % proc.returncode, 5)
    with open(out) as fh:
        return json.load(fh)


def cpu_times():
    """Machine-wide CPU tick counters, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def show(name, value, unit, note=""):
    print("[perfbench] metric %s = %.6g %s%s" % (name, value, unit, note))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build()
    run_dir = os.path.join(TARGET, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    before = cpu_times()
    try:
        raw = run_jvm(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    after = cpu_times()

    box = raw["box"]
    print("[perfbench] box host=%s nproc=%s cores_used=%s jvm=%s os=%s" % (
        box["host"], box["nproc"], box["cores_used"], box["jvm"], box["os"]))
    if before and after and len(before) > 7:
        # time the hypervisor gave this machine's CPUs to others: when it is
        # high, the run's timings are slower than the code alone explains
        ticks = [b - a for a, b in zip(before, after)]
        print("[perfbench] cpu_steal_share=%.3f (machine-wide, over the run)" % (ticks[7] / max(1, sum(ticks))))
    print("[perfbench] passes %s" % " ".join(
        "%.3fs%s" % (p["wall_s"], "*" if p["traced"] else "") for p in raw["passes"]))
    attempted, failed = raw["attempted"], raw["failed"]
    show("fail_ratio", failed / attempted, "ratio", " (%d of %d operations and checks)" % (failed, attempted))
    show("peak_rss_mb", raw["peak_rss_mb"], "MB")
    if args.workload == "index_ingest":
        lc = metrics.lifecycle(raw)
        show("build_s", lc["build_s"], "s")
        show("admit_p50_s", lc["admit_p50_s"], "s")
        tail = lc["admit_tail"]
        if tail:
            show("admit_tail_s", tail[1], "s", " (p%.0f of %d batches)" % (tail[0], tail[2]))
        else:
            print("[perfbench] metric admit_tail_s = n/a (only %d batches; a tail needs more than 10)"
                  % len(metrics.samples_named(raw, "admit")))
        show("compact_s", lc["compact_s"], "s")

    if args.trace:
        per_layer, layer_self, api_s = metrics.layers(raw)
        for name, unit in metrics.PER_LAYER:
            show(name, per_layer[name], unit)
        for name in sorted(api_s):
            show(name, api_s[name], "s")
        print("[perfbench] self_s %s" % " ".join("%s=%.3f" % kv for kv in sorted(layer_self.items())))
        trace_dir = os.path.join(TARGET, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        report = {"workload": args.workload, "seed": args.seed, "box": box, "input": raw["input"],
                  "self_s_per_pass": layer_self, "api_s_per_pass": api_s, "per_layer": per_layer,
                  "passes": raw["passes"], "spans": raw["spans"], "jobs": raw["jobs"]}
        path = os.path.join(trace_dir, "%s-seed%d.json" % (args.workload, args.seed))
        with open(path, "w") as fh:
            json.dump(report, fh)
        print("[perfbench] trace written to %s" % os.path.relpath(path, ROOT))
        out = {name: {"value": per_layer[name], "unit": unit} for name, unit in metrics.PER_LAYER}
    else:  # end-to-end numbers come from untraced runs only
        e2e = metrics.end_to_end(raw)
        for name, unit in metrics.END_TO_END:
            show(name, e2e[name], unit)
        out = {name: {"value": e2e[name], "unit": unit} for name, unit in metrics.END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
