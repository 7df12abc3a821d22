#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload discovery --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds: it
compiles the library (src/main/scala) and the benchmark harness
(perfbench/scala) with the Scala compiler that ships among the Spark
jars, packs the classes into one jar, and records a class-data-sharing
archive from one short training run of every workload, all under
.bench_build/ (or $CARGO_TARGET_DIR). Later runs reuse the build while
the sources hash the same. Each run starts one JVM that generates its
inputs from --seed, sets the workload up, measures whole rounds of its
op mix until --seconds have passed (at least one) and checks the
outputs. Everything a run writes lives under a private temp root inside
the build directory, deleted at exit.

The last stdout line is one JSON object with the keys correct,
attempted, failed and metrics: --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer ones (see perfbench/METRICS.md). The
line before it (key "report") carries the run metadata, input sizes and
per-operation detail. A traced run also writes its spans to
<build dir>/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("discovery", "pipeline")
# JDK 17 module opens Spark needs outside spark-submit (the same list
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the JVM gets the measurement window plus this much for JVM start,
# input generation, set-up, warm-up and output checks
JVM_SLACK_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the library builds against: $SPARK_HOME/jars, else
    the unmanagedBase build.sbt declares."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    fail("no Spark jars: set SPARK_HOME or run from a graft checkout")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(HERE, "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found under {lib}; run from a graft checkout")
    out = []
    for top in (lib, bench):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def java_cmd(cp, heap, tmp, extra=()):
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{heap}g", f"-Xms{heap}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(cp), "perfbench.Main"]


def build(build_dir, jars, heap):
    """Compile, pack and record the class-data archive, once per source
    digest. Returns (classpath, archive, digest)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    digest = h.hexdigest()[:16]
    jar = os.path.join(build_dir, f"graft-bench-{digest}.jar")
    jsa = os.path.join(build_dir, f"graft-bench-{digest}.jsa")
    cp = [jar] + jars
    done = os.path.join(build_dir, f"graft-bench-{digest}.ok")
    if os.path.isfile(done):
        return cp, jsa, digest
    for old in os.listdir(build_dir):
        if old.startswith("graft-bench-") or old == "classes":
            p = os.path.join(build_dir, old)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    classes = os.path.join(build_dir, "classes")
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    scalac_cp = os.pathsep.join(jars)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", scalac_cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", scalac_cp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for f in fs:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)

    # Class-data sharing: one short run of every workload records the
    # classes they load, so each measured JVM maps them instead of
    # loading them. It lowers setup_s, so a build without the archive
    # would not be comparable: a failed training run fails the build.
    t0 = time.time()
    tmp = fresh_tmp_root(build_dir, "cds-training")
    try:
        cmd = java_cmd(cp, heap, tmp, [f"-XX:ArchiveClassesAtExit={jsa}"]) + [
            "--workload", ",".join(WORKLOADS), "--seed", "0", "--seconds", "0",
            "--trace", "0", "--cpus", str(os.cpu_count() or 1), "--work", tmp,
            "--out", os.path.join(tmp, "result.json"), "--trace-file", os.path.join(tmp, "t")]
        ok = run_jvm(cmd, tmp, 600) == 0 and os.path.isfile(jsa)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not ok:
        fail("class-data training run failed")
    print(f"perfbench: class-data archive recorded in {time.time() - t0:.1f}s", file=sys.stderr)
    open(done, "w").close()
    return cp, jsa, digest


def run_jvm(cmd, cwd, timeout):
    """Run the JVM in its own process group; kill the group on timeout.
    Returns the exit code (None on timeout)."""
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=cwd, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def fresh_tmp_root(build_dir, tag):
    """A private work dir per run; dirs of runs whose process is gone are
    removed first so repeated runs never accumulate state."""
    base = os.path.join(build_dir, "tmp")
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        m = re.match(r".*-(\d+)$", d)
        if m and not pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    root = os.path.join(base, f"{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root


def heap_gb():
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                gb = int(line.split()[1]) // (1024 * 1024)
                return max(2, min(4, gb // 4))
    except OSError:
        pass
    return 2


def source_revision():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def unit_of(name):
    """Unit of a per-operation figure in the report, from its name."""
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "ratio" if "recall" in name else "count"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")

    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    heap = heap_gb()
    cp, jsa, digest = build(build_dir, jars, heap)

    tmp = fresh_tmp_root(build_dir, f"{a.workload}-{a.seed}-t{a.trace}")
    result_path = os.path.join(tmp, "result.json")
    trace_dir = os.path.join(build_dir, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_path = os.path.join(trace_dir, f"trace-{a.workload}-seed{a.seed}.json")
    cpus = os.cpu_count() or 1
    cmd = java_cmd(cp, heap, tmp, [f"-XX:SharedArchiveFile={jsa}"]) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--cpus", str(cpus), "--work", tmp, "--out", result_path,
        "--trace-file", trace_path]
    try:
        code = run_jvm(cmd, tmp, a.seconds + JVM_SLACK_S)
        if code is None:
            fail("benchmark JVM exceeded its time budget")
        if code != 0:
            fail(f"benchmark JVM exited with code {code}")
        try:
            res = json.load(open(result_path))
        except (OSError, ValueError) as e:
            fail(f"no result from the benchmark JVM: {e}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # the metric set and units come from BENCHMARK.json; a per-layer
    # metric of a layer this workload does not exercise reads 0
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    measured = res["metrics"]
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = measured.get(m["name"])
        if v is None and not a.trace:
            fail(f"end-to-end metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v or 0.0, "unit": m["unit"]}

    report = res["report"]
    report["named"] = {k: {"value": v, "unit": unit_of(k)} for k, v in report["named"].items()}
    report["run"].update({
        "host": platform.node(), "nproc": cpus, "heap_gb": heap,
        "source_revision": source_revision(), "source_digest": digest,
        "seed": a.seed, "workload": a.workload, "trace": a.trace,
        "seconds": a.seconds,
    })
    if a.trace:
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
