#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage, from the root of a graft checkout:

    python3 perfbench/run.py --workload task_api --seed 1 --seconds 12 --trace 0

Workloads: task_api, task_lifecycle, curation_batch (see perfbench/README.md).
The first run builds graft's main sources together with the benchmark's own
(sbt, offline) and caches the classpath under perfbench/target; later runs
start the JVM directly. Everything a run writes stays inside the checkout:
scratch files under .bench_work/ (removed after the run) and, for traced
runs, span files under .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
CLASSES_JAR = os.path.join(TARGET, "perfbench-classes.jar")
# Class-data-sharing archive of the classes a short run loads: later runs
# map it instead of loading and verifying those classes one by one, which
# takes about 4 s off every run's first (cold) set-up.
ARCHIVE = os.path.join(TARGET, "perfbench.jsa")
WORKLOADS = ("task_api", "task_lifecycle", "curation_batch")
# Fixed driver heap, stated in README.md.
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "run.py"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} timed out after {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    code, out, err = run_bounded(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    cp = pack_classes(lines[-1].strip())
    dump_archive(cp)
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def pack_classes(cp):
    """The classpath with its class directories packed into one jar: the
    JVM archives classes only from jars."""
    entries = cp.split(os.pathsep)
    dirs = [e for e in entries if os.path.isdir(e)]
    with zipfile.ZipFile(CLASSES_JAR, "w", zipfile.ZIP_STORED) as z:
        for d in dirs:
            for parent, _, names in os.walk(d):
                for n in sorted(names):
                    f = os.path.join(parent, n)
                    z.write(f, os.path.relpath(f, d))
    return os.pathsep.join([CLASSES_JAR] + [e for e in entries if e not in dirs])


def dump_archive(cp):
    """Write ARCHIVE from a short task_lifecycle run (Spark SQL, parquet,
    streaming and the state store). Without it runs still work, only
    their cold set-up is slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="archive-", dir=os.path.join(ROOT, ".bench_work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(cp, tmp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + [
        "--workload", "task_lifecycle", "--seed", "0", "--seconds", "2",
        "--trace", "0", "--work", work]
    try:
        code, _, _ = run_bounded(cmd, 300, cwd=ROOT, stdout=subprocess.DEVNULL,
                                 stderr=subprocess.DEVNULL, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def java_cmd(cp, tmp, archive=None):
    java = shutil.which("java")
    if java is None:
        fail("java not found on PATH")
    if archive is None:
        archive = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Xlog:cds*=off"] + archive
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def check_checkout():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a graft checkout")


def main():
    if sys.argv[1:] == ["--list-metrics"]:
        check_checkout()
        code, out, _ = run_bounded(java_cmd(build(), ROOT) + ["--list-metrics"], 120,
                                   stdout=subprocess.PIPE, text=True)
        print(out.strip())
        sys.exit(code)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="record curation_batch row counts and hashes for this seed")
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    check_checkout()
    cp = build()
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(ROOT, ".bench_work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(cp, tmp) + ["--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work,
            "--expected", os.path.join(HERE, "expected", "curation_batch.jsonl"),
            "--out", os.path.join(ROOT, ".bench_out")]
    if a.record:
        cmd.append("--record")
    try:
        code, out, _ = run_bounded(cmd, 170, cwd=ROOT, stdout=subprocess.PIPE,
                                   stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    for name, m in result["metrics"].items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
