#!/usr/bin/env python3
"""Vector-DB benchmark over the engine's client API.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

The first run compiles the engine's sources together with the benchmark
(sbt, in this directory) and caches the classpath under `.build/`; later
runs reuse it while the sources are unchanged. Each run starts one JVM on
`local[nproc]`, works in a fresh directory under `.run/` that is removed
afterwards, writes its full record (environment, result, errors) and, for
traced runs, its spans under `out/`, and prints the result JSON as the
last line of stdout.
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_DIR = os.path.join(HERE, ".build")
ARCHIVE = os.path.join(BUILD_DIR, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the same list as the
# repository's build.sbt and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        die("no Spark installation found (set SPARK_HOME)")
    return jars


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile (if the sources changed) and return the runtime classpath."""
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    if not shutil.which("sbt"):
        die("sbt not found on PATH")
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed (sbt exit {proc.returncode})", 3)
    classpath = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    archive_classes(classpath)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)
    return classpath


def java_cmd(classpath, work, heap, *jvm_opts):
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={work}/tmp",
             *jvm_opts]
            + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
            + ["-cp", classpath, "perfbench.Main"])


def archive_classes(classpath):
    """Class-data-sharing archive of the classes a run loads, so each run's
    JVM starts in seconds instead of spending them on class loading. A
    failure only costs start-up time, so it is reported and skipped."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(HERE, ".run", f"prepare-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(classpath, work, driver_heap(),
                   f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off") + [
        "--workload", "prepare", "--seed", "1", "--seconds", "1", "--work", work]
    env = dict(os.environ, GRAFT_INDEX_ROOT=os.path.join(work, "indexes"))
    try:
        subprocess.run(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=BUILD_TIMEOUT_S // 2, start_new_session=True)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        print("perfbench: no class-data archive; runs start without it",
              file=sys.stderr)


def driver_heap():
    """A quarter of the box's memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(6, max(2, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die(f"engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    if not shutil.which("java"):
        die("java not found on PATH")
    digest = source_digest()
    classpath = build(digest)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".run", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    heap = driver_heap()
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = (java_cmd(classpath, work, heap, *cds)
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work,
              "--spans", os.path.join(out_dir, f"spans-{tag}.jsonl")])
    env = dict(os.environ, GRAFT_INDEX_ROOT=os.path.join(work, "indexes"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException as e:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if isinstance(e, subprocess.TimeoutExpired):
            die(f"run did not finish within {RUN_TIMEOUT_S} s", 4)
        raise
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    try:
        env_line = json.loads(lines[-2])["env"]
        result = json.loads(lines[-1])
    except (IndexError, KeyError, ValueError):
        sys.stderr.write(stdout[-4000:])
        die(f"no result (java exit {proc.returncode})", 5)
    if proc.returncode != 0:
        die(f"java exit {proc.returncode}", 5)
    env_line.update(driver_heap=heap, git_commit=git_commit(),
                    source_sha256=digest)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump({"env": env_line, "result": result}, f, indent=1)
    print(json.dumps({"env": env_line}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
