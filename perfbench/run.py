#!/usr/bin/env python3
"""Workload benchmark for the graft migration pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload plan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the benchmark package from source with sbt the
first time (or when a source changed), then runs one workload in a fresh
JVM and prints its result as the last line of standard output.  See
perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("plan", "transfer", "resync", "curate")
# Exit within this many seconds of start, build included only when the
# build is skipped; a first run that builds may take up to BUILD_LIMIT_S.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Everything the build reads: build definitions and main sources."""
    files = []
    for build in (ROOT, HERE):
        files += [build / "build.sbt"] + sorted((build / "project").glob("*.sbt")) \
            + sorted((build / "project").glob("*.properties"))
        files += sorted(p for p in (build / "src" / "main").rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def build_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def classpath(deadline):
    """The runtime classpath of the benchmark package, building first
    when no build of the current sources exists."""
    stamp_file = HERE / "target" / f"classpath-{build_stamp()}.txt"
    if stamp_file.exists():
        return stamp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    print("perfbench: building (first run of these sources)", file=sys.stderr)
    out = run_child(cmd, HERE, env, deadline - time.time(), capture=True)
    lines = [ln for ln in out.splitlines()
             if ln and not ln.startswith("[") and os.pathsep in ln]
    if not lines:
        fail("build produced no classpath")
    stamp_file.parent.mkdir(parents=True, exist_ok=True)
    for old in stamp_file.parent.glob("classpath-*.txt"):
        old.unlink()
    stamp_file.write_text(lines[-1])
    return lines[-1]


def run_child(cmd, cwd, env, timeout, capture=False):
    """Run `cmd` in its own process group; stdout is captured (returned)
    or passed through; stderr always passes through. The group is killed
    on timeout or interruption, and waited for."""
    if timeout <= 0:
        fail("out of time before " + cmd[0])
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else None,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{cmd[0]} timed out or was interrupted")
    if proc.returncode != 0:
        fail(f"{cmd[0]} exited with code {proc.returncode}")
    return out


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("the library sources are not in this checkout; nothing to build")

    cp = classpath(start + BUILD_LIMIT_S)
    tag = "selftest" if args.selftest else f"{args.workload}-s{args.seed}-t{args.trace}"
    work = HERE / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = str(pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp]
    if args.selftest:
        cmd += ["perfbench.SelfTest", "--work", str(work)]
    else:
        cmd += ["perfbench.Main", "--workload", args.workload,
                "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--work", str(work),
                "--traces", str(HERE / "traces")]
    limit = RUN_LIMIT_S if time.time() - start < 5 else BUILD_LIMIT_S
    try:
        run_child(cmd, ROOT, dict(os.environ), start + limit - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
