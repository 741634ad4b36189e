#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the benchmark from
source with sbt (once per source state; the classpath is cached under
perfbench/target), then launches the benchmark JVM directly. The JVM
prints one line per metric and, as its last line, one JSON object; this
script forwards its standard output unchanged. Exits non-zero without a
result line if the sources are missing, the build fails, the run fails
or it runs out of time.
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
BUILD_TIMEOUT = 850
RUN_TIMEOUT = 170
# Class-data-sharing archive of the classes a run loads: the first run
# after a build dumps it at exit, later runs map it, which takes seconds
# off JVM and Spark start-up (not off the measured passes).
CDS_ARCHIVE = os.path.join(HERE, "target", "classes.jsa")
WORKLOADS = ("fit_wide", "fit_rank", "crawl_dedup")
# Spark on JDK 17 outside spark-submit needs these (the list Spark's
# launcher adds itself, JavaModuleOptions).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGTERM)
            except ProcessLookupError:
                pass
    for p in _children:
        try:
            p.wait(timeout=15)
        except subprocess.TimeoutExpired:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def run(cmd, cwd, timeout, env=None, capture=False):
    """Run `cmd` in its own process group; stop the whole group on
    timeout. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         stderr=sys.stderr, text=True)
    _children.append(p)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        stop_children()
        return None, None
    finally:
        _children.remove(p)


def source_files():
    """Every file the build reads: the library build and sources, and the
    benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building library and benchmark with sbt")
    t0 = time.time()
    code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                   "writeClasspath"], HERE, BUILD_TIMEOUT, env=env)
    if code != 0 or not os.path.exists(cp_file):
        log(f"build failed (exit {code})")
        sys.exit(1)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)  # it records the jars it was dumped from
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file) as fh:
        return fh.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for needed in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            log(f"library sources not found: {needed} is missing under {ROOT}")
            sys.exit(2)

    signal.signal(signal.SIGTERM, lambda *_: (stop_children(), sys.exit(1)))
    cp = build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = ["java"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        if os.path.exists(CDS_ARCHIVE):
            cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
        else:
            cmd.append(f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
        # JVM logging (CDS dump notes included) goes to stderr, never
        # after the result line on stdout. The JIT stops at C1: with C2,
        # which methods it compiled and how differed from JVM to JVM, and
        # the median pass time of whole runs moved by up to 35% (run-to-run
        # spread ~13%); with C1 alone passes are ~35% slower but runs agree
        # within ~4%.
        cmd += ["-Xlog:disable", "-Xlog:all=warning:stderr",
                "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                # deep enough call sites to see the library method that
                # started each job
                "-Dspark.callstack.depth=80",
                "-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--work", work]
        code, out = run(cmd, ROOT, RUN_TIMEOUT, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT} s")
        sys.exit(1)
    lines = out.rstrip("\n").splitlines() if out else []
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        log(f"benchmark JVM failed (exit {code})")
        sys.exit(1)
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
