#!/usr/bin/env python3
"""OME-Zarr benchmark: build the engine and the benchmark from source, run
one workload in a fresh JVM, and print its result as the last stdout line.

    python3 omezarr_bench/run.py --workload pyramid|tiles|plate \
        --seed N --seconds S --trace 0|1 [--size normal|tiny]

Run it from the root of a checkout of the engine. The first run builds with
sbt (the engine's own build, plus omezarr_bench/build.sbt) and archives the
classes a tiny run loads (JDK class-data sharing), which takes about 2.5 s
off every later JVM's start; later runs reuse both while the sources are
unchanged.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "bench-build.json")
ARCHIVE = os.path.join(TARGET, "classes.jsa")
WORKLOADS = ("pyramid", "tiles", "plate")
HEAP = "2g"
# A fixed young generation: eden fills to the same size before every young
# collection, so the resident peak (VmHWM) moves with the old generation,
# i.e. with the heap the program keeps live, not with GC sizing choices.
YOUNG = "256m"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# What spark-submit would add on JDK 17 (the engine's build.sbt passes the
# same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"omezarr_bench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def java_cmd(cp, work, share):
    """The benchmark JVM. `share` is the class-data-sharing flag pair: dump
    the archive at exit, or map it (and fail if it cannot be mapped)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), *share, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "omezarrbench.Main"]


def archive_classes(cp):
    """Dump the classes a tiny traced plate run loads (Spark SQL, streaming,
    the engine's HCS, Zarr and codec paths) into ARCHIVE. A failed dump
    fails the build, so every run starts the same way."""
    work = os.path.join(TARGET, "archive-run")
    try:
        code, out = run_group(
            java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) +
            ["--workload", "plate", "--seed", "1", "--seconds", "1",
             "--trace", "1", "--size", "tiny", "--work", os.path.join(work, "run")],
            RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(ARCHIVE):
        sys.stderr.write(out[-4000:])
        log(f"class archive dump failed (exit {code})")
        sys.exit(2)


def build(h):
    """The classpath; builds first when the sources changed."""
    if os.path.isfile(STAMP) and os.path.isfile(ARCHIVE):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("hash") == h:
            return stamp["classpath"]
    if shutil.which("sbt") is None:
        log("sbt is not on PATH")
        sys.exit(2)
    log("building the engine and the benchmark with sbt")
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=BENCH, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    cps = [l.strip() for l in out.splitlines()
           if "omezarr_bench" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        log(f"build failed (exit {code})")
        sys.exit(2)
    cp = cps[-1]
    log("archiving the classes a tiny run loads")
    if os.path.isfile(ARCHIVE):
        os.remove(ARCHIVE)
    archive_classes(cp)
    with open(STAMP, "w") as fh:
        json.dump({"hash": h, "classpath": cp}, fh)
    return cp


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return "unknown"
    code, out = run_group(["git", "-C", ROOT, "rev-parse", "HEAD"], 30,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True)
    return out.strip() if code == 0 else "unknown"


def main():
    # a SIGTERM unwinds through run_group, which kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="normal", choices=("normal", "tiny"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources next to the benchmark (expected build.sbt and "
            f"src/main/scala in {ROOT})")
        sys.exit(2)

    h = source_hash()
    cp = build(h)
    work = os.path.join(BENCH, "work", f"{a.workload}-{os.getpid()}")
    share = ["-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd = java_cmd(cp, work, share) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--size", a.size,
        "--work", os.path.join(work, "run"),
        "--results", os.path.join(BENCH, "results"),
        "--commit", commit(), "--source-hash", h[:16]]
    try:
        code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        code = 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(BENCH, "work"))
        except OSError:
            pass
    sys.exit(code)


if __name__ == "__main__":
    main()
