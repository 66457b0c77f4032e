#!/usr/bin/env python3
"""Run one graft benchmark workload, building the engine from source first.

    python3 perfbench/run.py --workload <ingest_bulk|read_mix|maint_fresh> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke      # every workload, a few operations each

Run from the root of a checkout. The engine (src/main) and the harness
(perfbench/src/main) are compiled by perfbench/build.sbt into
.bench_build/; the build is skipped when the sources hash to the stamp of the
previous build. The harness then runs in one JVM and prints, as the last line
of standard output, one JSON object with the keys correct, attempted, failed
and metrics. Everything a run writes stays under .bench_build/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"
# the module opens Spark needs on JDK 17 when it is not started by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_tree():
    """HEAD's tree hash, marked dirty when the work tree differs; 'none'
    outside a git checkout."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        tree = subprocess.run(["git", "rev-parse", "HEAD^{tree}"], cwd=ROOT, capture_output=True,
                              text=True, timeout=30, check=True).stdout.strip()
        dirty = subprocess.run(["git", "status", "--porcelain", "--", "src", "perfbench"], cwd=ROOT,
                               capture_output=True, text=True, timeout=30, check=True).stdout.strip()
        return tree + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_group(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout or
    interruption and wait until it has ended. Returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, start_new_session=True)

    def stop(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    old = signal.signal(signal.SIGTERM, lambda *a: (stop(), sys.exit(143)))
    try:
        return proc.wait(timeout=timeout)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        log(f"timeout or interrupt: stopping {cmd[0]}")
        stop()
        proc.wait()
        return 124
    finally:
        signal.signal(signal.SIGTERM, old)
        stop()  # sbt or Spark may leave children; none may outlive the run


def build(stamp):
    """Compile engine + harness; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    cp = g.read().strip()
                if os.path.isdir(cp.split(os.pathsep)[0]):
                    return cp
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    out_path = os.path.join(BUILD, "sbt.log")
    with open(out_path, "wb") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            HERE, BUILD_TIMEOUT_S, out)
    with open(out_path, errors="replace") as f:
        lines = f.read().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {code})")
    cps = [l.strip() for l in lines if os.pathsep in l and ".jar" in l and not l.startswith("[")]
    if not cps:
        raise SystemExit("build produced no classpath")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if not a.smoke and not a.workload:
        ap.error("--workload is required (or --smoke)")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        raise SystemExit(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}: "
                         "run from the root of a full checkout")
    stamp = source_hash()
    cp = build(stamp)
    work = os.path.join(ROOT, ".bench_build", "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--traces", os.path.join(ROOT, ".bench_build", "traces"),
            "--source-hash", stamp, "--git-tree", git_tree()]
    cmd += ["--smoke"] if a.smoke else ["--workload", a.workload]
    try:
        code = run_group(cmd, ROOT, RUN_TIMEOUT_S * (3 if a.smoke else 1), None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
