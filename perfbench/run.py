#!/usr/bin/env python3
"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The first run
compiles the library and the benchmark with sbt (offline) into the
checkout's own `target` directories; later runs reuse the build while
the sources are unchanged. The run itself is one JVM, `perfbench.Main`:
one process, one client thread, Spark at `local[<cores>]`. Its last
line of standard output is the JSON result; the exit code is 0 only
when every output check passed.

Other flags are passed to `perfbench.Main` unchanged: `--smoke` (tiny
inputs), `--corrupt` (spoil the expected outputs, so checks must fail)
and `--record` (re-record the query digests, see README.md).
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash(root):
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"),
              os.path.join(root, BENCH, "build.sbt")]
    for top in (os.path.join(root, "src", "main"),
                os.path.join(root, BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile with sbt unless the recorded build matches the sources."""
    target = os.path.join(root, BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    want = source_hash(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return cp_file
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building (sbt writeClasspath)", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
            cwd=os.path.join(root, BENCH), env=env, stdout=sys.stderr,
            stderr=sys.stderr, stdin=subprocess.DEVNULL,
            timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isfile(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return cp_file


def main(argv):
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail(f"{root} is not a checkout of the library: "
             "src/main/scala/graft is missing")
    if not os.path.isfile(os.path.join(root, BENCH, "build.sbt")):
        fail(f"{BENCH}/build.sbt is missing; run from the checkout root")
    with open(build(root)) as f:
        cp = f.read().strip()
    tmp = os.path.join(root, BENCH, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dlog4j2.configurationFile="
            + os.path.join(root, BENCH, "log4j2.properties")]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--root", root] + argv)
    proc = subprocess.Popen(cmd, cwd=root, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=None if "--record" in argv else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped", 3)
    except KeyboardInterrupt:
        proc.kill()
        proc.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
