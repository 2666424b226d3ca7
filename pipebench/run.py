#!/usr/bin/env python3
"""Runs one pipebench workload from the root of a source checkout.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark with sbt when their sources changed
since the last build (the classpath is cached under .pipebench/), then
runs graft.pipebench.Main in a JVM. The last line of standard output is
the JSON result; build and Spark logs go to standard error.
"""
import hashlib
import os
import signal
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "pipebench")
WORK = os.path.join(ROOT, ".pipebench")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
SOURCES = [
    ("build.sbt", None),
    ("project/build.properties", None),
    ("src/main", (".scala", ".java")),
    ("pipebench/build.sbt", None),
    ("pipebench/project/build.properties", None),
    ("pipebench/src/main", (".scala", ".java", ".properties")),
]
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same list as the library's build.sbt).
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
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for rel, exts in SOURCES:
        path = os.path.join(ROOT, rel)
        if exts is None:
            files = [path]
        else:
            files = sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(path) for f in fs if f.endswith(exts))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"timed out after {timeout}s: {cmd[0]}")
        return None, None
    return proc.returncode, out


def classpath():
    """The benchmark's runtime classpath, building first if needed."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest:
                with open(cp_file) as cf:
                    return cf.read()
    log("building library and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stdin=subprocess.DEVNULL, text=True)
    if out:
        sys.stderr.write(out)
    if code != 0:
        log("build failed")
        return None
    cps = [l.strip() for l in out.splitlines() if l.strip().startswith(os.sep)]
    if not cps:
        log("build printed no classpath")
        return None
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cps[-1]


def main(argv):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no library sources next to pipebench/; run from a source checkout")
        return 2
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = classpath()
    if cp is None:
        return 3
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.pipebench.Main"] + argv + ["--work", WORK])
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    if code is None:
        return 4
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"benchmark exited with {code} and no result")
        return code or 5
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
