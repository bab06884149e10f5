#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the library
sources under src/main together with the harness in perfbench/ (sbt,
offline); later runs reuse the build while no source changes. Everything
the run writes goes under .bench_build/ in the checkout. The last line of
stdout is the result object; the full run record is written to
.bench_build/perfbench/records/.

Exits non-zero without a result line when the checkout holds no library
sources, the build fails or the run does not finish in time.
"""

import argparse
import hashlib
import os
import re
import shlex
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("detect_mixed", "probe_batches")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170



def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the library build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def source_stamp():
    """Digest of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(jars):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    try:
        with open(stamp_file) as f:
            if f.read().strip() == stamp and os.path.isdir(classes):
                return classes
    except OSError:
        pass
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.jars={jars}", "compile"]
    print(f"perfbench: building ({' '.join(shlex.quote(c) for c in cmd)})", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if p.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed (exit {p.returncode})", 3)
    os.makedirs(OUT, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {os.path.join(ROOT, 'src', 'main')}")
    jars = spark_jars()
    classes = build(jars)

    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed young generation: G1 otherwise sizes it from pause times,
    # which made peak_rss_mb move by a quarter between runs
    cmd = [java, "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    with open(os.path.join(HERE, "add-opens.txt")) as f:
        for p in f.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--out", OUT]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(4)))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    except BaseException:
        kill()
        proc.wait()
        raise
    result = lines[-1] if lines and lines[-1].startswith('{"correct"') else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        fail(f"harness exited {proc.returncode} without a result", proc.returncode or 3)
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
