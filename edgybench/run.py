#!/usr/bin/env python3
"""Build and run the edgyspark benchmark.

    python3 edgybench/run.py --workload graph_oltp --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the library from the
checkout's sources together with the benchmark program (an sbt build of its
own in this directory) and caches the classpath under .bench_build/; later
runs reuse it while the sources are unchanged. The program's last stdout line
is the result object.
"""
import argparse
import hashlib
import os
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "edgybench")
WORKLOADS = ["graph_oltp", "graph_analytics", "corpus_pipeline"]
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"edgybench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every input of the build, in a stable order."""
    roots = [os.path.join(ROOT, p) for p in ("src/main", "typed-macros/src", "project")] + \
            [os.path.join(HERE, p) for p in ("src", "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, *extra):
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(STATE, "tmp"), *extra]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "edgybench.Main"]


def pack_classes(cp):
    """Pack the compiled class directories into one jar: the JVM's class-data
    sharing archive only covers classes loaded from jars."""
    jar = os.path.join(STATE, "edgybench-classes.jar")
    entries = cp.split(os.pathsep)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d in (e for e in entries if os.path.isdir(e)):
            for base, _, names in os.walk(d):
                for n in sorted(names):
                    f = os.path.join(base, n)
                    z.write(f, os.path.relpath(f, d))
    return os.pathsep.join([jar] + [e for e in entries if not os.path.isdir(e)])


def record_archive(cp):
    """Run every workload once briefly and record the classes it loads into a
    class-data-sharing archive; later runs start from it. Best effort."""
    jsa = os.path.join(STATE, "classes.jsa")
    if os.path.exists(jsa):
        os.remove(jsa)
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    with open(os.path.join(STATE, "archive.log"), "w") as log:
        subprocess.run(java_cmd(cp, "-XX:ArchiveClassesAtExit=" + jsa) +
                       ["--workload", "archive-training", "--seconds", "0",
                        "--work", os.path.join(STATE, "work")],
                       cwd=ROOT, stdout=log, stderr=log, stdin=subprocess.DEVNULL, timeout=600)


def classpath():
    """Build if the sources changed since the last build; return the classpath."""
    cp_file, stamp_file = os.path.join(STATE, "classpath"), os.path.join(STATE, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export edgybench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (see {log})", 3)
    cp = pack_classes(lines[-1].strip())
    record_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(want)
    print(f"[edgybench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no edgyspark sources under {ROOT}: run from the root of a checkout")
    cp = classpath()
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    jsa = os.path.join(STATE, "classes.jsa")
    extra = ["-XX:SharedArchiveFile=" + jsa] if os.path.exists(jsa) else []
    cmd = java_cmd(cp, *extra) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.join(STATE, "work")]
    p = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    sys.exit(code)


if __name__ == "__main__":
    main()
