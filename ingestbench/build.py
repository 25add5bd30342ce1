"""Build the target and the trace harness, and pin how they are launched.

The repository's own `sbt compile` builds the target; the harness under
`harness/` is its own sbt project compiled against the target's classpath.
Both builds are skipped while a hash of their sources matches the one
recorded by the last successful build, so a stale `target/` is never timed.
"""
import hashlib
import json
import os
import re
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(".bench_build", "ingestbench")
SBT_TIMEOUT = 800
HEAP = "2g"
# What spark-submit adds for Spark 4 on JDK 17 (the same list build.sbt passes
# to forked runs).
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def source_hash(root):
    h = hashlib.sha256()
    inputs = ["build.sbt", "project", "src/main", os.path.relpath(HARNESS, root)]
    for top in inputs:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, n) for d, dirs, names in os.walk(path)
            for n in names if not re.search(r"(^|/)(target|project/project)(/|$)",
                                            os.path.relpath(d, root)))
        for f in files:
            h.update(os.path.relpath(f, root).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt(cwd, log, extra_env=None):
    """`sbt compile` plus the runtime classpath it exported."""
    env = dict(os.environ, **(extra_env or {}))
    with open(log, "ab") as f:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=cwd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=f,
            env=env, timeout=SBT_TIMEOUT)
        f.write(res.stdout)
    lines = [ln for ln in res.stdout.decode().splitlines() if "scala-2.13" in ln and ":" in ln
             and not ln.startswith("[")]
    if res.returncode != 0 or not lines:
        raise SystemExit("sbt build failed in %s (exit %d), see %s" % (cwd, res.returncode, log))
    return lines[-1].strip()


def ensure_built(root):
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        raise SystemExit("run from the repository root: build.sbt and src/main are required")
    work = os.path.join(root, WORK)
    os.makedirs(work, exist_ok=True)
    stamp_path = os.path.join(work, "build.json")
    digest = source_hash(root)
    stamp = {}
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
    if stamp.get("hash") != digest or not all(
            os.path.exists(p.split(":")[0]) for p in (stamp["cp"], stamp["harness_cp"])):
        log = os.path.join(work, "build.log")
        print("building (sbt compile), log in %s" % log, file=sys.stderr)
        cp = sbt(root, log)
        harness_cp = sbt(HARNESS, log, {"INGESTBENCH_TARGET_CP": cp})
        stamp = dict(hash=digest, cp=cp, harness_cp=harness_cp)
        with open(stamp_path, "w") as f:
            json.dump(stamp, f)

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_MASTER="local[%d]" % nproc, SPARK_GRAFT_CPUS=str(nproc),
               SPARK_LOCAL_DIRS=tmp)
    jvm = ["java"] + ADD_OPENS + ["-Xmx" + HEAP, "-Dspark.ui.enabled=false",
                                  "-Djava.io.tmpdir=" + tmp]

    def java(main_class, args, harness=False):
        cp = stamp["harness_cp"] if harness else stamp["cp"]
        return jvm + ["-cp", cp, main_class] + list(args)

    launch = dict(nproc=nproc, master=env["SPARK_MASTER"], spark_graft_cpus=nproc,
                  heap=HEAP, jdk=java_version(), spark=spark_version(stamp["cp"]),
                  git_commit=git_commit(root), source_hash=digest[:16])
    return SimpleNamespace(env=env, java=java, nproc=nproc, tmp=tmp, work=work, launch=launch)


def java_version():
    out = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, stdout=subprocess.DEVNULL)
    first = out.stderr.decode().splitlines()
    return first[0] if first else "unknown"


def spark_version(cp):
    for p in cp.split(":"):
        m = re.search(r"spark-core_[0-9.]+-([^/]+)\.jar$", p)
        if m:
            return m.group(1)
    return "unknown"


def git_commit(root):
    """The checkout's commit, or None where the tree is not a git repository."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             timeout=10)
    except OSError:
        return None
    return out.stdout.decode().strip() if out.returncode == 0 else None
