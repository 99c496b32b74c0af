"""Build file of the benchmark: compiles the engine (`src/main/scala`)
together with the benchmark's own sources (`graftbench/src`) with the
Scala compiler that ships in Spark's jar directory, offline, into
`.bench_build/classes-<digest>`. The digest covers every source file, so
stale classes are never reused and a fresh checkout always compiles.

    python3 graftbench/build.py        # prints the classes directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    homes = [os.environ.get("SPARK_HOME", "")]
    submit = shutil.which("spark-submit")
    if submit:
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    raise BuildError("no Spark installation found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("engine sources not found under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return files + own


def digest(files, jars):
    h = hashlib.sha256()
    compiler = sorted(os.path.basename(p) for p in glob.glob(os.path.join(jars, "scala-compiler*.jar")))
    h.update(repr(compiler).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def keep_recent(current, pattern, keep=3):
    """Marks `current` as used and deletes all but the `keep` most recently
    used paths that match `pattern`, so that runs of two commits that
    alternate in one checkout reuse their own classes and inputs."""
    os.utime(current)
    for old in sorted(glob.glob(pattern), key=os.path.getmtime, reverse=True)[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def build(log=sys.stderr):
    """Returns (classes dir, source digest), compiling if needed."""
    jars = spark_jars()
    files = sources()
    tag = digest(files, jars)
    out = os.path.join(BUILD, "classes-" + tag)
    if os.path.exists(os.path.join(out, ".complete")):
        keep_recent(out, os.path.join(BUILD, "classes-*"))
        return out, tag
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files) + "\n")
    print("[graftbench] compiling %d sources" % len(files), file=log, flush=True)
    cmd = [java(), "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    keep_recent(out, os.path.join(BUILD, "classes-*"))
    return out, tag


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print("[graftbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
