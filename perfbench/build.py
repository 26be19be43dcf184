"""Build for the benchmark: the commit's main classes plus the harness.

Both are compiled with the Scala compiler that ships in the Spark jars
directory (``$SPARK_HOME/jars``, else the sbt build's ``unmanagedBase``), so
no build tool and no network are needed.  Output goes to ``<root>/.bench_build/perfbench/<key>``, where the
key is a hash of every source file; a changed source gives a new key, so a
stale build is never used.

    python3 perfbench/build.py        # from the repository root; prints the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """``$SPARK_HOME/jars``, else the jars directory the sbt build names as its
    ``unmanagedBase``."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise RuntimeError("no SPARK_HOME and no unmanagedBase in build.sbt")
    return m.group(1)


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "src", "**", "*.scala"), recursive=True))
    return main, harness


def _key(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, HERE).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()[:16]


def _scalac(jars, classpath, out, files, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-classpath", classpath, "-d", out,
           "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)), "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode}) compiling into {out}; see {log.name}")


def build(root):
    """Compile if needed; return the classpath: main, harness, Spark jars."""
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise RuntimeError(f"no Spark jars at {jars} (set SPARK_HOME)")
    main, harness = _sources(root)
    if not main:
        raise RuntimeError(f"no Scala sources under {root}/src/main/scala")
    if not harness:
        raise RuntimeError(f"no harness sources under {HERE}/harness/src")
    base = os.path.join(root, ".bench_build", "perfbench")
    done = os.path.join(base, _key(main + harness, jars))
    if not os.path.isdir(done):
        os.makedirs(base, exist_ok=True)
        tmp = done + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "build.log"), "w") as log:
            _scalac(jars, os.path.join(jars, "*"), os.path.join(tmp, "main"), main, log)
            _scalac(jars, os.pathsep.join([os.path.join(tmp, "main"), os.path.join(jars, "*")]),
                    os.path.join(tmp, "harness"), harness, log)
        for old in os.listdir(base):  # keep one build: the current one
            if old != os.path.basename(tmp):
                shutil.rmtree(os.path.join(base, old), ignore_errors=True)
        os.rename(tmp, done)
    return [os.path.join(done, "main"), os.path.join(done, "harness"), os.path.join(jars, "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build(os.getcwd())))
