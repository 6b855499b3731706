"""Compile the engine and the benchmark into one jar.

The engine's sources (src/main/scala) and the benchmark's
(e2ebench/src) are compiled together with the Scala compiler that ships
in the Spark distribution's jars directory, against those same jars, so
the build needs no network and no build-tool cache. The classes are
packed into .bench_build/bench.jar (a jar rather than a directory, so
the JVM can keep them in a class-data-sharing archive, see run.py),
which is reused while the stamp (a digest of every source file and of
the compiler jar's name) matches.

    python3 e2ebench/build.py        # prints the jar's path
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

BUILD_DIR = ".bench_build"


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else
    the one next to the spark-submit found on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return os.path.normpath(c)
    raise SystemExit("e2ebench: no Spark distribution found (set SPARK_HOME)")


def sources(root):
    found = []
    for base in ("src/main/scala", "e2ebench/src"):
        for dirpath, _, files in os.walk(os.path.join(root, base)):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def pack(classes, jar):
    """Write every file under `classes` into `jar`, in name order."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for dirpath, dirs, files in sorted(os.walk(classes)):
            dirs.sort()
            for f in sorted(files):
                path = os.path.join(dirpath, f)
                z.write(path, os.path.relpath(path, classes))
    os.replace(tmp, jar)


def build(root="."):
    """Compile if needed; return the jar."""
    jars = spark_jars()
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala")) for s in srcs):
        raise SystemExit("e2ebench: engine sources (src/main/scala) not found")
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        raise SystemExit("e2ebench: no scala-compiler jar in " + jars)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update(os.path.basename(compiler[-1]).encode())
    stamp = h.hexdigest()
    out = os.path.join(root, BUILD_DIR, "classes")
    jar = os.path.join(root, BUILD_DIR, "bench.jar")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(jar):
        return jar
    # archives of the old jar's classes no longer apply
    shutil.rmtree(os.path.join(root, BUILD_DIR, "cds"), ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    scala_jars = [j for j in glob.glob(os.path.join(jars, "scala-*.jar"))
                  if os.path.basename(j).split("-")[1] in ("compiler", "library", "reflect")]
    tmp = os.path.join(root, BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.pathsep.join(scala_jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("e2ebench: compile failed")
    pack(out, jar)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"e2ebench: compiled {len(srcs)} files in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


if __name__ == "__main__":
    print(build())
