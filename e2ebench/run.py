"""End-to-end benchmark of the engine's three user paths: asks and
uploads (workload `ask`) and releases (workload `release`).

    python3 e2ebench/run.py --workload ask|release --seed N \\
        --seconds S --trace 0|1
    python3 e2ebench/run.py --selftest

Run from the root of a checkout. The first run compiles the engine and
the benchmark (e2ebench/build.py); every run then starts one JVM with a
local Spark session (one core per processor), builds its inputs from
the seed in a private directory under .bench_build/, measures the
workload for S seconds and prints one JSON line last. A workload's
first run after a build also leaves a class-data-sharing archive in
.bench_build/cds/, which its later runs start from:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

End-to-end metrics come from untraced runs (--trace 0), per-layer
metrics from traced runs (--trace 1). Every op, span and metric of a
run goes to .bench_build/results/<workload>-seed<N>-trace<T>.json, the
JVM's log beside it. Exits non-zero, printing no result, when the run
fails or the checkout holds no engine sources.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ask", "release")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the set
# spark-submit passes, org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(jar, main, args, jvm=()):
    jars = build.spark_jars()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # the JVM's own log lines go to stderr, never after the result line
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=warning:stderr"] + list(jvm) + opens +
            ["-cp", os.pathsep.join([jar, os.path.join(jars, "*")]), main] + args)


def class_sharing(root, workload):
    """JVM flags for class-data sharing, and the (dumped file, archive)
    pair to keep after a good run, or None.

    Start-up is mostly loading and verifying Spark's classes from the
    jars. A workload's first run after a build dumps the classes it
    loaded into an archive at exit; its later runs map that archive
    instead, which takes several seconds off their set-up."""
    archive = os.path.join(root, build.BUILD_DIR, "cds", workload + ".jsa")
    if os.path.exists(archive):
        return ["-XX:SharedArchiveFile=" + archive], None
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    dumped = f"{archive}.{os.getpid()}.tmp"
    return ["-XX:ArchiveClassesAtExit=" + dumped], (dumped, archive)


def launch(cmd, work, log_path):
    """Run the JVM with its scratch, temp and artifact dirs inside
    `work`; return (exit code, stdout lines)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_ARTIFACTS"] = os.path.join(work, "artifacts")
    cmd = cmd[:1] + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + cmd[1:]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env, text=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return 124, []
    return p.returncode, out.splitlines()


def run_main(root, jar, results, workload, seed, seconds, trace, name, jvm):
    """One run of e2ebench.Main in a private work dir; returns (whether
    it exited 0 with a well-formed result line, that line)."""
    work = os.path.join(root, build.BUILD_DIR, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        cmd = java_cmd(jar, "e2ebench.Main", [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", trace, "--work", work,
            "--result", os.path.join(results, name + ".json")], jvm)
        code, lines = launch(cmd, work, os.path.join(results, name + ".log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    last = lines[-1] if lines else ""
    try:
        ok = code == 0 and set(json.loads(last)) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, TypeError):
        ok = False
    return ok, last


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        print("e2ebench: run from the root of a checkout (no src/main/scala here)",
              file=sys.stderr)
        return 2
    jar = build.build(root)
    results = os.path.join(root, build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    if a.selftest:
        work = os.path.join(root, build.BUILD_DIR, "work", f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            code, lines = launch(java_cmd(jar, "e2ebench.SelfTest", [work]), work,
                                 os.path.join(results, "selftest.log"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print("\n".join(lines))
        return code

    jvm, dump = class_sharing(root, a.workload)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    ok, last = run_main(root, jar, results, a.workload, a.seed, a.seconds, a.trace, name, jvm)
    if dump and os.path.exists(dump[0]):
        if ok:
            os.replace(dump[0], dump[1])
        else:
            os.remove(dump[0])
    if not ok:
        print(f"e2ebench: run failed; see {name}.log in {results}", file=sys.stderr)
        return 1
    print(last)
    return 0


if __name__ == "__main__":
    sys.exit(main())
