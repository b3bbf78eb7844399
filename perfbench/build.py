"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) with the Scala compiler that
ships in the Spark distribution, without sbt.

Outputs are cached under .bench_build/perfbench/<hash of the sources>, so a
source state is built at most once. Run directly to build:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars(repo):
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    try:
        with open(os.path.join(repo, "build.sbt")) as fh:
            found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        found = None
    if not found:
        raise SystemExit("no unmanagedBase in build.sbt: run from the repository root")
    return found.group(1)


def scala_sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(sources, classpath, out, jar_dir):
    jars = [os.path.join(jar_dir, f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath)] + sources
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout)
        raise SystemExit(f"scalac failed ({len(sources)} sources)")
    os.rename(tmp, out)


def build(repo):
    """Returns the classpath entries holding the engine and the benchmark."""
    engine_src = scala_sources(os.path.join(repo, "src", "main", "scala"))
    bench_src = scala_sources(os.path.join(repo, "perfbench", "src"))
    if not engine_src:
        raise SystemExit("no engine sources under src/main/scala: run from the repository root")
    jar_dir = spark_jars(repo)
    if not os.path.isdir(jar_dir):
        raise SystemExit(f"Spark jars not found at {jar_dir}")
    cache = os.path.join(repo, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    spark_cp = os.path.join(jar_dir, "*")
    engine_key = digest(engine_src, "engine")
    engine_out = os.path.join(cache, "engine-" + engine_key)
    if not os.path.isdir(engine_out):
        print(f"[perfbench] compiling {len(engine_src)} engine sources", file=sys.stderr)
        scalac(engine_src, [spark_cp], engine_out, jar_dir)
    bench_out = os.path.join(cache, "bench-" + digest(bench_src, engine_key))
    if not os.path.isdir(bench_out):
        print(f"[perfbench] compiling {len(bench_src)} benchmark sources", file=sys.stderr)
        scalac(bench_src, [engine_out, spark_cp], bench_out, jar_dir)
    return [bench_out, engine_out, spark_cp]


if __name__ == "__main__":
    print(":".join(build(os.getcwd())))
