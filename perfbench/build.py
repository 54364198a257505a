"""Build file of the benchmark: compiles the engine and the benchmark's
JVM client from source with the Scala compiler that ships in the Spark
distribution, without sbt (nothing is written outside the build dir).

    python3 perfbench/build.py            # prints the classpath

The engine's sources (`src/main/scala`, `src/main/resources`) and the
client (`perfbench/scala`) compile into one classes directory under
the build dir (`$CARGO_TARGET_DIR`, default `.bench_build`).  A build
is reused while a hash of every input file is unchanged.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")

# Spark 4 on JDK 17 needs these when a SparkSession starts outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def _inputs(root):
    files = []
    for pattern in ("src/main/scala/**/*.scala", "src/main/resources/**/*",
                    "perfbench/scala/**/*.scala"):
        files += [f for f in glob.glob(os.path.join(root, pattern), recursive=True)
                  if os.path.isfile(f)]
    return sorted(files)


def _stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise BuildError(f"no Spark jars at {SPARK_JARS}")
    files = _inputs(root)
    out = os.path.join(build_dir(root), "classes")
    stamp_file = os.path.join(build_dir(root), "classes.stamp")
    stamp = _stamp(root, files)
    classpath = f"{out}:{SPARK_JARS}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    sources = [f for f in files if f.endswith(".scala")]
    argfile = os.path.join(build_dir(root), "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", f"{SPARK_JARS}/*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    res_root = os.path.join(root, "src", "main", "resources")
    for f in files:
        if f.startswith(res_root + os.sep):
            dst = os.path.join(out, os.path.relpath(f, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        print(build(repo))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
