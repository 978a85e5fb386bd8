"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark's JVM harness (`perfbench/harness`) into one
jar, with the Scala compiler that ships among the Spark jars, then
records a class-data-sharing archive of the harness's set-up (one
training set-up over the vendored base tables) that every benchmark JVM
maps at start.

The Spark jar directory is the one the repository's `build.sbt` names as
`unmanagedBase` (override with SPARK_JARS). A build is reused while the
hash of every compiled source is unchanged.

    python3 perfbench/build.py [BUILD_DIR]      # default .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt's
# javaOptions; org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    sbt = open(os.path.join(REPO, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m:
        raise SystemExit("build.sbt names no unmanagedBase; set SPARK_JARS")
    return m.group(1)


def sources():
    srcs = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                          recursive=True))
    if not srcs:
        raise SystemExit("no library sources under src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(HERE, "harness", "**", "*.scala"),
                                   recursive=True))


def java(build_dir, args, heap="2g"):
    """The command line of a harness JVM of the build in `build_dir`."""
    jsa = os.path.join(build_dir, "perfbench.jsa")
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]
            + ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
            + ADD_OPENS
            + ["-cp", os.path.join(build_dir, "perfbench.jar") + os.pathsep
               + os.path.join(spark_jars(), "*"), "perfbench.Harness"] + args)


def build(build_dir):
    """Compile, package and train the class-data archive if the sources
    changed since the last build in `build_dir`."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in ("build.stamp", "perfbench.jar", "perfbench.jsa"):
        if os.path.exists(os.path.join(build_dir, f)):
            os.remove(os.path.join(build_dir, f))
    jar = os.path.join(build_dir, "perfbench.jar")
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", jar,
         "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("compile failed")
    train = os.path.join(build_dir, "train")
    shutil.rmtree(train, ignore_errors=True)
    os.makedirs(train)
    base = os.path.join(HERE, "data", "sf0.01")
    cmd = java(build_dir, ["--mode", "setup", "--warm", base, "--out", train])
    cmd.insert(1, "-XX:ArchiveClassesAtExit=" + os.path.join(build_dir, "perfbench.jsa"))
    cmd.insert(1, f"-Djava.io.tmpdir={train}")
    subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    shutil.rmtree(train, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(d, exist_ok=True)
    build(d)
