"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM harness (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory. Output goes to `.bench_build/` at the
checkout root, keyed by a hash of every source, so an unchanged tree is
compiled once.

Usage: python3 perfbench/build.py   (prints the JVM command line)
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "src")
OUT_ROOT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    repository's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars in '{jar_dir}' (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    if not engine:
        raise SystemExit(f"no engine sources under {ENGINE_SRC}")
    return engine + sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))


def java_cmd(cp, jvm_flags=()):
    """The JVM launch every benchmark process uses (Spark 4 on JDK 17
    needs the module opens spark-submit would add)."""
    cmd = ["java", "-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *jvm_flags]
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(cp)]


def build():
    """Compile if needed; return (runtime classpath, JVM flags). The flags
    map a class-data-sharing archive dumped by one short ingest run, which
    takes about 5 s of class loading off every later JVM start."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    out = os.path.join(OUT_ROOT, "classes-" + h.hexdigest()[:16])
    cp = [os.path.join(out, "harness.jar")] + jars
    archive = os.path.join(out, "classes.jsa")
    os.makedirs(OUT_ROOT, exist_ok=True)
    with open(os.path.join(OUT_ROOT, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if not os.path.exists(os.path.join(out, ".done")):
            compile_and_dump(jars, srcs, out, cp, archive)
    return cp, [f"-XX:SharedArchiveFile={archive}"]


def compile_and_dump(jars, srcs, out, cp, archive):
    """Compile into a jar, then dump the class-data-sharing archive with the
    jar at its final path (the archive records the classpath)."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    # class-data sharing needs jars, not directories, on the classpath
    shutil.make_archive(os.path.join(tmp, "harness"), "zip", classes)
    os.rename(os.path.join(tmp, "harness.zip"), os.path.join(tmp, "harness.jar"))
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    train = os.path.join(out, "train")
    os.makedirs(train)
    r = subprocess.run(java_cmd(cp, [f"-XX:ArchiveClassesAtExit={archive}",
                                     f"-Djava.io.tmpdir={train}"]) + [
        "perfbench.Harness", "--workload", "ingest_trickle", "--seed", "0",
        "--seconds", "3", "--trace", "0", "--work", os.path.join(train, "data"),
        "--out", os.path.join(train, "raw.json"), "--data", train],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(train, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("class-data-sharing dump failed")
    open(os.path.join(out, ".done"), "w").close()


if __name__ == "__main__":
    print(" ".join(java_cmd(*build())))
