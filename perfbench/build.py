#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's library sources (`src/main/scala` of the checkout)
together with the benchmark's own program (`perfbench/src`) into
`perfbench/.build/classes`, with the Scala compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`, or the one beside
`spark-submit` on PATH). A digest of every input is kept next to the
classes, so an unchanged tree is not compiled twice.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "digest")

# JDK 17 module opens Spark needs outside spark-submit (the list the
# root build passes to its forked JVMs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        raise BuildError(f"library sources missing: {os.path.relpath(LIB_SRC, ROOT)} "
                         "(run from a checkout of the repository)")
    found = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([CLASSES, LIB_RES, os.path.join(jars, "*")])


def source_digest():
    """Digest of the library and benchmark sources: identifies the code a
    result measured when the checkout carries no git metadata."""
    return digest(sources())


def build(log=sys.stderr):
    """Compiles when the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    want = digest(srcs)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath(jars)
    compiler = [os.path.join(jars, j) for j in
                ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")]
    compiler = [sorted(glob.glob(c))[-1] for c in compiler if glob.glob(c)]
    if len(compiler) != 3:
        raise BuildError("the Scala compiler is not among the Spark jars")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[build] compiling {len(srcs)} Scala files", file=log, flush=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    with open(STAMP, "w") as f:
        f.write(want)
    return classpath(jars)


def java_command(cp, heap, tmp):
    """The JVM command line of a run; every temporary file goes to `tmp`."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
