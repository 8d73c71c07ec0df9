"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler that ships in Spark's jars directory, into
.bench_build/perfbench/classes-<hash>, and packs the classes into
classes.jar there (the JVM's class-data sharing archives only classes from
jars). Nothing is fetched; a tree whose sources are unchanged is not
rebuilt.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile


def spark_jars():
    """The jars directory of SPARK_HOME, or of the installation whose
    spark-submit is on PATH; it holds Spark, Hadoop and the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark installation with a jars directory (set SPARK_HOME)")
    return jars


SPARK_JARS = spark_jars()

# Spark on JDK 17 outside spark-submit needs these (as in the sbt build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/src"):
        base = os.path.join(root, top)
        if not os.path.isdir(base):
            raise SystemExit("perfbench: missing source directory " + top)
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(root):
    srcs = sources(root)
    h = hashlib.sha256()
    with open(os.path.abspath(__file__), "rb") as f:  # a changed build recipe rebuilds too
        h.update(f.read())
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, "classes-" + stamp)
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    if os.path.isdir(base):  # older builds of other source trees
        for name in os.listdir(base):
            if name.startswith("classes-"):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # left by an interrupted build
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    with zipfile.ZipFile(os.path.join(tmp, "classes.jar"), "w", zipfile.ZIP_STORED) as jar:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                if f.endswith(".class"):
                    p = os.path.join(d, f)
                    jar.write(p, os.path.relpath(p, tmp))
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
