"""Build file of the benchmark: compiles graft's main sources and the
harness under perfbench/harness with the Scala compiler that ships in
Spark's jar directory (see `spark_jars`), into OUT/classes, and packs
them into OUT/classes.jar (the JVM's class-data-sharing archive, made by
run.py, takes classes from jars only). A digest of every input is kept in
OUT/classes.stamp, and an up-to-date build is not repeated.

Usage: python3 perfbench/build.py [OUT]   (run from the repository root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

SOURCE_DIRS = ["src/main/scala", "perfbench/harness"]


def spark_jars(root="."):
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    `unmanagedBase` (the Spark jars the project compiles against)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open(os.path.join(root, "build.sbt")).read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("build: set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit(f"build: no Spark jars in {jars} (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(spark_jars(root)))).encode())
    return h.hexdigest()


def build(root, out):
    """Compile if needed; return (classes jar, source digest)."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src")) for f in files):
        raise SystemExit("build: no graft sources under src/main/scala")
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "classes.jar")
    stamp = os.path.join(out, "classes.stamp")
    want = digest(root, files)
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == want:
        return jar, want
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(root), "*")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    with open(stamp, "w") as fh:
        fh.write(want)
    return jar, want


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(os.getcwd(), os.path.abspath(out))[0])
