"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark driver (`perfbench/scala`)
with the Scala compiler that ships in the Spark jars, into
`<build dir>/classes`. A content hash of every source is stamped next to
the classes, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py [BUILD_DIR]   (run from the repo root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.environ.get("SPARK_JARS", "/opt/spark/jars")
PROGRAM_SRC = "src/main/scala"
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scala")


def sources():
    files = []
    for root in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(build_dir):
    """Compile if the sources changed; returns the classes directory."""
    srcs = sources()
    if not any(s.startswith(PROGRAM_SRC) for s in srcs):
        raise SystemExit(f"no program sources under {PROGRAM_SRC}/: "
                         "run from the root of a graft checkout")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler in {SPARK_JARS}")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else ".bench_build/perfbench"
    os.makedirs(d, exist_ok=True)
    print(build(os.path.abspath(d)))
