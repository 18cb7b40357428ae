"""Build file of the benchmark: compiles the program's sources (src/main/scala of
the checkout) together with the benchmark's own Scala sources into one class
directory, with the Scala compiler that ships among the Spark jars.

    python3 perfbench/build.py            # from the root of a checkout

The build is skipped when a stamp of every source file's content matches the
last build. Output goes to $CARGO_TARGET_DIR (default .bench_build).
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("build: no Spark jars under %r (set SPARK_HOME)" % jars)
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under %s/src/main/scala" % ROOT)
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def build():
    """Returns the class directory, compiling first if any source changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_path = os.path.join(out, "stamp")
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = ":".join(sorted(
        j for p in ("compiler", "library", "reflect")
        for j in glob.glob(os.path.join(jars, "scala-%s-2.*.jar" % p))))
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"), "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("build: scalac failed (%d)" % r.returncode)
    with open(stamp_path, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
