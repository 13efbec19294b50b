"""Build file of the benchmark: compiles the engine and the harness.

The engine sources (`src/main/scala`) and the harness (`perfbench/src`)
are compiled with the Scala compiler that ships in the Spark distribution
into `<build dir>/engine` and `<build dir>/bench`. A content hash of the
sources is kept next to each output, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME, else the first
    spark-submit on PATH that belongs to a distribution with a Scala
    compiler."""
    homes = [os.environ["SPARK_HOME"]] if "SPARK_HOME" in os.environ else []
    homes += [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
              for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(os.path.realpath(home), "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    sys.exit("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(src_dir):
    return sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(src_dir, out, classpath, jars):
    files = sources(src_dir)
    if not files:
        sys.exit(f"no Scala sources under {src_dir}")
    stamp = os.path.join(out + ".stamp")
    key = digest(files, classpath)
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return False
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    listing = out + ".sources"
    with open(listing, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + listing]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(key)
    return True


def build(root, build_dir):
    jars = spark_jars()
    engine = os.path.join(build_dir, "engine")
    bench = os.path.join(build_dir, "bench")
    compile_tree(os.path.join(root, "src", "main", "scala"), engine, jars, jars)
    compile_tree(os.path.join(root, "perfbench", "src"), bench,
                 engine + os.pathsep + jars, jars)
    return [bench, engine, jars]


if __name__ == "__main__":
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, ".bench_build")
    print(os.pathsep.join(build(here, os.path.abspath(out))))
