"""Build file of the benchmark harness.

Compiles graft's main sources (`src/main/scala` of the checkout) and the
harness (`perfbench/harness/src`) with the Scala 2.13 compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`, the directory `build.sbt` uses as
its unmanaged base).
Class files go under `<out>/graft` and `<out>/harness`; each tree is rebuilt
only when the sha256 of its sources changes.

    python3 perfbench/harness/build.py <checkout_root> <out_dir>
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def _spark_home():
    """$SPARK_HOME, else the first Spark on $PATH whose jars/ carries the
    Scala compiler (a pip-installed pyspark does not)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    raise RuntimeError("no Spark with a Scala compiler found: set SPARK_HOME")


SPARK_CP = os.path.join(_spark_home(), "jars", "*")


def _sources(src_dir):
    return sorted(glob.glob(os.path.join(src_dir, "**", "*.scala"), recursive=True))


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(src_dir, out_dir, classpath, log):
    """Compile every .scala under src_dir into out_dir unless up to date."""
    files = _sources(src_dir)
    if not files:
        raise RuntimeError(f"no Scala sources under {src_dir}")
    stamp = os.path.join(out_dir, ".sha256")
    digest = _digest(files)
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return False
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", SPARK_CP, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out_dir] + files
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {src_dir}; see {log}")
    with open(stamp, "w") as f:
        f.write(digest)
    return True


def build(root, out):
    """Returns the runtime classpath (graft + harness + Spark jars)."""
    os.makedirs(out, exist_ok=True)
    log = os.path.join(out, "build.log")
    graft = os.path.join(out, "graft")
    harness = os.path.join(out, "harness")
    rebuilt = compile_tree(os.path.join(root, "src", "main", "scala"), graft,
                           SPARK_CP, log)
    if rebuilt:
        shutil.rmtree(harness, ignore_errors=True)
    compile_tree(os.path.join(root, "perfbench", "harness", "src"), harness,
                 f"{SPARK_CP}:{graft}", log)
    return f"{graft}:{harness}:{SPARK_CP}"


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2])))
