"""Build file of the benchmark: compiles the engine sources and the
benchmark's own Scala sources with the Scala compiler that ships among the
Spark jars, into `.bench_build/classes`. A stamp of the sources' digest
skips the compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ENGINE_SRC = "src/main/scala"
ENGINE_RES = "src/main/resources"
BENCH_SRC = "perfbench/src"


def spark_jars():
    """Spark's jars, the Scala compiler among them: `$SPARK_HOME/jars`, else
    those of the installed pyspark package, which ships the same set."""
    home = os.environ.get("SPARK_HOME", "")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Spark jars with a Scala compiler in {jars!r}: set SPARK_HOME")
    return jars


def _files(root, suffix=""):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def ensure(repo, build_dir):
    """Return the classes directory, compiling first if the sources changed."""
    sources = _files(os.path.join(repo, ENGINE_SRC), ".scala")
    if not sources:
        raise SystemExit(f"no engine sources under {ENGINE_SRC}: nothing to benchmark")
    sources += _files(os.path.join(repo, BENCH_SRC), ".scala")
    resources = _files(os.path.join(repo, ENGINE_RES))
    digest = hashlib.sha256()
    for f in sources + resources:
        digest.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes

    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"compile failed (exit {rc}); log in {log}")
    res_root = os.path.join(repo, ENGINE_RES)
    for f in resources:
        dst = os.path.join(classes, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return classes


if __name__ == "__main__":
    repo = os.getcwd()
    print(ensure(repo, os.path.join(repo, ".bench_build")))
