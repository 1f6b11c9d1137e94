"""Build file of the benchmark: compiles graft's main sources and the
benchmark's own sources with the Scala compiler that ships in Spark's jars.

    python3 perfbench/build.py            # from the repository root

Output goes to $CARGO_TARGET_DIR (default .bench_build): graft/ and bench/
class directories plus a stamp, so an unchanged tree is not rebuilt.
"""
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jars: those of $SPARK_HOME, else those the pyspark package
    bundles (the same jar set)."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    spec = importlib.util.find_spec("pyspark")
    if spec is None:
        raise RuntimeError("Spark not found: set SPARK_HOME or install pyspark")
    return os.path.join(os.path.dirname(spec.origin), "jars")


def graft_sources(root):
    return os.path.join(root, "src", "main", "scala")


def has_sources(root):
    return os.path.isfile(os.path.join(root, "build.sbt")) and os.path.isdir(
        os.path.join(graft_sources(root), "graft"))


def scala_files(top):
    out = []
    for d, _, fs in os.walk(top):
        out.extend(os.path.join(d, f) for f in fs if f.endswith(".scala"))
    return sorted(out)


def out_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def classpath(root):
    out = out_dir(root)
    return os.pathsep.join([os.path.join(out, "bench"), os.path.join(out, "graft"),
                            os.path.join(spark_jars(), "*")])


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(dest, cp, files, log):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-classpath", cp, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=log, stderr=log)


def ensure(root, log=sys.stderr):
    """Builds when the sources changed since the last build; returns the
    classpath of the benchmark JVM."""
    out = out_dir(root)
    graft = scala_files(graft_sources(root))
    bench = scala_files(os.path.join(HERE, "src"))
    stamp = _stamp(graft + bench)
    stamp_file = os.path.join(out, "stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(root)
    os.makedirs(out, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    jars = os.path.join(spark_jars(), "*")
    graft_out = os.path.join(out, "graft")
    graft_stamp = os.path.join(out, "graft.stamp")
    gs = _stamp(graft)
    if not (os.path.isfile(graft_stamp) and open(graft_stamp).read() == gs):
        _scalac(graft_out, jars, graft, log)
        with open(graft_stamp, "w") as fh:
            fh.write(gs)
    _scalac(os.path.join(out, "bench"), os.pathsep.join([graft_out, jars]), bench, log)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(root)


if __name__ == "__main__":
    root = os.getcwd()
    if not has_sources(root):
        sys.exit("build.py: run it from the repository root")
    print(ensure(root))
