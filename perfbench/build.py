"""Build file of the benchmark package.

Compiles the program (`src/main/scala`, plus `src/main/resources`) and the
benchmark's own Scala harness (`perfbench/scala`) with the Scala compiler
that ships in the Spark distribution, against the Spark jars
($SPARK_HOME/jars), with no network and no sbt. Each of the two class trees is rebuilt only when a
hash over its sources changes.

Usage: python3 perfbench/build.py            (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
BUILD_DIR = ".bench_build"


def spark_classpath():
    return os.path.join(SPARK_JARS, "*")


def _sources(root, ext):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(ext)]
    return sorted(out)


def _hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(name, sources, resources, classpath, log):
    out = os.path.join(BUILD_DIR, name)
    stamp_path = os.path.join(out, ".stamp")
    res_files = _sources(resources, "") if resources else []
    stamp = _hash(sources + res_files) + "|" + classpath
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD_DIR, name + ".args")
    with open(args_file, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", spark_classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + args_file]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        raise RuntimeError("compiling %s failed (exit %d); see %s" % (name, rc, log))
    for p in res_files:
        dst = os.path.join(tmp, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def build():
    """Compile what changed; return the run classpath."""
    here = os.path.dirname(os.path.abspath(__file__))
    main_src = _sources(os.path.join("src", "main", "scala"), ".scala")
    if not main_src:
        raise RuntimeError("no program sources under src/main/scala; "
                           "run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        raise RuntimeError("Spark jars not found at %s (set SPARK_HOME)" % SPARK_JARS)
    os.makedirs(BUILD_DIR, exist_ok=True)
    main = _compile("classes-main", main_src, os.path.join("src", "main", "resources"),
                    spark_classpath(), os.path.join(BUILD_DIR, "build-main.log"))
    bench_src = _sources(os.path.join(here, "scala"), ".scala")
    bench = _compile("classes-bench", [os.path.relpath(p) for p in bench_src], None,
                     main + os.pathsep + spark_classpath(),
                     os.path.join(BUILD_DIR, "build-bench.log"))
    return os.pathsep.join([bench, main, spark_classpath()])


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(str(e))
