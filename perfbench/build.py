"""Build file of the benchmark: compiles the program from `src/main` and the
benchmark's classes from `perfbench/src` with the Scala compiler that ships in
Spark's jars directory, into `.bench_build/classes`. A build is reused while
the digest of every source and resource file is unchanged.

    python3 perfbench/build.py      # from the root of a checkout
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the jars of an
    installed pyspark."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark jars directory with a Scala compiler found")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True)
                 if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return main, res, bench


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed, see {log.name}")


def build(root):
    """Return (classpath, source digest), compiling when sources changed."""
    jars = spark_jars()
    main, res, bench = sources(root)
    if not main or not bench:
        raise SystemExit("perfbench: run from the root of a checkout (src/main/scala missing)")
    dig = digest(main + res + bench, root)
    base = os.path.join(root, ".bench_build")
    classes = os.path.join(base, "classes")
    program, bench_classes = os.path.join(classes, "program"), os.path.join(classes, "bench")
    stamp = os.path.join(classes, "digest")
    cp = os.pathsep.join([bench_classes, program, os.path.join(jars, "*")])
    if os.path.exists(stamp) and open(stamp).read() == dig:
        return cp, dig
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    with open(os.path.join(base, "build.log"), "w") as log:
        scalac(jars, os.path.join(jars, "*"), program, main, log)
        for p in res:
            dst = os.path.join(program, os.path.relpath(p, os.path.join(root, "src/main/resources")))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        scalac(jars, os.pathsep.join([program, os.path.join(jars, "*")]), bench_classes, bench, log)
    with open(stamp, "w") as f:
        f.write(dig)
    return cp, dig


if __name__ == "__main__":
    print(build(os.getcwd())[1])
    sys.exit(0)
