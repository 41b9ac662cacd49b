"""Build file of the benchmark: compiles the engine (``src/main``) and the
benchmark program (``perfbench/src``) from source with the Scala compiler
that ships with Spark, into ``.bench_build/classes-<source hash>``.

A build is reused while no source file changes. Run it on its own with
``python3 perfbench/build.py`` from the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else where spark-submit lives."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no engine sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True))
    return main + own, [r for r in res if os.path.isfile(r)]


def ensure_built(root):
    """Path of the compiled classes, building them first if needed."""
    srcs, resources = sources(root)
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".built")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    with open(os.path.join(tmp, "sources.txt"), "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", ":".join(jars),
           "@" + os.path.join(tmp, "sources.txt")]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: scalac failed with exit code {rc}")
    base = os.path.join(root, "src/main/resources")
    for r in resources:
        dst = os.path.join(tmp, os.path.relpath(r, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    os.remove(os.path.join(tmp, "sources.txt"))
    open(os.path.join(tmp, ".built"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
