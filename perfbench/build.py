"""Build file of the benchmark: compiles graft's main sources together
with the benchmark driver into one class directory.

graft's own sbt build compiles against the jars of the Spark
distribution; this does the same with the Scala compiler that ships in
that distribution, so a build needs no dependency resolution.  Output
goes to ``<root>/.bench_build/classes-<hash>``, keyed by the sources,
and is reused while no source changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The jars directory of the Spark distribution (SPARK_HOME, else the
    distribution that provides ``spark-submit`` on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise RuntimeError(f"no Spark jars under {home}")
    return jars


def sources(root):
    graft = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise RuntimeError(f"no graft sources under {root}/src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "driver", "*.scala")))


def build(root):
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    for stale in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for n in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))]
    subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", out,
         "-classpath", os.path.join(jars, "*")] + srcs,
        check=True, stdout=sys.stderr, stderr=sys.stderr)
    resources = os.path.join(root, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, out, dirs_exist_ok=True)
    open(os.path.join(out, "_BUILT"), "w").close()
    return out


if __name__ == "__main__":
    print(build(os.path.dirname(HERE)))
