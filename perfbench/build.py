"""Build file of the benchmark: compiles the engine's sources
(``src/main/scala``) together with the benchmark's own (``perfbench/scala``)
with the Scala compiler that ships in the Spark distribution's ``jars``
directory, so a build needs nothing but the checkout, a JDK and Spark.

Classes land in ``<build dir>/perfbench/<source hash>/classes`` and are
reused while no source changes.
"""

import glob
import hashlib
import os
import shutil
import subprocess

SCALAC_FLAGS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else
    the one beside the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {os.path.join(root, 'src', 'main', 'scala')}")
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "scala", "**", "*.scala"),
                             recursive=True))
    return engine + bench


def source_hash(root, files):
    h = hashlib.sha256(" ".join(SCALAC_FLAGS).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir, log):
    """Return (classes dir, source hash), compiling when needed."""
    jars = spark_jars()
    files = sources(root)
    key = source_hash(root, files)
    home = os.path.join(build_dir, "perfbench")
    out = os.path.join(home, key[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes, key
    if os.path.isdir(home):
        shutil.rmtree(home)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", classes] + SCALAC_FLAGS + ["@" + argfile]
    with open(os.path.join(out, "scalac.log"), "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(os.path.join(out, "scalac.log")) as fh:
            log(fh.read()[-4000:])
        shutil.rmtree(out)
        raise BuildError(f"scalac exited with {rc}")
    open(os.path.join(out, "ok"), "w").close()
    return classes, key
