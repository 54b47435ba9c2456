"""Build file of the benchmark: compiles the program and the harness.

The program (`src/main/scala`) and the harness (`perfbench/harness`)
are compiled with the Scala compiler that ships among the Spark jars,
straight into `.bench_build/`, so a build touches nothing outside the
checkout. The output directory is keyed by a digest of every source
file, so a checkout builds once and later runs reuse the classes.

Run on its own: python3 perfbench/build.py  (from the checkout root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """The Spark jars: $SPARK_HOME/jars, else the repository's own
    `unmanagedBase` in build.sbt."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jars with a Scala compiler; set SPARK_HOME")


def _sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    if not prog:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    return prog, harness


def _scalac(jars, classpath, out, files, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    subprocess.run(cmd + ["@" + argfile], check=True, stdout=log, stderr=log)


def build(root):
    """Returns the classpath of the built program + harness."""
    prog, harness = _sources(root)
    jars = spark_jars(root)
    digest = hashlib.sha256()
    for path in prog + harness:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()[:16]
    base = os.path.join(root, BUILD_DIR)
    out = os.path.join(base, "classes-" + key)
    done = os.path.join(out, "BUILT")
    if not os.path.exists(done):
        for old in glob.glob(os.path.join(base, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(out)
        with open(os.path.join(out, "build.log"), "w") as log:
            _scalac(jars, None, os.path.join(out, "program"), prog, log)
            _scalac(jars, os.path.join(out, "program"),
                    os.path.join(out, "harness"), harness, log)
        open(done, "w").close()
    return os.pathsep.join([os.path.join(out, "harness"),
                            os.path.join(out, "program"),
                            os.path.join(jars, "*")])


if __name__ == "__main__":
    print(build(os.getcwd()))
    sys.exit(0)
