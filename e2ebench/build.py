"""Build file of the benchmark: compiles the engine's src/main together with
the benchmark's own Scala sources into .bench_build/classes-<hash>.

The hash covers every source file's path and bytes, so a checkout always runs
classes built from its own sources; an earlier sbt `target/` is never read.
The Scala compiler and Spark come from the Spark distribution's jars:
$SPARK_HOME/jars, or else the `unmanagedBase` directory build.sbt names.

    python3 e2ebench/build.py        # from the repository root
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars(root):
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def build_dir(root):
    return os.path.join(root, ".bench_build")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build(root):
    """Returns the classes directory for `root`, compiling it if needed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    srcs = sources(root)
    h = hashlib.sha256(SCALA_VERSION.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    os.makedirs(build_dir(root), exist_ok=True)
    out = os.path.join(build_dir(root), "classes-" + h.hexdigest()[:16])
    with open(os.path.join(build_dir(root), "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return out
        jars = spark_jars(root)
        compiler = [os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                    for n in ("compiler", "library", "reflect")]
        missing = [j for j in compiler if not os.path.exists(j)]
        if missing:
            raise BuildError(f"Scala compiler jars not found: {missing}")
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_dir(root), "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={build_dir(root)}", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
               "-d", tmp, "-cp", os.path.join(jars, "*"), "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, out)
        return out


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
