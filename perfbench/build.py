"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src/main/scala) with the Scala
compiler that ships in Spark's jars directory, into <build>/classes.

    python3 perfbench/build.py [<build dir>]

A stamp of the sources' contents skips the compile when nothing changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME") or os.path.dirname(os.path.dirname(
        os.path.realpath(shutil.which("spark-submit") or "spark-submit")))
    d = os.path.join(home, "jars")
    if not os.path.isfile(os.path.join(d, "scala-library-%s.jar" % SCALA)):
        raise SystemExit("perfbench: no Scala %s in Spark's jars directory %s" % (SCALA, d))
    return d


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under %s/src/main/scala" % ROOT)
    return engine + sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True))


def build(build_dir):
    """Compile if the sources changed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir, "classes")
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return out
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = ":".join(os.path.join(jars, "scala-%s-%s.jar" % (m, SCALA))
                           for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + build_dir,
           "-cp", compiler_cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", os.path.join(jars, "*")]
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    rc = subprocess.call(cmd + ["@" + args_file], stdout=sys.stderr)
    if rc != 0:
        raise SystemExit("perfbench: compile failed (exit %d)" % rc)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                        os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(d, exist_ok=True)
    print(build(d))
