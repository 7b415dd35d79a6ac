#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, into `.bench_build/perfbench/classes` under the checkout.
A stamp (a digest of every source file and the compiler jar) makes a
second call a no-op until a source changes.

    python3 perfbench/build.py          # from the root of a checkout

Exits non-zero when the engine sources are missing or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, or next to the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to a Spark distribution")
    return os.path.join(home, "jars")


def sources(root):
    """(engine sources, benchmark sources), each sorted and non-empty."""
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench", "src", "**", "*.scala"),
                             recursive=True))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a full checkout")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    return main, bench


def digest(root, files, compiler):
    h = hashlib.sha256()
    for f in files + [compiler]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile if stale; returns the classpath to run the benchmark with."""
    jars = spark_jars()
    compiler = os.path.join(jars, f"scala-compiler-{SCALA}.jar")
    if not os.path.isfile(compiler):
        raise SystemExit(f"perfbench: Scala compiler not found at {compiler}")
    main, bench = sources(root)
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp_path = os.path.join(out, "stamp")
    stamp = digest(root, main + bench, compiler)
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp_path) and open(stamp_path).read() == stamp:
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    tool_cp = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                              for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", tool_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*")] + main + bench
    print(f"perfbench: compiling {len(main)} engine + {len(bench)} benchmark sources",
          file=sys.stderr)
    res = subprocess.run(cmd, cwd=root)
    if res.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {res.returncode})")
    with open(stamp_path, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    build(os.getcwd())
