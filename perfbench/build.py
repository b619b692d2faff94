#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src/main/scala) with the Scala compiler that ships
in Spark's jars directory, into .bench_build/perfbench/classes under the
current directory. A build is reused while no source file changed.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py --test   # build, then compile and run the
                                        # benchmark's own tests

Spark's jars are taken from $SPARK_HOME/jars, else from the directory the
program's build.sbt names as its `unmanagedBase`.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

OUT = Path(".bench_build") / "perfbench"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home:
        jars = Path(home) / "jars"
    else:
        sbt = Path("build.sbt")
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        if not m:
            sys.exit("perfbench: set SPARK_HOME, or run from the repository root")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among Spark's jars in {jars}")
    return jars


def sources(*dirs):
    files = []
    for d in dirs:
        if not d.is_dir():
            sys.exit(f"perfbench: source directory {d} is missing; run from the repository root")
        files += sorted(d.rglob("*.scala"))
    return files


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def scalac(files, out, classpath):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath, "@" + str(argfile)]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    argfile.unlink()


def build():
    """Returns the classes directory, compiling first if a source changed."""
    jars = spark_jars()
    files = sources(Path("src/main/scala"), Path("perfbench/src/main/scala"))
    stamp = digest(files, jars)
    classes = OUT / "classes"
    stamp_file = OUT / "classes.sha256"
    if not (classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp):
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        scalac(files, classes, f"{jars}/*")
        stamp_file.write_text(stamp)
    return classes, jars, stamp


def test():
    classes, jars, _ = build()
    tests = OUT / "test-classes"
    scalac(sources(Path("perfbench/src/test/scala")), tests, f"{classes}:{jars}/*")
    return subprocess.run(["java", "-cp", f"{tests}:{classes}:{jars}/*",
                           "perfbench.SelfTest"]).returncode


if __name__ == "__main__":
    sys.exit(test() if sys.argv[1:] == ["--test"] else (build() and 0))
