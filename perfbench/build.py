#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources into one class directory, with the Scala
compiler that ships in Spark's jar directory (no sbt, no downloads).

    python3 perfbench/build.py          # prints the class directory

Outputs go to $CARGO_TARGET_DIR (default .bench_build) under the checkout.
A build is skipped when no source changed since the last one.
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark distribution on
    PATH that ships a Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise RuntimeError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def out_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise RuntimeError(f"program sources not found at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def classpath(classes):
    return os.pathsep.join([str(classes), str(ROOT / "src" / "main" / "resources"),
                            str(spark_jars() / "*")])


def build():
    """Compile if needed; returns the class directory."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    base = out_dir()
    classes = base / "classes"
    stamp_file = base / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    jars = spark_jars()
    compiler = [str(p) for p in sorted(jars.glob("scala-compiler-*.jar"))
                + sorted(jars.glob("scala-library-*.jar")) + sorted(jars.glob("scala-reflect-*.jar"))]
    if len(compiler) < 3:
        raise RuntimeError(f"no Scala compiler jars in {jars}")
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    argfile = base / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-cp", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("scalac failed")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
