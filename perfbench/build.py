#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory (`$SPARK_HOME/jars`), into `$CARGO_TARGET_DIR` (default
`.bench_build`) under the checkout root. Each part is recompiled only when
its sources' hash changes.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of the installed `pyspark` package."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
        except ImportError:
            raise SystemExit("build: set SPARK_HOME") from None
        home = Path(pyspark.__file__).parent
    return Path(home) / "jars"


def classpath():
    """Runtime classpath: harness, program, Spark."""
    out = build_dir() / "classes"
    return os.pathsep.join([str(out / "bench"), str(out / "program"), str(spark_jars() / "*")])


def compile_part(src_dir, dest, extra_cp, upstream=""):
    """Compile `src_dir` into `dest` unless its stamp matches; return the stamp."""
    srcs = sorted(src_dir.rglob("*.scala"))
    if not srcs:
        raise SystemExit(f"build: no Scala sources under {src_dir}")
    h = hashlib.sha256(upstream.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    stamp = dest.with_suffix(".stamp")
    if stamp.exists() and stamp.read_text() == digest and dest.exists():
        return digest
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(dest)]
    if extra_cp:
        cmd += ["-cp", extra_cp]
    subprocess.run(cmd + [str(s) for s in srcs], check=True, stdout=sys.stderr)
    stamp.write_text(digest)
    return digest


def build():
    if not any(spark_jars().glob("spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars in {spark_jars()}")
    out = build_dir() / "classes"
    program = compile_part(PROGRAM_SRC, out / "program", None)
    compile_part(BENCH_SRC, out / "bench", str(out / "program"), upstream=program)


if __name__ == "__main__":
    build()
