#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`, else the installed `pyspark`
package's `jars`), into `.bench_build/perfbench/classes-<hash>`. The
hash covers every source file, so an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
OUT = ROOT / ".bench_build" / "perfbench"
PROGRAM_SOURCES = ROOT / "src" / "main" / "scala"
HARNESS_SOURCES = ROOT / "perfbench" / "src"
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = Path(pyspark.__file__).parent
        except ImportError:
            raise SystemExit("set SPARK_HOME to a Spark distribution")
    jars = sorted((Path(home) / "jars").glob("*.jar"))
    if not jars:
        raise SystemExit(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources():
    if not PROGRAM_SOURCES.is_dir():
        raise SystemExit(f"program sources not found: {PROGRAM_SOURCES} "
                         "(run from the repository root)")
    files = sorted(PROGRAM_SOURCES.rglob("*.scala")) + sorted(HARNESS_SOURCES.rglob("*.scala"))
    if not files:
        raise SystemExit("no Scala sources found")
    return files


def classpath_entries(classes):
    entries = [str(classes)]
    if RESOURCES.is_dir():
        entries.append(str(RESOURCES))
    return entries + [str(j) for j in spark_jars()]


def build():
    """Return the classes directory, compiling it when the sources changed."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    classes = OUT / f"classes-{digest.hexdigest()[:16]}"
    if classes.is_dir():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    for old in OUT.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    jars = os.pathsep.join(str(j) for j in spark_jars())
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit(f"compilation failed (exit {proc.returncode})")
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
