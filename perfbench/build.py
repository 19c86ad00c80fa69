#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) into one
class directory, with the Scala compiler and Spark jars of the local Spark
installation ($SPARK_HOME/jars).

Output goes to $CARGO_TARGET_DIR (relative paths are taken from the
checkout root), else .bench_build/, under classes/. A digest of every
source file is kept beside it, so an unchanged tree is not compiled again.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("perfbench: SPARK_HOME names no Spark installation")
    return Path(home) / "jars"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(RESOURCES), str(spark_jars() / "*")])


def build() -> Path:
    """Compile if any source changed; return the class directory."""
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: no program sources at {PROGRAM_SRC.relative_to(ROOT)}")
    if not any(spark_jars().glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler among {spark_jars()}")
    sources = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    digest = hashlib.sha256()
    for s in sources:
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    out = build_dir()
    classes, stamp = out / "classes", out / "classes.sha256"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    listing = out / "sources.txt"
    listing.write_text("\n".join(str(s) for s in sources) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", jars, "-d", str(classes), f"@{listing}"]
    rc = subprocess.run(cmd, stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compilation failed ({rc})")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
