#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) together
with the harness (perfbench/src) into .bench_build/perfbench/classes with the
Scala compiler that ships in Spark's jars directory -- $SPARK_HOME/jars, else
the `unmanagedBase` directory build.sbt compiles against, else the jars of the
spark-submit on PATH. A stamp of the sources' hash skips the compile when
nothing changed.

Usage: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m:
        candidates.append(Path(m.group(1)))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for jars in candidates:
        if list(jars.glob("spark-sql_*.jar")):
            return jars
    raise BuildError(f"no Spark jars in {[str(c) for c in candidates]} (set SPARK_HOME)")


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return main + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> Path:
    """Compile if the sources changed since the last build; return the
    classes directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and CLASSES.is_dir():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(CLASSES), f"@{argfile}"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=840)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    stamp_file.write_text(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
