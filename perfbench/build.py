#!/usr/bin/env python3
"""Build file of the lake benchmark: compiles the engine (src/main/scala)
together with the harness (perfbench/scala) using the Scala compiler among
the Spark jars that build.sbt names, so no build tool or network is needed.

Usage: python3 perfbench/build.py [<out-dir>]   (default .bench_build/perfbench)

The output is reused while the sources and the toolchain are unchanged.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"


def spark_jars():
    """The jar directory the engine's build.sbt compiles against."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit(f"perfbench: no unmanagedBase jar directory in {sbt}")
    jars = sorted(Path(m.group(1)).glob("*.jar"))
    if not jars:
        raise SystemExit(f"perfbench: no jars in {m.group(1)}")
    return jars


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {main}")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))


def default_out():
    return ROOT / (os.environ.get("CARGO_TARGET_DIR") or ".bench_build") / "perfbench"


def stamp_of(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    return h.hexdigest()


def ensure_built(out):
    """Compile if needed; returns (classes dir, classpath string, stamp)."""
    jars = spark_jars()
    srcs = sources()
    stamp = stamp_of(srcs, jars)
    classes = out / "classes"
    stamp_file = out / "stamp"
    cp = os.pathsep.join(str(j) for j in jars)
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        argfile = out / "scalac.args"
        argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        subprocess.run(
            ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
             "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
            check=True, stdout=sys.stderr)
        stamp_file.write_text(stamp)
    return classes, cp + os.pathsep + str(classes), stamp


if __name__ == "__main__":
    target = Path(sys.argv[1]).resolve() if len(sys.argv) > 1 else default_out()
    target.mkdir(parents=True, exist_ok=True)
    print(ensure_built(target)[0])
