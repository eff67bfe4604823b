#!/usr/bin/env python3
"""Build file of the benchmark: compiles the graft program (src/main/scala)
together with the harness (graftbench/src) with scalac, into
<build dir>/classes. The build is skipped when the sources and the jar set
are unchanged since the last one.

Usage, from the root of the repository:
    python3 graftbench/build.py [build dir]
The build dir defaults to $CARGO_TARGET_DIR, else .bench_build.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def build_dir(root):
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return (d if d.is_absolute() else root / d) / "graftbench"


def spark_jars(root):
    """The jar directory the program builds against: build.sbt's
    `unmanagedBase`, else $SPARK_HOME/jars."""
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jar directory: build.sbt unmanagedBase or $SPARK_HOME/jars")


def _scala_jar(jars, name):
    hits = sorted(jars.glob(f"{name}-2.13*.jar"))
    if not hits:
        raise BuildError(f"{name} 2.13 jar not found in {jars}")
    return hits[-1]


def build(root, out=None):
    """Compile if needed; returns (classes dir, jar dir)."""
    root = Path(root).resolve()
    out = Path(out) if out else build_dir(root)
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not prog:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}")
    bench = sorted((HERE / "src").rglob("*.scala"))
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    key = h.hexdigest()
    classes = out / "classes"
    stamp = out / "classes.stamp"
    if stamp.is_file() and stamp.read_text() == key and classes.is_dir():
        return classes, jars
    out.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in prog + bench) + "\n")
    compiler = os.pathsep.join(str(_scala_jar(jars, n)) for n in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", str(jars / "*"), "-d", str(classes), f"@{argfile}"]
    log = out / "build.log"
    with open(log, "w") as fh:
        rc = subprocess.call(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=root)
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise BuildError(f"scalac failed (exit {rc}); log in {log}")
    stamp.write_text(key)
    return classes, jars


if __name__ == "__main__":
    try:
        c, _ = build(Path.cwd(), sys.argv[1] if len(sys.argv) > 1 else None)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(c)
