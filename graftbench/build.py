#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (graftbench/src) into one class directory, using the Scala
compiler that ships in Spark's jars. No dependency resolution and no build
server are involved, so the build runs offline and writes only into the
build directory.

    python3 graftbench/build.py [--build-dir DIR]

The build directory defaults to $CARGO_TARGET_DIR or .bench_build. A stamp
over the sources and the compiler's jars skips the build when nothing changed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO = BENCH_DIR.parent
ENGINE_SOURCES = REPO / "src" / "main" / "scala"
ENGINE_RESOURCES = REPO / "src" / "main" / "resources"
BENCH_SOURCES = BENCH_DIR / "src"
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else REPO / d


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    """Spark's jar directory, from $SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among Spark's jars in {jars}")
    return jars


def sources():
    if not ENGINE_SOURCES.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SOURCES}")
    files = sorted(ENGINE_SOURCES.rglob("*.scala")) + sorted(BENCH_SOURCES.rglob("*.scala"))
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS).encode())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    resources = sorted(p for p in ENGINE_RESOURCES.rglob("*") if p.is_file()) \
        if ENGINE_RESOURCES.is_dir() else []
    for p in files + resources:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(out=None, log=sys.stderr):
    """Returns (class directory, Spark jar directory), compiling if stale."""
    out = Path(out) if out else build_dir()
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes, jars
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", *SCALAC_OPTS, "-d", str(tmp),
           f"@{argfile}"]
    print(f"graftbench: compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        raise BuildError("scalac failed:\n" + res.stdout[-4000:])
    if ENGINE_RESOURCES.is_dir():
        shutil.copytree(ENGINE_RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes, jars


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--build-dir", default=None)
    a = ap.parse_args()
    try:
        classes, _ = build(a.build_dir)
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 1
    print(classes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
