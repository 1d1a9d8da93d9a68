"""Build the program and the benchmark from source with scalac.

Compiles the repo's `src/main/scala` together with `lifebench/src` into
`.bench_build/lifebench/classes`, against the Spark jars sbt builds
against (build.sbt's `unmanagedBase`, else `$SPARK_HOME/jars`; they
include the Scala 2.13 compiler). A stamp of every source's hash makes a
rebuild happen only when a source changed. Run directly to build:

    python3 lifebench/build.py
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
OUT = REPO / ".bench_build" / "lifebench"
CLASSES = OUT / "classes"


def _spark_jars():
    sbt = REPO / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                    sbt.read_text())
    if m:
        return Path(m.group(1))
    return Path(os.environ.get("SPARK_HOME", ".")) / "jars"


SPARK_JARS = _spark_jars()


class BuildError(RuntimeError):
    pass


def _files(root, suffix=None):
    if not root.is_dir():
        return []
    return sorted(p for p in root.rglob("*")
                  if p.is_file() and (suffix is None or p.suffix == suffix))


def _inputs():
    main = _files(REPO / "src" / "main" / "scala", ".scala")
    if not main:
        raise BuildError(f"no program sources under {REPO / 'src/main/scala'}")
    bench = _files(BENCH / "src", ".scala")
    resources = _files(REPO / "src" / "main" / "resources")
    return main + bench, resources


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}{os.pathsep}{SPARK_JARS}/*"


def ensure():
    """Build unless the classes match the current sources; returns the
    runtime classpath. Concurrent callers wait for one build."""
    OUT.mkdir(parents=True, exist_ok=True)
    with open(OUT / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return _build()


def _build():
    sources, resources = _inputs()
    if not SPARK_JARS.is_dir():
        raise BuildError(f"Spark jars not found at {SPARK_JARS}")
    stamp = _stamp(sources + resources)
    stamp_file = OUT / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and CLASSES.is_dir():
        return classpath()
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", str(staging), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"scalac failed with exit code {res.returncode}")
    res_root = REPO / "src" / "main" / "resources"
    for p in resources:
        dst = staging / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    stamp_file.write_text(stamp)
    return classpath()


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
