"""Build file of the benchmark: compiles the repository's main Scala sources
together with the benchmark's own (`perfbench/scala`) into
`.bench_build/app.jar`, with the Scala compiler that ships in Spark's jars
directory, so no build tool or network is needed. The classes go into a jar
because the JVM's class-data-sharing archive (see run.py) takes classes
from jars only.

    python3 perfbench/build.py

Spark is found through SPARK_HOME, or through `spark-submit` on the PATH.
A content hash of the sources is stamped next to the jar; an unchanged
tree is not recompiled.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
APP = OUT / "app.jar"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return sorted(str(p) for p in (Path(home) / "jars").glob("*.jar"))


def sources():
    roots = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
    files = sorted(p for r in roots if r.is_dir() for p in r.rglob("*.scala"))
    if not any(str(p).startswith(str(roots[0])) for p in files):
        raise SystemExit("build: no program sources under src/main/scala")
    return files


def build():
    """Compile if the sources changed; returns the runtime classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "classes.stamp"
    if not (APP.is_file() and stamp.is_file() and stamp.read_text() == h.hexdigest()):
        tmp = OUT / "app.tmp.jar"
        OUT.mkdir(parents=True, exist_ok=True)
        tmp.unlink(missing_ok=True)
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(f'"{p}"' for p in files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit(f"build: scalac failed ({r.returncode})")
        tmp.replace(APP)
        stamp.write_text(h.hexdigest())
    return [str(APP)] + jars


if __name__ == "__main__":
    build()
