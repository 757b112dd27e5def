"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships in the
Spark distribution's jars (the ones the root build.sbt compiles against),
into .bench_build/classes. A stamp holding the
hash of every source file skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").exists() else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = pathlib.Path(m.group(1) if m else "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"engine sources not found under {ROOT / 'src/main/scala'}")
    return engine + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    """Compiles when the sources changed; returns the runtime classpath and
    the sources' hash."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = BUILD / "classes"
    cp = f"{out}{os.pathsep}{jars}/*"
    stamp_file = BUILD / "classes.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and out.is_dir():
        return cp, stamp
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", f"{jars}/*"] + [str(f) for f in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return cp, stamp


if __name__ == "__main__":
    print(build()[0])
