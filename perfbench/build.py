"""Build file of the benchmark: compiles graft's main sources together
with the benchmark program in `perfbench/scala` using the Scala 2.13
compiler that ships with Spark (the jars directory the project's
build.sbt names), into `.bench_build/classes`, packed as
`.bench_build/perfbench.jar` (a class-data-sharing archive can only
map classes from jars). Nothing is fetched. A stamp of every source's
content skips the compile when nothing changed.

Run alone with `python3 perfbench/build.py`; `run.py` calls `build()`.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars():
    """The Spark jars the project's own build compiles against
    (`unmanagedBase` in build.sbt), or `$SPARK_HOME/jars`."""
    if "SPARK_HOME" in os.environ:
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt and no SPARK_HOME")
    return pathlib.Path(m.group(1))


SPARK_JARS = spark_jars() if (ROOT / "build.sbt").exists() else None
SCALA = "2.13.17"


def sources():
    dirs = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def classpath(jar):
    return f"{jar}{os.pathsep}{SPARK_JARS}/*"


def stamp():
    """The build stamp of the last compile, or '' before the first."""
    f = BUILD / "classes.stamp"
    return f.read_text() if f.exists() else ""


def build(log=sys.stderr):
    """Compile if needed; returns the runtime classpath."""
    srcs = sources()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not srcs or SPARK_JARS is None:
        raise SystemExit("perfbench: graft sources not found under src/main/scala")
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    want = h.hexdigest()
    classes = BUILD / "classes"
    jar = BUILD / "perfbench.jar"
    stamp_file = BUILD / "classes.stamp"
    if stamp() == want and jar.is_file():
        return classpath(jar)
    for old in (classes, jar, stamp_file):
        if old.is_dir():
            shutil.rmtree(old)
        elif old.exists():
            old.unlink()
    classes.mkdir(parents=True)
    compiler = os.pathsep.join(str(SPARK_JARS / f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{SPARK_JARS}/*", f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    stamp_file.write_text(want)
    return classpath(jar)


if __name__ == "__main__":
    print(build())
