"""Build file of the benchmark: compiles the program's sources together
with the harness under perfbench/harness into one classes directory.

It calls the Scala compiler that ships in the Spark distribution's jar
directory (the same directory the repo's build takes its Spark and Scala
jars from, see spark_jars), so it needs neither sbt nor network access. A build is
skipped when the stamp of every source file matches the last build.

Usage: python3 perfbench/build.py [<repo root>]
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SCALA_VERSION = "2.13.17"
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, else
    the directory build.sbt takes its unmanaged jars from. None if neither
    holds the Scala compiler."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = Path(root) / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            dirs.append(Path(m.group(1)))
    return next((d for d in dirs if (d / f"scala-compiler-{SCALA_VERSION}.jar").is_file()),
                None)


def sources(root):
    """Every file the build reads, in a stable order."""
    bench = Path(__file__).resolve().parent
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((bench / "harness").glob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*")
                       if p.is_file())
    return files, resources


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(root, log=sys.stderr):
    """Compile into <root>/.bench_build/classes unless it is current.
    Returns the classes directory; raises RuntimeError on failure."""
    root = Path(root).resolve()
    jars = spark_jars(root)
    if jars is None:
        raise RuntimeError("no Spark distribution with the Scala compiler "
                           "(set SPARK_HOME)")
    scala_files, resources = sources(root)
    if not any((root / "src" / "main" / "scala").rglob("*.scala")):
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    build = root / BUILD_DIR
    classes = build / "classes"
    want = stamp(scala_files + resources)
    stamp_file = build / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    tmp = build / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compiler_cp = os.pathsep.join(
        str(jars / f"scala-{m}-{SCALA_VERSION}.jar")
        for m in ("compiler", "library", "reflect"))
    args_file = build / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in scala_files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp), f"@{args_file}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        log.write(proc.stdout[-4000:])
        raise RuntimeError(f"scalac failed with code {proc.returncode}")
    res_root = root / "src" / "main" / "resources"
    for r in resources:
        dst = tmp / r.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    here = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent
    try:
        print(ensure_built(here))
    except RuntimeError as e:
        sys.exit(f"build failed: {e}")
