"""Builds the engine and the benchmark's Spark side from source.

Compiles `src/main/scala` of the checkout together with
`perfbench/scala` into `perfbench/.build/classes`, with the Scala
compiler and the Spark jars under `$SPARK_HOME/jars`. A stamp of the
sources makes a rebuild happen only when a source changes.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark install with a jars/ directory")
    return Path(home) / "jars"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: no engine sources at {main.relative_to(ROOT)}; "
                         "run from the root of a full checkout")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))


def classpath():
    return f"{OUT / 'classes'}{os.pathsep}{spark_jars() / '*'}"


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    stamp_file = OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    shutil.rmtree(OUT, ignore_errors=True)
    (OUT / "classes").mkdir(parents=True)
    args = OUT / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-classpath", str(OUT / "classes"), "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", str(OUT / "classes"), f"@{args}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    stamp_file.write_text(stamp)


if __name__ == "__main__":
    build()
