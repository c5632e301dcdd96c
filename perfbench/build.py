"""Build file of the benchmark: compiles the engine's sources and the
benchmark's Scala sources with the Scala compiler shipped in the Spark
distribution, into `.bench_build/classes` at the root of the checkout.

Usage: python3 perfbench/build.py   (run from the root of a checkout)
A build is skipped when no source file changed since the last one.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else a distribution whose bin/ is on PATH."""
    bins = [Path(d) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    homes = [os.environ.get("SPARK_HOME")] + [b.parent for b in bins if (b / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")


def sources():
    srcs = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not srcs:
        raise SystemExit(f"perfbench: no engine sources under {ROOT / 'src/main/scala'}")
    return srcs + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(str(jars).encode())
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    stamp = h.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSES, jars
    BUILD.mkdir(exist_ok=True)
    fresh = BUILD / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir()
    args_file = BUILD / "sources.txt"
    args_file.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(fresh), "-classpath", cp, f"@{args_file}"]
    log = BUILD / "build.log"
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {rc}), see {log}")
    (fresh / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    fresh.rename(CLASSES)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
