"""Build file of the lifecycle benchmark.

Compiles the program's sources (src/main/scala) and the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/classes under the checkout root. The
build is skipped when a stamp of every source file's path and content
matches the last build.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: cannot find the Spark jars (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"perfbench: no program sources at {program.relative_to(ROOT)}; "
                         "run from the root of a full checkout")
    files = sorted(program.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources found")
    return files


def source_digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars: Path) -> str:
    return os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))


def ensure_built() -> str:
    """Compile if the sources changed; returns the source digest."""
    files = sources()
    digest = source_digest(files)
    if STAMP.exists() and STAMP.read_text().strip() == digest and CLASSES.is_dir():
        return digest
    jars = spark_jars()
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    args_file = OUT / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cp = classpath(jars)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", str(CLASSES), "-classpath", cp,
           "@" + str(args_file)]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {proc.returncode})")
    STAMP.write_text(digest + "\n")
    return digest


if __name__ == "__main__":
    print(ensure_built())
