"""Build file of the benchmark package.

Compiles the engine's main sources (`src/main/scala`) and then the
benchmark harness (`perfbench/src`) against them, using the Scala compiler
that ships with the Spark jars. Outputs go to `.perfbench/build/`, one
directory per source hash, so a checkout builds once and later runs reuse
the classes. Nothing is written outside the checkout.

    python3 perfbench/build.py        # build (or reuse); print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
STATE = ROOT / ".perfbench"


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def _digest(files, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def _compile(name: str, files, deps) -> Path:
    """Compiles `files` against `deps` + the Spark jars, once per hash."""
    out = STATE / "build" / f"{name}-{_digest(files, ':'.join(map(str, deps)))}"
    classes = out / "classes"
    if (out / "ok").exists():
        return classes
    shutil.rmtree(out, ignore_errors=True)
    classes.mkdir(parents=True)
    tmp = out / "tmp"
    tmp.mkdir()
    cp = os.pathsep.join([str(d) for d in deps] + [f"{spark_jars()}/*"])
    cmd = ["java", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", cp] + [str(f) for f in files]
    print(f"[build] compiling {len(files)} {name} sources", flush=True)
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        raise SystemExit(f"perfbench: {name} compile failed")
    shutil.rmtree(tmp, ignore_errors=True)
    (out / "ok").write_text("ok\n")
    return classes


def build() -> str:
    """Builds the engine and the harness; returns the run classpath."""
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {ENGINE_SRC}")
    if not list(spark_jars().glob("spark-sql_*.jar")):
        raise SystemExit(f"perfbench: Spark jars not found in {spark_jars()}")
    engine = _compile("engine", sorted(ENGINE_SRC.rglob("*.scala")), [])
    bench = _compile("perfbench", sorted(BENCH_SRC.rglob("*.scala")), [engine])
    return os.pathsep.join([str(bench), str(engine), f"{spark_jars()}/*"])


if __name__ == "__main__":
    print(build())
    sys.exit(0)
