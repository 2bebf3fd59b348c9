"""Build file of the benchmark: compiles the engine (src/main/scala) into
.bench_build/engine and the benchmark's JVM side (perfbench/scala) into
.bench_build/bench, with the Scala compiler that ships in Spark's jar
directory ($SPARK_HOME/jars, else the jars beside `spark-submit` on the
PATH). No sbt and no dependency resolution: the compile classpath is exactly
Spark's jars, as at run time.

A stamp of each part's sources skips its compile when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
ENGINE = BUILD / "engine"
BENCH = BUILD / "bench"
PARTS = [(ENGINE, ROOT / "src" / "main" / "scala", []), (BENCH, ROOT / "perfbench" / "scala", [ENGINE])]


def spark_jars() -> Path:
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def classpath() -> str:
    return os.pathsep.join([str(BENCH), str(ENGINE), f"{spark_jars()}/*"])


def compile_part(out: Path, src_dir: Path, deps: list, log) -> None:
    if not src_dir.is_dir():
        raise SystemExit(f"perfbench: missing source directory {src_dir.relative_to(ROOT)}")
    srcs = sorted(src_dir.rglob("*.scala"))
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for d in deps:
        h.update(d.with_suffix(".stamp").read_bytes())
    digest = h.hexdigest()
    stamp = out.with_suffix(".stamp")
    if stamp.exists() and stamp.read_text() == digest and out.is_dir():
        return
    if out.exists():
        for p in sorted(out.rglob("*"), reverse=True):
            p.unlink() if p.is_file() else p.rmdir()
    out.mkdir(parents=True, exist_ok=True)
    argfile = out.with_suffix(".args")
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join([str(d) for d in deps] + [f"{spark_jars()}/*"])
    cmd = ["java", "-Xss64m", "-Xmx2g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", str(out), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        log.write(r.stdout[-8000:])
        raise SystemExit(f"perfbench: compile of {src_dir.relative_to(ROOT)} failed (exit {r.returncode})")
    stamp.write_text(digest)


def build(log=sys.stderr) -> None:
    for out, src_dir, deps in PARTS:
        compile_part(out, src_dir, deps, log)


if __name__ == "__main__":
    build()
    print(f"built {ENGINE} and {BENCH}")
