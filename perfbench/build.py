#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/scala) with the Scala compiler that ships
among Spark's jars ($SPARK_HOME/jars, or the jars beside spark-submit on
the PATH).

Classes go to $CARGO_TARGET_DIR (default .bench_build) under the checkout
root. Each stage is rebuilt only when a hash of its sources changes.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "scala"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the first spark-submit on the PATH
    whose install holds the Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).resolve().parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if d and (Path(d) / "spark-submit").exists()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise RuntimeError("no Spark install with a Scala compiler: set SPARK_HOME")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return shutil.which("java") or "java"


def sources(d: Path) -> list:
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files: list, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def compile_stage(name: str, srcs: list, classpath: list, extra: str = "") -> Path:
    out = build_dir() / "classes" / name
    stamp = build_dir() / "classes" / f"{name}.sha256"
    want = digest(srcs, extra)
    if out.is_dir() and stamp.exists() and stamp.read_text() == want:
        return out
    jars = sorted(str(j) for j in spark_jars().glob("*.jar"))
    compiler = [j for j in jars
                if Path(j).name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise RuntimeError(f"no Scala compiler jars in {spark_jars()}")
    tmp = out.with_name(name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jvm_tmp = build_dir() / "tmp"
    jvm_tmp.mkdir(parents=True, exist_ok=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={jvm_tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join([str(c) for c in classpath] + jars)]
    cmd += [str(s) for s in srcs]
    print(f"[build] compiling {name}: {len(srcs)} files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {name} (exit {r.returncode})")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp.write_text(want)
    return out


def build() -> list:
    """Compiles what changed; returns the runtime classpath entries."""
    if not PROGRAM_SRC.is_dir():
        raise RuntimeError(f"program sources not found at {PROGRAM_SRC.relative_to(ROOT)}")
    (build_dir() / "classes").mkdir(parents=True, exist_ok=True)
    with open(build_dir() / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        program_srcs = sources(PROGRAM_SRC)
        program = compile_stage("program", program_srcs, [])
        bench = compile_stage("bench", sources(BENCH_SRC), [program], extra=digest(program_srcs))
    return [str(program), str(bench), str(spark_jars() / "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except RuntimeError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
