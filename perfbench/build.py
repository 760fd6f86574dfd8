#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark harness (perfbench/scala) with the Scala compiler that ships in
the Spark jars directory, without sbt, into the build directory.

Usage: python3 perfbench/build.py [build_dir]   (from the repository root)

The build directory defaults to $CARGO_TARGET_DIR or .bench_build. A
stamp over every source file skips the compile when nothing changed.
Prints the runtime classpath on its last line.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SPARK_JARS = Path(os.environ.get("GRAFT_SPARK_JARS", "/opt/spark/jars"))


def sources(root: Path, sub: str, suffix: str = ".scala") -> list:
    return sorted(p for p in (root / sub).rglob(f"*{suffix}") if p.is_file())


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(out: Path, classpath: str, files: list, log: Path) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-classpath", classpath, "-d", str(out),
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + [str(f) for f in files]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise SystemExit(f"scalac failed ({rc}); see {log}")


def build(root: Path, build_dir: Path) -> str:
    """Compile what changed; return the runtime classpath."""
    if not list(SPARK_JARS.glob("spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {SPARK_JARS}")
    main_src = sources(root, "src/main/scala")
    bench_src = sources(root, "perfbench/scala")
    if not main_src or not bench_src:
        raise SystemExit("graft sources or benchmark sources missing")
    build_dir.mkdir(parents=True, exist_ok=True)
    graft_out, bench_out = build_dir / "classes" / "graft", build_dir / "classes" / "perfbench"
    graft_stamp = stamp(main_src)
    bench_stamp = stamp(bench_src) + graft_stamp
    spark_cp = f"{SPARK_JARS}/*"
    for out, files, key, cp in ((graft_out, main_src, graft_stamp, spark_cp),
                                (bench_out, bench_src, bench_stamp, f"{graft_out}:{spark_cp}")):
        marker = out.with_suffix(".stamp")
        if marker.exists() and marker.read_text() == key and out.exists():
            continue
        scalac(out, cp, files, build_dir / f"{out.name}-scalac.log")
        marker.write_text(key)
    return ":".join([str(bench_out), str(graft_out), str(root / "src/main/resources"), spark_cp])


if __name__ == "__main__":
    repo = Path.cwd()
    target = Path(sys.argv[1]) if len(sys.argv) > 1 else repo / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(repo, target))
