#!/usr/bin/env python3
"""Build the program and the benchmark from source with scalac.

The program (src/main/scala plus src/main/resources) and the benchmark's
own Scala sources (perfbench/scala) compile against the jars of the Spark
distribution at $SPARK_HOME, which also ship the Scala 2.13 compiler, so
no build tool or dependency download is needed. Classes go under the build
directory ($CARGO_TARGET_DIR, default .bench_build); each step is skipped
when a hash of its inputs is unchanged.

    python3 perfbench/build.py    # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not any(jars.glob("spark-sql_2.13-*.jar")):
        sys.exit(f"build: no Spark 2.13 jars under {jars} (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def build_dir():
    return Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _compile(name, sources, resources, classpath, out, key=""):
    """scalac `sources` into `out` unless the stamp says it is current;
    `key` adds what else the output depends on."""
    stamp = out.with_suffix(".stamp")
    digest = _digest(sorted(sources) + sorted(p for _, p in resources)) + \
        classpath + key
    if stamp.exists() and stamp.read_text() == digest and out.exists():
        return
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    jars = spark_jars()
    argfile = out.with_suffix(".args")
    argfile.write_text("\n".join(str(s) for s in sorted(sources)))
    print(f"build: compiling {name} ({len(sources)} files)", file=sys.stderr)
    cmd = [java_bin(), "-Xss64m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", classpath, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.exit(f"build: scalac failed for {name}:\n{r.stdout[-4000:]}")
    for res_root, res in resources:
        dest = out / res.relative_to(res_root)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copy2(res, dest)
    stamp.write_text(digest)


def build(repo=Path(".")):
    """Compile both parts; return the runtime classpath string."""
    repo = repo.resolve()
    main_src = repo / "src" / "main" / "scala"
    if not main_src.is_dir():
        sys.exit(f"build: no program sources at {main_src}; run from the "
                 "repository root")
    jars = spark_jars()
    out = build_dir() / "classes"
    res_root = repo / "src" / "main" / "resources"
    resources = [(res_root, p) for p in res_root.rglob("*") if p.is_file()] \
        if res_root.is_dir() else []
    program = out / "program"
    _compile("program", list(main_src.rglob("*.scala")), resources,
             f"{jars}/*", program)
    bench = out / "bench"
    _compile("benchmark", list((BENCH_DIR / "scala").rglob("*.scala")), [],
             f"{program}:{jars}/*", bench,
             key=program.with_suffix(".stamp").read_text())
    return f"{bench}:{program}:{jars}/*"


if __name__ == "__main__":
    print(build())
