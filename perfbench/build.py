#!/usr/bin/env python3
"""Build the benchmark from the checkout's sources.

Compiles the engine (src/main/scala and src/main/resources at the checkout
root) and then the harness (perfbench/src, perfbench/resources) with the
Scala compiler that ships in the Spark distribution, against the Spark
jars. Output goes to .bench_build/perfbench; each unit is rebuilt only when
the digest of its inputs changes. Run it directly to build ahead of time:

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    jars = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(jars.glob("scala-compiler*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars} (set SPARK_HOME)")
    return jars


def files_under(d, pattern):
    return sorted(p for p in d.rglob(pattern) if p.is_file()) if d.is_dir() else []


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def compile_unit(name, sources, resources, res_root, classpath, jars, extra_digest=""):
    """Compile `sources` into OUT/name unless its stamp matches; returns the
    unit's digest."""
    dest = OUT / name
    stamp = OUT / f"{name}.stamp"
    d = digest(sources + resources, extra_digest)
    if dest.is_dir() and stamp.is_file() and stamp.read_text() == d:
        return d
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = OUT / f"{name}.args"
    cp = os.pathsep.join(str(c) for c in classpath)
    args.write_text("\n".join(["-nowarn", "-d", str(tmp)] +
                              (["-classpath", cp] if cp else []) +
                              [str(s) for s in sources]) + "\n")
    print(f"perfbench: compiling {name} ({len(sources)} files)", file=sys.stderr)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", f"@{args}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed (exit {r.returncode})")
    for res in resources:
        target = tmp / res.relative_to(res_root)
        target.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(res, target)
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp.write_text(d)
    return d


def build():
    """Build engine and harness; returns (classpath list, source digest)."""
    engine_src = ROOT / "src" / "main" / "scala"
    engine = files_under(engine_src, "*.scala")
    if not engine:
        raise BuildError(f"no engine sources under {engine_src}: run from a checkout of the repository")
    jars = spark_jars()
    OUT.mkdir(parents=True, exist_ok=True)
    engine_res = ROOT / "src" / "main" / "resources"
    d_engine = compile_unit("engine", engine, files_under(engine_res, "*"), engine_res, [], jars)
    harness_res = HERE / "resources"
    d_harness = compile_unit("harness", files_under(HERE / "src", "*.scala"),
                             files_under(harness_res, "*"), harness_res,
                             [OUT / "engine"], jars, extra_digest=d_engine)
    return [OUT / "harness", OUT / "engine", f"{jars}/*"], d_harness


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
