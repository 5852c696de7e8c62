#!/usr/bin/env python3
"""Build file of the perfbench package.

Compiles the graft library (`src/main/scala`) and the benchmark harness
(`perfbench/src`) with the Scala 2.13 compiler that ships in Spark's jars
directory, so no build tool and no download is needed. Outputs go under the
build directory; a content hash of each source tree skips unchanged builds.

    python3 perfbench/build.py            # build into .bench_build/perfbench
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars(root: Path) -> Path:
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        jars = Path(m.group(1)) if m else Path("jars")
    if not jars.is_dir():
        raise BuildError(f"Spark jars directory not found: {jars} (set SPARK_HOME)")
    return jars


def build_dir(root: Path) -> Path:
    """The build directory: the one $CARGO_TARGET_DIR names when set,
    else .bench_build; a relative path is taken from the checkout root."""
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = root / base
    return base / "perfbench"


def sources(tree: Path) -> list:
    return sorted(p for p in tree.rglob("*.scala") if p.is_file())


def digest(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars: Path, files: list, classpath: str, out: Path, log: Path) -> None:
    compiler = [next(jars.glob(f"{n}-2.13*.jar"), None)
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if None in compiler:
        raise BuildError(f"Scala 2.13 compiler jars not found in {jars}")
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(out.name + ".args")
    argfile.write_text("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m",
           "-cp", os.pathsep.join(str(j) for j in compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-classpath", classpath, "-d", str(tmp), f"@{argfile}"]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    argfile.unlink()
    if rc != 0:
        raise BuildError(f"scalac failed ({rc}); see {log}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build(root: Path) -> list:
    """Builds what changed and returns the run classpath."""
    lib_src = root / "src" / "main" / "scala"
    lib_files = sources(lib_src)
    if not lib_files:
        raise BuildError(f"no library sources under {lib_src}")
    bench_files = sources(HERE / "src")
    out = build_dir(root)
    out.mkdir(parents=True, exist_ok=True)
    spark = spark_jars(root)
    jars = str(spark / "*")
    lib, harness = out / "lib", out / "harness"
    lib_key = digest(lib_files, "lib")
    bench_key = digest(bench_files, "harness" + lib_key)
    for target, files, key, cp in ((lib, lib_files, lib_key, jars),
                                   (harness, bench_files, bench_key,
                                    os.pathsep.join([str(lib), jars]))):
        stamp = target.with_name(target.name + ".stamp")
        if target.is_dir() and stamp.is_file() and stamp.read_text() == key:
            continue
        print(f"[perfbench] compiling {len(files)} sources -> {target}", file=sys.stderr)
        scalac(spark, files, cp, target, out / f"{target.name}.log")
        stamp.write_text(key)
    return [str(harness), str(lib), jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build(Path.cwd())))
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
