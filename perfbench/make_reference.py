#!/usr/bin/env python3
"""Regenerates perfbench/reference.tsv, the digests the benchmark checks
query outputs against.

    python3 perfbench/make_reference.py <scale-factor dir>

The scale-factor directory holds all ten testdata tables; the tables under
perfbench/data must be byte-identical copies of the ones it holds. The
script runs `graft.Verify` for the benchmark's queries, requires
tools/oracle_check.py (DuckDB) to pass each of them, and then digests the
Verify outputs. Run it from the root of a checkout.
"""
import filecmp
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def main(sf_dir: Path) -> None:
    root = Path.cwd()
    for t in sorted((HERE / "data").glob("*.parquet")):
        if not filecmp.cmp(t, sf_dir / t.name, shallow=False):
            sys.exit(f"{t} differs from {sf_dir / t.name}")
    classpath = build.build(root)
    work = build.build_dir(root) / "reference"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    verify = work / "verify"
    queries = subprocess.run(run.java(classpath, work, "perfbench.Main", "--mode", "queries"),
                             check=True, capture_output=True, text=True).stdout.split()[-1]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_VERIFY_ONLY=queries)
    subprocess.run(run.java(classpath, work, "graft.Verify", str(sf_dir), str(verify)),
                   check=True, env=env, cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    report = subprocess.run([sys.executable, str(root / "tools" / "oracle_check.py"),
                             str(sf_dir), str(verify)], capture_output=True, text=True).stdout
    passed = {line.split()[1] for line in report.splitlines() if line.startswith("PASS ")}
    missing = sorted(set(queries.split(",")) - passed)
    if missing:
        sys.exit(f"oracle check did not pass: {', '.join(missing)}")
    subprocess.run(run.java(classpath, work, "perfbench.Main", "--mode", "reference",
                            "--work", str(work), "--verify", str(verify),
                            "--reference", str(HERE / "reference.tsv")),
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {HERE / 'reference.tsv'} for {queries}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(Path(sys.argv[1]).resolve())
