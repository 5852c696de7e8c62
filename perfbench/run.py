#!/usr/bin/env python3
"""graft benchmark: one run of one workload, measured from outside the library.

    python3 perfbench/run.py --workload osv5m-etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the library from source (see
build.py), starts one JVM with a `local[4]` Spark session, sets up, runs the
workload's passes in a closed loop for --seconds, checks the outputs, and
prints the metrics. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 the per-layer ones, and the spans go to
<build dir>/traces/. Every file a run writes stays in its own directory under
the build directory and is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # keep the benchmark directory free of caches
sys.path.insert(0, str(HERE))
import build  # noqa: E402

WORKLOADS = ("osv5m-etl", "stream-scrub")
JVM_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
# A run must end within 180 s of its start (builds aside). The harness starts
# no new pass once its JVM is 110 s old; past JVM_LIMIT_S it is killed.
JVM_LIMIT_S = 165


def fail(msg: str, code: int = 1) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def java(classpath: list, work: Path, main: str, *args: str) -> list:
    """The JVM command line: Spark's JDK 17 module opens, and a temp
    directory inside the run's work directory."""
    return (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={work / 'tmp'}"]
            + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join(classpath), main, *args])


def run_jvm(cmd: list, log: Path, limit_s: float) -> int:
    """Runs the JVM in its own process group and waits for it; on overrun
    the whole group is terminated, then killed."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=limit_s)
        except BaseException:
            for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 30)):
                try:
                    os.killpg(p.pid, sig)
                    p.wait(timeout=grace)
                    break
                except (ProcessLookupError, subprocess.TimeoutExpired):
                    continue
            raise


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = Path.cwd()
    if not (root / "src" / "main" / "scala").is_dir():
        fail(f"{root} is not a graft checkout: src/main/scala is missing", 2)
    spec_file = root / "BENCHMARK.json"
    if not spec_file.is_file():
        fail(f"{spec_file} is missing", 2)
    spec = json.loads(spec_file.read_text())
    data = HERE / "data"
    reference = HERE / "reference.tsv"
    if not data.is_dir() or not reference.is_file():
        fail(f"benchmark inputs missing under {HERE}", 2)
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        fail(f"build failed: {e}")

    out_dir = build.build_dir(root)
    work = out_dir / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = out_dir / "traces" / f"{a.workload}-seed{a.seed}.json"
    try:
        cmd = java(classpath, work, "perfbench.Main",
                   "--mode", "bench", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--data", str(data), "--reference", str(reference),
                   "--work", str(work), "--out", str(work / "result.json"),
                   "--trace-out", str(trace_out))
        log = work / "jvm.log"
        rc = run_jvm(cmd, log, JVM_LIMIT_S)
        result = work / "result.json"
        if rc != 0 or not result.is_file():
            tail = log.read_text(errors="replace").splitlines()[-25:] if log.is_file() else []
            fail("benchmark JVM failed (exit %s):\n%s" % (rc, "\n".join(tail)))
        r = json.loads(result.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = int(r["attempted"]), int(r["failed"])
    for err in r["errors"]:
        print(f"[perfbench] {err}", file=sys.stderr)
    values = r["per_layer"] if a.trace else r["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
               for m in spec["per_layer" if a.trace else "end_to_end"]}
    complete = all(isinstance(m["value"], (int, float)) for m in metrics.values())
    print(f"# {a.workload} seed {a.seed}: {len(r['passes'])} passes, {attempted} operations, "
          f"fail_ratio {failed / max(1, attempted):.4f}")
    if a.trace:
        print(f"# trace written to {trace_out}")
    for k, v in sorted(values.items()):
        print(f"# {k:40s} {v!s:>22}")
    print(json.dumps({"correct": failed == 0 and complete, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
