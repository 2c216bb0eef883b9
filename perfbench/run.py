"""Runs one benchmark workload in a fresh JVM and prints its result.

    python3 perfbench/run.py --workload serve|ingest|batch --seed N \
        --seconds S --trace 0|1

Run it from the repository root. It builds the program from source on
first use (see build.py), makes a fresh scratch root under
.bench_build/runs for the JVM's temp dir, Spark's local dir, the
collection warehouse and every index, and removes it on exit. The last
line of standard output is the result JSON; everything else goes to
standard error. A traced run also writes its spans and per-layer
metrics to .bench_build/traces/<workload>-seed<N>.json.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

# A run must end within 180 s of its start, so the JVM is stopped when
# this much has passed since the script started. Only the first run in
# a checkout compiles, and it counts from the end of the build instead.
TIME_LIMIT_S = 170

# The module opens Spark needs on JDK 17 when not started by
# spark-submit (the same list the root build gives forked runs).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def main() -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest", "batch"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    repo = Path.cwd()
    if not (repo / "src" / "main" / "scala" / "graft").is_dir():
        print("perfbench: src/main/scala/graft not found; run from the repository root",
              file=sys.stderr)
        return 2
    out = repo / ".bench_build"
    classes, compiled = build.build(repo, out)
    if compiled:
        started = time.monotonic()

    run_root = out / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_root, ignore_errors=True)
    (run_root / "tmp").mkdir(parents=True)
    result = run_root / "result.json"
    trace_file = out / "traces" / f"{args.workload}-seed{args.seed}.json"
    trace_file.parent.mkdir(parents=True, exist_ok=True)

    jvm = [build.java(), *[a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g",
           f"-Djava.io.tmpdir={run_root / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", os.pathsep.join([str(classes / "bench"), str(classes / "main"),
                                   f"{build.spark_jars()}/*"]),
           "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", str(run_root), "--result", str(result),
           "--trace-file", str(trace_file)]
    proc = None

    def stop(signum, frame):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, stop)
    try:
        proc = subprocess.Popen(jvm + ["--launch-ns", str(time.time_ns())], cwd=run_root,
                                stdout=sys.stderr, stderr=sys.stderr)
        rc = proc.wait(timeout=max(1.0, TIME_LIMIT_S - (time.monotonic() - started)))
        line = result.read_text().strip() if rc == 0 and result.is_file() else None
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        print("perfbench: run stopped before it finished", file=sys.stderr)
        line = None
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_root, ignore_errors=True)
    if line is None:
        print(f"perfbench: {args.workload} run failed", file=sys.stderr)
        return 1
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
