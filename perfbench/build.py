"""Build file of the benchmark: compiles the program under src/main/scala
and the benchmark harness under perfbench/src with the Scala compiler
that ships in Spark's jars, into <out>/classes/{main,bench}.

Each of the two is skipped when a stamp of its source files' paths and
contents (and of the Spark jars directory) matches its last build, so
only the first run in a checkout pays for it.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else beside spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def _stamp(repo: Path, files, jars: Path) -> str:
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(repo)).encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(jars: Path, classpath, out: Path, files) -> None:
    out.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(out)]
    if classpath:
        cmd += ["-cp", os.pathsep.join(str(c) for c in classpath)]
    subprocess.run(cmd + [str(f) for f in files], check=True, stdout=sys.stderr)


def _compile(jars: Path, classpath, out: Path, files, stamp: str) -> bool:
    """Compiles `files` into `out` unless its stamp already matches;
    says whether it compiled."""
    stamp_file = out / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return False
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"perfbench: compiling {len(files)} files into {out}", file=sys.stderr)
    _scalac(jars, classpath, tmp, files)
    (tmp / "STAMP").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return True


def build(repo: Path, out: Path) -> tuple[Path, bool]:
    """Compiles what changed; returns the classes directory and whether
    anything was compiled."""
    program = sorted((repo / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((repo / "perfbench" / "src").rglob("*.scala"))
    if not program or not harness:
        raise SystemExit("perfbench: program or harness sources missing; run from the repository root")
    jars = spark_jars()
    classes = out / "classes"
    main_stamp = _stamp(repo, program, jars)
    main = _compile(jars, [], classes / "main", program, main_stamp)
    bench = _compile(jars, [classes / "main"], classes / "bench", harness,
                     _stamp(repo, harness, jars) + main_stamp)
    return classes, main or bench


if __name__ == "__main__":
    print(build(Path.cwd(), Path.cwd() / ".bench_build")[0])
