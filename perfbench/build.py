"""Build file of the benchmark: compiles graft's sources (src/main/scala)
and the benchmark's own (perfbench/src) into one class directory with
the Scala compiler that ships in Spark's jars directory.

    python3 perfbench/build.py            # from the repository root

The output goes to .bench_build/classes. A stamp over every source file
and the names of Spark's jars skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise BuildError("Spark's jars directory not found: set SPARK_HOME")
    return jars


def sources(root):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"graft's sources are missing: no {program.relative_to(root)} "
                         "(run from the repository root)")
    return sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))


def build(root, out):
    """Compile into out/classes unless the stamp matches; return that path."""
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256("\n".join(sorted(j.name for j in jars.iterdir())).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("".join(f"{p}\n" for p in srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"compile failed with exit code {res.returncode}")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        build(Path.cwd(), Path.cwd() / ".bench_build")
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
