"""Benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload cmp_drift --seed 7 --seconds 1 --trace 0

Run from the repository root. Builds graft and the benchmark from source
when they changed (perfbench/build.py) and generates the seed's inputs
(perfbench/gen.py). It then repeats invocations until --seconds have
passed, at least one. An invocation is what one CLI call does: a fresh
JVM at local[N] (N = the CPUs this process may use) sets up a session
and runs one operation. The last stdout line is one JSON object with the
keys correct, attempted, failed and metrics, each metric the median over
the invocations: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402

# graph_rounds is not in BENCHMARK.json; it runs only when named
WORKLOADS = ["cmp_identical", "cmp_drift", "pipe_curate", "graph_rounds"]
# generated input sets kept per workload besides the current one
KEEP_INPUTS = 10
# no invocation starts that could end past this many seconds after the build
RUN_LIMIT_S = 170
HEAP = "3g"

# what Spark's launcher passes to a JDK 17 JVM (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def jvm_cmd(classes, jars, bdir, **kv):
    tmp = bdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: no hsperfdata file in the system temp directory
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={tmp / 'warehouse'}",
             f"-Dderby.system.home={tmp}",
             "-cp", f"{classes}{os.pathsep}{jars / '*'}",
             "graft.perfbench.BenchMain"]
            + [f"{k}={v}" for k, v in kv.items()])


def launch(cmd, log, timeout):
    """Run one JVM; return the JSON of its PERFBENCH line, or None."""
    with open(log, "w") as err:
        # Spark would put its scratch space in SPARK_LOCAL_DIRS over spark.local.dir
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"[perfbench] timed out after {timeout:.0f}s; log: {log}", file=sys.stderr)
            return None
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        tail = Path(log).read_text().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        print(f"[perfbench] JVM exited with {proc.returncode}; log: {log}", file=sys.stderr)
        return None
    return json.loads(lines[-1][len("PERFBENCH "):])


def prune_inputs(data, workload, seed):
    """Keep this seed's inputs and the newest KEEP_INPUTS other sets."""
    if not data.is_dir():
        return
    mine = f"{workload}-s{seed}-"
    others = sorted((d for d in data.iterdir()
                     if d.name.startswith(f"{workload}-s") and not d.name.startswith(mine)),
                    key=lambda d: d.stat().st_mtime, reverse=True)
    for d in others[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def medians(results):
    """Per metric, the median over the invocations, with its unit."""
    return {k: {"value": statistics.median(r["metrics"][k]["value"] for r in results),
                "unit": v["unit"]}
            for k, v in results[0]["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = Path.cwd()
    bdir = root / ".bench_build"
    try:
        classes = build.build(root, bdir)
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(str(e))
    start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    logs = bdir / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    prune_inputs(bdir / "data", args.workload, args.seed)
    shutil.rmtree(bdir / "tmp", ignore_errors=True)  # what killed JVMs left behind
    inputs = gen.inputs(args.workload, args.seed, bdir / "data")
    print(f"[perfbench] inputs ready in {time.monotonic() - start:.3f}s: {inputs}",
          file=sys.stderr)

    def invoke(trace, i):
        return launch(jvm_cmd(classes, jars, bdir, t0_ns=time.time_ns(), cores=cores,
                              workload=args.workload, input=inputs,
                              out=bdir / "out" / args.workload, trace=trace),
                      logs / f"{args.workload}-s{args.seed}-t{trace}-{i}.log",
                      RUN_LIMIT_S - (time.monotonic() - start))

    # a traced run pairs every traced invocation with an untraced one,
    # so the tracing overhead is measured on the same inputs
    modes = [0, 1] if args.trace else [0]
    runs = {m: [] for m in modes}
    attempted = failed = 0
    measuring = time.monotonic()
    longest = 0.0
    while True:
        t = time.monotonic()
        for m in modes:
            r = invoke(m, len(runs[m]))
            attempted += 1
            if r is None or not r["ok"]:
                failed += 1
            else:
                runs[m].append(r)
        longest = max(longest, time.monotonic() - t)
        now = time.monotonic()
        if (failed or now - measuring >= args.seconds
                or now - start + longest > RUN_LIMIT_S):
            break

    metrics = {}
    if not failed:
        if args.trace:
            metrics = medians(runs[1])
            overhead = (statistics.median(r["op_wall_s"] for r in runs[1])
                        - statistics.median(r["op_wall_s"] for r in runs[0]))
            metrics["trace.overhead_s"] = {"value": overhead, "unit": "s"}
        else:
            metrics = medians(runs[0])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
