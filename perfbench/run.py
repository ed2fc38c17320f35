#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload monthly_close|backfill|query_mix \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The command builds the engine and the benchmark
program (perfbench/build.py) unless this source tree is already built, generates
the seeded statement corpus of a pipeline workload or reuses it
(perfbench/corpus.py), starts one JVM that runs the workload
(perfbench/scala, entry perfbench.Main), and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. The full record (samples, per-query
times, traced passes, plan digests, provenance) is written to
.bench_build/results/<workload>-s<seed>-t<trace>.json and the spans of a
traced run next to it. Everything the run writes stays under .bench_build.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ("monthly_close", "backfill", "query_mix")
CPUS = 4            # local[4]: the measured box has 4 cores
HEAP = "3g"
JVM_TIMEOUT_S = 170
MIX_DATA = os.path.join(HERE, "data", "sf0.01")
MIX_EXPECTED = os.path.join(HERE, "expected_sf0.01.json")
# Spark 4 on JDK 17 outside spark-submit (the engine's build sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def corpus_dir(bb, workload, seed):
    out = os.path.join(bb, "corpus", f"{workload}-s{seed}")
    if not os.path.isfile(os.path.join(out, "DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        corpus.generate(workload, seed, tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        classes = build.build(root)
        jars = build.spark_jars(root)
    except (OSError, ValueError, build.BuildError) as e:
        fail(str(e))
    bb = os.path.join(root, build.BUILD_DIR)
    name = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(bb, "work", name)
    results = os.path.join(bb, "results")
    shutil.rmtree(work, ignore_errors=True)
    for d in (work, os.path.join(bb, "tmp"), os.path.join(bb, "spark-local"), results):
        os.makedirs(d, exist_ok=True)

    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--out", os.path.join(work, "result.json")]
    if a.trace:
        jvm_args += ["--spans", os.path.join(results, name + ".spans.json")]
    if a.workload == "query_mix":
        jvm_args += ["--data", MIX_DATA, "--expected", MIX_EXPECTED]
    else:
        jvm_args += ["--corpus", corpus_dir(bb, a.workload, a.seed)]

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(CPUS), SPARK_LOCAL_DIRS=os.path.join(bb, "spark-local"))
    # The heap is fixed and touched up front, so neither the timings nor
    # the collections depend on when the JVM would grow the heap.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.join(bb, 'tmp')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"]
           + jvm_args)
    log_path = os.path.join(results, name + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}", 3)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"JVM exited with {rc}; log: {log_path}\n{tail}", 4)

    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    listed = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(listed):
        fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(listed)}", 5)
    result["detail"]["provenance"].update(
        git_commit=git_commit(root), source_build=os.path.basename(classes), seed=a.seed,
        heap=HEAP, spark_local_dir=".bench_build/spark-local")
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    for k, m in result["metrics"].items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed")}
                     | {"metrics": {k: result["metrics"][k] for k in listed}}))


if __name__ == "__main__":
    main()
