#!/usr/bin/env python3
"""Record the committed reference runs: one untraced and one traced run of
each workload (monthly_close, backfill, query_mix) with seed 1, for the
run_seconds of BENCHMARK.json, written to perfbench/results/ as
baseline.json, traced.json and summary.json.

summary.json names the hottest layer of each pipeline workload (largest
share of the traced operation's wall time) and gives the backfill /
monthly_close ratio of every per-layer metric of the pipeline layers, plus
the ratio of their end-to-end throughputs.

Usage: python3 perfbench/record.py   (from the repository root)
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("monthly_close", "backfill", "query_mix")
SEED = 1
LAYER_TIMES = ("sources.decode_s", "sources.sqlite_s", "pipeline.parse_s",
               "operators.enrich_s", "pipeline.sink_csv_s", "pipeline.sink_xlsx_s")


def run(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   check=True, stdout=subprocess.DEVNULL)
    name = f"{workload}-s{seed}-t{trace}"
    with open(os.path.join(".bench_build", "results", name + ".json")) as f:
        record = json.load(f)
    if trace:
        with open(os.path.join(".bench_build", "results", name + ".spans.json")) as f:
            record["spans"] = json.load(f)
    return record


def value(record, metric):
    return record["metrics"][metric]["value"]


def summarize(baseline, traced):
    out = {}
    for w in ("monthly_close", "backfill"):
        t = traced[w]
        times = {m: value(t, m) for m in LAYER_TIMES}
        total = sum(times.values())
        hottest = max(times, key=times.get)
        out[w] = {
            "layer_s": times,
            "layer_share": {m: v / total for m, v in times.items()},
            "hottest_layer": hottest,
            "evidence": f"{hottest} = {times[hottest]:.3f} s of {total:.3f} s summed layer time "
                        f"({100 * times[hottest] / total:.0f} %) in the traced batch",
            "end_to_end": {m: value(baseline[w], m) for m in baseline[w]["metrics"]},
        }
    ratios = {}
    for m in traced["backfill"]["metrics"]:
        if m.split(".")[0] in ("sources", "pipeline") or m.startswith("operators.enrich"):
            a, b = value(traced["backfill"], m), value(traced["monthly_close"], m)
            ratios[m] = a / b if b else None
    out["scaling_backfill_over_monthly_close"] = {
        "txns": value(traced["backfill"], "pipeline.txns") / value(traced["monthly_close"], "pipeline.txns"),
        "rows_per_s": value(baseline["backfill"], "rows_per_s") / value(baseline["monthly_close"], "rows_per_s"),
        "op_p50_s": value(baseline["backfill"], "op_p50_s") / value(baseline["monthly_close"], "op_p50_s"),
        "per_layer": ratios,
    }
    out["tracing_overhead_s"] = {w: value(traced[w], "trace.overhead_s") for w in WORKLOADS}
    return out


def main():
    with open("BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    baseline = {w: run(w, SEED, seconds, 0) for w in WORKLOADS}
    traced = {w: run(w, SEED, seconds, 1) for w in WORKLOADS}
    res = os.path.join(HERE, "results")
    os.makedirs(res, exist_ok=True)
    for name, obj in (("baseline", baseline), ("traced", traced),
                      ("summary", summarize(baseline, traced))):
        with open(os.path.join(res, name + ".json"), "w") as f:
            json.dump(obj, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
