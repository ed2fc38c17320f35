#!/usr/bin/env python3
"""Combine / clean bench_out JSONs for artifact generation.

Modes:
  --strip q1,q2 IN OUT     copy IN with the named queries' times and
                           metrics removed (used to drop queries whose
                           implementation changed after the run — their
                           times describe dead code and must come from
                           post-change re-measure files instead)
  --merge OUT IN1 IN2 ...  per-query MIN across inputs (failures < 0
                           ignored), each with the `metrics` of the input
                           that supplied it; 'sf' must agree across inputs.
                           Emits the same shape Bench writes so
                           ratio_table.py can consume the result directly.
  --diff A B               per query, A -> B: time, jobs, prebuild_jobs,
                           shuffle_write_mb and spill_mb; queries whose
                           final-plan digest changed are flagged PLAN.
  --anchor OUT [--sfdir D] [--reps N]
                           measurement-window anchor (round-11 VERDICT #4):
                           run a FIXED 3-query set on BOTH engines (engine
                           via `sbt runMain graft.Bench <anchors>`, DuckDB
                           via tools/anchors_sql.json over the same
                           parquet) and write {engine, duckdb, ratio}.
                           Run once before and once after a campaign; the
                           before/after engine totals calibrate how much of
                           any cross-round delta is the box's regime, not
                           code — DuckDB's pair does the same for the
                           oracle side. The anchors are deliberately
                           UNTOUCHED queries (n1_nested_records,
                           a12_cohort_retention, set_ops — the three whose
                           uniform r9→r10 "regression" exposed the window
                           problem).
"""
import argparse
import json
import os
import re
import subprocess
import sys
import time

DIFF_METRICS = ["jobs", "prebuild_jobs", "shuffle_write_mb", "spill_mb"]
ANCHORS = ["n1_nested_records", "a12_cohort_retention", "set_ops"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_anchor(out, sf_dir, reps):
    import duckdb
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "anchors_sql.json")) as f:
        sqls = json.load(f)
    assert sorted(sqls) == sorted(ANCHORS), sorted(sqls)
    # engine side: Bench's own min-over-retries on the anchor set
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Bench {','.join(ANCHORS)}"],
        capture_output=True, text=True, env=env,
        cwd=os.path.dirname(here))
    m = re.search(r'\{"metric".*\}', proc.stdout)
    if not m:
        sys.exit(f"no bench JSON in sbt output:\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")
    eng = json.loads(m.group(0))["queries"]
    # duckdb side: same parquet, min over reps
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    duck = {}
    for name in ANCHORS:
        best = float("inf")
        for _ in range(reps):
            t0 = time.time()
            con.sql(sqls[name]).fetchall()
            best = min(best, time.time() - t0)
        duck[name] = best
    et, dt = sum(eng.values()), sum(duck.values())
    payload = {"ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
               "sf_dir": sf_dir, "anchors": ANCHORS,
               "engine": eng, "duckdb": duck,
               "engine_total": et, "duckdb_total": dt,
               "ratio": et / dt if dt else None}
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(f"anchor -> {out}: engine {et:.2f}s, duckdb {dt:.2f}s, "
          f"ratio {et/dt:.2f}")


def diff(a_path, b_path):
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)

    def cell(x, y):
        fmt = lambda v: "-" if v is None else (f"{v:.2f}" if isinstance(v, float) else str(v))
        return f"{fmt(x)} -> {fmt(y)}"

    print("query".ljust(34) + "".join(c.rjust(24) for c in ["time_s"] + DIFF_METRICS))
    for q in sorted(set(a.get("queries", {})) | set(b.get("queries", {}))):
        ma, mb = a.get("metrics", {}).get(q, {}), b.get("metrics", {}).get(q, {})
        row = [cell(a.get("queries", {}).get(q), b.get("queries", {}).get(q))]
        row += [cell(ma.get(k), mb.get(k)) for k in DIFF_METRICS]
        da, db = ma.get("plan_digest"), mb.get("plan_digest")
        flag = "  PLAN" if da and db and da != db else ""
        print(q.ljust(34) + "".join(c.rjust(24) for c in row) + flag)
    print("total".ljust(34) + cell(a.get("value"), b.get("value")).rjust(24))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--strip")
    ap.add_argument("--merge", action="store_true")
    ap.add_argument("--anchor", action="store_true")
    ap.add_argument("--diff", action="store_true")
    ap.add_argument("--sfdir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args()

    if args.anchor:
        run_anchor(args.paths[0], args.sfdir, args.reps)
        return

    if args.strip is not None:
        drop = set(args.strip.split(","))
        src, dst = args.paths
        with open(src) as f:
            b = json.load(f)
        for section in ("queries", "first_run", "attempts", "metrics"):
            if section in b:
                b[section] = {k: v for k, v in b[section].items() if k not in drop}
        b["value"] = sum(v for v in b.get("queries", {}).values() if v >= 0)
        with open(dst, "w") as f:
            json.dump(b, f)
        print(f"stripped {sorted(drop)} -> {dst} ({len(b['queries'])} queries)")
        return

    if args.merge:
        out, ins = args.paths[0], args.paths[1:]
        best, metrics, sfs = {}, {}, set()
        for p in ins:
            with open(p) as f:
                b = json.load(f)
            sfs.add(b.get("sf", "?"))
            for k, v in b.get("queries", {}).items():
                if v >= 0 and v < best.get(k, float("inf")):
                    best[k] = v
                    metrics[k] = b.get("metrics", {}).get(k)
        if len(sfs) > 1:
            sys.exit(f"inputs disagree on sf: {sorted(sfs)}")
        merged = {"metric": "total", "value": sum(best.values()), "unit": "sec",
                  "queries": best,
                  "metrics": {k: m for k, m in metrics.items() if m is not None}, "sf": sfs.pop(), "inputs": ins}
        with open(out, "w") as f:
            json.dump(merged, f)
        print(f"merged {len(ins)} files -> {out} ({len(best)} queries, "
              f"total {merged['value']:.1f}s)")
        return

    if args.diff:
        diff(*args.paths)
        return

    sys.exit("pass --strip, --merge, --diff, or --anchor")


if __name__ == "__main__":
    main()
