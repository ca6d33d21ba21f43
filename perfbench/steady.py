#!/usr/bin/env python3
"""Steadiness self-check: two sets of untraced runs of the same code.

    python3 perfbench/steady.py [--runs 10] [--workloads etl_batch,corpus_dedup]

Set A runs seeds 1..N and set B seeds N+1..2N of every workload, one run
after another. For each workload and end-to-end metric it prints both
sets' medians, their quartile ranges as a share of the median (from
statistics.quantiles(values, n=4)), the change of median from A to B, the
metric's bound from BENCHMARK.json, and each set's median host steal
share. The spread must stay within the bound and the median must not
worsen by more than the bound; both are flagged. The per-layer
run.pass_s (pass wall time, no bound) is shown too, unflagged. The
table and every run's values are also written to .work/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def one_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(BENCH, ".work", f"report-{workload}-{seed}-t0.json")) as f:
        rep = json.load(f)
    return {"seed": seed, "failed_share": out["failed"] / out["attempted"],
            "steal": rep["steal_share"], "run.pass_s": rep["layers"]["run.pass_s"],
            **{k: v["value"] for k, v in out["metrics"].items()}}


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    a = p.parse_args()
    workloads = a.workloads.split(",")
    runs = {}
    for set_name, first in (("A", 1), ("B", a.runs + 1)):
        for w in workloads:
            runs[set_name, w] = []
            for seed in range(first, first + a.runs):
                r = one_run(w, seed, spec["run_seconds"])
                runs[set_name, w].append(r)
                print(f"set {set_name} {w} seed {seed}: " + " ".join(
                    f"{k}={v:.4g}" for k, v in r.items() if k != "seed"), flush=True)

    print(f"\n{'workload':14} {'metric':18} {'median A':>10} {'median B':>10} "
          f"{'IQR A':>7} {'IQR B':>7} {'B/A-1':>7} {'bound':>6} {'steal A':>8} {'steal B':>8}")
    table = []
    ok = True
    for w in workloads:
        sa = statistics.median(r["steal"] for r in runs["A", w])
        sb = statistics.median(r["steal"] for r in runs["B", w])
        fa = {r["failed_share"] for r in runs["A", w]}
        fb = {r["failed_share"] for r in runs["B", w]}
        if fa != fb or len(fa) != 1:
            ok = False
            print(f"{w}: failed share differs: A {sorted(fa)} B {sorted(fb)}")
        for m in spec["end_to_end"]:
            ma, qa = spread([r[m["name"]] for r in runs["A", w]])
            mb, qb = spread([r[m["name"]] for r in runs["B", w]])
            worse = (mb / ma - 1) if m["better"] == "lower" else (1 - mb / ma)
            flag = ""
            if max(qa, qb) > m["bound"]:
                flag += " SPREAD"
            if worse > m["bound"]:
                flag += " DRIFT"
            ok = ok and not flag
            print(f"{w:14} {m['name']:18} {ma:10.4g} {mb:10.4g} {qa:7.1%} {qb:7.1%} "
                  f"{mb / ma - 1:+7.1%} {m['bound']:6.2f} {sa:8.2%} {sb:8.2%}{flag}")
            table.append({"workload": w, "metric": m["name"], "median_a": ma, "median_b": mb,
                          "iqr_share_a": qa, "iqr_share_b": qb, "bound": m["bound"],
                          "steal_a": sa, "steal_b": sb})
        # Pass wall time has no bound; shown for comparison, not flagged.
        ma, qa = spread([r["run.pass_s"] for r in runs["A", w]])
        mb, qb = spread([r["run.pass_s"] for r in runs["B", w]])
        print(f"{w:14} {'run.pass_s':18} {ma:10.4g} {mb:10.4g} {qa:7.1%} {qb:7.1%} "
              f"{mb / ma - 1:+7.1%} {'-':>6} {sa:8.2%} {sb:8.2%}")
    with open(os.path.join(BENCH, ".work", "steady.json"), "w") as f:
        json.dump({"table": table, "runs": {f"{s}/{w}": v for (s, w), v in runs.items()}},
                  f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
