#!/usr/bin/env python3
"""Run the benchmark over several seeds and record each run and the
spread of every metric.

    python3 perfbench/evidence/collect.py --seeds 1-10 [--workloads a,b] [--trace 0|1] [--tag NAME]

Run from the root of a checkout. Appends one JSON record per run to
perfbench/evidence/<tag>-<workload>.jsonl and writes
perfbench/evidence/<tag>-spread.json from every record of that tag: per
workload and metric, the median of the runs and the distance between
their first and third quartiles (statistics.quantiles(values, n=4)) as a
share of that median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--tag", default="runs")
    a = ap.parse_args()
    for w in a.workloads.split(","):
        with open(os.path.join(HERE, f"{a.tag}-{w}.jsonl"), "a") as out:
            for s in seeds(a.seeds):
                t0 = time.time()
                p = subprocess.run(
                    ["python3", os.path.join(BENCH, "run.py"), "--workload", w, "--seed", str(s),
                     "--seconds", str(bench["run_seconds"]), "--trace", a.trace],
                    capture_output=True, text=True)
                wall = time.time() - t0
                lines = p.stdout.strip().splitlines()
                rec = {"workload": w, "seed": s, "trace": int(a.trace), "exit": p.returncode,
                       "wall_s": round(wall, 3)}
                if len(lines) >= 2:
                    rec["detail"] = json.loads(lines[-2])
                    rec["result"] = json.loads(lines[-1])
                else:
                    rec["stderr_tail"] = p.stderr[-2000:]
                out.write(json.dumps(rec, sort_keys=True) + "\n")
                out.flush()
                ok = rec.get("result", {}).get("correct")
                print(f"{w} seed {s}: exit {p.returncode} correct {ok} wall {wall:.1f} s", flush=True)
    spread = {}
    for w in (x["name"] for x in bench["workloads"]):
        path = os.path.join(HERE, f"{a.tag}-{w}.jsonl")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            rows = [r["result"]["metrics"] for r in map(json.loads, f) if "result" in r]
        if len(rows) >= 2:
            spread[w] = {}
            for k in rows[0]:
                v = [r[k]["value"] for r in rows if k in r and r[k]["value"] is not None]
                med = statistics.median(v)
                q = statistics.quantiles(v, n=4) if len(v) >= 2 else [med, med, med]
                spread[w][k] = {"unit": rows[0][k]["unit"], "runs": len(v), "median": med,
                                "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med if med else None}
    if spread:
        with open(os.path.join(HERE, f"{a.tag}-spread.json"), "w") as f:
            json.dump(spread, f, indent=1, sort_keys=True)
    for w, ms in spread.items():
        for k, m in ms.items():
            print(f"{w:16s} {k:34s} median {m['median']:.5g} {m['unit']:10s} spread {m['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
