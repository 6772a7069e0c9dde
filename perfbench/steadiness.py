#!/usr/bin/env python3
"""Steadiness record: run each workload over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (interquartile
distance as a share of the median) next to the metric's bound.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--out FILE]

Run from the repository root. Each run is one `perfbench/run.py` call with
`--trace 0`; the raw result lines go to FILE as JSON next to the summary.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    record = {"run_seconds": spec["run_seconds"], "workloads": {}}
    for w in names:
        runs = []
        for s in seeds(a.seeds):
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
            if r.returncode != 0 or not last.startswith("{"):
                sys.stderr.write(r.stderr[-3000:])
                sys.exit(f"{w} seed {s}: run failed ({r.returncode})")
            res = json.loads(last)
            res["seed"] = s
            runs.append(res)
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
                f" failed={res['failed']}/{res['attempted']}", flush=True)
        summary = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                                  "spread": (q3 - q1) / med if med else float("inf"),
                                  "bound": m["bound"]}
        record["workloads"][w] = {"summary": summary, "runs": runs}
        print(f"\n{w}:")
        for k, v in summary.items():
            flag = "" if k == "setup_s" or v["spread"] < v["bound"] / 3 else "  <-- above bound/3"
            print(f"  {k:16s} median {v['median']:10.4f}  q1 {v['q1']:10.4f}  q3 {v['q3']:10.4f}"
                  f"  spread {v['spread']:.3f}  bound {v['bound']}{flag}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(record, fh, indent=1)


if __name__ == "__main__":
    main()
