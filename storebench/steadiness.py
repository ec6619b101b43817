#!/usr/bin/env python3
"""Measure the benchmark's run-to-run spread.

Runs every workload once per seed (`--seeds` of them, starting at
`--first-seed`), then reports for each end-to-end metric the median and
the spread: the distance between the first and third quartile of the
per-seed values (`statistics.quantiles(values, n=4)`) as a share of the
median, beside the bound `BENCHMARK.json` gives it. Writes the record as
JSON to `--out` and prints a table.

    python3 storebench/steadiness.py --seeds 10 --out storebench/steadiness.json
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append",
                    help="workload to run (repeatable; default: all)")
    ap.add_argument("--out", help="write the record here")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "seeds": a.seeds,
              "first_seed": a.first_seed, "workloads": {}}
    for w in workloads:
        values, walls, failures, details = {}, [], 0, []
        for seed in range(a.first_seed, a.first_seed + a.seeds):
            t0 = time.time()
            out = subprocess.run(bench["command"] + [
                "--workload", w, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                print(f"{w} seed {seed}: exit {out.returncode}", file=sys.stderr)
                failures += 1
                continue
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            details.append(json.loads(lines[-2]) if len(lines) > 1 else None)
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
            if not res["correct"] or res["failed"]:
                failures += 1
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        rows = {}
        for name, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            rows[name] = {"median": statistics.median(vs), "spread": (q3 - q1) / statistics.median(vs),
                          "bound": bounds.get(name), "values": vs}
        record["workloads"][w] = {"failures": failures, "wall_s": walls, "metrics": rows,
                                  "details": details}
        print(f"{w}: {len(walls)} runs, {failures} failed, wall median "
              f"{statistics.median(walls):.1f} s")
        for name, r in rows.items():
            flag = "" if r["bound"] is None or r["spread"] < r["bound"] / 3 else "  <-- over bound/3"
            print(f"  {name:22s} median {r['median']:12.4f}  spread {r['spread']:.4f}"
                  f"  bound {r['bound']}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
