#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload <name> --seeds 101-110 [--seconds 12] [--label set1]

Runs perfbench/run.py untraced once per seed, one run at a time, and
prints for each end-to-end metric its median, its quartiles (Python's
statistics.quantiles(values, n=4)) and their distance as a share of the
median, against the metric's bound in BENCHMARK.json. The summary, with
every run's metrics, load and CPU steal and the name of its run record, is
written to perfbench/out/spread_<workload>_<label>.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def newest_record(workload, seed):
    found = sorted((HERE / "out").glob(f"record_{workload}_seed{seed}_trace0_*.json"))
    return found[-1] if found else None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="first-last, e.g. 101-110")
    ap.add_argument("--seconds", type=int, default=SPEC["run_seconds"])
    ap.add_argument("--label", default="set")
    a = ap.parse_args()
    runs = []
    for seed in a.seeds:
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=HERE.parent, capture_output=True, text=True)
        if p.returncode != 0:
            raise SystemExit(f"seed {seed} exited {p.returncode}\n{p.stderr[-3000:]}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        rec_path = newest_record(a.workload, seed)
        rec = json.loads(rec_path.read_text())
        runs.append({"seed": seed, "record": rec_path.name, "correct": result["correct"],
                     "failed": result["failed"], "attempted": result["attempted"],
                     "load": [rec["loadavg_start"], rec["loadavg_end"]],
                     "cpu_steal_share": rec["cpu_steal_share"],
                     "metrics": {k: v["value"] for k, v in result["metrics"].items()}})
        print(f"seed {seed}: " + ", ".join(f"{k} {v:.4g}" for k, v in runs[-1]["metrics"].items())
              + f"; steal {rec['cpu_steal_share']:.1%}", flush=True)
    summary = {}
    for m in SPEC["end_to_end"]:
        vals = [r["metrics"][m["name"]] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med,
                              "bound": m["bound"]}
        print(f"{a.workload} {m['name']}: median {med:.4g} {m['unit']}, IQR/median "
              f"{(q3 - q1) / med:.1%} (bound {m['bound']:.0%})")
    out = HERE / "out" / f"spread_{a.workload}_{a.label}.json"
    out.write_text(json.dumps({"workload": a.workload, "seconds": a.seconds, "label": a.label,
                               "summary": summary, "runs": runs}, indent=1))
    print(f"written {out}")


if __name__ == "__main__":
    main()
