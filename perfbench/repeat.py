"""Run each workload several times with different seeds and print, per
metric, the median, the quartiles and the quartile spread as a share of
the median, beside the bound BENCHMARK.json sets. The bounds are chosen
from these figures.

    python3 perfbench/repeat.py --runs 10 --seed0 1000

Runs are sequential; each is one `run.py` invocation of a workload
BENCHMARK.json lists, with the run length it gives.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def summarize(values: list) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"] + spec["per_layer"]}
    for w in (w["name"] for w in spec["workloads"]):
        runs = []
        for i in range(a.runs):
            seed = a.seed0 + i
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", str(a.trace)]
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                               text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            runs.append(res)
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                if k in bounds and bounds[k] is not None), file=sys.stderr, flush=True)
        if not runs:
            continue
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        print(f"\n== {w}: {len(runs)} runs, failed share(s) {shares}")
        print(f"{'metric':48} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for name in runs[0]["metrics"]:
            s = summarize([r["metrics"][name]["value"] for r in runs])
            b = bounds.get(name)
            print(f"{name:48} {s['median']:12.5g} {s['q1']:12.5g} {s['q3']:12.5g} "
                  f"{s['spread']:7.3f} {'' if b is None else b:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
