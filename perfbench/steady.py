#!/usr/bin/env python3
"""Runs the benchmark over a set of seeds and reports how steady it is.

Run from the root of a checkout:

    python3 perfbench/steady.py --workloads curation,derive --seeds 1-10 \
        [--seconds 20] [--trace 0] [--log runs.jsonl]

Each run is `perfbench/run.py` with one seed, one after another. For every
workload and metric it prints the median over the runs, the distance
between the first and third quartiles (`statistics.quantiles(n=4)`) as a
share of the median, and the range as a share of the median; then the
JIT's share of the measured window's CPU and the host's steal, which
explain most spread. A bound from BENCHMARK.json is shown beside each
end-to-end metric. With --log, each run's context and result are appended
to that file as one JSON line.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    objs = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.startswith("{")]
    info = next((o["info"] for o in objs if "info" in o), {})
    result = objs[-1] if objs and "metrics" in objs[-1] else None
    return proc.returncode, info, result


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan"), float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med, (max(values) - min(values)) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="curation,derive")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--log", default=None)
    a = ap.parse_args()
    bench = {}
    if os.path.isfile("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            bench = json.load(f)
    seconds = a.seconds or bench.get("run_seconds", 20)
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}

    for wl in a.workloads.split(","):
        metrics, units, jit, steal, walls, bad = {}, {}, [], [], [], []
        for seed in seeds_of(a.seeds):
            rc, info, result = run_once(wl, seed, seconds, a.trace)
            if a.log:
                with open(a.log, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed, "rc": rc,
                                        "info": info, "result": result}) + "\n")
            if rc != 0 or result is None or not result["correct"] or result["failed"]:
                bad.append(seed)
                print(f"{wl} seed {seed}: rc {rc}, result {result and {k: result[k] for k in ('correct', 'attempted', 'failed')}}",
                      flush=True)
                if result is None:
                    continue
            for name, m in result["metrics"].items():
                metrics.setdefault(name, []).append(m["value"])
                units[name] = m["unit"]
            jit.append(info.get("jit_share", float("nan")))
            steal.append(info.get("host_steal_frac", float("nan")))
            walls.append(info.get("window_s", float("nan")))
            print(f"{wl} seed {seed}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        print(f"\n== {wl}: {len(metrics.get(next(iter(metrics), ''), []))} runs, "
              f"{len(bad)} bad {bad}")
        print(f"{'metric':34} {'unit':10} {'median':>12} {'iqr/med':>8} {'range/med':>9} {'bound':>6}")
        for name, vals in metrics.items():
            med, iqr, rng = spread(vals)
            b = bounds.get(name)
            print(f"{name:34} {units[name]:10} {med:12.5g} {iqr:8.3f} {rng:9.3f} "
                  f"{'' if b is None else b:>6}")
        for label, vals in (("jit share of window CPU", jit), ("host steal", steal),
                            ("window wall s", walls)):
            vals = [v for v in vals if v == v]
            if vals:
                print(f"{label}: median {statistics.median(vals):.3f}, "
                      f"min {min(vals):.3f}, max {max(vals):.3f}")
        print(flush=True)


if __name__ == "__main__":
    main()
