"""Steadiness check: repeat each workload over several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (Q3 - Q1) as a
share of the median, next to the metric's bound from BENCHMARK.json. With
--traced N it also makes N traced runs per workload and reports the tracing
overhead: the traced medians of op_p50_ms and ops_per_s against the untraced.

Usage, from the repo root:
  python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--traced 0]
                              [--out report.json]
"""
import argparse
import json
import statistics
import subprocess


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if res.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default="")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = seeds_of(args.seeds)
    result = {}
    for w in workloads:
        runs = [run_once(spec, w, s, 0) for s in seeds]
        errors = sum(r["failed"] for r in runs)
        stats = {m: summary([r["metrics"][m]["value"] for r in runs]) for m in bounds}
        print(f"\n{w}: {len(runs)} runs, seeds {args.seeds}, failed ops {errors}")
        print(f"  {'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  verdict")
        for m, st in stats.items():
            b = bounds[m]
            verdict = "setup (spread not gated)" if m == "setup_s" else (
                "ok" if st["spread"] < b / 3 else "within bound" if st["spread"] <= b else "TOO WIDE")
            print(f"  {m:<14}{st['median']:>12.4f}{st['q1']:>12.4f}{st['q3']:>12.4f}"
                  f"{st['spread']:>9.3f}{b:>7.2f}  {verdict}")
        entry = {"failed": errors, "metrics": stats}
        if args.traced:
            traced = [run_once(spec, w, s, 1) for s in seeds[:args.traced]]
            layers = {k: statistics.median([t["metrics"][k]["value"] for t in traced])
                      for k in traced[0]["metrics"]}
            untraced = {m: statistics.median([r["metrics"][m]["value"] for r in runs[:args.traced]])
                        for m in ("op_p50_ms", "ops_per_s")}
            overhead = {m: layers["trace." + m] / v - 1 for m, v in untraced.items()}
            entry["per_layer"] = layers
            entry["trace_overhead"] = overhead
            print(f"  traced runs: {len(traced)}; overhead vs untraced (same seeds): "
                  + ", ".join(f"{k} {v:+.1%}" for k, v in overhead.items()))
            for k, v in layers.items():
                print(f"    {k:<28}{v:>14.4f}")
        result[w] = entry
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(result, fh, indent=1)


if __name__ == "__main__":
    main()
