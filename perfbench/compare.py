#!/usr/bin/env python3
"""Compare two graft checkouts on the benchmark, or measure its spread.

  python3 perfbench/compare.py run --parent DIR --change DIR [--runs 10]
      [--workloads ingest,curate] [--seed-base 1] --out FILE
    Runs parent and change alternately (pair i runs the parent first when i
    is even, the change first when i is odd), each on seed seed-base + i for
    the change checkout's run_seconds, untraced, and appends one JSON line
    per run to FILE. Leave --parent out to measure one checkout's own spread.

  python3 perfbench/compare.py report FILE
    Reads the bounds from the change checkout's BENCHMARK.json. Per
    workload and metric: each side's median and quartiles, the spread
    (quartile distance over median) against the metric's bound, the change's
    win fraction over the pairs, and a verdict: "gain" (wins at least 9 of 10
    pairs and the medians differ by more than the parent's quartile
    distance), "regression" (median worse than the parent's by more than the
    bound), "unresolved" (a side's spread exceeds the bound and the change
    does not beat every parent run) or "same". With one side only, the
    verdict is "steady" (spread within a third of the bound), "within
    bound" or "unsteady".

  python3 perfbench/compare.py overhead [--workloads ...] [--seed 1]
    Runs each workload untraced and traced in the current checkout and
    prints the tracing overhead on throughput and median latency.

Development seeds start at 1; seeds from 1000 up are held out for
confirming a claimed gain on inputs not used while writing the change.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
HELD_OUT_SEED_BASE = 1000


def bench_spec(path):
    with open(path) as f:
        spec = json.load(f)
    metrics = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}
    return spec, metrics


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    try:
        res = json.loads(lines[-1])
        if len(lines) > 1:
            res["input"] = json.loads(lines[-2]).get("input", {})
        return res
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "error": f"exit {p.returncode}"}


def cmd_run(a):
    spec, _ = bench_spec(os.path.join(a.change, "BENCHMARK.json"))
    sides = [("change", a.change)] + ([("parent", a.parent)] if a.parent else [])
    with open(a.out, "a") as out:
        for i in range(a.runs):
            order = sides if i % 2 else list(reversed(sides))
            for w in a.workloads.split(","):
                for side, checkout in order:
                    seed = a.seed_base + i
                    res = run_one(checkout, w, seed, spec["run_seconds"], 0)
                    rec = {"side": side, "workload": w, "seed": seed, "pair": i,
                           "first": order[0][0], "change": os.path.abspath(a.change),
                           "result": res}
                    out.write(json.dumps(rec, sort_keys=True) + "\n")
                    out.flush()
                    print(f"pair {i} {w} {side} seed {seed}: correct={res['correct']}",
                          file=sys.stderr)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def cmd_report(a):
    recs = [json.loads(l) for l in open(a.file) if l.strip()]
    _, metrics = bench_spec(os.path.join(recs[0]["change"], "BENCHMARK.json"))
    rows = []
    for w in sorted({r["workload"] for r in recs}):
        names = sorted({k for r in recs if r["workload"] == w for k in r["result"]["metrics"]})
        for name in names:
            spec = metrics.get(name, {})
            bound = spec.get("bound")
            lower = spec.get("better", "lower") == "lower"
            by = {}
            for r in recs:
                m = r["result"]["metrics"].get(name)
                if r["workload"] == w and m is not None:
                    by.setdefault(r["side"], {})[r["pair"]] = m["value"]
            line = {"workload": w, "metric": name, "bound": bound}
            for side, vals in sorted(by.items()):
                xs = list(vals.values())
                q1, med, q3 = quartiles(xs)
                line[side] = {"n": len(xs), "median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med if med else 0.0}
            if "parent" in by and "change" in by:
                pairs = [(by["parent"][i], by["change"][i])
                         for i in by["parent"] if i in by["change"]]
                better = [c < p if lower else c > p for p, c in pairs if c != p]
                line["win_fraction"] = sum(better) / len(pairs) if pairs else 0.0
                pm, cm = line["parent"]["median"], line["change"]["median"]
                worse = (cm - pm) / pm if lower else (pm - cm) / pm
                line["worse_by"] = worse
                beats_all = all((c < p) if lower else (c > p)
                                for p in by["parent"].values() for c in by["change"].values())
                parent_iqr = line["parent"]["q3"] - line["parent"]["q1"]
                if line["win_fraction"] >= 0.9 and abs(cm - pm) > parent_iqr:
                    verdict = "gain"
                elif bound is not None and worse > bound:
                    verdict = "regression"
                elif bound is not None and not beats_all and max(
                        line["parent"]["spread"], line["change"]["spread"]) > bound:
                    verdict = "unresolved"
                else:
                    verdict = "same"
                line["verdict"] = verdict
            elif bound is not None:
                only = next(iter(line[s] for s in ("change", "parent") if s in line))
                line["verdict"] = "steady" if only["spread"] <= bound / 3 else (
                    "within bound" if only["spread"] <= bound else "unsteady")
            rows.append(line)
    for line in rows:
        parts = [f"{line['workload']:7s} {line['metric']:40s}"]
        for side in ("parent", "change"):
            if side in line:
                s = line[side]
                parts.append(f"{side} {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] "
                             f"spread {s['spread']:.3f}")
        if "win_fraction" in line:
            parts.append(f"wins {line['win_fraction']:.2f} worse_by {line['worse_by']:+.3f}")
        if line.get("bound") is not None:
            parts.append(f"bound {line['bound']}")
        if "verdict" in line:
            parts.append(line["verdict"])
        print("  ".join(parts))
    incorrect = [r for r in recs if not r["result"].get("correct")]
    if incorrect:
        print(f"{len(incorrect)} run(s) failed their output checks", file=sys.stderr)
    # outputs that must repeat exactly across the runs of one seed
    prints = {}
    for r in recs:
        fp = r["result"].get("input", {}).get("survivor_fingerprint")
        if fp is not None:
            prints.setdefault((r["workload"], r["seed"]), set()).add(fp)
    differing = sorted(k for k, v in prints.items() if len(v) > 1)
    for w, seed in differing:
        print(f"{w} seed {seed}: survivor sets differ between runs", file=sys.stderr)
    if incorrect or differing:
        sys.exit(1)


def cmd_overhead(a):
    spec, _ = bench_spec("BENCHMARK.json")
    for w in a.workloads.split(","):
        plain = run_one(".", w, a.seed, spec["run_seconds"], 0)["metrics"]
        traced = run_one(".", w, a.seed, spec["run_seconds"], 1)["metrics"]
        for m, t in (("throughput_per_s", "trace.throughput_per_s"),
                     ("latency_ms_p50", "trace.latency_ms_p50")):
            if m in plain and t in traced:
                u, v = plain[m]["value"], traced[t]["value"]
                print(f"{w:7s} tracing overhead {m}: untraced {u:.4g}, traced {v:.4g}, "
                      f"{(v - u) / u:+.1%}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--parent")
    r.add_argument("--change", default=".")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--workloads", default="ingest,curate")
    r.add_argument("--seed-base", type=int, default=1)
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("file")
    o = sub.add_parser("overhead")
    o.add_argument("--workloads", default="ingest,curate")
    o.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    {"run": cmd_run, "report": cmd_report, "overhead": cmd_overhead}[a.cmd](a)


if __name__ == "__main__":
    main()
