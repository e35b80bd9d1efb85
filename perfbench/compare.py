#!/usr/bin/env python3
"""Steadiness and compare tool for perfbench.

  # run the benchmark over seeds and keep each run's result line
  python3 perfbench/compare.py runs --workloads graph_read,curate_stream \\
      --seeds 1-10 --out base.jsonl

  # per workload and end-to-end metric: median, quartiles, spread vs bound
  python3 perfbench/compare.py steady base.jsonl

  # two sets of runs (parent, change): regression / gain / unresolved
  python3 perfbench/compare.py compare base.jsonl new.jsonl

Bounds and metric directions come from BENCHMARK.json. `compare` pairs
the two sets by seed; run both sides on the same seeds, alternating which
side runs first. A spread above the bound reads "unresolved", never
"unchanged".
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def load_bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b, {m["name"]: m for m in b["end_to_end"]}


def load_runs(path):
    """workload -> seed -> {metric: value}"""
    out = {}
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                out.setdefault(r["workload"], {})[r["seed"]] = {
                    k: v["value"] for k, v in r["result"]["metrics"].items()}
    return out


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def cmd_runs(a):
    b, _ = load_bench()
    with open(a.out, "a") as fh:
        for seed in seeds(a.seeds):
            for w in a.workloads.split(","):
                res = subprocess.run(b["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(b["run_seconds"]), "--trace", "0"],
                                     cwd=ROOT, stdout=subprocess.PIPE, text=True)
                last = res.stdout.strip().splitlines()[-1] if res.stdout.strip() else "{}"
                if res.returncode != 0:
                    print(f"{w} seed {seed}: exit {res.returncode}", file=sys.stderr)
                    continue
                fh.write(json.dumps({"workload": w, "seed": seed, "result": json.loads(last)}) + "\n")
                fh.flush()
                print(f"{w} seed {seed}: {last}", file=sys.stderr)


def cmd_steady(a):
    _, e2e = load_bench()
    runs = load_runs(a.runs)
    bad = 0
    for w, by_seed in sorted(runs.items()):
        print(f"{w} ({len(by_seed)} runs)")
        for name, m in e2e.items():
            xs = [r[name] for r in by_seed.values() if name in r]
            q1, q2, q3 = metrics.quartiles(xs)
            sp = metrics.spread(xs)
            state = "ok" if sp <= m["bound"] else "unresolved"
            if state != "ok" and name != "setup_s":
                bad += 1
            print(f"  {name:14s} median {q2:12.4f} {m['unit']:5s} q1 {q1:12.4f} q3 {q3:12.4f} "
                  f"spread {sp:6.3f} bound {m['bound']:.2f} ({sp / m['bound']:.2f} of bound) {state}")
    return 1 if bad else 0


def cmd_compare(a):
    _, e2e = load_bench()
    base, new = load_runs(a.base), load_runs(a.new)
    worse = 0
    for w in sorted(set(base) & set(new)):
        common = sorted(set(base[w]) & set(new[w]))
        print(f"{w} ({len(common)} paired seeds)")
        for name, m in e2e.items():
            bs = [base[w][s][name] for s in common]
            ns = [new[w][s][name] for s in common]
            v, d = metrics.verdict(bs, ns, m["bound"], m["better"])
            worse += v == "regression"
            print(f"  {name:14s} {v:11s} base {d['base_median']:12.4f} new {d['new_median']:12.4f} "
                  f"change {d['change']:+.3f} base spread {d['base_spread']:.3f} "
                  f"wins {d['wins']}/{d['pairs']}")
    return 1 if worse else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--workloads", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--out", required=True)
    s = sub.add_parser("steady")
    s.add_argument("runs")
    c = sub.add_parser("compare")
    c.add_argument("base")
    c.add_argument("new")
    a = ap.parse_args()
    sys.exit({"runs": cmd_runs, "steady": cmd_steady, "compare": cmd_compare}[a.cmd](a) or 0)


if __name__ == "__main__":
    main()
