#!/usr/bin/env python3
"""Record sets of benchmark runs and compare two of them.

    python3 perfbench/compare.py record SET.jsonl [--workloads a,b] [--seeds 1-10] [--trace 0]
    python3 perfbench/compare.py summary SET.jsonl
    python3 perfbench/compare.py diff BASE.jsonl CHANGE.jsonl

`record` runs perfbench/run.py once per workload and seed and appends each
result line to SET.jsonl. `summary` prints, per workload and metric, the
median, the quartiles and the spread (quartile distance over median) beside
the metric's bound from BENCHMARK.json. `diff` prints the same for two sets
and whether they agree: CHANGE's median is no worse than BASE's by more than
the bound, and neither set spreads wider than the bound ("unresolved"
otherwise). For a claimed gain it applies the paired-win rule: runs are
paired by workload and seed, there are at least ten pairs, CHANGE must win
at least 9 of every 10 pairs (ties count for neither side), and the medians
must differ by more than BASE's own quartile distance. Incorrect runs are
left out of every figure, and a workload with an incorrect CHANGE run shows
no gain.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
MIN_PAIRS = 10


def bench():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def metric_defs(trace):
    b = bench()
    return {m["name"]: m for m in b["per_layer" if trace else "end_to_end"]}


def load(path):
    """The set's correct runs, and the workload and seed of each incorrect one."""
    runs = [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]
    bad = [(r["workload"], r["seed"]) for r in runs if not r["result"]["correct"]]
    for w, seed in bad:
        print(f"warning: {path}: {w} seed {seed} was not correct; it is left out",
              file=sys.stderr)
    return [r for r in runs if r["result"]["correct"]], bad


def values(runs, workload, metric):
    return {r["seed"]: r["result"]["metrics"][metric]["value"]
            for r in runs if r["workload"] == workload and metric in r["result"]["metrics"]}


def stats(xs):
    xs = sorted(xs)
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], med, xs[0])
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def record(args):
    lo, hi = (int(x) for x in args.seeds.split("-"))
    workloads = args.workloads.split(",") if args.workloads else \
        [w["name"] for w in bench()["workloads"]]
    with open(args.set, "a") as out:
        for seed in range(lo, hi + 1):
            for w in workloads:
                cmd = [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(seed),
                       "--seconds", str(bench()["run_seconds"]), "--trace", str(args.trace)]
                p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
                if p.returncode != 0:
                    sys.exit(f"{w} seed {seed} failed:\n{p.stderr[-2000:]}")
                line = p.stdout.strip().splitlines()[-1]
                out.write(json.dumps({"workload": w, "seed": seed, "trace": args.trace,
                                      "result": json.loads(line)}) + "\n")
                out.flush()
                print(f"{w} seed {seed}: {line}", file=sys.stderr)


def summary(args):
    runs, _ = load(args.set)
    trace = bool(runs and runs[0].get("trace"))
    for w in sorted({r["workload"] for r in runs}):
        print(f"== {w}")
        for name, m in metric_defs(trace).items():
            xs = list(values(runs, w, name).values())
            if not xs:
                continue
            med, q1, q3, spread = stats(xs)
            bound = m.get("bound")
            flag = "" if bound is None else \
                f" bound {bound:.2f} {'ok' if spread <= bound / 3 else 'WIDE'}"
            print(f"  {name:32s} n={len(xs):2d} median {med:10.4f} q1 {q1:10.4f} q3 {q3:10.4f}"
                  f" spread {spread:6.3f}{flag}")


def diff(args):
    (base, _), (change, bad) = load(args.base), load(args.change)
    for w in sorted({r["workload"] for r in base} & {r["workload"] for r in change}):
        print(f"== {w}")
        # A gain needs ten pairs or more and a change that is correct on
        # every run of the workload.
        clean = not any(bw == w for bw, _ in bad)
        for name, m in metric_defs(False).items():
            a, b = values(base, w, name), values(change, w, name)
            if not a or not b:
                continue
            ma, q1a, q3a, sa = stats(list(a.values()))
            mb, q1b, q3b, sb = stats(list(b.values()))
            lower = m["better"] == "lower"
            worse = (mb - ma) / ma if lower else (ma - mb) / ma
            if sa > m["bound"] or sb > m["bound"]:
                verdict = "unresolved (spread wider than bound)"
            elif worse > m["bound"]:
                verdict = f"REGRESSION ({worse:+.1%} worse, bound {m['bound']:.0%})"
            else:
                verdict = "agree"
            seeds = sorted(set(a) & set(b))
            wins = sum(1 for s in seeds if (b[s] < a[s] if lower else b[s] > a[s]))
            losses = sum(1 for s in seeds if (b[s] > a[s] if lower else b[s] < a[s]))
            gain = clean and len(seeds) >= MIN_PAIRS and wins >= 0.9 * len(seeds) \
                and abs(mb - ma) > q3a - q1a
            print(f"  {name:14s} base {ma:10.4f} [{q1a:.4f}, {q3a:.4f}]  change {mb:10.4f}"
                  f" [{q1b:.4f}, {q3b:.4f}]  {verdict}; paired wins {wins}/{len(seeds)}"
                  f" losses {losses}{'  GAIN' if gain else ''}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("set")
    r.add_argument("--workloads")
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    s = sub.add_parser("summary")
    s.add_argument("set")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("change")
    args = ap.parse_args()
    {"record": record, "summary": summary, "diff": diff}[args.cmd](args)


if __name__ == "__main__":
    main()
