#!/usr/bin/env python3
"""Record the benchmark's expected outputs.

    python3 perfbench/calibrate.py

This runs each workload's members over three passes under two seeds and
writes perfbench/expected.json: per call the row count and checksum,
kept only where every pass and seed agreed. Calls listed under a workload's
"seeded_inputs" read the CSVs generated from the seed; the harness checks
those itself, per seed.
"""
import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def harness(workload, members, seed, trace, warm_passes):
    args = argparse.Namespace(workload=workload, seed=seed, trace=trace,
                              warm_passes=warm_passes)
    work = run.OUT / f"calibrate-{workload}-seed{seed}"
    work.mkdir(parents=True, exist_ok=True)
    return run.run_harness(args, members, work, deadline=900)


def expected(spec):
    out = {}
    for name, w in spec["workloads"].items():
        seen = {}
        for seed in (11, 12):
            res = harness(name, w["members"], seed=seed, trace=0, warm_passes=2)
            for c in res["calls"]:
                if c["error"] or c["check"]:
                    sys.exit(f"{name}/{c['call']} failed while calibrating: "
                             f"{c['error'] or c['check']}")
                seen.setdefault(c["call"], set()).add((c["rows"], c["checksum"]))
        for call, outs in sorted(seen.items()):
            if call in w.get("seeded_inputs", []):
                continue  # checked by the harness, per seed
            rows = {r for r, _ in outs}
            if len(outs) == 1:
                (r, h), = outs
                out[call] = {"rows": r, "checksum": h}
            elif len(rows) == 1:
                out[call] = {"rows": rows.pop()}
            elif not call.startswith("ml."):
                sys.exit(f"{call} gave different outputs across passes: {sorted(outs)}")
            print(f"{call}: {out.get(call, 'seed-dependent')}", file=sys.stderr)
    return out


def main():
    argparse.ArgumentParser(description=__doc__.split("\n")[0]).parse_args()
    run.ensure_build()
    spec = json.loads((run.HERE / "spec.json").read_text())
    (run.HERE / "expected.json").write_text(json.dumps(expected(spec), indent=1) + "\n")


if __name__ == "__main__":
    main()
