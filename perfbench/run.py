#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the library and the
harness (perfbench/build.sh) into .bench_build/; later runs reuse the build
while the sources are unchanged. The harness JVM writes raw per-call records;
this script checks every output against perfbench/expected.json and the
harness's own checks, then prints a summary on stderr and, as the last line
of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 the per-layer ones. The traced run also writes one JSON record per
call and the span tree to .bench_out/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
OUT = ROOT / ".bench_out"
DATA = HERE / "data" / "sf0.01"
HARNESS_LIMIT_S = 145  # the harness stops issuing calls after this; the run ends by 170 s
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main" / "scala", ROOT / "src" / "main" / "resources",
             HERE / "scala", HERE / "build.sh"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def ensure_build():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("src/main/scala is missing: run from a full checkout of the repository")
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    print("perfbench: building library and harness", file=sys.stderr)
    r = subprocess.run(["bash", str(HERE / "build.sh"), str(BUILD)], cwd=ROOT,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        fail(f"build failed with exit code {r.returncode}")
    stamp_file.write_text(stamp)


def spark_jars():
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def run_harness(args, members, work, deadline=HARNESS_LIMIT_S):
    result = work / "result.json"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file under the system temp directory.
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{BUILD / 'classes'}:{spark_jars()}/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--warm-passes", str(args.warm_passes), "--trace", str(args.trace),
            "--data", str(DATA), "--work", str(work), "--out", str(result),
            "--members", ",".join(members), "--deadline", str(deadline)]
    log = work / "jvm.log"
    with open(log, "wb") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=deadline + 25)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"harness exited with {'a timeout' if code is None else f'code {code}'}; log: {log}")
    return json.loads(result.read_text())


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_latency(samples):
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    k = n - 10  # s[k:] holds the 10 samples beyond s[k - 1]
    return s[k - 1], 100.0 * k / n, n


def judge(res, expected):
    """Marks each call record ok or failed and returns the failures."""
    failures = []
    for c in res["calls"]:
        why = c.get("error") or c.get("check")
        exp = expected.get(c["call"])
        if not why and exp:
            if c["rows"] != exp["rows"]:
                why = f"rows {c['rows']} != expected {exp['rows']}"
            elif "checksum" in exp and c["checksum"] != exp["checksum"]:
                why = f"checksum {c['checksum']} != expected {exp['checksum']}"
        if not why and not c["ml"] and not exp:
            why = "no expected output recorded"
        c["ok"] = not why
        if why:
            failures.append(f"pass {c['pass']} {c['call']}: {why}")
    return failures


def self_times(spans):
    """Self time per span kind: duration minus the part its children cover."""
    covered = {}
    for s in spans:
        covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    out = {}
    for s in spans:
        kind = s["name"].split(":")[0]
        out[kind] = out.get(kind, 0.0) + s["end_s"] - s["start_s"] - covered.get(s["id"], 0.0)
    return out


def end_to_end(res):
    warm = [c for c in res["calls"] if c["pass"] > 0 and "call_s" in c]
    by_call = {}
    for c in warm:
        by_call.setdefault(c["call"], []).append(c["call_s"])
    tail, pct, n = tail_latency([c["call_s"] for c in warm])
    info = {"query_tail_s": tail, "query_tail_percentile": pct, "warm_samples": n,
            "warm_passes": len(res["passes"]) - 1, "cold_pass_s": res["passes"][0]["pass_s"]}
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        # The median warm pass, taken call by call: a disturbance that hits
        # a different call in each pass does not move it.
        "warm_pass_s": (sum(median(v) for v in by_call.values()), "s"),
        "query_p50_s": (median([c["call_s"] for c in warm]), "s"),
        "heap_mb_end": (res["heap_mb_end"], "MB"),
    }, info


PASS_SUMS = [
    "queries.construct_s", "queries.construct_jobs", "queries.schema_jobs", "queries.cached_reads",
    "queries.ckpt_rdds", "queries.ckpt_mb", "plans.plan_s", "plans.analysis_s",
    "plans.optimization_s", "plans.planning_s", "spark.action_s", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.task_wait_s", "spark.task_busy_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.gc_s",
    "sources.input_mb", "sources.input_rows",
]


def per_layer(res, info, attempted, failed):
    cores = res["cores"]
    warm = [p for p in res["passes"] if p["pass"] > 0]
    traced = [p["pass"] for p in warm if p["traced"]]
    by_pass = {}
    for c in res["calls"]:
        by_pass.setdefault(c["pass"], []).append(c)

    def per_pass(fn):
        return median([fn(by_pass.get(p, [])) for p in traced])

    def total(key, calls, ml=None):
        return sum(c.get(key, 0) for c in calls if ml is None or c["ml"] == ml)

    m = {k: (res["setup"][k], "s") for k in ("setup.session_s", "setup.jit_s", "setup.inputs_s")}
    # The cold pass is one sample per run; its run-to-run spread is too wide
    # for an end-to-end bound, so it is reported with the layers.
    m["cold.pass_s"] = (res["passes"][0]["pass_s"], "s")
    # A run holds 12 to 15 warm samples of 3 or 4 different calls, so the
    # highest percentile with 10 samples beyond it lies below the median and
    # reads one member's time, not a tail: it is reported with the layers.
    m["query_tail_s"] = (info["query_tail_s"], "s")
    m["bases.cached_mb"] = (res["bases.cached_mb"], "MB")
    for k in PASS_SUMS:
        unit = k.rsplit("_", 1)[1] if k.endswith(("_s", "_mb")) else "count"
        m[k] = (per_pass(lambda cs, k=k: total(k, cs)), {"s": "s", "mb": "MB"}.get(unit, unit))
    m["spark.idle_core_frac"] = (per_pass(lambda cs: 1 - total("spark.task_busy_s", cs) /
                                          max(1e-9, total("call_s", cs) * cores)), "fraction")
    m["sources.rows_read_per_row_out"] = (per_pass(
        lambda cs: total("sources.input_rows", cs) / max(1, total("rows", cs))), "ratio")
    m["ml.fit_s"] = (per_pass(lambda cs: total("queries.construct_s", cs, ml=True)), "s")
    m["ml.transform_s"] = (per_pass(lambda cs: total("plans.plan_s", cs, ml=True) +
                                    total("spark.action_s", cs, ml=True)), "s")
    m["ml.jobs"] = (per_pass(lambda cs: total("spark.jobs", cs, ml=True)), "count")
    m["harness.cleanup_s"] = (median([p["harness.cleanup_s"] for p in warm]), "s")
    selfs = self_times(res["spans"])
    m["harness.call_self_s"] = (selfs.get("call", 0.0) / max(1, len(res["calls"])), "s")
    m["harness.accumulator_errors"] = (res["log"]["harness.accumulator_errors"], "count")
    m["harness.log_errors"] = (res["log"]["harness.log_errors"], "count")
    m["harness.failed_frac"] = (failed / attempted, "fraction")
    t = median([p["pass_s"] for p in warm if p["traced"]])
    u = median([p["pass_s"] for p in warm if not p["traced"]])
    m["trace.overhead_frac"] = (t / u - 1 if u else 0.0, "fraction")
    return m, selfs


def write_traces(res, selfs, name):
    d = OUT / "traces"
    d.mkdir(parents=True, exist_ok=True)
    with open(d / f"{name}.calls.jsonl", "w") as f:
        for c in res["calls"]:
            f.write(json.dumps(c, sort_keys=True) + "\n")
    with open(d / f"{name}.spans.jsonl", "w") as f:
        for s in res["spans"]:
            f.write(json.dumps(s, sort_keys=True) + "\n")
    (d / f"{name}.self_times.json").write_text(json.dumps(selfs, indent=1, sort_keys=True))
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec = json.loads((HERE / "spec.json").read_text())
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(spec['workloads'])}")
    w = spec["workloads"][args.workload]
    # A fixed pass count for a given --seconds keeps the warm sample count,
    # and so the tail percentile, the same on every run. The traced run
    # needs one pass each way.
    args.warm_passes = max(2 if args.trace else 1, round(args.seconds / w["warm_pass_s"]))
    expected = json.loads((HERE / "expected.json").read_text())
    ensure_build()

    work = OUT / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        res = run_harness(args, w["members"], work)
    finally:
        shutil.rmtree(work / "spark-local", ignore_errors=True)
        shutil.rmtree(work / "tmp", ignore_errors=True)

    failures = judge(res, expected)
    attempted = len(res["calls"])
    incomplete = res["stopped_early"] or not all(p["complete"] for p in res["passes"])
    if incomplete:
        failures.append("run stopped before every pass completed")
    failed = sum(1 for c in res["calls"] if not c["ok"])
    e2e, info = end_to_end(res)
    name = f"{args.workload}-seed{args.seed}"
    if args.trace:
        metrics, selfs = per_layer(res, info, attempted, failed)
        info["traces"] = str(write_traces(res, selfs, name).relative_to(ROOT))
    else:
        metrics = e2e
    shutil.rmtree(work, ignore_errors=True)

    for f in failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    summary = {k: round(v, 4) for k, (v, _) in (metrics | e2e).items()}
    summary.update(info, accumulator_errors=res["log"]["harness.accumulator_errors"],
                   log_errors=res["log"]["harness.log_errors"])
    print(f"perfbench: {name} " + json.dumps(summary), file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
