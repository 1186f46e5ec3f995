#!/usr/bin/env python3
"""graft benchmark: one closed-loop client drives the program's public entry
points on one workload, checks every result, and prints the metrics.

Usage: python3 perfbench/run.py --workload dlp_corpus|ops_iterative
           --seed N --seconds S --trace 0|1
       python3 perfbench/run.py --certify   (re-record expected/queries.json)

--trace 0 prints the end-to-end metrics; --trace 1 registers the harness's
SparkListener and prints the per-layer metrics instead. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit
code is 0 only when every check passed.
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
from collections import defaultdict

sys.dont_write_bytecode = True
import build  # noqa: E402  (the benchmark's build file, beside this one)

BENCH = build.BENCH
ROOT = build.ROOT
WORK = ROOT / ".bench_work"
EXPECTED = BENCH / "expected" / "queries.json"
JVM_OPTS = [
    "-XX:-UsePerfData", "-Xss8m", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = {"setup_s": "s", "sweep_s": "s"}
PHASES = ("construction", "planning", "execution")
COUNTERS = ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")
DLP_LAYERS = ("MetaGen", "ContentGen", "PostProcess.derive", "Validator",
              "PostProcess.export")
NAMED_QUERIES = ("q39", "q84", "q93", "q98", "q101")


def per_layer_units():
    units = {"construction.wall_s": "s", "construction.jobs": "count",
             "planning.wall_s": "s", "execution.wall_s": "s"}
    units.update({f"execution.{c}": "s" if c.endswith("_s") else
                  "bytes" if c.endswith("_bytes") else "count"
                  for c in COUNTERS})
    units["setup.memo_s"] = "s"
    for q in NAMED_QUERIES:
        units.update({f"{q}.construction.jobs": "count",
                      f"{q}.construction.wall_s": "s",
                      f"{q}.execution.wall_s": "s"})
    for layer in DLP_LAYERS:
        units.update({f"{layer}.wall_s": "s", f"{layer}.jobs": "count",
                      f"{layer}.task_cpu_s": "s"})
    units.update({"Validator.shuffle_bytes": "bytes",
                  "PostProcess.export.bytes_written": "bytes",
                  "PostProcess.export.files": "count",
                  "host.canary_s": "s"})
    return units


PER_LAYER = per_layer_units()


def run_harness(args, extra):
    """Run the JVM harness; return its records, or exit without a result."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    records, log = WORK / "records.jsonl", WORK / "harness.log"
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-cp", build.classpath(), "perfbench.Harness",
           "--work", str(WORK), "--out", str(records),
           "--data", str(BENCH / CONFIG["data"]), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), *extra]
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                cwd=WORK)
        try:
            rc = proc.wait(timeout=args.seconds + 150)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not records.is_file():
        sys.stderr.write("".join(log.read_text(errors="replace")
                                 .splitlines(True)[-40:]))
        raise SystemExit(f"harness failed ({rc}); log: {log}")
    recs = [json.loads(line) for line in records.read_text().splitlines()]
    for sub in ("tmp", "spark-local", "warehouse", "out"):
        shutil.rmtree(WORK / sub, ignore_errors=True)
    return recs


def median(xs):
    """Lower median, as graft.Bench takes it: of two reps, the faster."""
    return sorted(xs)[(len(xs) - 1) // 2] if xs else 0.0


def pct(xs, p):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def sum_of_medians(samples):
    """samples: {call: [value per warm rep]} -> sum over calls of medians."""
    return sum(median(v) for v in samples.values())


def counters_by_call(recs):
    """{(rep, call, phase): counters} from the traced run's records."""
    out = {}
    for r in recs:
        if r["type"] == "counters" and r["span"].count("|") == 2:
            rep, call, phase = r["span"].split("|")
            out[(int(rep), call, phase)] = r
    return out


def counter_series(recs, warm):
    """series(call, phase, key) -> that counter of the span, one value per
    warm rep that ran the call."""
    ctr = counters_by_call(recs)
    reps = sorted({c["rep"] for c in warm})

    def series(call, phase, key):
        return [ctr.get((rep, call, phase), {}).get(key, 0) for rep in reps
                if any(c["rep"] == rep and c["call"] == call for c in warm)]
    return series


def layer_metrics(recs, calls, warm):
    """The query layers: each phase's wall time and Spark counters, summed
    over calls of the median over warm reps."""
    series = counter_series(recs, warm)
    m = {}
    for phase in PHASES:
        m[f"{phase}.wall_s"] = sum_of_medians(
            {n: [c["phases"].get(phase, 0.0) for c in warm if c["call"] == n]
             for n in calls})
    m["construction.jobs"] = sum(median(series(n, "construction", "jobs"))
                                 for n in calls)
    for key in COUNTERS:
        m[f"execution.{key}"] = sum(median(series(n, "execution", key))
                                    for n in calls)
    return m, series


def ops_result(recs, wl, trace):
    expected = json.loads(EXPECTED.read_text())
    calls = wl["queries"]
    cold = [r for r in recs if r["type"] == "call" and r["rep"] == 0]
    warm = [r for r in recs if r["type"] == "call" and r["rep"] > 0]
    failures = []
    for c in cold + warm:
        exp = expected[c["call"]]
        if c.get("error"):
            failures.append(f"{c['call']} rep {c['rep']}: {c['error']}")
        elif c["rows"] != exp["rows"]:
            failures.append(f"{c['call']} rep {c['rep']}: {c['rows']} rows, "
                            f"expected {exp['rows']}")
        elif c["rep"] == 0 and c["hash"] != exp["hash"]:
            failures.append(f"{c['call']}: result hash {c['hash']}, "
                            f"expected {exp['hash']}")
    walls = defaultdict(list)
    for c in warm:
        walls[c["call"]].append(c["wall"])
    summary = summarize(recs, walls)
    if not trace:
        return summary, cold + warm, failures, {}
    m, series = layer_metrics(recs, calls, warm)
    m.update({k: 0 for k in PER_LAYER if k.startswith(DLP_LAYERS)})
    m["setup.memo_s"] = sum(
        max(0.0, c["phases"]["construction"] - median(
            [w["phases"]["construction"] for w in warm if w["call"] == c["call"]]))
        for c in cold if c.get("memo"))
    for q in NAMED_QUERIES:
        name = next((n for n in calls if n.split("_")[0] == q), None)
        m[f"{q}.construction.jobs"] = (
            median(series(name, "construction", "jobs")) if name else 0)
        for phase in ("construction", "execution"):
            m[f"{q}.{phase}.wall_s"] = median(
                [w["phases"][phase] for w in warm if w["call"] == name])
    return summary, cold + warm, failures, m


def dlp_result(recs, wl, trace):
    per_sit = wl["per_sit"]
    checks = [r for r in recs if r["type"] == "dlp"]
    failures = []
    for c in checks:
        why = (c.get("error")
               or (c["docs"] != c["docs_needed"] and
                   f"{c['docs']} docs, expected {c['docs_needed']}")
               or (c["sits"] != 50 and f"report covers {c['sits']} SITs")
               or (c["min_sit_docs"] < per_sit and
                   f"a SIT has {c['min_sit_docs']} docs < {per_sit}")
               or (c["warnings"] and f"{c['warnings']} WARNING lines")
               or (c["files"] != c["expected_files"] and
                   f"{c['files']} files exported, expected "
                   f"{c['expected_files']}"))
        why = why or (c["report_hash"] != checks[0].get("report_hash") and
                      "report hash differs from the cold rep's")
        if why:
            failures.append(f"rep {c['rep']}: {why}")
    warm_calls = [r for r in recs if r["type"] == "call" and r["rep"] > 0]
    walls = defaultdict(list)
    for c in warm_calls:
        walls[c["call"]].append(c["wall"])
    docs = checks[0].get("docs", 0) if checks else 0
    summary = summarize(recs, walls)
    summary["docs_per_s"] = docs / summary["sweep_s"] if docs else 0.0
    cold = next((c for c in checks if c["rep"] == 0), {})
    print(f"dlp_corpus: seed {wl['seed']} docs {docs} "
          f"corpus_hash {cold.get('corpus_hash')} "
          f"report_hash {cold.get('report_hash')}")
    if not trace:
        return summary, checks, failures, {}
    # Each pipeline stage is one span, phase "call"; the query layers read 0.
    series = counter_series(recs, warm_calls)
    m = {k: 0 for k in PER_LAYER if not k.startswith(DLP_LAYERS)}
    warm_checks = [c for c in checks if c["rep"] > 0]
    for layer in DLP_LAYERS:
        m[f"{layer}.wall_s"] = median(walls[layer])
        for key in ("jobs", "task_cpu_s"):
            m[f"{layer}.{key}"] = median(series(layer, "call", key))
    m["Validator.shuffle_bytes"] = median(
        series("Validator", "call", "shuffle_write_bytes"))
    m["PostProcess.export.bytes_written"] = median(
        [c["bytes_written"] for c in warm_checks])
    m["PostProcess.export.files"] = median([c["files"] for c in warm_checks])
    return summary, checks, failures, m


def summarize(recs, walls):
    """End-to-end figures from the warm call times {call: [wall per rep]}.
    sweep_s sums each call's median. The call-latency percentiles are
    printed, not gated: a run holds too few calls for a steady p90."""
    samples = [w for ws in walls.values() for w in ws]
    return {"setup_s": next(r["setup_s"] for r in recs if r["type"] == "setup"),
            "sweep_s": sum_of_medians(walls),
            "call_s_p50": pct(samples, 50), "call_s_p90": pct(samples, 90),
            "calls": len(samples)}


def certify(args):
    """Run every oracle query once, cold, and record its row count and
    result hash. Certify the results themselves with graft.Verify and
    dev/check_oracle.py over the same tables (see perfbench/README.md)."""
    recs = run_harness(args, ["--workload", "certify"])
    bad = [r for r in recs if r["type"] == "call" and r.get("error")]
    if bad:
        raise SystemExit(f"certify: {len(bad)} queries failed: {bad[:3]}")
    exp = {r["call"]: {"rows": r["rows"], "hash": r["hash"]}
           for r in recs if r["type"] == "call"}
    EXPECTED.write_text(json.dumps(exp, indent=1, sort_keys=True) + "\n")
    print(f"certify: wrote {len(exp)} queries to {EXPECTED}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--certify", action="store_true")
    args = ap.parse_args()
    build.build()
    if args.certify:
        return certify(args)
    if args.workload not in CONFIG["workloads"]:
        raise SystemExit(f"unknown workload {args.workload!r}")
    wl = dict(CONFIG["workloads"][args.workload], seed=args.seed)
    if args.workload == "dlp_corpus":
        recs = run_harness(args, ["--workload", "dlp_corpus",
                                  "--per-sit", str(wl["per_sit"])])
        summary, ops, failures, layers = dlp_result(recs, wl, args.trace)
    else:
        recs = run_harness(args, ["--workload", args.workload,
                                  "--queries", ",".join(wl["queries"])])
        summary, ops, failures, layers = ops_result(recs, wl, args.trace)
    canary = next(r["s"] for r in recs if r["type"] == "canary")
    layers["host.canary_s"] = canary
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    ratio = len(failures) / max(1, len(ops))
    dlp = args.workload == "dlp_corpus"
    call = "stage" if dlp else "query"
    docs = f"docs_per_s {summary['docs_per_s']:.4g} 1/s, " if dlp else ""
    print(f"{args.workload} (nproc {recs[0]['cpus']}, seed {args.seed}, "
          f"trace {args.trace}): setup_s {summary['setup_s']:.4g} s, "
          f"sweep_s {summary['sweep_s']:.4g} s, {docs}"
          f"{call}_s_p50 {summary['call_s_p50']:.4g} s, "
          f"{call}_s_p90 {summary['call_s_p90']:.4g} s "
          f"(n={summary['calls']}), failed_ratio {ratio:.4g} "
          f"({len(failures)}/{len(ops)}), host canary {canary:.4g} s")
    chosen = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else summary
    result = {"correct": not failures, "attempted": len(ops),
              "failed": len(failures),
              "metrics": {k: {"value": values[k], "unit": u}
                          for k, u in chosen.items()}}
    print(json.dumps(result))
    return 0 if not failures else 1


CONFIG = json.loads((BENCH / "workloads.json").read_text())

if __name__ == "__main__":
    sys.exit(main())
