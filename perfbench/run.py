#!/usr/bin/env python3
"""The repo benchmark: live-session query latency and throughput of the
engine's declared queries, per workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the checkout root. It builds the engine and the harness from the
checkout's sources (skipped when unchanged) and verifies the fixture's
row counts. Then one fresh JVM sets the session up (setup_s: JVM launch,
SparkSession ready, fixture page cache warm, one untimed pass over the
workload's keys that dumps every result, then WARM_PASSES untimed
passes through the workload's sink, because a fresh JVM's later
executions of a key keep getting faster) and runs the timed closed loop:
one client, max(1, round(S / pass_s)) whole passes over the keys, each in
an order drawn from the seed. pass_s is the workload's warm pass time
when the benchmark was defined (workloads.json), so the loop lasts about
S seconds there, and two commits compared at the same S do identical
work. The dumped results are then checked against
perfbench/expected/<workload>.json.

With --trace 1 the run also checks its own layer accounting (see
self_check) and exits 2 without a result if the check fails; it reports
job, stage and construct-job counts that differ across passes.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with --trace 0, the
per-layer ledger with --trace 1). A run record with the seed, nproc,
loadavg at start and end, the share of CPU time stolen by the host
during the run, and the percentile query_tail_s stands for goes
to .perfbench/runs/<workload>/.
"""
import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402

# A run must end within this many seconds of its start, build excluded.
RUN_BUDGET_S = 170
# Untimed passes through the sink after the dump pass, before timing.
WARM_PASSES = 1

END_TO_END_UNITS = {"setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s",
                    "query_tail_s": "s", "ok_frac": "ratio"}

# Per-layer metric -> (unit, how executions combine). Counter names are
# the harness Ledger's; "sum" adds over the timed executions, "max" takes
# the largest.
LEDGER = {
    "operators.construct_jobs": ("count", "sum"),
    "catalyst.analysis_s": ("s", "sum"), "catalyst.optimize_s": ("s", "sum"),
    "catalyst.plan_s": ("s", "sum"), "catalyst.executions": ("count", "sum"),
    "scheduler.jobs": ("count", "sum"), "scheduler.stages": ("count", "sum"),
    "scheduler.tasks": ("count", "sum"), "scheduler.delay_s": ("s", "sum"),
    "executor.task_s": ("s", "sum"), "executor.cpu_s": ("s", "sum"),
    "executor.gc_s": ("s", "sum"), "executor.spill_mb": ("MB", "sum"),
    "executor.peak_exec_mb": ("MB", "max"),
    "sources.input_mb": ("MB", "sum"), "sources.input_rows": ("rows", "sum"),
    "shuffle.write_mb": ("MB", "sum"), "shuffle.read_mb": ("MB", "sum"),
    "shuffle.fetch_wait_s": ("s", "sum"),
    "functions.pins": ("count", "sum"), "functions.pinned_mb": ("MB", "max"),
    "functions.result_mb": ("MB", "sum"),
    "sink.output_mb": ("MB", "sum"), "sink.output_rows": ("rows", "sum"),
    "streaming.batches": ("count", "sum"), "streaming.batch_s": ("s", "sum"),
    "streaming.state_rows": ("rows", "sum"),
}
DERIVED_UNITS = {"operators.construct_s": "s", "operators.construct_share": "ratio",
                 "scheduler.slot_util": "ratio", "functions.release_s": "s",
                 "functions.leaked_mb": "MB", "jvm.gc_s": "s",
                 "jvm.heap_peak_mb": "MB", "jvm.rss_peak_mb": "MB",
                 "jvm.classes": "count"}


# Span-nesting tolerance: listener timestamps are whole milliseconds.
NEST_TOL_MS = 2.0
# Counts expected not to depend on load: per key, one value in every
# timed execution.
REPEATED_COUNTS = ("scheduler.jobs", "scheduler.stages", "operators.construct_jobs")


def exec_s(e):
    return e["construct_s"] + e["consume_s"] + e["release_s"]


def timed_execs(rec):
    return [e for e in rec["execs"] if e["pass"] >= 0]


def tail(values):
    """The highest percentile with at least ten samples beyond it, but never
    below p95: under 200 samples it is the nearest-rank p95, with fewer
    than ten beyond. A workload has 8 keys, so its slowest key makes up the
    top 12.5% of the executions; p95 falls inside that key's executions,
    not on their fastest one. Returns (value, percentile, n)."""
    v = sorted(values)
    i = max(len(v) - 11, math.ceil(0.95 * len(v)) - 1)
    return v[i], 100.0 * (i + 1) / len(v), len(v)


def pass_rates(timed, ok):
    """Correct executions per second of wall, for each timed pass."""
    rates = []
    for p in sorted({e["pass"] for e in timed}):
        ex = [e for e in timed if e["pass"] == p]
        wall = (ex[-1]["end_ms"] - ex[0]["start_ms"]) / 1e3
        rates.append(sum(1 for e in ex if e in ok) / wall)
    return rates


def per_layer(rec, timed):
    """Per-layer metrics over the timed executions of a traced record."""
    led = rec["ledger"]
    out = {}
    for name, (unit, how) in LEDGER.items():
        vals = [led.get(str(e["qid"]), {}).get(name, 0.0) for e in timed]
        out[name] = (max(vals) if how == "max" else sum(vals), unit)
    wall = (rec["timed_end_ms"] - rec["timed_start_ms"]) / 1e3
    construct = sum(e["construct_s"] for e in timed)
    out["operators.construct_s"] = (construct, "s")
    out["operators.construct_share"] = (construct / sum(exec_s(e) for e in timed), "ratio")
    out["scheduler.slot_util"] = (out["executor.task_s"][0] / (wall * rec["cpus"]), "ratio")
    out["functions.release_s"] = (sum(e["release_s"] for e in timed), "s")
    out["functions.leaked_mb"] = (rec["leaked_mb"], "MB")
    for k in ("gc_s", "heap_peak_mb", "classes"):
        out[f"jvm.{k}"] = (rec["jvm"][k], DERIVED_UNITS[f"jvm.{k}"])
    out["jvm.rss_peak_mb"] = (rec["jvm"]["vmhwm_mb"], "MB")
    return out


def spans(rec):
    """Harness spans (query -> construct/consume/release) plus the
    listener's sql/job/stage spans, for the timed executions."""
    timed = timed_execs(rec)
    keep = {e["qid"] for e in timed}
    out = []
    for e in timed:
        q, t = f"q{e['qid']}", e["start_ms"]
        out.append({"id": q, "parent": None, "kind": "query", "qid": e["qid"],
                    "start_ms": t, "end_ms": t + exec_s(e) * 1e3})
        for ph in ("construct", "consume", "release"):
            d = e[f"{ph}_s"] * 1e3
            out.append({"id": f"{q}.{ph}", "parent": q, "kind": ph, "qid": e["qid"],
                        "start_ms": t, "end_ms": t + d})
            t += d
    out += [s for s in rec.get("spans", []) if s["qid"] in keep]
    return out


def nesting_errors(sp):
    by_id = {s["id"]: s for s in sp}
    errs = []
    for s in sp:
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            errs.append(f"{s['id']}: parent {s['parent']} missing")
        elif s["qid"] != p["qid"] or s["start_ms"] < p["start_ms"] - NEST_TOL_MS \
                or s["end_ms"] > p["end_ms"] + NEST_TOL_MS:
            errs.append(f"{s['id']} [{s['start_ms']:.1f},{s['end_ms']:.1f}] outside "
                        f"{p['id']} [{p['start_ms']:.1f},{p['end_ms']:.1f}]")
    return errs


def coverage(rec):
    """Per timed query: construct + consume + release over its wall, taken
    from its start to the next timed query's start (the loop's end for the
    last one), so harness bookkeeping and bus draining count against it."""
    timed = timed_execs(rec)
    nxt = [e["start_ms"] for e in timed[1:]] + [rec["timed_end_ms"]]
    return [exec_s(e) * 1e3 / (n - e["start_ms"]) for e, n in zip(timed, nxt)]


def count_mismatches(*recs):
    """Key and count pairs of REPEATED_COUNTS that take more than one value
    over the timed executions of the given traced records."""
    vals = {}
    for rec in recs:
        for e in timed_execs(rec):
            c = rec["ledger"].get(str(e["qid"]), {})
            for n in REPEATED_COUNTS:
                vals.setdefault(f"{e['key']} {n}", set()).add(int(c.get(n, 0)))
    return {k: sorted(v) for k, v in sorted(vals.items()) if len(v) > 1}


def self_check(rec):
    """Layer-accounting checks on a traced record: spans nest, and the three
    phases cover at least 90% of each timed query's wall. Returns the
    failures. Counts that differ across passes (count_mismatches) are the
    program's behaviour, not an accounting fault, so a run reports them
    and does not fail on them."""
    errs = nesting_errors(spans(rec))
    errs += [f"{e['key']} (qid {e['qid']}): phases cover {c:.3f} of its wall"
             for e, c in zip(timed_execs(rec), coverage(rec)) if c < 0.9]
    return errs


def run(workload, seed, seconds, trace):
    """One benchmark run; returns (result line, run record, harness record)."""
    started = time.time()
    spec = bench.load_workloads()
    if workload not in spec["workloads"]:
        raise bench.BenchError(f"unknown workload {workload}")
    w = spec["workloads"][workload]
    build_s = bench.build()
    deadline = time.time() + RUN_BUDGET_S
    sf = bench.fixture()
    bench.verify_fixture(sf)
    with open(os.path.join(bench.HERE, "expected", f"{workload}.json")) as f:
        expected = json.load(f)
    run_dir = os.path.join(bench.WORK, "runs", workload)
    load_start = bench.loadavg()
    ticks_start = bench.cpu_ticks()
    args = ["--sf", sf, "--keys", ",".join(w["keys"]), "--cpus", bench.cpus(),
            "--sink", w["sink"], "--seed", seed, "--warm", WARM_PASSES]
    passes = max(1, round(seconds / w["pass_s"]))
    rec, launched = bench.harness(args + ["--passes", passes, "--trace", trace],
                                  os.path.join(run_dir, "main"),
                                  max(1.0, deadline - time.time()))
    setup_s = rec["setup_done_ms"] / 1e3 - launched
    main_dir = os.path.join(run_dir, "main")
    bad = bench.check_outputs(main_dir, {k: expected[k] for k in w["keys"]})
    for k, why in sorted(bad.items()):
        print(f"perfbench: output check failed for {k}: {why}", file=sys.stderr)

    execs = rec["execs"]
    timed = timed_execs(rec)
    errored = {e["key"] for e in execs if e["err"]}
    failed = sum(1 for e in execs if e["err"]) + sum(
        1 for e in execs if e["pass"] == -1 and not e["err"] and e["key"] in bad)
    ok = [e for e in timed if e["key"] not in bad and e["key"] not in errored]
    wall = (rec["timed_end_ms"] - rec["timed_start_ms"]) / 1e3
    lat = [exec_s(e) for e in ok] or [float("nan")]
    tail_v, tail_pct, n = tail(lat)
    e2e = {"setup_s": setup_s,
           "queries_per_s": statistics.median(pass_rates(timed, ok)),
           "query_p50_s": statistics.median(lat),
           "query_tail_s": tail_v,
           "ok_frac": 1.0 - failed / len(execs)}
    if trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer(rec, timed).items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    checks = self_check(rec) if trace else []
    mismatches = count_mismatches(rec) if trace else {}
    for k, v in mismatches.items():
        print(f"perfbench: {k} differs across passes: {v}", file=sys.stderr)
    result = {"correct": failed == 0, "attempted": len(execs), "failed": failed,
              "metrics": metrics}
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "nproc": bench.cpus(), "heap": bench.heap(), "fixture": sf,
              "loadavg_start": load_start, "loadavg_end": bench.loadavg(),
              "steal_share": bench.steal_share(ticks_start),
              "build_s": build_s, "run_s": time.time() - started,
              "passes": rec["passes"], "timed_wall_s": wall,
              "tail_percentile": tail_pct, "tail_n": n, "end_to_end": e2e,
              "output_check_failed": bad, "self_check_failed": checks,
              "count_mismatches": mismatches,
              "result": result}
    os.makedirs(run_dir, exist_ok=True)
    with open(os.path.join(run_dir, f"record-seed{seed}-trace{int(trace)}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if checks:
        raise bench.BenchError("layer accounting self-check failed:\n  " +
                               "\n  ".join(checks[:20]))
    return result, record, rec


def main():
    bench.stop_on_sigterm()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        result, record, _ = run(a.workload, a.seed, a.seconds, a.trace)
    except (bench.BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps({k: record[k] for k in (
        "workload", "seed", "nproc", "loadavg_start", "loadavg_end", "steal_share",
        "passes", "tail_percentile", "tail_n")}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
