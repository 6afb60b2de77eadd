#!/usr/bin/env python3
"""Maintenance commands that produce the benchmark's committed inputs and
reports. None of them runs during a measured benchmark run.

    python3 perfbench/tools.py classify     # traced pass over all keys -> results/pools.json
    python3 perfbench/tools.py workloads    # pools.json -> workloads.json key lists
    python3 perfbench/tools.py expect       # expected/<workload>.json
    python3 perfbench/tools.py ledger W     # traced ledger of workload W -> results/ledger_W.json
    python3 perfbench/tools.py order        # state-versus-plan report -> results/state_vs_plan.json
    python3 perfbench/tools.py spread W..   # ten seeds per workload -> results/spread.json

Run from the checkout root. classify and order take several minutes each.
"""
import hashlib
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench  # noqa: E402
import run as runner  # noqa: E402

RESULTS = os.path.join(bench.HERE, "results")
# A workload runs the first SIZE keys of its pool in ascending sha256(key)
# order whose cold execution in the classification took at most
# COLD_CAP_S, so a run's cold set-up fits the time budget.
SIZE = 8
COLD_CAP_S = 1.5
# Keys whose r19 in-suite time moved 2-7x with their code untouched.
MOVERS = ["kcenter_farthest_seeds", "cooks_distance_topk", "bcubed_cluster_eval"]
# DuckDB must finish a key's oracle SQL at the fixture within this many
# seconds for its result to be the expected output.
ORACLE_BUDGET_S = 2.0


def dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def load(path):
    with open(path) as f:
        return json.load(f)


def counters(rec, e):
    return rec.get("ledger", {}).get(str(e["qid"]), {})


# ---- classify: which pool each key belongs to ---------------------------

def pool_of(row):
    if row["writes"] or row["streams"]:
        return "etl_load"
    return "corpus_ops" if row["construct_jobs"] >= 1 else "star_sql"


def classify():
    """One traced JVM over every declared key, noop sink, two passes: the
    first execution of each key (cold) and a second (warm). A key writes
    or streams if either execution did; construct_jobs is the larger of
    the two; warm_s, jobs and input_rows come from the warm execution."""
    d = os.path.join(bench.WORK, "classify")
    bench.build()
    keys = bench.list_queries(d)["keys"]
    rec, _ = bench.harness(["--sf", bench.fixture(), "--keys", ",".join(keys),
                            "--cpus", bench.cpus(), "--seed", 1, "--passes", 2,
                            "--untimed", 0, "--trace", 1], d, 7200)
    write_pools(rec, keys)


def write_pools(rec, keys):
    rows = {}
    for e in rec["execs"]:
        c = counters(rec, e)
        r = rows.setdefault(e["key"], {"writes": False, "streams": False,
                                       "construct_jobs": 0})
        r["writes"] |= c.get("sink.output_rows", 0) > 0 or c.get("sink.output_mb", 0) > 0
        r["streams"] |= c.get("streaming.batches", 0) > 0
        r["construct_jobs"] = max(r["construct_jobs"],
                                  int(c.get("operators.construct_jobs", 0)))
        if e["err"]:
            r["error"] = e["err"]
        if e["pass"] == 0:
            r["cold_s"] = round(runner.exec_s(e), 3)
        if e["pass"] == 1:
            r["jobs"] = int(c.get("scheduler.jobs", 0))
            r["input_rows"] = int(c.get("sources.input_rows", 0))
            r["warm_s"] = round(runner.exec_s(e), 3)
    for r in rows.values():
        r["pool"] = pool_of(r)
    assert sorted(rows) == sorted(keys), "classification missed keys"
    counts = {}
    for r in rows.values():
        counts[r["pool"]] = counts.get(r["pool"], 0) + 1
    dump(os.path.join(RESULTS, "pools.json"), {
        "fixture": bench.FIXTURE, "nproc": rec["cpus"], "pool_sizes": counts,
        "rule": "etl_load: wrote files or ran a streaming batch in either execution; "
                "corpus_ops: otherwise, >= 1 Spark job started during either "
                "construction; star_sql: the rest",
        "keys": rows})


# ---- workloads: the committed key lists ---------------------------------

def hash_order(keys):
    return sorted(keys, key=lambda k: hashlib.sha256(k.encode()).hexdigest())


def workloads():
    """Each workload's keys are select() of the pool of the same name. The
    rule picks by hash position and cold cost only."""
    spec = bench.load_workloads()
    pools = load(os.path.join(RESULTS, "pools.json"))["keys"]
    for name, w in spec["workloads"].items():
        w["keys"] = select(hash_order(k for k, r in pools.items() if r["pool"] == name),
                           pools)
    dump(os.path.join(bench.HERE, "workloads.json"), spec)


def select(pool, pools):
    return [k for k in pool if pools[k]["cold_s"] <= COLD_CAP_S][:SIZE]


# ---- expected outputs ----------------------------------------------------

def expect():
    """For each workload key: the DuckDB oracle result when DuckDB finishes
    it within ORACLE_BUDGET_S at the fixture, else the row count and
    order-insensitive hash of the result a fresh workload session dumps."""
    import duckdb
    spec = bench.load_workloads()
    oracle = bench.list_queries(os.path.join(bench.WORK, "list"))["oracle_sql"]
    sf = bench.fixture()
    con = duckdb.connect()
    for t in bench.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    for name, w in spec["workloads"].items():
        d = os.path.join(bench.WORK, "expect", name)
        bench.harness(["--sf", sf, "--keys", ",".join(w["keys"]), "--cpus", bench.cpus(),
                       "--sink", w["sink"]], d, 1800)
        out = {}
        for k in w["keys"]:
            e = None
            if k in oracle:
                t0 = time.time()
                try:
                    rows, dig = bench.digest_rows(con, oracle[k], ordered=True)
                    secs = time.time() - t0
                    if secs <= ORACLE_BUDGET_S:
                        e = {"source": "duckdb", "rows": rows, "digest": dig,
                             "oracle_s": round(secs, 3)}
                except duckdb.Error as err:
                    print(f"{k}: oracle failed: {err}", file=sys.stderr)
            if e is None:
                rows, dig = bench.dump_digest(con, d, k, ordered=False)
                e = {"source": "recorded", "rows": rows, "digest": dig}
            out[k] = e
        os.makedirs(os.path.join(bench.HERE, "expected"), exist_ok=True)
        dump(os.path.join(bench.HERE, "expected", f"{name}.json"), out)
        bad = bench.check_outputs(d, out)
        print(f"{name}: {sum(v['source'] == 'duckdb' for v in out.values())} duckdb, "
              f"{sum(v['source'] == 'recorded' for v in out.values())} recorded; "
              f"failing: {bad}")


# ---- spans and the layer ledger -----------------------------------------

def self_times(sp):
    """Seconds of each span kind not covered by its children."""
    kids = {}
    for s in sp:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in sp:
        iv = sorted((max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                    for c in kids.get(s["id"], []))
        covered, end = 0.0, s["start_ms"]
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["kind"]] = out.get(s["kind"], 0.0) + \
            max(0.0, s["end_ms"] - s["start_ms"] - covered) / 1e3
    return out


def per_key(rec):
    """Per-key counters over the timed executions: lists of per-execution
    values for the load-independent counts, sums for the rest."""
    rows = {}
    for e in rec["execs"]:
        if e["pass"] < 0:
            continue
        c = counters(rec, e)
        r = rows.setdefault(e["key"], {"n": 0, "wall_s": 0.0, "construct_s": 0.0,
                                       "consume_s": 0.0, "release_s": 0.0,
                                       "jobs": [], "stages": [], "construct_jobs": [],
                                       "input_mb": 0.0, "shuffle_mb": 0.0,
                                       "pinned_mb": 0.0, "held_mb_at_entry": []})
        r["n"] += 1
        r["wall_s"] += runner.exec_s(e)
        for ph in ("construct_s", "consume_s", "release_s"):
            r[ph] += e[ph]
        r["jobs"].append(int(c.get("scheduler.jobs", 0)))
        r["stages"].append(int(c.get("scheduler.stages", 0)))
        r["construct_jobs"].append(int(c.get("operators.construct_jobs", 0)))
        r["input_mb"] += c.get("sources.input_mb", 0.0)
        r["shuffle_mb"] += c.get("shuffle.read_mb", 0.0) + c.get("shuffle.write_mb", 0.0)
        r["pinned_mb"] = max(r["pinned_mb"], c.get("functions.pinned_mb", 0.0))
        r["held_mb_at_entry"].append(round(e["held_mb_at_entry"], 3))
    for r in rows.values():
        for k in ("wall_s", "construct_s", "consume_s", "release_s", "input_mb",
                  "shuffle_mb", "pinned_mb"):
            r[k] = round(r[k], 4)
    return rows


def run_seconds():
    return load(os.path.join(bench.ROOT, "BENCHMARK.json"))["run_seconds"]


def ledger(name, seed=11):
    """An untraced run and two traced runs of one workload, same seed.
    Writes the per-layer totals, the per-key ledger, self times, the
    tracing overhead and the self-checks to results/ledger_<name>.json,
    and the second traced run's spans to results/spans_<name>.json."""
    seconds = run_seconds()
    _, plain_rec, plain_full = runner.run(name, seed, seconds, 0)
    traced = []
    for _ in range(2):
        res, record, rec = runner.run(name, seed, seconds, 1)
        traced.append((res, record, rec))
    (res, record, rec), (_, _, rec2) = traced[0], traced[1]
    timed = runner.timed_execs(rec)
    sp = runner.spans(rec)
    q_traced = statistics.median(runner.pass_rates(timed, timed))
    q_plain = plain_rec["end_to_end"]["queries_per_s"]
    nest = runner.nesting_errors(sp) + runner.nesting_errors(runner.spans(rec2))
    tot = {k: v["value"] for k, v in res["metrics"].items()}
    wall = sum(runner.exec_s(e) for e in timed)
    out = {
        "workload": name, "seed": seed, "seconds": seconds,
        "nproc": record["nproc"], "loadavg_start": record["loadavg_start"],
        "loadavg_end": record["loadavg_end"],
        "executions": len(timed), "passes": rec["passes"],
        "per_layer": tot,
        "layer_split": {
            "query_wall_s": wall,
            "construct_s": sum(e["construct_s"] for e in timed),
            "consume_s": sum(e["consume_s"] for e in timed),
            "release_s": sum(e["release_s"] for e in timed),
            "jobs": tot["scheduler.jobs"], "construct_jobs": tot["operators.construct_jobs"],
            "input_mb": tot["sources.input_mb"],
            "shuffle_mb": tot["shuffle.read_mb"] + tot["shuffle.write_mb"],
            "pinned_mb_peak": tot["functions.pinned_mb"]},
        "self_s": self_times(sp),
        "tracing_overhead": {
            "queries_per_s_untraced": q_plain, "queries_per_s_traced": q_traced,
            "difference": q_plain - q_traced,
            "share": (q_plain - q_traced) / q_plain},
        "checks": {"nesting_errors": nest[:20], "n_nesting_errors": len(nest),
                   "coverage_min_traced": min(runner.coverage(rec) + runner.coverage(rec2)),
                   "coverage_min_untraced": min(runner.coverage(plain_full)),
                   "count_mismatches": runner.count_mismatches(rec, rec2)},
        "per_key": per_key(rec),
    }
    dump(os.path.join(RESULTS, f"ledger_{name}.json"), out)
    with open(os.path.join(RESULTS, f"spans_{name}.json"), "w") as f:
        json.dump({k: rec2[k] for k in ("execs", "spans", "ledger", "timed_end_ms")}, f,
                  separators=(",", ":"))
        f.write("\n")
    print(json.dumps(out["checks"])[:2000])


# ---- state versus plan ----------------------------------------------------

def order():
    """One traced pass of the pool holding MOVERS, in seed order and in
    reversed order, each in a fresh JVM. If a mover's cost follows its
    position (accrued session state), its latency moves with held storage
    while its jobs and bytes stay; if it follows the plan, neither moves."""
    pools = load(os.path.join(RESULTS, "pools.json"))["keys"]
    pool_names = {pools[m]["pool"] for m in MOVERS}
    sf = bench.fixture()
    report = {"seed": 7, "fixture": bench.FIXTURE, "movers": {}}
    for pool in sorted(pool_names):
        keys = hash_order(k for k, r in pools.items() if r["pool"] == pool)
        for direction in ("seed", "reverse"):
            d = os.path.join(bench.WORK, "order", pool, direction)
            rec, _ = bench.harness(["--sf", sf, "--keys", ",".join(keys),
                                    "--cpus", bench.cpus(), "--seed", report["seed"],
                                    "--passes", 1, "--order", direction,
                                    "--untimed", 0, "--trace", 1], d, 3600)
            timed = runner.timed_execs(rec)
            for pos, e in enumerate(timed):
                if e["key"] not in MOVERS:
                    continue
                c = counters(rec, e)
                report["movers"].setdefault(e["key"], {"pool": pool})[direction] = {
                    "position": pos, "of": len(timed),
                    "latency_s": round(runner.exec_s(e), 4),
                    "construct_s": round(e["construct_s"], 4),
                    "jobs": int(c.get("scheduler.jobs", 0)),
                    "stages": int(c.get("scheduler.stages", 0)),
                    "input_mb": round(c.get("sources.input_mb", 0), 3),
                    "shuffle_mb": round(c.get("shuffle.read_mb", 0)
                                        + c.get("shuffle.write_mb", 0), 3),
                    "leaked_mb_at_entry": round(e["held_mb_at_entry"], 3)}
            report.setdefault("passes", {})[f"{pool}/{direction}"] = {
                "executions": len(timed),
                "wall_s": round(sum(runner.exec_s(e) for e in timed), 3),
                "held_mb_at_end": round(rec["leaked_mb"], 3)}
    dump(os.path.join(RESULTS, "state_vs_plan.json"), report)


# ---- spread: the acceptance measurement -----------------------------------

def spread(names, seeds=range(101, 111)):
    """Ten runs per workload on ten seeds: median and quartile spread of
    each end-to-end metric, as the acceptance rule computes them."""
    path = os.path.join(RESULTS, "spread.json")
    out = load(path) if os.path.exists(path) else {}
    for name in names:
        vals, loads, steal, run_s = {}, [], [], []
        for s in seeds:
            res, record, _ = runner.run(name, s, run_seconds(), 0)
            loads.append(record["loadavg_start"][0])
            steal.append(round(record["steal_share"], 4))
            run_s.append(round(record["run_s"], 1))
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
        row = {}
        for k, v in vals.items():
            q = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            row[k] = {"median": med, "q1": q[0], "q3": q[2],
                      "spread": (q[2] - q[0]) / med if med else 0.0, "values": v}
        out[name] = {"seeds": list(seeds), "loadavg_start": loads, "steal_share": steal,
                     "run_s": run_s, "metrics": row}
        dump(path, out)
        print(name, {k: round(r["spread"], 4) for k, r in row.items()})


if __name__ == "__main__":
    bench.stop_on_sigterm()
    cmd, rest = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else ("", [])
    os.makedirs(RESULTS, exist_ok=True)
    if cmd == "classify":
        classify()
    elif cmd == "workloads":
        workloads()
    elif cmd == "expect":
        expect()
    elif cmd == "ledger":
        for n in rest:
            ledger(n)
    elif cmd == "order":
        order()
    elif cmd == "spread":
        spread(rest)
    else:
        sys.exit(__doc__)
