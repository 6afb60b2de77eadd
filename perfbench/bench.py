"""Shared plumbing for the benchmark: build the engine and harness from
the checkout, launch one harness JVM, and check outputs.

Everything the benchmark writes goes under `.perfbench/` in the checkout
root; the harness build lands in `perfbench/harness/target/`.
"""
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")

# Module opens Spark 4 needs on JDK 17 outside spark-submit; the same
# list the repo's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

# Every workload runs on this fixture; its tables and their row counts.
FIXTURE = "sf0.1"
FIXTURE_ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
                "part": 20000, "orders": 150000, "lineitem": 600000,
                "events": 100000, "documents": 5000, "embeddings": 2000}
TABLES = list(FIXTURE_ROWS)


class BenchError(Exception):
    pass


def stop_on_sigterm():
    """Turn SIGTERM into a BenchError, so a stopped run unwinds through
    harness() and build(), which kill their child process and wait for it."""
    def stop(signum, frame):
        raise BenchError(f"stopped by signal {signum}")
    signal.signal(signal.SIGTERM, stop)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """JVM heap as the repo's test command sizes SPARK_DRIVER_MEM: half of
    MemTotal in GiB, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def steal_share(start):
    """Share of CPU time the hypervisor gave to other guests since
    `start` (a cpu_ticks() value): host contention during a run."""
    steal, total = cpu_ticks()
    return (steal - start[0]) / max(1, total - start[1])


def spark_jars():
    """The Spark jar directory the repo's own build.sbt compiles against."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(path):
        raise BenchError("no build.sbt at the checkout root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(path).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("build.sbt names no Spark jar directory that exists")
    return m.group(1)


def fixture():
    """Directory of the fixture; the read-only tables live under
    ~/testdata unless SPARK_GRAFT_SF_DIR points at a copy."""
    base = os.environ.get("SPARK_GRAFT_SF_DIR")
    d = base if base else os.path.join(os.path.expanduser("~/testdata"), FIXTURE)
    if not all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in TABLES):
        raise BenchError(f"fixture tables missing under {d}")
    return d


def verify_fixture(d):
    """Row counts of every fixture table must match FIXTURE_ROWS."""
    import duckdb
    con = duckdb.connect()
    for t, n in FIXTURE_ROWS.items():
        got = con.execute(
            f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')").fetchone()[0]
        if got != n:
            raise BenchError(f"fixture {d}/{t}: {got} rows, expected {n}")


def _sources():
    files = [os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")):
        for dirpath, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    return files


def build():
    """Compile the engine's sources and the harness unless the classes
    already match the checkout's sources. Returns seconds spent."""
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise BenchError("no engine sources in this checkout")
    jars = spark_jars()
    h = hashlib.sha256()
    for p in _sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) \
            and open(stamp).read() == h.hexdigest():
        return 0.0
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        raise BenchError(f"build failed; see {WORK}/build.log")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return time.time() - t0


def harness(args, run_dir, timeout):
    """Run one harness JVM in a fresh run_dir; returns (record, launch
    epoch seconds)."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "record.json")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Harness",
            "--work", run_dir, "--out", out] + [str(a) for a in args]
    launched = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f"harness exited {rc}; see {run_dir}/jvm.log")
    with open(out) as f:
        return json.load(f), launched


def list_queries(run_dir):
    """Declared keys and oracle SQL, as the engine registers them."""
    return harness(["--list", os.path.join(run_dir, "record.json")], run_dir, 120)[0]


# ---- output check -------------------------------------------------------

def _norm(v, digits):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(f"%.{digits}g" % v)) if digits else repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, digits) for x in v)
    if isinstance(v, dict):
        return str({k: _norm(x, digits) for k, x in v.items()})
    return str(v)


def digest_rows(con, sql, ordered):
    """Row count and SHA-256 of a result's rows, columns sorted by name.
    Ordered digests compare exactly, as scripts/check.py does; unordered
    ones hash the sorted rows with floats rounded to 9 significant digits,
    so a float summed in another task order still matches."""
    t = con.execute(sql).fetch_arrow_table()
    cols = sorted(t.column_names)
    digits = 0 if ordered else 9
    rows = [repr(tuple(_norm(r[c], digits) for c in cols)) for r in t.to_pylist()]
    if not ordered:
        rows.sort()
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def dump_digest(con, run_dir, key, ordered):
    files = glob.glob(os.path.join(run_dir, "check", key, "*.parquet"))
    if not files:
        return None
    return digest_rows(con, f"SELECT * FROM read_parquet({files!r})", ordered)


def check_outputs(run_dir, expected):
    """Keys whose dumped output differs from the expected file."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for key, e in expected.items():
        got = dump_digest(con, run_dir, key, e["source"] == "duckdb")
        if got is None:
            bad[key] = "no output"
        elif list(got) != [e["rows"], e["digest"]]:
            bad[key] = f"rows {got[0]} digest {got[1][:12]} != rows {e['rows']} " \
                       f"digest {e['digest'][:12]}"
    return bad
