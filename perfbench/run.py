#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
harness with sbt (``perfbench/build.sbt``); later runs reuse the build while
the sources are unchanged. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line before it
(prefixed ``# host``) records the host, the contention evidence and the
workload's extra figures. See ``perfbench/NOTES.md`` for what each workload
and metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest", "batch_mix")
PAGE_SIZE = 500           # rows per shard page in both ingest phases
BACKFILL_LARGEST = 40     # pages in the largest backfill shard
WARM_MOD = 4              # backfill warm-up drains every 8th row of the backlog
MIN_CYCLES = 40           # timed backfill cycles
LIVE_LOW = 100            # rows/s in the live `low` step
LIVE_HIGH = 2000          # rows/s in the live `high` step
SETUP_REPS = 3            # stagings of the live source per run (median reported)
HEAP = "4g"
GEN_LATE_MS = 50.0        # generator lateness p99 above which a run is flagged
STEAL_PCT = 5.0           # hypervisor steal above which a run is flagged
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 120
BATCH_SCALE = 0.01        # batch tables: 60 k lineitems, 500 documents
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

_child = None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _kill_child(*_):
    if _child is not None and _child.poll() is None:
        os.killpg(_child.pid, signal.SIGKILL)
        _child.wait()
    sys.exit(3)


def run_child(cmd, cwd, timeout, log_path):
    """Run ``cmd`` in its own process group with output to ``log_path``;
    the whole group is killed on timeout or when this script is stopped."""
    global _child
    with open(log_path, "wb") as log:
        _child = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                                  start_new_session=True)
        try:
            code = _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(_child.pid, signal.SIGKILL)
            _child.wait()
            code = None
    _child = None
    return code


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None where unavailable."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except OSError:
        return None


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


# --- build ----------------------------------------------------------------------

def _sources(root):
    roots = [os.path.join(root, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in roots:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(root, out_dir):
    """The runtime classpath of program + harness, rebuilt with sbt when any
    source or build file changed since the last build."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        die("the program's sources (build.sbt, src/main/scala) are not in the current directory")
    h = hashlib.sha256()
    for f in _sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == stamp:
            return lines[1]
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    log = os.path.join(out_dir, "build.log")
    code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                     BENCH, BUILD_TIMEOUT_S, log)
    cp = None
    with open(log, errors="replace") as f:
        for line in f:
            line = line.strip()
            if line and not line.startswith("[") and ".jar" in line:
                cp = line
    if code != 0 or cp is None:
        die(f"build failed (see {log}):\n{tail(log)}")
    with open(cp_file, "w") as f:
        f.write(f"{stamp}\n{cp}\n")
    return cp


# --- oracle -----------------------------------------------------------------------

def _canon(table):
    cols = sorted(table.column_names)
    rows = [tuple(r[c] for c in cols) for r in table.to_pylist()]
    rows.sort(key=lambda t: tuple((x is None, repr(x)) for x in t))
    types = [str(table.schema.field(c).type) for c in cols]
    return cols, types, rows


def _file_digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def oracle_check(work, cache_dir):
    """Replay each batch row's DuckDB oracle SQL over the input tables and
    compare it with the row's Spark result on the same tables: same
    columns, same types, same rows (order-insensitive, exact values).
    DuckDB's answers depend only on the SQL text and the table bytes, so
    they are cached under that digest. Returns the rows that differ."""
    import threading

    import duckdb
    import pyarrow.parquet as pq
    with open(os.path.join(work, "oracle.json")) as f:
        sqls = json.load(f)
    inputs = os.path.join(work, "inputs")
    tables = "".join(_file_digest(os.path.join(inputs, f"{t}.parquet")) for t in gen.BATCH_TABLES)
    os.makedirs(cache_dir, exist_ok=True)
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET memory_limit='4GB'")
    con.execute("SET max_temp_directory_size='4GiB'")
    for t in gen.BATCH_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(inputs, t)}.parquet'")
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    bad = []
    try:
        for name in metrics.BATCH_ROWS:
            out = os.path.join(work, "out", name)
            try:
                if not sqls.get(name) or not os.path.isdir(out):
                    raise ValueError("no oracle SQL or no Spark result")
                key = hashlib.sha256((sqls[name] + tables).encode()).hexdigest()
                cached = os.path.join(cache_dir, f"{key}.parquet")
                if not os.path.exists(cached):
                    pq.write_table(con.sql(sqls[name]).arrow(), cached + ".tmp")
                    os.replace(cached + ".tmp", cached)
                if _canon(pq.read_table(out)) != _canon(pq.read_table(cached)):
                    raise ValueError("result differs from the oracle")
            except Exception as e:  # noqa: BLE001 - every failure is a mismatch
                print(f"perfbench: {name}: {e}", file=sys.stderr)
                bad.append(name)
    finally:
        timer.cancel()
        con.close()
    return bad


# --- run ----------------------------------------------------------------------------

def prepare(workload, seed, seconds, trace, slots, work):
    params = {"workload": workload, "seed": seed, "seconds": seconds, "trace": bool(trace),
              "slots": slots}
    t = time.perf_counter()
    rows = {}
    if workload == "ingest":
        rows = {"backfill": gen.backfill_rows(seed, PAGE_SIZE, BACKFILL_LARGEST),
                "live": gen.live_rows(seed, PAGE_SIZE, seconds / 2, LIVE_LOW, LIVE_HIGH)}
        for name, rs in rows.items():
            gen.write_rows(os.path.join(work, f"{name}.csv"), rs)
        params.update(page_size=PAGE_SIZE, warm_mod=WARM_MOD, min_cycles=MIN_CYCLES,
                      step_s=seconds / 2, setup_reps=SETUP_REPS,
                      low_rows_per_s=LIVE_LOW, high_rows_per_s=LIVE_HIGH)
    else:
        gen.write_batch_tables(os.path.join(work, "inputs"), BATCH_SCALE)
        params.update(rows=metrics.BATCH_ROWS, data_seed=gen.BATCH_DATA_SEED, scale=BATCH_SCALE)
    gen_s = time.perf_counter() - t
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)
    return params, rows, gen_s


def evaluate(params, rows, work, gen_s, out_dir):
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    raw["gen_s"] = gen_s
    if params["workload"] == "batch_mix":
        return raw, metrics.batch_result(raw, oracle_check(work, os.path.join(out_dir, "oracle")))
    expected, committed, row_bytes = {}, {}, {}
    live_bytes = metrics.row_bytes_of(os.path.join(work, "live.csv"))
    backfill_bytes = metrics.row_bytes_of(os.path.join(work, "backfill.csv"))
    for r in raw["backfill"]["rounds"]:
        k = r["round"]
        expected[k] = [x for x in rows["backfill"] if x[0] % r["filter_mod"] == 0]
        committed[k] = metrics.read_committed(os.path.join(work, f"committed_{k}.csv"))
        row_bytes[k] = backfill_bytes
    expected["live"] = rows["live"]
    committed["live"] = metrics.read_committed(os.path.join(work, "committed_live.csv"))
    row_bytes["live"] = live_bytes
    return raw, metrics.ingest_result(raw, params, expected, committed, row_bytes)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--slots", type=int, default=0,
                    help="Spark task slots (default: one fewer than the cores)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _kill_child)
    signal.signal(signal.SIGINT, _kill_child)

    root = os.getcwd()
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    classpath = build(root, out_dir)

    nproc = os.cpu_count() or 1
    slots = args.slots or max(1, nproc - 1)
    work = os.path.join(out_dir, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    params, rows, gen_s = prepare(args.workload, args.seed, args.seconds, args.trace, slots, work)

    load_before = os.getloadavg()[0]
    cpu_before = cpu_times()
    t_jvm = time.perf_counter()
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", work])
    log = os.path.join(work, "jvm.log")
    code = run_child(cmd, root, JVM_TIMEOUT_S, log)
    jvm_s = time.perf_counter() - t_jvm
    load_after = os.getloadavg()[0]
    cpu_after = cpu_times()
    steal_pct = None
    if cpu_before and cpu_after and cpu_after[1] > cpu_before[1]:
        steal_pct = 100.0 * (cpu_after[0] - cpu_before[0]) / (cpu_after[1] - cpu_before[1])
    if code != 0 or not os.path.exists(os.path.join(work, "raw.json")):
        die(f"the benchmark JVM failed (exit {code}):\n{tail(log)}", 1)

    t_eval = time.perf_counter()
    raw, (e2e, layers, attempted, failed, extra) = evaluate(params, rows, work, gen_s, out_dir)
    phases = {"gen_s": gen_s, "jvm_s": jvm_s, "check_s": time.perf_counter() - t_eval}
    footprint = slots + 1
    flags = []
    if max(load_before, load_after) > nproc + 1:
        flags.append(f"contended: 1-min load {max(load_before, load_after):.2f} "
                     f"above the benchmark's own footprint ({footprint} threads on {nproc} cores)")
    if steal_pct is not None and steal_pct > STEAL_PCT:
        flags.append(f"contended: {steal_pct:.1f}% of CPU time stolen by the hypervisor")
    if extra.get("generator_late_p99_ms", 0.0) > GEN_LATE_MS:
        flags.append(f"generator late: p99 {extra['generator_late_p99_ms']:.1f} ms")
    host = dict(raw["host"], load_before=load_before, load_after=load_after, steal_pct=steal_pct,
                seed=args.seed, workload=args.workload, traced=bool(args.trace),
                error_rate=failed / attempted)
    for k in ("low_rows_per_s", "high_rows_per_s", "data_seed", "scale", "page_size"):
        if k in params:
            host[k] = params[k]
    record = {"host": host, "flags": flags, "phases": phases, "extra": extra}
    chosen = metrics.fill_per_layer(layers) if args.trace else e2e
    units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k][0]} for k, v in chosen.items()}}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"record": record, "result": result, "e2e": e2e}, f)
    for p in extra.get("problems", []):
        print(f"perfbench: {p}", file=sys.stderr)
    print("# host " + json.dumps(record))
    print(json.dumps(result))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
