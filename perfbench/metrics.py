"""Statistics, correctness checks and metric assembly for one benchmark run.

The JVM side (``perfbench.Main``) records raw timestamps and counts in
``raw.json`` and dumps each committed table; everything derived from them is
computed here, so the statistics can be tested without Spark.
"""
import bisect
import csv
import math
import statistics

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile
MB = float(1 << 20)

STEPS = ("low", "high")
ROWS = {
    "graph": ["graph_pagerank", "graph_betweenness_sampled"],
    "query": ["q5_local_supplier", "dedup_minhash_lsh", "exact_substring_spans"],
    "tables": ["upsert_merge_on_read", "incremental_join_maintenance",
               "iceberg_export_incremental"],
}
BATCH_ROWS = [r for fam in ROWS.values() for r in fam]

# end-to-end metrics (every workload prints each of them)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "latency_ms": ("ms", "lower"),
    "tail_ms": ("ms", "lower"),
    "throughput": ("1/s", "higher"),
    "peak_heap_mb": ("MB", "lower"),
}

_STREAMING = {"triggers": ("count", "lower"), "overhead_ms_p50": ("ms", "lower"),
              "idle_ms_p50": ("ms", "lower"), "reentries": ("count", "lower"),
              "restarts": ("count", "lower")}
_SOURCES = {"read_ms_p50": ("ms", "lower"), "read_ms_p90": ("ms", "lower"),
            "rows_per_cycle_p50": ("rows", "higher"), "page_fill": ("ratio", "higher"),
            "lag_rows_max": ("rows", "lower")}
_SINKS_CYCLE = {"commit_ms_p50": ("ms", "lower"), "commit_ms_p90": ("ms", "lower")}
_SINKS_TABLE = {"data_files_per_commit": ("count", "lower"),
                "meta_files_per_commit": ("count", "lower"),
                "bytes_per_user_byte": ("ratio", "lower")}
_ENGINE = {"jobs": ("count", "lower"), "tasks": ("count", "lower"),
           "task_cpu_ms": ("ms", "lower"), "gc_ms": ("ms", "lower"),
           "shuffle_mb": ("MB", "lower"), "spill_mb": ("MB", "lower"),
           "plan_ms": ("ms", "lower"), "driver_gap_ms": ("ms", "lower"),
           "util": ("ratio", "higher")}
_ROW = {"wall_s": ("s", "lower"), "jobs": ("count", "lower"),
        "driver_gap_ms": ("ms", "lower"), "plan_ms": ("ms", "lower"),
        "shuffle_mb": ("MB", "lower"), "cache_left": ("count", "lower")}


def _per_layer():
    out = {}
    for prefix in ("", "low.", "high."):
        for layer, ms in (("streaming", _STREAMING), ("sources", _SOURCES),
                          ("sinks", _SINKS_CYCLE), ("engine", _ENGINE)):
            for k, v in ms.items():
                out[f"{prefix}{layer}.{k}"] = v
    for k, v in _SINKS_TABLE.items():
        out[f"sinks.{k}"] = v
    for step in STEPS:
        for q in ("p50", "p99"):
            out[f"{step}.freshness_{q}_ms"] = ("ms", "lower")
    for fam in ROWS:
        out[f"queries.{fam}_s"] = ("s", "lower")
    for row in BATCH_ROWS:
        for k, v in _ROW.items():
            out[f"queries.{row}.{k}"] = v
    return out


PER_LAYER = _per_layer()


# --- statistics ---------------------------------------------------------------

def percentile(values, q):
    """The q-quantile (0 < q < 1) by linear interpolation, never reported
    with fewer than MIN_BEYOND samples beyond it: above the median, q is
    lowered to the highest quantile the sample supports, and a sample too
    small to support anything above the median gives the median."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0
    if q > 0.5:
        q = max(0.5, min(q, 1.0 - MIN_BEYOND / n))
    pos = q * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def geomean(values):
    """Geometric mean: every row of a mix weighs the same, whatever its size."""
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- correctness ----------------------------------------------------------------

def read_committed(path):
    with open(path, encoding="utf-8") as f:
        return [(int(r["event_id"]), r["shard"], int(r["tsu"]), int(r["due_us"]), int(r["cycle"]))
                for r in csv.DictReader(f)]


def check_exactly_once(expected, committed):
    """Compare committed rows with the generated ones: every row exactly
    once, with its generated shard and sort key, and each shard's rows
    committed in sort-key order (cycle c's rows all precede cycle c+1's).
    Returns (lost, duplicated, bad_cycles)."""
    want = {r[0]: (r[1], r[2]) for r in expected}
    seen = {}
    bad_cycles = set()
    for eid, shard, tsu, _due, cycle in committed:
        seen[eid] = seen.get(eid, 0) + 1
        if seen[eid] > 1 or want.get(eid) != (shard, tsu):
            bad_cycles.add(cycle)
    lost = sum(1 for eid in want if eid not in seen)
    duplicated = sum(n - 1 for n in seen.values() if n > 1)
    by_shard = {}
    for eid, shard, tsu, _due, cycle in committed:
        by_shard.setdefault(shard, []).append(((tsu, eid), cycle))
    for rows in by_shard.values():
        rows.sort()
        for (_k1, c1), (_k2, c2) in zip(rows, rows[1:]):
            if c2 < c1:
                bad_cycles.add(c2)
    return lost, duplicated, bad_cycles


# --- cycles -----------------------------------------------------------------------

def match_cycles(commits, progress):
    """Attach to each commit the trigger (progress report) it ran inside:
    the latest trigger that started before the ``afterCommit`` hook and had
    not yet ended. Returns (cycles, unmatched)."""
    trig = sorted(progress, key=lambda p: p["start_ms"])
    starts = [p["start_ms"] for p in trig]
    cycles, unmatched = [], 0
    for c in commits:
        i = bisect.bisect_right(starts, c["after_ms"] + 1.0) - 1
        if i < 0 or c["after_ms"] > trig[i]["start_ms"] + trig[i]["trigger_ms"] + 2.0:
            unmatched += 1
            continue
        p = trig[i]
        cycles.append(dict(c, start_ms=p["start_ms"], end_ms=p["start_ms"] + p["trigger_ms"],
                           latency_ms=c["after_ms"] - p["start_ms"],
                           read_ms=c["before_ms"] - p["start_ms"],
                           commit_ms=c["after_ms"] - c["before_ms"]))
    return cycles, unmatched


def engine_window(raw, lo, hi, slots):
    """Spark work attributed to one wall-clock window [lo, hi] (ms)."""
    jobs = [j for j in raw.get("jobs", []) if lo <= j[0] <= hi]
    tasks = [t for t in raw.get("tasks", []) if lo <= t[1] <= hi]
    plans = [p for p in raw.get("plans", []) if lo <= p[0] <= hi]
    wall = max(hi - lo, 1e-9)
    run_ms = sum(t[2] for t in tasks)
    return {
        "jobs": len(jobs), "tasks": len(tasks),
        "task_cpu_ms": sum(t[3] for t in tasks), "gc_ms": sum(t[4] for t in tasks),
        "shuffle_mb": sum(t[5] + t[6] for t in tasks) / MB,
        "spill_mb": sum(t[7] for t in tasks) / MB,
        "plan_ms": sum(p[1] for p in plans),
        "driver_gap_ms": wall - union_ms([(j[0], j[1]) for j in raw.get("jobs", [])], lo, hi),
        "util": run_ms / (wall * slots),
    }


def engine_mean(raw, windows, slots):
    per = [engine_window(raw, lo, hi, slots) for lo, hi in windows]
    return {k: mean([w[k] for w in per]) for k in _ENGINE}


def streaming_layer(progress, reentries, restarts):
    trig = sorted(progress, key=lambda p: (p["run"], p["start_ms"]))
    idle = [b["start_ms"] - (a["start_ms"] + a["trigger_ms"])
            for a, b in zip(trig, trig[1:]) if a["run"] == b["run"]]
    return {"triggers": len(trig),
            "overhead_ms_p50": median([p["trigger_ms"] - p["add_batch_ms"] for p in trig]),
            "idle_ms_p50": median(idle), "reentries": reentries, "restarts": restarts}


def sources_sinks_layer(cycles, rows_by_cycle, shards_at, page_size, lag):
    reads = [c["read_ms"] for c in cycles]
    rows = [rows_by_cycle.get((c["table"], c["cycle"]), 0) for c in cycles]
    slots = sum(shards_at(c) * page_size for c in cycles)
    return ({"read_ms_p50": median(reads), "read_ms_p90": percentile(reads, 0.9),
             "rows_per_cycle_p50": median(rows),
             "page_fill": sum(rows) / slots if slots else 0.0, "lag_rows_max": lag},
            {"commit_ms_p50": median([c["commit_ms"] for c in cycles]),
             "commit_ms_p90": percentile([c["commit_ms"] for c in cycles], 0.9)})


def _prefixed(prefix, layer, values):
    return {f"{prefix}{layer}.{k}": v for k, v in values.items()}


# --- workloads ------------------------------------------------------------------

def _verify(expected_by_table, committed_by_table):
    failed, problems = 0, []
    for key, expected in expected_by_table.items():
        lost, dup, bad = check_exactly_once(expected, committed_by_table[key])
        failed += len(bad) + (1 if lost else 0)
        if lost or dup or bad:
            problems.append(f"table {key}: {lost} lost, {dup} duplicated, "
                            f"{len(bad)} cycles out of order or duplicated")
    return failed, problems


def _rows_by_cycle(committed_by_table):
    out = {}
    for key, committed in committed_by_table.items():
        for row in committed:
            out[(key, row[4])] = out.get((key, row[4]), 0) + 1
    return out


def ingest_result(raw, params, expected_by_table, committed_by_table, row_bytes):
    """End-to-end and per-layer metrics of an ingest run, and its failure
    accounting. Tables are keyed by backfill round (0 = warm-up) and
    ``"live"``; ``expected_by_table`` holds the generated rows of each,
    ``committed_by_table`` the dumped committed rows."""
    bf, lv = raw["backfill"], raw["live"]
    slots = raw["host"]["slots"]
    page = params["page_size"]
    failed, problems = _verify(expected_by_table, committed_by_table)
    errors = bf["errors"] + lv["errors"]
    failed += raw["query_failures"] + len(errors)
    problems += errors
    commits = [dict(c, table=c["round"]) for c in bf["commits"]] + \
        [dict(c, table="live") for c in lv["commits"]]
    attempted = max(1, len(commits) + raw["query_failures"])
    cycles, unmatched = match_cycles(commits, raw["progress"])
    rows_by_cycle = _rows_by_cycle(committed_by_table)
    starts = sorted(raw.get("query_start_ms", []))
    traced = raw.get("jobs") is not None

    # backfill phase: capacity and cycle latency
    rounds = [r for r in bf["rounds"] if not r["warm"]]
    timed = [c for c in cycles if c["table"] != "live" and c["table"] > 0]
    drain_s = sum(r["drain_end_ms"] - r["drain_start_ms"] for r in rounds) / 1e3
    drained_rows = sum(len(committed_by_table[r["round"]]) for r in rounds)
    lat = [c["latency_ms"] for c in timed]
    extra = {"backfill.rows_per_s": drained_rows / drain_s if drain_s else 0.0,
             "backfill.cycle_p50_ms": median(lat), "backfill.cycle_p90_ms": percentile(lat, 0.9),
             "backfill.cycles": len(timed), "unmatched_cycles": unmatched}

    # live phase: freshness at two rates
    t0 = lv["t0_ms"]
    bound = t0 + params["step_s"] * 1e3
    after = {c["cycle"]: c["after_ms"] for c in lv["commits"]}
    timed_rows = [row for row in committed_by_table["live"] if row[3] > 0]
    fresh = {s: [] for s in STEPS}
    for row in timed_rows:
        fresh["low" if row[3] / 1e3 < bound else "high"].append(after[row[4]] - row[3] / 1e3)
    extra.update(generator_late_p99_ms=_generator_lateness(lv, expected_by_table["live"], t0),
                 reentries=sum(1 for c in lv["calls"] if c["reentry"]),
                 **{f"{s}.freshness_{q}_ms": percentile(fresh[s], v)
                    for s in STEPS for q, v in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99))},
                 **{f"{s}.rows": len(fresh[s]) for s in STEPS})

    e2e = {
        "setup_s": raw["session_s"] + bf["warmup_s"] + lv["warmup_s"]
        + median(bf["staging_s"]) + median(lv["staging_s"]),
        "latency_ms": mean([extra[f"{s}.freshness_p50_ms"] for s in STEPS]),
        "tail_ms": mean([extra[f"{s}.freshness_p90_ms"] for s in STEPS]),
        "throughput": extra["backfill.rows_per_s"],
        "peak_heap_mb": raw["peak_old_mb"],
    }
    layers = {}
    if traced:
        total = {r["round"]: len(expected_by_table[r["round"]]) for r in rounds}
        lag = 0
        for r in rounds:
            done = 0
            for c in sorted((c for c in timed if c["table"] == r["round"]),
                            key=lambda c: c["after_ms"]):
                lag = max(lag, total[r["round"]] - done)
                done += rows_by_cycle.get((c["table"], c["cycle"]), 0)
        win = [(r["drain_start_ms"], r["drain_end_ms"]) for r in rounds]
        in_win = [p for p in raw["progress"] if any(a <= p["start_ms"] <= b for a, b in win)]
        restarts = sum(1 for q in starts if any(a <= q <= b for a, b in win)) - len(rounds)
        n_shards = {r: len({row[1] for row in expected_by_table[r]}) for r in total}
        layers.update(_layer_set("", in_win, timed, rows_by_cycle, lambda c: n_shards[c["table"]],
                                 page, lag, 0, max(0, restarts), raw, slots))

        live_cycles = [c for c in cycles if c["table"] == "live"][lv["warm_commits"]:]
        first_seen = _shard_first_seen(lv, expected_by_table["live"])
        for s, (lo, hi) in (("low", (t0, bound)), ("high", (bound, float("inf")))):
            cyc = [c for c in live_cycles if lo <= c["start_ms"] < hi]
            calls = lv["calls"]
            restarts = sum(1 for q in starts if lo <= q < hi) - \
                sum(1 for c in calls if lo <= c["start_ms"] < hi)
            reentries = sum(1 for c in calls if c["reentry"] and lo <= c["end_ms"] < hi)
            progress = [p for p in raw["progress"] if lo <= p["start_ms"] < hi]
            layers.update(_layer_set(
                f"{s}.", progress, cyc, rows_by_cycle,
                lambda c: sum(1 for t in first_seen.values() if t <= c["start_ms"]),
                page, _live_lag(cyc, timed_rows, rows_by_cycle), reentries, max(0, restarts),
                raw, slots))
            layers[f"{s}.freshness_p50_ms"] = extra[f"{s}.freshness_p50_ms"]
            layers[f"{s}.freshness_p99_ms"] = extra[f"{s}.freshness_p99_ms"]
        tables = [(r["files"], r["round"]) for r in rounds] + [(lv["files"], "live")]
        layers.update(_sinks_table(tables, commits, committed_by_table, row_bytes))
    extra["problems"] = problems
    return e2e, layers, attempted, failed, extra


def _layer_set(prefix, progress, cycles, rows_by_cycle, shards_at, page, lag, reentries,
               restarts, raw, slots):
    out = _prefixed(prefix, "streaming", streaming_layer(progress, reentries, restarts))
    src, snk = sources_sinks_layer(cycles, rows_by_cycle, shards_at, page, lag)
    out.update(_prefixed(prefix, "sources", src))
    out.update(_prefixed(prefix, "sinks", snk))
    out.update(_prefixed(prefix, "engine", engine_mean(
        raw, [(c["start_ms"], c["end_ms"]) for c in cycles], slots)))
    return out


def _sinks_table(tables, commits, committed_by_table, row_bytes):
    """File counts and size of the committed tables, per commit and per
    byte of the generated rows they hold."""
    data = meta = size = user = n = 0
    for files, key in tables:
        data, meta, size = data + files["data"], meta + files["meta"], size + files["bytes"]
        user += sum(row_bytes[key][row[0]] for row in committed_by_table[key])
        n += sum(1 for c in commits if c["table"] == key)
    n = max(n, 1)
    return {"sinks.data_files_per_commit": data / n, "sinks.meta_files_per_commit": meta / n,
            "sinks.bytes_per_user_byte": size / user if user else 0.0}


def _shard_first_seen(lv, rows):
    """When each shard first existed in the live source: the start shards
    at -inf, the others at the commit time of their first generator insert."""
    timed = [r for r in rows if r[4] >= 0]
    seen = {r[1]: float("-inf") for r in rows if r[4] < 0}
    for first, count, done in lv["generator"]:
        for r in timed[int(first):int(first + count)]:
            seen.setdefault(r[1], done)
    return seen


def _live_lag(cycles, timed_rows, rows_by_cycle):
    """Largest (rows generated and due) - (rows committed) at any commit."""
    dues = sorted(r[3] / 1e3 for r in timed_rows)
    lag, done = 0, 0
    for c in sorted(cycles, key=lambda c: c["after_ms"]):
        done += rows_by_cycle.get((c["table"], c["cycle"]), 0)
        lag = max(lag, bisect.bisect_right(dues, c["after_ms"]) - done)
    return lag


def _generator_lateness(lv, rows, t0):
    """p99 of (insert commit time - due time) over the scheduled rows."""
    timed = [r for r in rows if r[4] >= 0]
    late = []
    for first, count, done in lv["generator"]:
        for r in timed[int(first):int(first + count)]:
            late.append(done - (t0 + r[4] / 1e3))
    return percentile(late, 0.99)


def batch_result(raw, oracle_failures):
    runs = [r for r in raw["row_runs"] if r["ok"]]
    errors = set(raw["row_errors"])
    failed = len(errors) + len([n for n in oracle_failures if n not in errors])
    attempted = len(BATCH_ROWS) + len(raw["row_runs"])
    by_row = {n: [r for r in runs if r["row"] == n] for n in BATCH_ROWS}
    med_s = {n: median([(r["end_ms"] - r["start_ms"]) / 1e3 for r in rs])
             for n, rs in by_row.items() if rs}
    timed_s = sum(r["end_ms"] - r["start_ms"] for r in runs) / 1e3
    e2e = {
        "setup_s": raw["session_s"] + raw["warmup_s"] + raw["gen_s"],
        "latency_ms": geomean(list(med_s.values())) * 1e3,
        "tail_ms": sum(med_s.values()) * 1e3,
        "throughput": len(runs) / timed_s if timed_s else 0.0,
        "peak_heap_mb": raw["peak_old_mb"],
    }
    extra = {f"{fam}_s": sum(med_s.get(n, 0.0) for n in names) for fam, names in ROWS.items()}
    extra["passes"] = 1 + max((r["pass"] for r in raw["row_runs"]), default=0)
    layers = {}
    if raw.get("jobs") is not None:
        slots = raw["host"]["slots"]
        layers.update(_prefixed("", "engine", engine_mean(
            raw, [(r["start_ms"], r["end_ms"]) for r in runs], slots)))
        for fam in ROWS:
            layers[f"queries.{fam}_s"] = extra[f"{fam}_s"]
        for n, rs in by_row.items():
            per = [engine_window(raw, r["start_ms"], r["end_ms"], slots) for r in rs]
            layers.update({
                f"queries.{n}.wall_s": med_s.get(n, 0.0),
                f"queries.{n}.jobs": median([w["jobs"] for w in per]),
                f"queries.{n}.driver_gap_ms": median([w["driver_gap_ms"] for w in per]),
                f"queries.{n}.plan_ms": median([w["plan_ms"] for w in per]),
                f"queries.{n}.shuffle_mb": median([w["shuffle_mb"] for w in per]),
                f"queries.{n}.cache_left": max((r["cache_left"] for r in rs), default=0)})
    extra["problems"] = [f"oracle mismatch: {n}" for n in oracle_failures] + list(raw["errors"])
    return e2e, layers, attempted, failed, extra


def fill_per_layer(layers):
    """Every per-layer metric, with 0 for the layers a workload does not
    exercise (no triggers on batch_mix, no batch rows on the ingest runs)."""
    return {k: float(layers.get(k, 0.0)) for k in PER_LAYER}


def row_bytes_of(rows_csv_path):
    """Bytes of each generated row as CSV text, by event id."""
    out = {}
    with open(rows_csv_path, "rb") as f:
        next(f)
        for line in f:
            out[int(line.split(b",", 1)[0])] = len(line)
    return out
