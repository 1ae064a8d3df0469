#!/usr/bin/env python3
"""Write the traced-run report, perfbench/REPORT.md.

    python3 perfbench/report.py [--seed N]

Run from the repository root. For each workload it makes one untimed-trace
run and one traced run with the same seed, plus a one-off ingest run at one
task slot (the single-threaded reference), and attributes each workload's
wall time to the layers from the traced run's raw records.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import metrics  # noqa: E402
import run as bench  # noqa: E402


def one_run(workload, seed, seconds, trace, slots=0):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if slots:
        cmd += ["--slots", str(slots)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    work = os.path.join(".bench_build", "work", workload)
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)
    with open(os.path.join(work, "raw.json")) as f:
        raw = json.load(f)
    return result, raw


def cycle_line(name, raw, cycles, slots):
    if not cycles:
        return f"- **{name}**: no cycles"
    n = len(cycles)
    wall = metrics.mean([c["end_ms"] - c["start_ms"] for c in cycles])
    eng = metrics.engine_mean(raw, [(c["start_ms"], c["end_ms"]) for c in cycles], slots)
    progress = {round(p["start_ms"]): p for p in raw["progress"]}
    over = metrics.mean([progress[round(c["start_ms"])]["trigger_ms"]
                         - progress[round(c["start_ms"])]["add_batch_ms"] for c in cycles])
    read = metrics.mean([c["read_ms"] for c in cycles])
    commit = metrics.mean([c["commit_ms"] for c in cycles])
    return (f"- **{name}** (mean of {n} cycles): trigger {wall:.0f} ms = sources read "
            f"{read:.0f} ms (trigger start → `beforeCommit`) + sinks commit {commit:.0f} ms + "
            f"{wall - read - commit:.0f} ms after the commit hook; the streaming overhead outside "
            f"`addBatch` ({over:.0f} ms) lies inside the first and last of these. "
            f"{wall - eng['driver_gap_ms']:.0f} ms in Spark jobs ({eng['jobs']:.1f} jobs, "
            f"{eng['tasks']:.1f} tasks, util {eng['util']:.2f}), driver gap "
            f"{eng['driver_gap_ms']:.0f} ms, planning {eng['plan_ms']:.0f} ms")


def ingest_lines(raw):
    slots = raw["host"]["slots"]
    bf, lv = raw["backfill"], raw["live"]
    commits = [dict(c, table=c["round"]) for c in bf["commits"]] + \
        [dict(c, table="live") for c in lv["commits"]]
    cycles, _ = metrics.match_cycles(commits, raw["progress"])
    timed = [c for c in cycles if c["table"] != "live" and c["table"] > 0]
    live = [c for c in cycles if c["table"] == "live"][lv["warm_commits"]:]
    bound = lv["t0_ms"] + (raw["live_step_s"] * 1e3)
    out = [cycle_line("ingest, backfill phase", raw, timed, slots),
           cycle_line("ingest, live `low` step", raw,
                      [c for c in live if c["start_ms"] < bound], slots),
           cycle_line("ingest, live `high` step", raw,
                      [c for c in live if c["start_ms"] >= bound], slots)]
    idle = [b["start_ms"] - a["start_ms"] - a["trigger_ms"]
            for a, b in zip(raw["progress"], raw["progress"][1:]) if a["run"] == b["run"]]
    out.append(f"- Idle time between triggers: median {metrics.median(idle):.1f} ms "
               f"(the 50 ms trigger interval never waits: every cycle takes longer).")
    return out


def batch_lines(raw):
    slots = raw["host"]["slots"]
    out = []
    for name in metrics.BATCH_ROWS:
        runs = [r for r in raw["row_runs"] if r["row"] == name and r["ok"]]
        wins = [(r["start_ms"], r["end_ms"]) for r in runs]
        eng = metrics.engine_mean(raw, wins, slots)
        wall = metrics.mean([b - a for a, b in wins])
        out.append(f"- **{name}**: {wall / 1e3:.2f} s = {(wall - eng['driver_gap_ms']) / 1e3:.2f} s "
                   f"in {eng['jobs']:.0f} Spark jobs ({eng['tasks']:.0f} tasks, util "
                   f"{eng['util']:.2f}, shuffle {eng['shuffle_mb']:.1f} MB) + driver gap "
                   f"{eng['driver_gap_ms'] / 1e3:.2f} s (planning {eng['plan_ms']:.0f} ms); "
                   f"{max(r['cache_left'] for r in runs)} persistent RDDs left after the action")
    return out


def overhead_lines(plain, traced):
    out = []
    for k in metrics.END_TO_END:
        a, b = plain["e2e"][k], traced["e2e"][k]
        out.append(f"| {k} | {a:.5g} | {b:.5g} | {(b - a) / a * 100:+.1f}% |")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    lines = ["# perfbench traced-run report", "",
             "Written by `python3 perfbench/report.py --seed "
             f"{args.seed} --seconds {args.seconds}`. One run per row below, so single "
             "figures carry the run-to-run noise of this host (see NOTES.md).", ""]
    host = None
    sections = []
    for workload in bench.WORKLOADS:
        plain, _ = one_run(workload, args.seed, args.seconds, 0)
        traced, raw = one_run(workload, args.seed, args.seconds, 1)
        host = traced["record"]["host"]
        raw["live_step_s"] = args.seconds / 2
        body = ingest_lines(raw) if workload == "ingest" else batch_lines(raw)
        sections += [f"## {workload}", "", "Where the wall time goes (traced run):", ""] + body + [
            "", "Tracing overhead (traced minus untraced run, same seed; one run each, so the "
            "run-to-run noise of NOTES.md is part of each figure):", "",
            "| metric | untraced | traced | change |", "|---|---|---|---|"] + \
            overhead_lines(plain, traced) + [""]
    single, _ = one_run("ingest", args.seed, args.seconds, 0, slots=1)
    lines += [f"Host: {host['nproc']} cores, {host['slots']} Spark task slots, "
              f"{host['heap_max_mb']} MB heap, JDK {host['jdk']}, Spark {host['spark']}.", ""]
    lines += sections
    e = single["e2e"]
    x = single["record"]["extra"]
    lines += ["## Single-threaded reference (`local[1]`, ingest, reported, not gated)", "",
              f"- backfill {e['throughput']:.0f} rows/s, cycle p50 {x['backfill.cycle_p50_ms']:.0f} ms;"
              f" live freshness p50 {x['low.freshness_p50_ms']:.0f} ms (low) / "
              f"{x['high.freshness_p50_ms']:.0f} ms (high); setup {e['setup_s']:.1f} s.", ""]
    with open(os.path.join(BENCH, "REPORT.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
