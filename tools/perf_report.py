#!/usr/bin/env python3
"""Regenerate the measured-numbers sections of PERF.md from bench_out.json.

Claims in PERF.md drifted from measurement twice (r3, r4 verdicts), so
the headline block is machine-written: run the bench, then this script,
and the section between the BEGIN/END markers is replaced with numbers
read straight from the bench output. The round-final NARRATIVE numbers
drifted the same way twice more (r13, r14 verdicts), so they are now
generated too: the block between the NARRATIVE markers is emitted from
the same bench_out.json — totals, slowest entry, and the per-query
med/min list for the round's new queries. Everything outside the
markers is hand-maintained design prose and must not contain wall-time
figures except ones tagged to a named artifact.

Usage: python3 tools/perf_report.py [bench_out.json] [PERF.md]
           [--round LABEL] [--new q284,q285,q286]
"""
import json
import os
import sys

args, opts = [], {}
it = iter(sys.argv[1:])
for a in it:
    if a == "--round":
        opts["round"] = next(it)
    elif a == "--new":
        opts["new"] = next(it)
    else:
        args.append(a)

# Round markers default to the COMMITTED state file (bench_round.json)
# so every render of the same bench_out.json emits the same narrative
# (r15: env-var-only markers let a re-bench leave the narrative stale);
# flags override. The state path honours SPARK_GRAFT_ROUND_STATE, then
# falls back to the file next to this script's repo root — not a
# hardcoded absolute path, so running it from another checkout reads
# THAT repo's state (ADVICE r16).
_state_path = os.environ.get(
    "SPARK_GRAFT_ROUND_STATE",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "bench_round.json"))
try:
    _state = json.load(open(_state_path))
    for k_flag, k_state in (("round", "round"), ("new", "new_queries")):
        if k_flag not in opts and _state.get(k_state):
            opts[k_flag] = _state[k_state]
except (FileNotFoundError, json.JSONDecodeError):
    pass

BENCH = args[0] if len(args) > 0 else "bench_out.json"
PERF = args[1] if len(args) > 1 else "PERF.md"
BEGIN = "<!-- BEGIN GENERATED from bench_out.json (tools/perf_report.py) -->"
END = "<!-- END GENERATED -->"
NBEGIN = "<!-- BEGIN GENERATED NARRATIVE (tools/perf_report.py) -->"
NEND = "<!-- END GENERATED NARRATIVE -->"

b = json.load(open(BENCH))
qs = sorted(b["queries"].items(), key=lambda kv: -kv[1])
mins = b.get("mins", {})


def headline():
    lines = [BEGIN, ""]
    load = (f", 1-min system load {b['load_start']:.2f}→{b['load_end']:.2f}"
            if "load_start" in b else "")
    # bench lines before box_cpus existed reported the machine's count
    # as "cpus", not the session's parallelism
    par = b["cpus"] if "box_cpus" in b else "?"
    box = b.get("box_cpus", b.get("cpus", "?"))
    staging = (f" (+ {b['staging']:.2f} s one-time staged artifacts, built "
               "concurrently since r22: the dedup cluster assignment shared "
               "by q103/q126/q128, the trained PQ index read by q191/q192, "
               "the k-means coarse assignment read by q120/q123, the "
               "SemDeDup component table shared by q199/q205, and the "
               "streaming landing dirs every drain reads — reported "
               "separately so the total decomposes)" if "staging" in b else "")
    tmin = (f", {b['total_min']:.1f} s total (min-of-reps)"
            if "total_min" in b else "")
    with_staging = (f"; {b['total_with_staging']:.1f} s median / "
                    f"{b['total_min_with_staging']:.1f} s min including staging"
                    if "total_with_staging" in b else "")
    reps = str(b.get("reps", 1))
    if "lifecycle_reps" in b and b["lifecycle_reps"] != b.get("reps", 1):
        reps += f" ({b['lifecycle_reps']} for lifecycle-bound streaming drains)"
    lines.append(
        f"Bench (local[{par}] on a {box}-cpu box, `{b['sf']}`, "
        f"`graft.Bench`, {reps} reps per query{load}): "
        f"**{b['n_queries']} queries, {b['value']:.1f} s total "
        f"(median){tmin}, {b['n_errors']} errors**{staging}"
        f"{with_staging}. The min column is the contention-robust "
        "number: median≫min with min at its historical value reads as "
        "box noise, a drifted min as a plan regression (VERDICT r12 "
        "next #1).")
    lines.append("")
    lines.append("Slowest 12 (median / min seconds):")
    lines.append("")
    lines.append("| Query | med | min | Query | med | min |")
    lines.append("|---|---|---|---|---|---|")
    top = qs[:12]
    for i in range(0, len(top), 2):
        l = top[i]
        r = top[i + 1] if i + 1 < len(top) else None
        lm = f"{mins.get(l[0], l[1]):.2f}"
        if r:
            rm = f"{mins.get(r[0], r[1]):.2f}"
            lines.append(f"| {l[0]} | {l[1]:.2f} | {lm} "
                         f"| {r[0]} | {r[1]:.2f} | {rm} |")
        else:
            lines.append(f"| {l[0]} | {l[1]:.2f} | {lm} | | | |")
    lines.append("")
    lines.append(END)
    return lines


def narrative():
    label = opts.get("round", "N")
    new = [p for p in opts.get("new", "").split(",") if p]
    lines = [NBEGIN, ""]
    load = (f" under 1-min load {b['load_start']:.2f}→{b['load_end']:.2f}"
            if "load_start" in b else "")
    tmin = (f" / {b['total_min']:.1f} s min-of-reps"
            if "total_min" in b else "")
    with_staging = (f" ({b['total_with_staging']:.1f} s / "
                    f"{b['total_min_with_staging']:.1f} s with staging)"
                    if "total_with_staging" in b else "")
    top_q, top_med = qs[0]
    lines.append(
        f"**Round {label} final (generated from the same bench artifact "
        f"as the block above): {b['n_queries']} queries, "
        f"{b['value']:.1f} s total median{tmin}{with_staging}, {b['n_errors']} "
        f"errors**{load}; staged artifacts {b.get('staging', 0):.2f} s; "
        f"slowest entry {top_q} at {top_med:.2f} s med / "
        f"{mins.get(top_q, top_med):.2f} s min.")
    if new:
        rows = []
        for p in new:
            hits = [(k, v) for k, v in b["queries"].items()
                    if k.startswith(p)]
            for k, v in sorted(hits):
                rows.append(f"{k} {v:.2f}/{mins.get(k, v):.2f}")
        if rows:
            lines.append("")
            lines.append("New this round (med/min s): " + "; ".join(rows) + ".")
    lines.append("")
    lines.append(NEND)
    return lines


text = open(PERF).read()
i, j = text.find(BEGIN), text.find(END)
if i < 0 or j < 0:
    sys.exit(f"markers not found in {PERF}; add {BEGIN} / {END} first")
text = text[:i] + "\n".join(headline()) + text[j + len(END):]

ni, nj = text.find(NBEGIN), text.find(NEND)
if ni >= 0 and nj >= 0:
    text = text[:ni] + "\n".join(narrative()) + text[nj + len(NEND):]
elif "round" in opts:
    sys.exit(f"--round given but narrative markers not found in {PERF}")

open(PERF, "w").write(text)
print(f"updated {PERF}: {b['n_queries']} queries, {b['value']:.1f}s"
      + (" (+narrative)" if ni >= 0 else ""))
