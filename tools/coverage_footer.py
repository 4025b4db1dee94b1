#!/usr/bin/env python3
"""Regenerate COVERAGE.md's correctness-count lines from artifacts.

Hand-written counts drifted from reality in rounds 3-5 (VERDICT r5
wrong #3), so the footer is now derived from the last correctness dump
(`python3 tools/check.py` runs graft.Verify into DUMP): every query
writes one parquet dir named after it, beside oracle_sql.json, which
holds the oracle-checked subset. The test count (optional) comes from
`sbt test`'s summary line. The `src/main/scala` line count (the net-lines
figure ROADMAP aim 2 tracks) is counted from the tree, like `wc -l`.

Usage: python3 tools/coverage_footer.py [--tests N]
"""
import json
import os
import re
import sys

DUMP = "/tmp/graft_verify"
COV = "COVERAGE.md"
MAIN = "src/main/scala"
BEGIN = "<!-- BEGIN GENERATED counts (tools/coverage_footer.py) -->"
END = "<!-- END GENERATED counts -->"

tests = None
if "--tests" in sys.argv:
    tests = int(sys.argv[sys.argv.index("--tests") + 1])

oracle_path = os.path.join(DUMP, "oracle_sql.json")
if not os.path.isfile(oracle_path):
    sys.exit(f"no correctness dump at {DUMP} (missing oracle_sql.json); "
             "run `python3 tools/check.py` first")
all_queries = {n for n in os.listdir(DUMP)
               if re.match(r"^q\d+_", n) and os.path.isdir(os.path.join(DUMP, n))}
if not all_queries:
    sys.exit(f"no query dirs in {DUMP}; run `python3 tools/check.py` first")
oracled = set(json.load(open(oracle_path)))
rows_only = sorted(all_queries - oracled)
missing = sorted(oracled - all_queries)
if missing:
    sys.exit(f"oracle entries without queries: {missing}")

lines = [BEGIN]
lines.append(
    f"- {len(all_queries)} queries; {len(oracled)} oracle-checked (hash), "
    + (f"{'/'.join(q.split('_')[0] for q in rows_only)} rows-only"
       if rows_only else "none rows-only")
    + f". Local gate: `python3 tools/check.py` → {len(oracled)}/{len(oracled)}.")
if tests is not None:
    lines.append(f"- `sbt test`: {tests} tests, 0 failures.")
sources = [os.path.join(d, f) for d, _, fs in os.walk(MAIN) for f in fs
           if f.endswith(".scala")]
if not sources:
    sys.exit(f"no .scala files under {MAIN}; run from the repository root")
main_lines = sum(open(f, "rb").read().count(b"\n") for f in sources)
lines.append(f"- `{MAIN}`: {main_lines} lines in {len(sources)} files.")
lines.append(END)

text = open(COV).read()
i, j = text.find(BEGIN), text.find(END)
if i < 0 or j < 0:
    sys.exit(f"markers not found in {COV}; add {BEGIN} / {END} first")
open(COV, "w").write(text[:i] + "\n".join(lines) + text[j + len(END):])
print(f"updated {COV}: {len(all_queries)} queries, {len(oracled)} oracled"
      + (f", {tests} tests" if tests is not None else "")
      + f", {main_lines} {MAIN} lines")
