#!/usr/bin/env python3
"""One-time derivation of the benchmark's frozen query class lists.

Reads the round-22 sf0.1 bench artifact (per-query median seconds) and
the query modules under src/main/scala/graft/queries, and writes
lists/{batch_small,batch_heavy,stream_drain}.tsv as `name<TAB>r22_median_s`.
The lists are committed so a later speed-up cannot move a query between
workloads; re-running this script is a deliberate benchmark change.

  python3 perfbench/derive_lists.py bench_r22_final.json

Classes:
  stream_drain  names with "stream" or "stateful" (graft.Bench's
                isLifecycle rule)
  batch_small   other queries with an r22 median under 1 s
  batch_heavy   other queries with an r22 median of 1 s or more
Batch queries that read a session-memoized lake artifact (a StampedMemo:
the staged dedup clusters, PQ and k-means indexes, containment pairs,
maintained postings) are in no class: they need staging families in
set-up that do not fit the benchmark's time budget. The script prints
them.
"""
import json, os, re, sys

HERE = os.path.dirname(os.path.abspath(__file__))
QUERIES = os.path.join(HERE, "..", "src", "main", "scala", "graft", "queries")

# query entries sit at 4 spaces inside `val queries = Map(`; object
# members at 2 spaces (deeper `val`s are locals of a query body)
QUERY_START = re.compile(r'^    "(q\d+\w*)"\s*->')
DEF_START = re.compile(r'^  (?:private(?:\[\w+\])?\s+|override\s+)*'
                       r'(?:lazy\s+)?(?:def|val)\s+(\w+)')


def chunks():
    """Yield (module, kind, name, text) per query entry or member def."""
    for fn in sorted(os.listdir(QUERIES)):
        if not fn.endswith(".scala"):
            continue
        mod = fn[:-len(".scala")]
        src = open(os.path.join(QUERIES, fn)).read()
        # drop comments: a doc line naming an artifact is not a read
        src = re.sub(r"/\*.*?\*/", "", src, flags=re.S)
        lines = [re.sub(r"//.*", "", ln) for ln in src.split("\n")]
        cur = None
        for i, line in enumerate(lines):
            q, d = QUERY_START.match(line), DEF_START.match(line)
            if q or d:
                if cur:
                    yield cur
                if q:
                    cur = (mod, "query", q.group(1), [line])
                else:
                    nxt = lines[i + 1] if i + 1 < len(lines) else ""
                    cur = (mod, "def", d.group(1), [line, nxt])
            elif cur:
                cur[3].append(line)
        if cur:
            yield cur


def memo_readers():
    items = [(m, k, n, "\n".join(t)) for m, k, n, t in chunks()]
    memos = {n for m, k, n, t in items
             if k == "def" and "StampedMemo" in t.split("\n")[0] + t.split("\n")[1]}
    tainted = set(memos)
    defs = [(n, t) for m, k, n, t in items
            if k == "def" and n not in ("queries", "oracles")]
    changed = True
    while changed:
        changed = False
        for n, t in defs:
            if n not in tainted and any(
                    re.search(r"\b%s\b" % re.escape(x), t) for x in tainted):
                tainted.add(n)
                changed = True
    return {n for m, k, n, t in items if k == "query" and any(
        re.search(r"\b%s\b" % re.escape(x), t) for x in tainted)}


def main():
    r22 = json.load(open(sys.argv[1]))["queries"]
    staged = memo_readers()
    classes = {"batch_small": [], "batch_heavy": [], "stream_drain": []}
    for name in sorted(r22):
        if "stream" in name or "stateful" in name:
            cls = "stream_drain"
        elif name in staged:
            continue
        elif r22[name] >= 1.0:
            cls = "batch_heavy"
        else:
            cls = "batch_small"
        classes[cls].append(name)
    for cls, names in classes.items():
        with open(os.path.join(HERE, "lists", cls + ".tsv"), "w") as f:
            for n in names:
                f.write(f"{n}\t{r22[n]}\n")
        print(cls, len(names), file=sys.stderr)
    print("memo readers, in no class:", " ".join(sorted(staged)), file=sys.stderr)


if __name__ == "__main__":
    main()
