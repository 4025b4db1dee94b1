#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate.

Runs graft.Verify at a given SF dir (default sf0.01), then replays each
oracle SQL in DuckDB over the same parquet tables and compares the
results exactly (columns sorted by name, rows sorted by all columns,
bit-exact values; DECIMAL columns compared as canonical strings so the
gate is exact at any width). Development feedback loop only — not part
of the shipped engine.

Usage: python3 tools/check.py [sfdir] [outdir] [--skip-verify] [names...]
"""
import json, math, re, subprocess, sys
from pathlib import Path

# the checkout that holds this script: Verify runs its code, not another's
REPO = Path(__file__).resolve().parents[1]


def load_exact(rel):
    """Relation -> DataFrame with DECIMAL columns cast to VARCHAR.

    pandas .df() narrows decimals to float64, which is lossy above
    2^53 — the un-hardened gate would pass a >=2^53 decimal divergence
    the driver's hash catches (VERDICT r15 #2). Casting to VARCHAR
    first keeps the comparison exact at any width; scale-0
    decimal->string is identical plain digits in Spark and DuckDB, and
    scaled decimals compare as their canonical fixed-point form.
    tools/selftest_check.py pins that a 20th-digit divergence fails.
    """
    projs = []
    for cname, ctype in zip(rel.columns, rel.types):
        q = '"' + cname.replace('"', '""') + '"'
        if str(ctype).startswith("DECIMAL"):
            projs.append(f"CAST({q} AS VARCHAR) AS {q}")
        else:
            projs.append(q)
    return rel.project(", ".join(projs)).df()


def cell_eq(x, y):
    # strict equality: no str() fallback (VERDICT r3 #5) — dtypes
    # already matched, so values must compare equal as-is; NaN==NaN
    # and elementwise array equality are the only carve-outs
    import numpy as np
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (math.isnan(x) and math.isnan(y))
    if isinstance(x, np.ndarray) or isinstance(y, np.ndarray):
        ax, ay = np.asarray(x), np.asarray(y)
        # float arrays: NaN must equal NaN (same carve-out as the
        # scalar branch above); equal_nan raises TypeError on
        # non-numeric dtypes, so guard on the dtype kind
        if ax.dtype.kind == "f" or ay.dtype.kind == "f":
            return np.array_equal(ax, ay, equal_nan=True)
        return np.array_equal(ax, ay)
    return bool(x == y)


def compare(name, spark_rel, duck_rel):
    """Compare two DuckDB relations exactly; returns None if they
    match, else a one-line failure description."""
    spark_df, duck_df = load_exact(spark_rel), load_exact(duck_rel)
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = duck_df.reindex(sorted(duck_df.columns), axis=1)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if [str(t) for t in a.dtypes] != [str(t) for t in b.dtypes]:
        return f"dtypes {list(map(str, a.dtypes))} vs {list(map(str, b.dtypes))}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    a = a.sort_values(by=list(a.columns), ignore_index=True)
    b = b.sort_values(by=list(b.columns), ignore_index=True)
    for c in a.columns:
        neq = [(i, x, y) for i, (x, y) in enumerate(zip(a[c], b[c]))
               if not cell_eq(x, y)]
        if neq:
            return f"col {c} first diffs {neq[:3]}"
    return None


def main():
    import argparse
    import duckdb

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("args", nargs="*",
                   help="[sfdir] [outdir] [query names...] in any order; "
                        "names are recognized by the qNN_ prefix")
    p.add_argument("--skip-verify", action="store_true")
    # parse_known_args: argparse stops filling nargs="*" at an interspersed
    # flag, so positionals after --skip-verify land in the remainder
    args, extra = p.parse_known_args()
    bad_flags = [a for a in extra if a.startswith("-")]
    if bad_flags:
        p.error(f"unrecognized flags: {bad_flags}")
    # a query name is a name wherever it appears, never a directory
    pos = list(args.args) + extra
    only = [a for a in pos if re.match(r"^q\d+_", a)]
    dirs = [a for a in pos if not re.match(r"^q\d+_", a)]
    sf = dirs[0] if len(dirs) > 0 else "/root/testdata/sf0.01"
    out = dirs[1] if len(dirs) > 1 else "/tmp/graft_verify"

    if not args.skip_verify:
        r = subprocess.run(
            ["sbt", f'runMain graft.Verify {sf} {out}'],
            cwd=REPO, capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-3000:])
            sys.exit(1)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{sf}/{t}.parquet')")

    oracle = json.load(open(f"{out}/oracle_sql.json"))
    names = only or sorted(oracle)
    fails = []
    for name in names:
        try:
            spark_rel = con.sql(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
            duck_rel = con.sql(oracle[name])
            err = compare(name, spark_rel, duck_rel)
        except Exception as e:
            err = f"load error {str(e)[:200]}"
        if err:
            fails.append(name)
            print(f"FAIL {name}: {err}")
        else:
            print(f"OK   {name}")
    print(f"\n{len(names) - len(fails)}/{len(names)} queries match")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
