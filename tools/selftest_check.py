#!/usr/bin/env python3
"""Selftest for check.py's decimal comparison (VERDICT r15 #4).

The un-hardened gate compared decimals through pandas float64, which
collapses anything above 2^53 — two DECIMAL(38,0) values differing at
the 20th digit compared EQUAL. This pins that check.compare now fails
on exactly that divergence (and still passes on true equality, NULLs
included), so the local gate is at least as strict as the driver's
hash. Run: python3 tools/selftest_check.py
"""
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import check  # noqa: E402

con = duckdb.connect()

# 20 digits, diverging only in the last (20th) digit: identical as
# float64, different as exact decimals
A = "SELECT CAST('12345678901234567891' AS DECIMAL(38,0)) AS v"
B = "SELECT CAST('12345678901234567892' AS DECIMAL(38,0)) AS v"

err = check.compare("synthetic", con.sql(A), con.sql(B))
assert err is not None, \
    "a 20th-digit decimal divergence must FAIL the gate"
print(f"diverging decimals fail as expected: {err}")

err = check.compare("synthetic_eq", con.sql(A), con.sql(A))
assert err is None, f"identical decimals must pass, got: {err}"

# NULL decimals and scaled decimals keep working through the VARCHAR path
C = ("SELECT * FROM (VALUES (CAST(NULL AS DECIMAL(38,2)), 1), "
     "(CAST('1.50' AS DECIMAL(38,2)), 2)) t(v, k)")
err = check.compare("synthetic_null", con.sql(C), con.sql(C))
assert err is None, f"NULL/scaled decimals must pass, got: {err}"

print("selftest_check: all assertions passed")
