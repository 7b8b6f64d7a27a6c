#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
       python3 tools/check.py --lint <sfDir> <oracle_sql.json>
       python3 tools/check.py --same <verifyOutA> <verifyOutB>

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify),
runs the matching oracle SQL from oracle_sql.json in DuckDB against
the raw tables in <sfDir>, and compares: columns sorted by name, rows
sorted, values compared exactly (floats to 12 significant digits).

--lint runs only the oracle result-TYPING check (no Verify output
needed; pair with `tools/run.sh graft.tools.DumpOracleSql` for a fast
pre-build gate). Round-5 lesson: the driver's hash canonicalization is
type-sensitive, so an oracle whose result schema contains HUGEINT
(DuckDB promotes SUM(BIGINT) to int128) reds the gate even when every
cell matches bit-for-bit. The lint fails any oracle result column
whose type is outside the allowlist below.

--same compares two Verify outputs with each other, no oracle: every
query dir (the rows-only queries too) must hold the same columns,
types and rows, rows sorted and values compared exactly (floats by
their shortest round-trip repr), and oracle_sql.json must match byte
for byte. It lists every name that differs — the check for a refactor
that must not move a single output value.
"""
import os
import json
import math
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Types the driver's hash canonicalization is known-good on (everything
# green in CORRECTNESS_r01..r05 used only these). HUGEINT/UHUGEINT are
# the proven offenders; anything novel should be consciously added here,
# not silently shipped.
# DECIMAL is admitted only at precision <= 18 (int64-backed): DuckDB backs
# DECIMAL(p>18) with int128, the same class as HUGEINT, and the r14 gate
# proved it breaks the driver hash even when values match cross-engine.
def _decimal_ok(t):
    m = re.match(r"^DECIMAL\((\d+),(\d+)\)$", t)
    return bool(m) and int(m.group(1)) <= 18

_TYPE_OK = re.compile(
    r"^(BIGINT|INTEGER|SMALLINT|TINYINT|DOUBLE|FLOAT|VARCHAR|BOOLEAN"
    r"|DATE|TIMESTAMP(?: WITH TIME ZONE)?"
    r"|(?:BIGINT|INTEGER|DOUBLE|FLOAT|VARCHAR)\[\])$")


def lint_types(con, oracle, lint_only=False):
    """Fail any oracle whose DuckDB result schema has a disallowed type.

    In --lint mode (no Verify run before it) the frozen-sidecar
    oracles' /tmp parquet inputs may not exist yet; a binder error
    caused ONLY by those missing files is a SKIP, not a LINT-FAIL —
    the oracle itself may be perfectly typed and is fully checked by
    the main gate right after Verify writes the sidecars.
    """
    n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            rel = con.sql(sql)
            bad = [(c, str(t)) for c, t in zip(rel.columns, rel.types)
                   if not (_TYPE_OK.match(str(t)) or _decimal_ok(str(t)))]
        except Exception as e:
            # SKIP only file-IO errors on the /tmp/graft_ sidecar
            # convention: a broad match would swallow catalog errors
            # for typo'd TABLE names, and an unrestricted path match
            # would hide a non-sidecar read_parquet typo forever. A
            # typo'd SIDECAR path still skips here (indistinguishable
            # from not-yet-written pre-Verify) — the post-Verify main
            # gate is what catches those.
            if lint_only and "/tmp/graft_" in sql and re.search(
                    r"No files found|No such file or directory",
                    str(e), re.IGNORECASE):
                print(f"SKIP {name}: sidecar input missing pre-Verify ({e})")
                continue
            print(f"LINT-FAIL {name}: error {e}")
            n_bad += 1
            continue
        if bad:
            print(f"LINT-FAIL {name}: disallowed result types {bad} "
                  f"(cast in the oracle SQL, e.g. ::BIGINT)")
            n_bad += 1
    print(f"== type lint: {len(oracle) - n_bad}/{len(oracle)} clean ==")
    return n_bad


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_fail = lint_types(con, oracle)
    n_pass = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = [c.lower() for c in got_rel.columns]
            got = canon(got_rel.fetchall(), got_cols)
            exp_rel = con.sql(sql)
            exp_cols = [c.lower() for c in exp_rel.columns]
            exp = canon(exp_rel.fetchall(), exp_cols)
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            n_fail += 1
        elif got != exp:
            diff_g = [r for r in got if r not in exp][:3]
            diff_e = [r for r in exp if r not in got][:3]
            print(f"FAIL {name}: {len(got)} rows vs {len(exp)} oracle rows")
            print(f"  spark-only: {diff_g}")
            print(f"  oracle-only: {diff_e}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0


def exact_rows(con, path):
    rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
    cols = [(c, str(t)) for c, t in zip(rel.columns, rel.types)]
    rows = sorted(tuple("NaN" if isinstance(v, float) and math.isnan(v)
                        else repr(v) for v in r) for r in rel.fetchall())
    return cols, rows


def main_same(dir_a, dir_b):
    con = duckdb.connect()
    names = {d: {n for n in os.listdir(d) if os.path.isdir(f"{d}/{n}")}
             for d in (dir_a, dir_b)}
    differ = sorted(names[dir_a] ^ names[dir_b])
    for n in differ:
        print(f"DIFF {n}: only in {dir_a if n in names[dir_a] else dir_b}")
    both = sorted(names[dir_a] & names[dir_b])
    for n in both:
        try:
            a = exact_rows(con, f"{dir_a}/{n}")
            b = exact_rows(con, f"{dir_b}/{n}")
        except Exception as e:
            a, b = ("error", str(e)), None
        if a != b:
            print(f"DIFF {n}")
            differ.append(n)
    with open(f"{dir_a}/oracle_sql.json", "rb") as fa, \
            open(f"{dir_b}/oracle_sql.json", "rb") as fb:
        if fa.read() != fb.read():
            print("DIFF oracle_sql.json")
            differ.append("oracle_sql.json")
    print(f"== {len(both) - len(set(differ) & set(both))}/{len(both)} "
          f"query outputs identical, {len(differ)} names differ ==")
    return 1 if differ else 0


def main_lint(sf_dir, oracle_json):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return 1 if lint_types(con, json.load(open(oracle_json)),
                           lint_only=True) else 0


if __name__ == "__main__":
    if sys.argv[1] == "--lint":
        sys.exit(main_lint(sys.argv[2], sys.argv[3]))
    if sys.argv[1] == "--same":
        sys.exit(main_same(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))
