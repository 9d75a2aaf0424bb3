#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Reads the parquet dumps produced by `graft.Verify <sfDir> <outDir>` plus
outDir/oracle_sql.json, runs each oracle statement in DuckDB over the same
test tables, and compares: row count, column names (sorted), and values
(rows sorted column-name-major). Floats are normalized with round(v, 9) —
9 absolute decimal places — and then compared EXACTLY, so queries must
emit already-rounded doubles (the repo convention is floor(x*100)/100 to
dodge cross-engine .xx5 half-even differences; see the RelationalQueries
scaladoc). When every differing cell is a float pair within 1e-6 relative
error, the failure is annotated as a NEAR MISS (a rounding-discipline
bug, not a logic bug).

Usage: python3 scripts/selfcheck.py <sfDir> <outDir> [name...]

Names, as given to `graft.Verify <sfDir> <outDir> name...`, limit the check
(oracle and skip lines alike) to those queries; with none, every query in
oracle_sql.json is checked and a missing output is a FAIL.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return ("f", round(v, 9))
    return (type(v).__name__, v)


def near_miss_rel_err(bad):
    """Max relative error if EVERY differing cell is a float pair within
    1e-6 relative error; None if any diff is non-float or larger."""
    worst = 0.0
    for _, a, b in bad:
        for (ta, va), (tb, vb) in zip(a, b):
            if (ta, va) == (tb, vb):
                continue
            if ta != "f" or tb != "f":
                return None
            rel = abs(va - vb) / max(abs(va), abs(vb), 1e-300)
            if rel > 1e-6:
                return None
            worst = max(worst, rel)
    return worst


def main(sf_dir, out_dir, names=()):
    only = set(names)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads(Path(f"{out_dir}/oracle_sql.json").read_text())
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        pdir = Path(out_dir) / name
        if not pdir.exists():
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        got = pq.read_table(str(pdir))
        try:
            exp = con.execute(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            n_fail += 1
            continue
        gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
        if gcols != ecols:
            print(f"FAIL {name}: cols {gcols} vs {ecols}")
            n_fail += 1
            continue
        if got.num_rows != exp.num_rows:
            print(f"FAIL {name}: rows {got.num_rows} vs {exp.num_rows}")
            n_fail += 1
            continue
        grows = sorted([tuple(norm(r[c]) for c in gcols) for r in got.to_pylist()])
        erows = sorted([tuple(norm(r[c]) for c in ecols) for r in exp.to_pylist()])
        bad = [(i, a, b) for i, (a, b) in enumerate(zip(grows, erows)) if a != b]
        if bad:
            i, a, b = bad[0]
            print(f"FAIL {name}: {len(bad)}/{len(grows)} rows differ; first @{i}:")
            print(f"  spark:  {a}")
            print(f"  duckdb: {b}")
            rel = near_miss_rel_err(bad)
            if rel is not None:
                print(f"  NEAR MISS: all diffs are floats within rel err "
                      f"{rel:.2e} — rounding discipline, not logic")
            n_fail += 1
        else:
            print(f"PASS {name} ({got.num_rows} rows)")
            n_pass += 1
    # oracle-less queries: Verify records them with their design reason in
    # no_oracle.json — surface them as SKIP lines (an UNDECLARED reason is
    # a gate gap and counts as a failure).
    skip_path = Path(f"{out_dir}/no_oracle.json")
    skips = json.loads(skip_path.read_text()) if skip_path.exists() else {}
    n_skip = 0
    for name, info in sorted(skips.items()):
        if only and name not in only:
            continue
        reason = info.get("reason", "")
        if reason.startswith("UNDECLARED"):
            print(f"FAIL {name}: no oracle and no declared design reason")
            n_fail += 1
        else:
            print(f"SKIP {name}: {info.get('skipped')} — {reason[:80]}")
            n_skip += 1
    # a requested name that is no query at all is a typo, not a pass
    for name in sorted(only - set(oracle) - set(skips)):
        print(f"FAIL {name}: no such query")
        n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {n_skip} skipped-by-design")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
