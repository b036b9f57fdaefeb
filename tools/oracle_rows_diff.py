#!/usr/bin/env python3
"""Row-level equivalence check for rewritten oracle SQL.

Usage: oracle_rows_diff.py <sfDir> <old oracle_sql.json> <new oracle_sql.json>

Both files are `graft.Verify` dumps (query name -> DuckDB SQL). For every
query whose SQL text differs between the two, runs both statements in DuckDB
over the sf parquet tables (the same views as check_parity.py), then compares
the DESCRIBE output (column names, order and types) and the rows as multisets
(EXCEPT ALL in both directions). Queries with identical text are skipped.
Exits non-zero on any difference, on a SQL error, or on a query present in
only one of the files."""
import json
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    sfdir, old_path, new_path = sys.argv[1:]
    old, new = json.load(open(old_path)), json.load(open(new_path))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

    fail = 0
    for name in sorted(set(old) - set(new)):
        print(f"[{name}] ONLY IN OLD"); fail += 1
    for name in sorted(set(new) - set(old)):
        print(f"[{name}] ONLY IN NEW"); fail += 1
    changed = [n for n in sorted(set(old) & set(new)) if old[n] != new[n]]
    for name in changed:
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE o_rows AS {old[name]}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE n_rows AS {new[name]}")
        except Exception as e:  # noqa: BLE001 — report any DuckDB error per query
            print(f"[{name}] SQL ERROR: {e}"); fail += 1; continue
        od = con.execute("DESCRIBE o_rows").fetchall()
        nd = con.execute("DESCRIBE n_rows").fetchall()
        if [r[:2] for r in od] != [r[:2] for r in nd]:
            print(f"[{name}] DESCRIBE differs: old={[r[:2] for r in od]} new={[r[:2] for r in nd]}")
            fail += 1; continue
        only_old = con.execute(
            "SELECT count(*) FROM (SELECT * FROM o_rows EXCEPT ALL SELECT * FROM n_rows)").fetchone()[0]
        only_new = con.execute(
            "SELECT count(*) FROM (SELECT * FROM n_rows EXCEPT ALL SELECT * FROM o_rows)").fetchone()[0]
        rows = con.execute("SELECT count(*) FROM o_rows").fetchone()[0]
        if only_old or only_new:
            print(f"[{name}] ROWS differ: {only_old} only in old, {only_new} only in new (old has {rows})")
            fail += 1
        else:
            print(f"[{name}] SAME rows={rows}")
    print(f"{len(changed)} changed queries, {fail} differences")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
