"""DuckDB oracle check for the query sample, with the comparison rules of
`tools/check_parity.py`: name-sorted columns, same dtype family (int, float,
bool, other), rows sorted, values equal (NaN equals NaN, None equals None)."""
import glob
import json
import math
import os

from gen import ALL_TABLES


def _fam(dt):
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(getattr(dt, "kind", "O"), "other")


def compare(odf, sdf):
    """None if the engine frame `sdf` matches the oracle frame `odf`, else a reason."""
    ocols, scols = sorted(odf.columns), sorted(sdf.columns)
    if ocols != scols:
        return f"schema oracle={ocols} engine={scols}"
    bad = [(c, str(odf[c].dtype), str(sdf[c].dtype))
           for c in ocols if _fam(odf[c].dtype) != _fam(sdf[c].dtype)]
    if bad:
        return f"dtype family {bad}"
    o = odf[ocols].sort_values(ocols, na_position="first").reset_index(drop=True)
    s = sdf[ocols].sort_values(ocols, na_position="first").reset_index(drop=True)
    if len(o) != len(s):
        return f"rows oracle={len(o)} engine={len(s)}"
    for c in ocols:
        for i, (a, b) in enumerate(zip(o[c].tolist(), s[c].tolist())):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            if a != b:
                return f"value col={c} row={i}: oracle={a!r} engine={b!r}"
    return None


def check(table_dir, parity_dir):
    """{query: reason or None} for every query in `<parity_dir>/oracle_sql.json`."""
    import duckdb
    con = duckdb.connect()
    for t in ALL_TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    with open(os.path.join(parity_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(parity_dir, name, "*.parquet"))
        if not files:
            out[name] = "no engine output"
            continue
        try:
            odf = con.execute(sql).fetchdf()
            sdf = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        except Exception as e:  # an oracle error is a failed check, not a crash
            out[name] = f"oracle error {e}"
            continue
        out[name] = compare(odf, sdf)
    con.close()
    return out
