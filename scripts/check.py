#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (NOT part of the
library): runs graft.Verify output against the DuckDB oracle and
compares values column-sorted, like the driver does.

Usage: python3 scripts/check.py <verify_outdir> <sfdir>
"""
import sys, json, glob, math
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize for comparison: sort rows by all columns to be
    # order-insensitive (we ALSO emit deterministic ORDER BY everywhere)
    try:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    except Exception:
        pass
    return df.reset_index(drop=True)

def cell_eq(a, b):
    import numpy as np
    if a is None and b is None:
        return True
    num = (int, float, np.integer, np.floating)
    if isinstance(a, num) and isinstance(b, num) and not isinstance(a, bool) and not isinstance(b, bool):
        fa = isinstance(a, (float, np.floating))
        fb = isinstance(b, (float, np.floating))
        if fa and fb and math.isnan(a) and math.isnan(b):
            return True
        # driver parity: values are hashed by string representation, so
        # int64 3 vs float64 3.0 ("3" vs "3.0") MISmatches even though
        # numerically equal (observed r02: DuckDB HUGEINT sums → float64).
        # Keep float/float exact (str() would let different-width floats
        # that stringify alike slip through); normalize to float64 first
        # so a float32 cell is widened the way pandas does before hashing.
        # NOTE: this path is DELIBERATELY stricter than the driver for
        # mixed-width floats — a float32 cell whose shortest repr equals
        # the float64 oracle's (e.g. 0.1) passes the driver's string
        # hash but fails here after exact float64 widening. The safe
        # direction (possible false FAIL, never false PASS); in practice
        # every float column this library emits is already float64.
        if fa and fb:
            return float(np.float64(a)) == float(np.float64(b))
        return str(a) == str(b)
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    if isinstance(a, (list, tuple)) or isinstance(b, (list, tuple)):
        import numpy as np
        a = list(a) if a is not None else a
        b = list(b) if b is not None else b
        if len(a) != len(b):
            return False
        return all(cell_eq(x, y) for x, y in zip(a, b))
    return a == b or str(a) == str(b)

def main():
    outdir, sfdir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    # Verify writes each query under two keys, `qNN` and `qNN.parquet`;
    # an alias is checked only when it is not the same query again
    checks = {name: sql for name, sql in oracle.items()
              if not (name.endswith(".parquet")
                      and oracle.get(name[:-len(".parquet")]) == sql)}
    print(f"== {len(checks)} queries ({len(oracle)} oracle keys)")
    n_pass = n_fail = 0
    for name, sql in sorted(checks.items()):
        files = glob.glob(f"{outdir}/{name}.parquet/*.parquet") or \
            glob.glob(f"{outdir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(con.execute(
                f"SELECT * FROM read_parquet({files!r})").df())
            exp = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        bad = None
        import numpy as np
        for c in got.columns:
            gv, ev = got[c].to_numpy(), exp[c].to_numpy()
            for i in range(len(gv)):
                if not cell_eq(gv[i], ev[i]):
                    bad = (c, i, gv[i], ev[i])
                    break
            if bad:
                break
        if bad:
            c, i, g, e = bad
            print(f"FAIL {name}: col={c} row={i} got={g!r} exp={e!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
