#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: for each query result
parquet written by graft.Verify, run the declared oracle SQL in DuckDB over
the same testdata parquet tables and compare (columns sorted by name, rows
sorted, values canonicalized) — mirrors the driver's hash-match contract.

Both sides are materialized through PANDAS (like the driver), not fetchall():
that preserves driver-visible dtype effects — DuckDB HUGEINT becomes float64
(so an unwrapped integer SUM prints "99111.0" vs Spark's "99111"), and raw
array cells crash pandas sort_values — which fetchall() silently papered
over in round 1 (3 hash FAILs + 1 ERR the local gate missed).

Usage: oracle_check.py <sfDir> <verifyOutDir> [query ...]

The last line of output is one JSON object, {"n_pass", "n_fail",
"failed": [names]}; the exit code is 1 when any query failed.
"""
import sys, json, math, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # exact bit pattern comparison via repr of the double
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_key(df):
    cols = sorted(df.columns)
    df = df[cols]
    # the driver sorts rows with pandas — raw array cells crash here, which
    # is a real driver-visible failure mode we must reproduce, not hide
    df = df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)
    def cell(v):
        if hasattr(v, "item"):
            try:
                v = v.item()
            except Exception:
                pass
        return canon(v)

    out = []
    for row in df.itertuples(index=False, name=None):
        out.append(tuple(cell(v) for v in row))
    return out


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = 0
    failed = []
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark result")
            failed.append(name)
            continue
        try:
            spark_df = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
            duck_df = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            print(f"FAIL {name}: cols spark={sorted(spark_df.columns)} "
                  f"duck={sorted(duck_df.columns)}")
            failed.append(name)
            continue
        try:
            a, b = frame_key(spark_df), frame_key(duck_df)
        except Exception as e:
            print(f"FAIL {name}: comparator: {type(e).__name__}: {e}")
            failed.append(name)
            continue
        if a == b:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}")
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            for x, y in diff:
                print(f"   spark: {x}\n   duck : {y}")
            if not diff and len(a) != len(b):
                sa, sb = set(a), set(b)
                for x in list(sa - sb)[:2]:
                    print(f"   only-spark: {x}")
                for y in list(sb - sa)[:2]:
                    print(f"   only-duck : {y}")
            failed.append(name)
    print(f"== {n_pass} pass / {len(failed)} fail ==")
    print(json.dumps({"n_pass": n_pass, "n_fail": len(failed), "failed": failed}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
