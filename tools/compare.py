#!/usr/bin/env python3
"""Local emulation of the driver's t2 gate: read each query's parquet
(dumped by graft.Verify), run the oracle SQL in DuckDB over the same
sf dir, and compare sorted rows/columns. Usage:
  python3 tools/compare.py <sfDir> <verifyOutDir> [query ...]
"""
import json, math, sys
import duckdb

def arrow_type_name(t):
    """Canonical arrow type name, collapsing benign physical variants
    (large_string vs string, large_binary vs binary) that hash identically."""
    s = str(t)
    return {"large_string": "string", "large_binary": "binary"}.get(s, s)

def schema_types(schema):
    """{column -> canonical arrow type} for an arrow schema."""
    return {f.name: arrow_type_name(f.type) for f in schema}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0 and use repr for exactness
        if v == 0:
            return 0.0
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v

def table_of(cur):
    cols = [d[0] for d in cur.description]
    rows = [tuple(norm(v) for v in r) for r in cur.fetchall()]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cols_sorted = [cols[i] for i in order]
    rows_sorted = sorted([tuple(r[i] for i in order) for r in rows],
                         key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols_sorted, rows_sorted

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    # Durable per-query failures from graft.Verify (round-9 lesson: a
    # missing dump dir reads as "not run", not "failed").
    try:
        dumped_failures = json.load(open(f"{out_dir}/_failures.json"))
    except Exception:
        dumped_failures = {}
    for name, msg in sorted(dumped_failures.items()):
        print(f"FAIL {name}: verify-side failure: {msg}")
        failures += 1
    # a requested name the oracle does not know compares nothing — a
    # typo must fail the run, not pass it empty
    for name in sorted(only - set(oracle)):
        print(f"FAIL {name}: unknown query name (not in oracle_sql.json)")
        failures += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        try:
            got = table_of(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"))
            want = table_of(con.execute(sql))
            # Typed gate: the driver hashes TYPED values, so a DuckDB
            # HUGEINT (decimal128) vs Spark int64 mismatch fails remotely
            # even when the Python-normalized values above agree.  Compare
            # arrow schemas of both sides (r4 shipped q_ingest_denorm red
            # because this check was missing).
            got_types = schema_types(con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
            ).arrow().schema)
            want_types = schema_types(con.execute(sql).arrow().schema)
        except Exception as e:
            print(f"FAIL {name}: {e}")
            failures += 1
            continue
        type_diffs = {c: (got_types.get(c), want_types.get(c))
                      for c in set(got_types) | set(want_types)
                      if got_types.get(c) != want_types.get(c)}
        if type_diffs:
            print(f"FAIL {name}: arrow type mismatch "
                  + ", ".join(f"{c}: spark={g} duck={w}"
                              for c, (g, w) in sorted(type_diffs.items())))
            failures += 1
        elif got[0] != want[0]:
            print(f"FAIL {name}: columns {got[0]} != {want[0]}")
            failures += 1
        elif got[1] != want[1]:
            print(f"FAIL {name}: rows {len(got[1])} vs {len(want[1])}")
            for i, (g, w) in enumerate(zip(got[1], want[1])):
                if g != w:
                    print(f"  first diff row {i}:\n    spark={g}\n    duck ={w}")
                    break
            else:
                if len(got[1]) != len(want[1]):
                    print(f"  extra rows, e.g. spark={got[1][:2]} duck={want[1][:2]}")
            failures += 1
        else:
            print(f"OK   {name} ({len(got[1])} rows)")
    # rows-only queries (no oracle): just report counts
    import os
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if os.path.isdir(path) and d not in oracle:
            try:
                n = con.execute(
                    f"SELECT count(*) FROM read_parquet('{path}/*.parquet')").fetchone()[0]
                print(f"ROWS {d}: {n} rows {'(EMPTY!)' if n == 0 else ''}")
            except Exception as e:
                print(f"ROWS {d}: unreadable: {e}")
    sys.exit(1 if failures else 0)

if __name__ == "__main__":
    main()
