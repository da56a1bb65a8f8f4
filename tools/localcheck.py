#!/usr/bin/env python3
"""Local replica of the driver's correctness gate, for fast iteration.

Usage:
  python3 tools/localcheck.py <sfDir> <outDir> [query ...]

Expects `outDir` to already hold Verify's output (run e.g.
  SPARK_GRAFT_ONLY=gr2_pagerank sbt "runMain graft.Verify /root/testdata/sf0.01 /tmp/verify_out"
first). For every query with an oracle in oracle_sql.json, runs the SQL
in DuckDB over views named after the sfDir parquet tables and compares
row count, sorted-by-name schema, and the value hash of row-sorted,
column-sorted data — the driver's contract. A requested query with no
oracle prints `NO ORACLE`; one with neither an oracle nor an output dir
prints `UNKNOWN` and fails.
"""
import sys, os, json, glob
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            # a Spark-written table (ScaleSoak's replica) is a dir of parts
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    fails = 0
    # a requested name must not pass by being skipped: no oracle is
    # reported, and neither an oracle nor an output dir is a failure
    for name in sorted(only - oracles.keys()):
        if os.path.isdir(os.path.join(out_dir, name)):
            print(f"{name}: NO ORACLE")
        else:
            print(f"{name}: UNKNOWN"); fails += 1
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            print(f"{name}: NO SPARK OUTPUT"); fails += 1; continue
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"{name}: ORACLE ERR {e}"); fails += 1; continue
        sdf = con.execute(
            f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").fetchdf()
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        rows_ok = len(sdf) == len(odf)
        schema_ok = scols == ocols
        hash_ok = None
        if rows_ok and schema_ok:
            s = sdf[scols].sort_values(scols).reset_index(drop=True)
            o = odf[ocols].sort_values(ocols).reset_index(drop=True)
            sv = [tuple(str(x) for x in r) for r in s.itertuples(index=False)]
            ov = [tuple(str(x) for x in r) for r in o.itertuples(index=False)]
            hash_ok = sv == ov
            if not hash_ok:
                diffs = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
                print(f"{name}: HASH MISMATCH first diffs: {diffs}")
        status = "OK" if (rows_ok and schema_ok and hash_ok) else \
            f"FAIL rows={len(sdf)}/{len(odf)} schema={schema_ok} hash={hash_ok}"
        if status != "OK":
            fails += 1
        print(f"{name}: {status}")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
