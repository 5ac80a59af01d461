#!/usr/bin/env python3
"""Local oracle-parity harness (mimics the driver's t2 check).

Usage: python3 tools/check_oracle.py <verify_out_dir> <sf_dir> [json_out]
           [--memory-limit 4GB] [--threads 2] [--temp-directory DIR]

With json_out (e.g. target/correctness.json) also writes a per-query
pass/fail JSON artifact — the belt-and-braces copy committed at round end
so a missing driver artifact never leaves a round unadjudicated.

Reads each <out>/<name> parquet written by graft.Verify, runs the matching
oracle SQL from <out>/oracle_sql.json in DuckDB over the sf parquet tables,
and compares row counts, sorted-column schemas, and value hashes.

The optional flags set DuckDB's `memory_limit`, `threads` and
`temp_directory` (defaults: DuckDB's own, i.e. 80% of RAM and every core);
a capped limit with a temp directory lets the heavier dedup oracles spill
instead of taking a shared host's memory.
"""
import argparse, json, sys, hashlib
from pathlib import Path

import duckdb
import pyarrow.parquet as pq
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(table: pa.Table):
    # sort columns by name; stringify values; sort rows
    cols = sorted(table.column_names)
    pydata = table.select(cols).to_pylist()
    rows = sorted(repr([row[c] for c in cols]) for row in pydata)
    h = hashlib.md5("\n".join(rows).encode()).hexdigest()
    return len(pydata), cols, h, rows


def parse_args():
    ap = argparse.ArgumentParser(description="DuckDB oracle parity for graft.Verify output")
    ap.add_argument("out_dir", help="graft.Verify output directory")
    ap.add_argument("sf_dir", help="directory of the sf parquet tables")
    ap.add_argument("json_out", nargs="?", help="also write per-query pass/fail JSON here")
    ap.add_argument("--memory-limit", help="DuckDB memory_limit, e.g. 4GB")
    ap.add_argument("--threads", type=int, help="DuckDB threads")
    ap.add_argument("--temp-directory", help="DuckDB temp_directory for spilling")
    return ap.parse_args()


def main():
    args = parse_args()
    out_dir, sf_dir = Path(args.out_dir), args.sf_dir
    oracle = json.loads((out_dir / "oracle_sql.json").read_text())
    config = {k: v for k, v in (("memory_limit", args.memory_limit),
                                ("threads", args.threads),
                                ("temp_directory", args.temp_directory))
              if v is not None}
    con = duckdb.connect(config=config)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    n_pass = n_fail = 0
    results = {}
    def record(name, ok, detail):
        results[name] = {"status": "pass" if ok else "fail", "detail": detail}
    for name, sql in sorted(oracle.items()):
        spark_dir = out_dir / name
        if not spark_dir.exists():
            print(f"FAIL {name}: no spark output"); n_fail += 1
            record(name, False, "no spark output"); continue
        try:
            spark_tbl = pq.read_table(spark_dir)
            duck_tbl = con.sql(sql).fetch_arrow_table()
            sn, sc, sh, srows = canon(spark_tbl)
            dn, dc, dh, drows = canon(duck_tbl)
            if sc != dc:
                print(f"FAIL {name}: schema {sc} vs {dc}"); n_fail += 1
                record(name, False, f"schema {sc} vs {dc}")
            elif sn != dn:
                print(f"FAIL {name}: rows {sn} vs {dn}"); n_fail += 1
                record(name, False, f"rows {sn} vs {dn}")
            elif sh != dh:
                diff = next((i for i, (a, b) in enumerate(zip(srows, drows)) if a != b), -1)
                print(f"FAIL {name}: hash mismatch; first diff row {diff}:")
                if diff >= 0:
                    print(f"  spark: {srows[diff][:300]}")
                    print(f"  duck : {drows[diff][:300]}")
                n_fail += 1
                record(name, False, "hash mismatch")
            else:
                print(f"PASS {name} ({sn} rows)"); n_pass += 1
                record(name, True, f"{sn} rows")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}"); n_fail += 1
            record(name, False, f"{type(e).__name__}: {e}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    if args.json_out:
        out = Path(args.json_out)
        out.parent.mkdir(parents=True, exist_ok=True)
        # provenance stamp: the SHA + timestamp this run adjudicated, so a
        # committed self-artifact is provably from the code it sits next to
        # (two consecutive empty driver artifacts made this the round's
        # correctness record)
        import subprocess, datetime
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"],
                capture_output=True, text=True, cwd=Path(__file__).parent.parent
                ).stdout.strip()
            dirty = subprocess.run(["git", "status", "--porcelain"],
                capture_output=True, text=True, cwd=Path(__file__).parent.parent
                ).stdout.strip() != ""
        except Exception:
            sha, dirty = "unknown", True
        out.write_text(json.dumps(
            {"n_pass": n_pass, "n_fail": n_fail,
             "sha": sha, "dirty_tree": dirty,
             "ts": datetime.datetime.now(datetime.timezone.utc).isoformat(),
             "queries": results},
            indent=0, sort_keys=True))
        print(f"wrote {out}")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
