"""Standalone oracle-check runner: python tests/run_oracle_check.py [sf_dir]
Compares every registered query against its DuckDB oracle and prints a
one-line verdict per query, with a short sha256 digest of the oracle's
canonical rows (``digest=``): diffing the digests of two trees shows
whether an oracle rewrite changed any output."""

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from qucosa_fcrepo_reportingdb_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duckdb_connection  # noqa: E402


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_connection(sf_dir)
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"{name:36s} ROWS-ONLY rows={n} ({time.time()-t0:.1f}s)")
                continue
            r = compare(df, con, oracles[name])
            status = "OK " if r["ok"] else "FAIL"
            line = (f"{name:36s} {status} rows={r['rows_spark']}/"
                    f"{r['rows_duckdb']} digest={r['digest']} "
                    f"({time.time()-t0:.1f}s)")
            if not r["ok"]:
                failures += 1
                line += "\n    " + r.get("detail", "")[:500]
            print(line)
        except Exception as e:
            failures += 1
            print(f"{name:36s} ERROR {str(e).splitlines()[0][:300]}")
    print(f"\n{failures} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
