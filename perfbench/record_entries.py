"""Record the expected output of each benchmark entry.

    python3 perfbench/record_entries.py

Run from the root of a checkout. Every entry in ``pb.entries.ENTRIES`` is
executed on ``perfbench/data/sf0.01`` and compared, order-insensitively,
with its DuckDB ``oracle_sql()`` over the same files; only when all of
them match are the row counts and content hashes written to
``perfbench/entries_expected.json``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    import duckdb

    import __spark_entry__ as e
    from docarray_spark import get_spark
    from pb.entries import ENTRIES, EXPECTED, SF_DIR, TABLES, content_hash

    spark = get_spark(master="local[4]", driver_memory="4g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    fns, sqls = e.queries(), e.oracle_sql()
    out, bad = {}, []
    for name in ENTRIES:
        df = fns[name](spark, SF_DIR)
        rows = df.collect()
        cols = sorted(df.columns)
        # the comparison rule of the engine's own oracle gate
        a = df.toPandas()[cols].sort_values(cols, ignore_index=True)
        b = con.execute(sqls[name]).df()[cols].sort_values(cols, ignore_index=True)
        if len(a) != len(b) or not all(
                (a[c].astype(str).values == b[c].astype(str).values).all() for c in cols):
            bad.append(name)
        out[name] = {"rows": len(rows), "hash": content_hash(rows, df.columns)}
        spark.catalog.clearCache()
        print(name, "OK" if name not in bad else "MISMATCH", out[name])
    spark.stop()
    if bad:
        print("not recorded, oracle mismatch:", bad, file=sys.stderr)
        return 1
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
