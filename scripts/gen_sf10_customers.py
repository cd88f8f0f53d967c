"""Generate the sf10 customer table (1.5M rows) under /tmp/sf10 —
the fourth-decade input for the rank-window measurements
(SCALE.md round-11 third-decade and round-12 fourth-decade appendices;
their scripts are retired, in git history at commit 1ee4bd4).

Construction (same as round 11's): 100 key-shifted replicas of the
sf0.1 customer table — every replica shifts ``c_custkey`` by
``i * 15_000`` and keeps every other column verbatim, so the
NAICS-prefix block structure and the angle-tie density KEEP SCALING
with the corpus (which is exactly what the window derivation must
track; iid-resampled vectors would dilute the ties instead).  Pure
DuckDB — no JVM, safe to run beside a Spark session.

Usage: python scripts/gen_sf10_customers.py [out_dir]   (default /tmp/sf10)
"""

from __future__ import annotations

import os
import sys

import duckdb

BASE = "/root/testdata/sf0.1"
REPS = 100


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf10"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    cols = [
        c[0]
        for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{BASE}/customer.parquet')"
        ).fetchall()
    ]
    sel = ", ".join(
        "c_custkey + r.i * 15000 AS c_custkey" if c == "c_custkey" else c
        for c in cols
    )
    con.execute(
        f"""
        COPY (
            SELECT {sel}
            FROM read_parquet('{BASE}/customer.parquet')
            CROSS JOIN (SELECT unnest(range({REPS})) AS i) r
            ORDER BY c_custkey
        ) TO '{out}/customer.parquet' (FORMAT PARQUET)
        """
    )
    n = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/customer.parquet')"
    ).fetchone()[0]
    print(f"wrote {out}/customer.parquet rows={n}")


if __name__ == "__main__":
    main()
