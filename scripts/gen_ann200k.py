"""Generate the 200k ANN corpus under /tmp/ann200k — the
second-decade input for the vector-artifact measurements
(SCALE.md round-11/12 ANN appendices; their measurement script is
retired, in git history at commit 1ee4bd4).

Construction (same shape as round 11's ad-hoc corpus, now committed):
200,000 × 64-d vectors in 10 Gaussian clusters — unit-norm cluster
centers drawn from a seed-pinned N(0,1), points = center + N(0, 0.08)
noise, which reproduces the cluster-overlap regime where recall at
fixed n_probe measurably drops below sf1's 0.9655 (per-dim sigma
0.08 over 64 dims puts the noise norm at ~0.64 of the unit center
- overlapped but structured; sigma 0.35 was measured to destroy the
cluster geometry entirely, recall 0.45) and the
probe's fetched-pair volume crosses the HOF→kernel threshold.  Pure
numpy/DuckDB — no JVM, safe beside a Spark session.

Usage: python scripts/gen_ann200k.py [out_dir]   (default /tmp/ann200k)
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ann200k"
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(11)
    n, dim, k = 200_000, 64, 10
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, size=n)
    vecs = centers[labels] + 0.08 * rng.standard_normal((n, dim))
    con = duckdb.connect()
    con.register(
        "v",
        __import__("pandas").DataFrame(
            {
                "vec_id": np.arange(n, dtype=np.int64),
                "label": labels.astype(np.int64),
                "embedding": [row.astype(np.float64) for row in vecs],
            }
        ),
    )
    con.execute(
        f"COPY (SELECT vec_id, label, embedding FROM v ORDER BY vec_id) "
        f"TO '{out}/embeddings.parquet' (FORMAT PARQUET)"
    )
    print(f"wrote {out}/embeddings.parquet rows={n} dim={dim} clusters={k}")


if __name__ == "__main__":
    main()
