"""Generate a LARGE ANN corpus (default 10M × 64-d) for the round-13
artifact-lifecycle measurement (SCALE.md round-13 large-artifact
appendix; its script is retired, in git history at commit 1ee4bd4) —
the same Gaussian-cluster construction as gen_ann200k.py pushed two
decades up, chunked so generation stays in bounded memory and the
output is a multi-file parquet directory a distributed scan can split.

Pure numpy/pyarrow — no JVM, safe beside a Spark session.

Usage: python scripts/gen_ann_large.py [out_dir] [n_rows] [n_clusters]
       (defaults /tmp/ann10m 10_000_000 100)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CHUNK = 500_000
SIGMA = 0.08  # the measured cluster-overlap regime (gen_ann200k.py)


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ann10m"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(13)
    centers = rng.standard_normal((k, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("label", pa.int64()),
            ("embedding", pa.list_(pa.float64())),
        ]
    )
    for start in range(0, n, CHUNK):
        m = min(CHUNK, n - start)
        labels = rng.integers(0, k, size=m)
        vecs = centers[labels] + SIGMA * rng.standard_normal((m, DIM))
        flat = pa.array(vecs.reshape(-1))
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (m + 1) * DIM, DIM, dtype=np.int32)), flat
        )
        tbl = pa.Table.from_arrays(
            [
                pa.array(np.arange(start, start + m, dtype=np.int64)),
                pa.array(labels.astype(np.int64)),
                emb,
            ],
            schema=schema,
        )
        pq.write_table(
            tbl, f"{out}/part-{start // CHUNK:05d}.parquet",
            compression="snappy",
        )
        if (start // CHUNK) % 4 == 0:
            print(f"  {start + m:,}/{n:,}", flush=True)
    print(f"wrote {out} rows={n:,} dim={DIM} clusters={k}")


if __name__ == "__main__":
    main()
