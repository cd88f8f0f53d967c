"""Generate a LARGE synthetic documents corpus (default 2M rows) for
the round-13 dedup-store measurement (SCALE.md round-13 large-artifact
appendix; its script is retired, in git history at commit 1ee4bd4):
~40-token documents over a 50k-word vocabulary, with a controlled 10%
near-duplicate tail (a mutated copy of an earlier doc — 2 token edits)
so the MinHash store has real candidate mass.  Band-key store rows =
docs × bands (16), so 2M docs ≈ a 32M-row serving store.

Pure numpy/pyarrow — no JVM.

Usage: python scripts/gen_docs_large.py [out_dir] [n_docs]
       (defaults /tmp/docs2m 2_000_000)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHUNK = 250_000
VOCAB = 50_000
DOC_LEN = 40


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/docs2m"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(17)
    words = np.array([f"w{i}" for i in range(VOCAB)])
    for start in range(0, n, CHUNK):
        m = min(CHUNK, n - start)
        tok = rng.integers(0, VOCAB, size=(m, DOC_LEN))
        # 10% near-dups: rows with local index % 10 == 9 copy the row
        # 9 earlier in the chunk with 2 token edits
        dup_rows = np.arange(9, m, 10)
        src_rows = dup_rows - 9
        tok[dup_rows] = tok[src_rows]
        edit_pos = rng.integers(0, DOC_LEN, size=(len(dup_rows), 2))
        for j, r in enumerate(dup_rows):
            tok[r, edit_pos[j]] = rng.integers(0, VOCAB, size=2)
        texts = [" ".join(words[row]) for row in tok]
        tbl = pa.Table.from_arrays(
            [
                pa.array(np.arange(start, start + m, dtype=np.int64)),
                pa.array(texts, type=pa.string()),
            ],
            names=["doc_id", "text"],
        )
        pq.write_table(
            tbl, f"{out}/part-{start // CHUNK:05d}.parquet",
            compression="snappy",
        )
        if (start // CHUNK) % 2 == 0:
            print(f"  {start + m:,}/{n:,}", flush=True)
    print(f"wrote {out} rows={n:,} doc_len={DOC_LEN} vocab={VOCAB}")


if __name__ == "__main__":
    main()
