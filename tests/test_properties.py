"""Hypothesis property tests for the sequence-prep and hashing
operators: invariants over generated inputs, a handful of examples per
test (each example is a real Spark job, so max_examples stays small —
the value is edge-case generation, not volume)."""

from __future__ import annotations

from hypothesis import example, given, settings, strategies as st

from pyspark.sql import functions as F

EXAMPLES = settings(max_examples=8, deadline=None)


@EXAMPLES
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=40)
)
def test_nextfit_packing_budget_invariant(spark, sizes):
    """For ANY doc-size multiset: every pack's total ≤ budget unless it
    is a single oversized doc, and every doc is packed exactly once."""
    from prod_recommendation_pyspark_spark.operators.text import (
        pack_sequences_nextfit,
    )

    budget = 256
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n_tokens long"
    )
    rows = pack_sequences_nextfit(
        df, "doc_id", "n_tokens", budget=budget, n_shards=4
    ).collect()
    assert len(rows) == len(sizes)
    import collections

    packs = collections.defaultdict(list)
    for r in rows:
        packs[(r["shard"], r["pack_id"])].append(int(r["n_tokens"]))
    for docs in packs.values():
        assert sum(docs) <= budget or len(docs) == 1


@EXAMPLES
@given(n_tokens=st.integers(min_value=1, max_value=600))
def test_chunk_coverage_invariant(spark, n_tokens):
    """For ANY doc length: chunks cover every token, no chunk is empty,
    and no chunk is fully contained in the previous one (no
    pure-duplicate output)."""
    from prod_recommendation_pyspark_spark.operators.text import chunk_documents

    chunk, overlap = 128, 32
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = (
        chunk_documents(df, "doc_id", "text", chunk_tokens=chunk, overlap=overlap)
        .orderBy("chunk_idx")
        .collect()
    )
    assert rows, "non-empty doc must chunk"
    covered = set()
    prev_end = None
    for r in rows:
        start, width = r["start_token"], r["n_chunk_tokens"]
        assert width > 0
        if prev_end is not None:
            assert start + width > prev_end  # contributes new tokens
        prev_end = start + width
        covered.update(range(start, start + width))
    assert covered == set(range(n_tokens))


@EXAMPLES
@given(
    terms=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_portable_term_hash_matches_python_reference(spark, terms):
    """The Catalyst fold must equal the plain-Python recurrence for any
    printable-ASCII term — the cross-engine portability contract the
    feature-hash oracle relies on."""
    from prod_recommendation_pyspark_spark.operators.text import (
        FEATURE_HASH_MOD,
        portable_term_hash,
    )

    def ref(term: str) -> int:
        acc = 0
        for ch in term:
            acc = (acc * 31 + ord(ch)) % FEATURE_HASH_MOD
        return acc

    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r["term"]: r["h"]
        for r in df.select(
            "term", portable_term_hash(F.col("term")).alias("h")
        ).collect()
    }
    for t in terms:
        assert got[t] == ref(t), t


# ---------------------------------------------------------------------------
# Multimodal codec roundtrip laws (no Spark job: pure kernel functions)
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=6),
    w=st.integers(min_value=1, max_value=6),
    rgb=st.booleans(),
    data=st.data(),
)
def test_netpbm_encode_decode_roundtrip(h, w, rgb, data):
    """decode(encode(img)) == img exactly for every 8-bit gray/RGB
    array — header arithmetic, comment-free token parsing, and byte
    layout all under one law."""
    import numpy as np

    from prod_recommendation_pyspark_spark.operators.multimodal import (
        _decode_netpbm,
        _encode_netpbm,
    )

    shape = (h, w, 3) if rgb else (h, w)
    flat = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=255),
            min_size=int(np.prod(shape)),
            max_size=int(np.prod(shape)),
        )
    )
    img = np.array(flat, dtype=np.float64).reshape(shape)
    out = _decode_netpbm(_encode_netpbm(img))
    assert out.shape == img.shape and (out == img).all()


@settings(max_examples=40, deadline=None)
@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=64
    )
)
def test_wav_decode_normalization_roundtrip(samples):
    """decode_wav recovers every 16-bit PCM sample exactly (scaled by
    1/32768), including the empty-stream case."""
    import io
    import struct
    import wave as wave_mod

    import numpy as np

    from prod_recommendation_pyspark_spark.operators.multimodal import decode_wav

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    arr = decode_wav(buf.getvalue())
    want = np.array(samples, dtype=np.float64) / 32768.0
    assert arr.shape == want.shape and (arr == want).all()


@EXAMPLES
@given(
    texts=st.lists(
        st.text(
            alphabet="ab cd",  # spaces force multi-word docs
            min_size=1,
            max_size=60,
        ).filter(lambda s: s.strip()),
        min_size=1,
        max_size=6,
    )
)
@example(texts=["ab", "ab cd", "ab cd ab", "cd ab cd ab a"])
def test_minhash_band_keys_match_streaming_row_path(spark, texts):
    """The two paths that must produce COLLIDING band keys in
    production: the stored index (``minhash_band_keys`` — posexplode
    shingles, then ``min(xxhash64(h, i))`` aggregates) and the
    streaming per-row path (``band_key_structs`` over the HOF
    ``minhash_signature`` of ``xxhash64(word_shingles)``, as
    ``streaming_incremental_dedup`` bands an arriving doc).  Any
    corpus, docs shorter than the shingle width included, must give
    identical ``(doc, band, key)`` rows — else a streamed doc never
    meets its stored near-duplicate."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        band_key_structs,
        minhash_band_keys,
        minhash_signature,
        word_shingles,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    stored = {
        (r["doc_id"], r["band"], r["key"])
        for r in minhash_band_keys(
            df, "doc_id", "text", max_bucket=None
        ).collect()
    }
    hashed = F.transform(
        word_shingles(F.col("text"), 3), lambda s: F.xxhash64(s)
    )
    streamed = {
        (r["doc_id"], r["bk"]["band"], r["bk"]["key"])
        for r in df.withColumn("__sig", minhash_signature(hashed, 64))
        .select("doc_id", F.explode(band_key_structs("__sig", 16, 4)).alias("bk"))
        .collect()
    }
    assert stored == streamed
    assert len(stored) == 16 * len(texts)


@EXAMPLES
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**16 - 1),
            st.integers(min_value=0, max_value=2**16 - 1),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_interleave_bits_bijection_and_reference(spark, pts):
    """Morton codes: bit-exact vs a Python reference, within [0, 2^32),
    and injective — distinct (x, y) never collide."""
    from prod_recommendation_pyspark_spark.operators.layout import (
        interleave_bits,
    )

    def ref(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i long, x long, y long"
    )
    got = {
        r.i: r.z
        for r in df.select(
            "i", interleave_bits([F.col("x"), F.col("y")], 16).alias("z")
        ).collect()
    }
    want = {i: ref(x, y) for i, (x, y) in enumerate(pts)}
    assert got == want
    assert len(set(got.values())) == len(pts)
    assert all(0 <= z < 2**32 for z in got.values())


@EXAMPLES
@given(
    states=st.lists(
        st.sampled_from(["a", "b", None]), min_size=1, max_size=12
    )
)
def test_scd2_history_matches_python_reference(spark, states):
    """For ANY per-day state sequence: the SCD2 rows equal a plain
    Python run-length reconstruction (runs open at changes, valid_to
    chains, last run is current)."""
    import datetime as dt

    from prod_recommendation_pyspark_spark.operators.events import (
        scd2_history,
    )

    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(len(states))]
    df = spark.createDataFrame(
        [(1, d, s) for d, s in zip(days, states)], "k long, snap date, attr string"
    )
    got = sorted(
        (str(r.valid_from), str(r.valid_to), r.attr, r.is_current)
        for r in scd2_history(df, ["k"], "snap", ["attr"]).collect()
    )
    runs = []
    for d, s in zip(days, states):
        if not runs or runs[-1][1] != s:
            runs.append([d, s])
    want = sorted(
        (
            str(start),
            str(runs[i + 1][0]) if i + 1 < len(runs) else "None",
            s,
            i + 1 == len(runs),
        )
        for i, (start, s) in enumerate(runs)
    )
    assert got == want


@EXAMPLES
@given(
    tgt=st.dictionaries(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=99),
        max_size=8,
    ),
    src=st.dictionaries(
        st.integers(min_value=0, max_value=12),
        st.tuples(
            st.integers(min_value=100, max_value=199),
            st.sampled_from([True, False, None]),
        ),
        max_size=8,
    ),
)
def test_merge_upsert_matches_python_reference(spark, tgt, src):
    """For ANY target/source key sets: the merged table equals the dict
    semantics — delete beats update, unmatched source inserts (unless
    deleted), unmatched target survives, NULL flag = not deleted."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        merge_upsert,
    )

    target = spark.createDataFrame(
        [(k, v) for k, v in tgt.items()] or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    source = spark.createDataFrame(
        [(k, v, d) for k, (v, d) in src.items()] or [(None, None, None)],
        "k long, v long, dead boolean",
    ).filter(F.col("k").isNotNull())
    got = {
        (r.k, r.v)
        for r in merge_upsert(target, source, ["k"], delete_col="dead").collect()
    }
    want = dict(tgt)
    for k, (v, dead) in src.items():
        if dead:
            want.pop(k, None)
        else:
            want[k] = v
    assert got == set(want.items())


@EXAMPLES
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("a b c d e".split()), min_size=0, max_size=12
        ),
        min_size=1,
        max_size=8,
    )
)
def test_segment_dedup_matches_python_reference(spark, docs):
    """segment_dedup ≡ a direct Python replay of the tiling + global
    count + keep + reassembly over tiny random corpora (5-word vocab
    makes cross-doc tile collisions common)."""
    from collections import Counter

    from prod_recommendation_pyspark_spark.operators.text import segment_dedup

    seg_words, cap = 2, 1
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_segments, r.n_kept, r.clean_text)
        for r in segment_dedup(
            df, "doc_id", "text", seg_words=seg_words, max_occurrences=cap
        ).collect()
    }
    # python reference
    tiles = {}
    for i, ws in enumerate(docs):
        tiles[i] = [
            " ".join(ws[j : j + seg_words])
            for j in range(0, len(ws), seg_words)
        ]
    counts = Counter(t for ts in tiles.values() for t in ts)
    for i, ws in enumerate(docs):
        keep = [t for t in tiles[i] if counts[t] <= cap]
        assert got[i] == (len(tiles[i]), len(keep), " ".join(keep)), (
            i,
            docs,
        )


@EXAMPLES
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_pagerank_matches_python_reference(spark, edges):
    """pagerank ≡ a direct Python power iteration on random small
    digraphs (self-loops and parallel edges included — parallel edges
    legitimately weight the contribution, mirroring the operator)."""
    from prod_recommendation_pyspark_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.rank
        for r in pagerank(df, iterations=2, damping=0.5).collect()
    }
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg: dict[int, int] = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {u: 1.0 / n for u in nodes}
    for _ in range(2):
        contrib = {u: 0.0 for u in nodes}
        # exact decimal-free reference: accumulate in sorted edge order;
        # the operator's DECIMAL sum is exact so order cannot matter
        for s, d in sorted(edges):
            contrib[d] += rank[s] / deg[s]
        rank = {
            u: round(0.5 / n + 0.5 * contrib[u], 10) for u in nodes
        }
    assert set(got) == set(nodes)
    for u in nodes:
        assert abs(got[u] - rank[u]) < 1e-9, (u, edges, got[u], rank[u])
