"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (its only dedup is keep-first-by-key,
search_ranking_peers.py:178-188 → ``dedup_first_by_key``); these are
the LLM-data-pipeline extensions the engine ships as first-class
operators.  All-native except nothing: even MinHash stays in Catalyst
expressions (xxhash64 + higher-order functions), so the whole pipeline
is codegen'd and shuffles only on LSH band keys / shingles.

Scale notes
-----------
* exact: one shuffle on the fingerprint — same cost as groupBy.
* MinHash+LSH: cost is O(docs × shingles × n_hashes) map-side compute
  + one shuffle on (band, band_key).  Band buckets are the skew risk
  (boilerplate text → giant buckets); ``max_bucket`` caps them.
* n-gram Jaccard verify: join on shingle — prune ubiquitous shingles
  (document frequency cap) before joining at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.relational import (
    dedup_first_by_key,
    drop_tombstoned,
)


def normalize_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact near-identical dedup: hash the normalized text, keep one
    deterministic representative per fingerprint (min/max id)."""
    fp = df.withColumn("__fp", F.md5(normalize_text(F.col(text_col))))
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    return dedup_first_by_key(fp, "__fp", order_by=[order]).drop("__fp")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column, all-native:
    split → sliding slice → concat."""
    words = F.split(col, r"\s+")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def minhash_signature(hashed_shingles: Column, n_hashes: int = 64) -> Column:
    """MinHash signature as array<bigint> over PRE-HASHED shingles
    (array<bigint>): hash family h_i(h) = xxhash64(h, i) via the seed
    column trick (xxhash64 hashes all its arguments; a literal int per
    i gives n independent functions).

    Taking pre-hashed longs matters twice over: (1) each of the n
    passes hashes an 8-byte long, not a rebuilt shingle string;
    (2) the caller puts the string-hash pass behind its own projection
    alias, so Catalyst's CollapseProject (refcount > 1, non-cheap)
    keeps it evaluated once instead of inlining the whole
    split→slice→concat subtree into all n expressions.

    NB: the per-i lambda must take exactly ONE parameter — a 2-arg
    lambda in ``F.transform`` receives (element, array_index) and would
    silently replace the seed with the element's position."""

    def hash_fn(i: int):
        return lambda h: F.xxhash64(h, F.lit(i))

    return F.array(
        *[
            F.array_min(F.transform(hashed_shingles, hash_fn(i)))
            for i in range(n_hashes)
        ]
    )


def band_key_structs(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """``array<struct<band:int, key:string>>`` slicing a MinHash
    signature array into its LSH band keys — the ONE place the band-key
    encoding lives, shared by the batch index (``minhash_band_keys``)
    and the streaming per-row path, so stored keys and streamed keys
    can never drift out of collision."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",", F.slice(sig_col, b * rows_per_band + 1, rows_per_band)
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )


def minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """The banded-LSH key table ``(id, band, key)`` for a corpus:
    MinHash(``n_hashes``) signature → ``bands`` slices of
    ``n_hashes/bands`` values, one row per (doc, band).  This is the
    persistable LSH index — ``write_bucketed(keys, ..., ["band",
    "key"])`` turns every later candidate join (self-join for batch
    dedup, store × new-batch for incremental dedup) into a
    bucket-local join with no shuffle on the stored side.
    ``max_bucket`` drops degenerate buckets (identical boilerplate) —
    at 100 TB an unbounded bucket is a cartesian bomb."""
    rows_per_band = n_hashes // bands
    # Shingle hashing WITHOUT higher-order functions in the hot path:
    # posexplode the words array, then build each shingle's string with
    # plain slice/concat_ws/xxhash64 on the exploded rows — ordinary
    # expressions that stay inside whole-stage codegen.  The HOF column
    # form (transform over word_shingles) runs interpreted, and —
    # worse — InferFiltersFromGenerate duplicates the Generate input
    # into a size()>0 filter that predicate-pushdown parks BELOW any
    # spreading exchange, re-running the whole interpreted shingle
    # pipeline serially on the (often single-split) scan task.  Here
    # the inferred filter only references the cheap split(), and the
    # hash values are bit-identical to xxhash64(word_shingles(...))
    # (same shingle strings; duplicate shingles are idempotent under
    # the min aggregation, so set-dedup is unnecessary).  Profiled at
    # sf0.1/local[32]: 1.4s vs 5.7s for the signature stage.
    words = df.select(
        F.col(id_col), F.split(F.col(text_col), r"\s+").alias("__w")
    )
    exploded = words.select(
        id_col, "__w", F.posexplode("__w").alias("__p", "__word")
    )
    shingle_hashed = exploded.filter(
        # keep pos 0..max(n-k, 0): n>=k gives the n-k+1 full shingles,
        # shorter docs keep pos 0 whose slice truncates — mirroring
        # word_shingles' sequence(1, greatest(n-k+1, 1)) ladder
        F.col("__p") <= F.greatest(F.size("__w") - shingle_words, F.lit(0))
    ).select(
        id_col,
        F.xxhash64(
            F.concat_ws(" ", F.slice("__w", F.col("__p") + 1, shingle_words))
        ).alias("__h"),
    )
    # the signature as n_hashes codegen'd min(xxhash64(h, i))
    # aggregates, not n_hashes interpreted transform/array_min passes
    # (HOF expressions never enter whole-stage codegen: the column form
    # profiled 3-5x slower at sf0.1); partial aggregation collapses each
    # doc's shingles to one row before the shuffle, so the exchange
    # carries ~|docs| rows regardless of shingle fan-out
    mins = shingle_hashed.groupBy(id_col).agg(
        *[
            F.min(F.xxhash64(F.col("__h"), F.lit(i))).alias(f"__m{i}")
            for i in range(n_hashes)
        ]
    )
    sig = mins.select(
        id_col,
        F.array(*[F.col(f"__m{i}") for i in range(n_hashes)]).alias("__sig"),
    )
    banded = sig.select(
        id_col, F.explode(band_key_structs("__sig", bands, rows_per_band)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if max_bucket is not None:
        w = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") <= max_bucket)
            .drop("__n")
        )
    return banded


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs (id_a < id_b, distinct).

    ``minhash_band_keys`` → one shuffle on (band_idx, band_key) →
    within-bucket self-pairing.  A pair with Jaccard j collides with
    prob 1-(1-j^r)^b (r=4, b=16 → j=0.8 captured w.p. ~0.9998, j=0.2
    w.p. ~0.025)."""
    banded = minhash_band_keys(
        df, id_col, text_col, shingle_words, n_hashes, bands, max_bucket
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "key")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def incremental_lsh_candidates(
    corpus_keys: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 10_000,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs between a NEW document batch and an EXISTING
    corpus whose LSH index is already built — the daily incremental
    dedup job of a continuously-ingesting training-data pipeline.

    ``corpus_keys`` is the corpus's ``minhash_band_keys`` output
    (``(id, band, key)``), ideally read back from a table bucketed by
    ``(band, key)``: then ONLY the new batch is shingled, hashed, and
    shuffled — the 100 TB corpus side joins from its pre-hashed bucket
    files with no Exchange and no recompute, so per-day cost scales
    with |batch|, not |corpus|.  The banding parameters must match the
    ones the store was built with (same hash family: ``xxhash64``
    seeded 0..n_hashes-1), or the keys never collide.

    Returns distinct ``(id_a = corpus id, id_b = batch id)`` pairs.
    Within-batch duplicates are NOT covered — run
    ``lsh_candidate_pairs`` over the (small) batch for those.

    ``tombstones`` (a small frame carrying deleted ids in an
    ``id_col`` column) removes documents from matching BETWEEN
    nightly store rebuilds — the takedown half of the artifact
    lifecycle: the store side is anti-joined against the broadcast
    tombstone set before banding, so a deleted document can never
    pair with an arriving batch.  Band keys are per-document, so the
    tombstone probe is EXACTLY the probe of the compacted store
    (``drop_tombstoned``) and of a store rebuilt without the
    deleted docs (rebuild-equivalence pytest-pinned;
    ``dedup_index_delete_e2e`` pins it against the
    rebuild-minus-deleted SQL replay)."""
    corpus_keys = drop_tombstoned(corpus_keys, tombstones, id_col)
    new_keys = minhash_band_keys(
        batch, id_col, text_col, shingle_words, n_hashes, bands, max_bucket
    )
    a = corpus_keys.select(F.col(id_col).alias("id_a"), "band", "key")
    b = new_keys.select(F.col(id_col).alias("id_b"), "band", "key")
    return a.join(b, on=["band", "key"]).select("id_a", "id_b").distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity pairs ≥ threshold.

    Brute force (candidates=None): explode distinct shingles,
    self-join on shingle, count intersections — the shuffle key is the
    shingle, so ubiquitous shingles dominate; cap document frequency
    upstream at scale.  With ``candidates`` (e.g. from LSH) only
    candidate pairs are verified — the scale path.
    """
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("s"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    if candidates is not None:
        # Verify ONLY candidate pairs.  The candidate set is referenced
        # three times below (two semi-join prunes + the pair filter) —
        # persist it, otherwise its whole upstream plan (e.g. the
        # MinHash+LSH pipeline) re-executes per reference.  At 100 TB
        # this materialization is the natural stage boundary between
        # candidate generation and verification; the pair set is tiny
        # relative to the corpus.  The cache backs the returned plan —
        # caller owns its lifetime (LRU-evicted under pressure).
        candidates = candidates.select("id_a", "id_b").persist()
        a = a.join(
            candidates.select("id_a").distinct(), "id_a", "left_semi"
        )
        b = b.join(
            candidates.select("id_b").distinct(), "id_b", "left_semi"
        )
        # restrict the shingle self-join to candidate ids: non-candidate
        # intersections are never materialized — the scale path.
        common = (
            a.join(b, "s")
            .join(candidates, on=["id_a", "id_b"], how="left_semi")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # shingle-set sizes only for ids that survived the prune
        na = a.groupBy("id_a").agg(F.count(F.lit(1)).alias("na"))
        nb = b.groupBy("id_b").agg(F.count(F.lit(1)).alias("nb"))
    else:
        common = (
            a.join(b, "s")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
        na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
        nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .withColumn("jaccard", F.col("c") / (F.col("na") + F.col("nb") - F.col("c")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the SSJoin /
    PPJoin candidate scheme — Chaudhuri, Ganti & Kaushik, ICDE 2006;
    Xiao et al., WWW 2008): returns the identical pair set as the
    brute shingle self-join, but the candidate join touches only each
    document's PREFIX tokens instead of every shingle.

    Why this scales where brute does not: for Jaccard ≥ t, any true
    pair overlaps in ≥ ⌈t·|x|⌉ shingles, so under ANY global token
    order two matching sets must share a token among their first
    ``|x| - ⌈t·|x|⌉ + 1`` (the prefix).  Ordering tokens by ascending
    document frequency puts the RAREST tokens in the prefix — the
    candidate join keys are exactly the tokens with the smallest
    fan-out, inverting brute force's worst property (ubiquitous
    boilerplate shingles dominating the shuffle).  Unlike MinHash+LSH
    this is exact: no recall loss, no banding parameters.

    Shape: one df-count shuffle, one window (per-doc rank by (df,
    token)), the prefix equi-join (rare keys, bounded fan-out), then
    exact verification restricted to candidates via
    ``ngram_jaccard_pairs(candidates=...)``.  The ⌈t·n⌉ is computed as
    ``ceil(t·n − 1e-9)``: float ⌈⌉ may overshoot by 1 on exact
    products (0.8·35 = 28.000…004 → 29), which would SHORTEN a prefix
    and could drop a boundary pair — the epsilon only ever lengthens
    prefixes (more candidates, never fewer), and verification keeps
    the result exact."""
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("s"),
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "s")
    ranked = sh.join(dfreq, "s").withColumn(
        "__rn", F.row_number().over(w)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + 1
    )
    pref = ranked.join(sizes, id_col).filter(F.col("__rn") <= prefix_len)
    a = pref.select(F.col(id_col).alias("id_a"), "s")
    b = pref.select(F.col(id_col).alias("id_b"), "s")
    cands = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return ngram_jaccard_pairs(
        df, id_col, text_col, shingle_words, threshold, candidates=cands
    )


def simhash(col: Column, bits: int = 64) -> Column:
    """SimHash of whitespace tokens, all-native: per-bit vote =
    Σ(±1 per token hash bit), signature bit = vote > 0.  Returns the
    signature as bigint (bit 63 avoided to stay positive).

    Single traversal: ONE ``aggregate`` over the token hashes carrying
    an array of per-bit votes (``zip_with`` updates all bits per
    token).  The naive per-bit formulation re-evaluates the
    split→hash subtree once per bit — 63 array traversals per row and
    a plan Janino refuses to compile."""
    n_bits = min(bits, 63)
    tokens = F.split(col, r"\s+")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    powers = F.array(*[F.lit(2**b).cast("long") for b in range(n_bits)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            powers,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            powers,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 64,
    sig_col: str = "sig",
) -> DataFrame:
    """SimHash as a DataFrame op: a pure per-row projection of the
    single-traversal ``simhash`` column expression — no explode, no
    aggregation, NO shuffle.

    This deliberately differs from the MinHash path's explode+aggregate
    rewrite.  A/B at sf0.1/local[32] (5000 docs, steady state): this
    projection 0.38 s vs 1.75 s for the explode → 63 conditional-sum
    aggregate form — the HOF fold's interpreter overhead is ~63 light
    ops per token with zero row machinery, while the aggregate form
    pays explode row overhead plus a 63-column (504 B/group) Tungsten
    aggregation buffer and a shuffle.  Both are linear and
    partition-parallel, so the constant factor decides, and a
    shuffle-free projection is also the strictly better 100 TB shape.
    (MinHash is the opposite: its HOF form re-ran a 64-pass
    array_min(transform) per row AND got duplicated below the exchange
    by InferFiltersFromGenerate — see ``lsh_candidate_pairs``.)"""
    return df.select(
        F.col(id_col), simhash(F.col(text_col), bits).alias(sig_col)
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of
    XOR — native)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_banded_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 8,
    bits: int = 63,
) -> DataFrame:
    """All pairs with Hamming(sig_a, sig_b) <= max_hamming WITHOUT the
    O(n²) cross join — EXACT by pigeonhole: the signature is split into
    ``max_hamming + 1`` disjoint bit-bands, so any pair within the
    Hamming budget must agree on at least one whole band.  One shuffle
    on (band, band_value), candidate pairs only within band buckets,
    then the exact Hamming filter.

    At 100 TB: identical scale shape as MinHash-LSH banding — the band
    buckets are the skew risk (constant-ish signatures); cap bucket
    sizes upstream if the corpus has degenerate boilerplate."""
    bands = max_hamming + 1
    width = bits // bands
    keys = []
    for b in range(bands):
        start = b * width
        w = width if b < bands - 1 else bits - start
        mask = (1 << w) - 1
        keys.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(sig_col), start)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
        )
    banded = sigs.select(
        F.col(id_col), F.col(sig_col), F.explode(F.array(*keys)).alias("bk")
    ).select(
        id_col, sig_col, F.col("bk.band").alias("band"), F.col("bk.val").alias("val")
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"), "band", "val"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"), "band", "val"
    )
    # Hamming filter BEFORE the pair-dedup: bit_count is one codegen'd
    # instruction per candidate row, while distinct() is a shuffle —
    # filtering first shrinks the distinct's input from every banded
    # collision (pairs repeat up to ``bands``×) to only true near-dups.
    # hamming is a function of the pair, so the distinct cardinality is
    # unchanged.
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sig_a"), F.col("sig_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    candidates: DataFrame | None = None,
    brute: bool = False,
    lsh_tables: list[list[list[float]]] | None = None,
    use_kernel: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b) above threshold.

    Declarative dot product on L2-normalized vectors.  The DEFAULT is
    the scale-safe path: candidate pairs are auto-derived from
    sign-LSH buckets (``similarity.sign_lsh_self_pairs``, 8 seeded
    tables × 8 hyperplanes unless ``lsh_tables`` is given) and only
    candidates are scored — the O(n²) cross join never materializes.
    Pass ``candidates`` (id_a, id_b) to bring your own blocking, or
    ``brute=True`` to EXPLICITLY request the exact all-pairs baseline
    (the round-2 default — a silent footgun at 100 TB, now opt-in).
    Note the LSH default is approximate: a true pair whose signatures
    collide in no table is missed (~1% at threshold 0.95 with the
    default geometry; see tests)."""
    from prod_recommendation_pyspark_spark.operators.similarity import (
        l2_normalize,
        probe_dim,
        random_hyperplane_tables,
        sign_lsh_self_pairs,
    )

    if candidates is None and not brute:
        if lsh_tables is None:
            # probe_dim skips null/empty leading vectors and raises on
            # an indeterminate dim — a dim-1 guess would collapse all
            # signatures into one bucket (accidental O(n²)).  An EMPTY
            # relation (dim None) takes the brute path, whose cross
            # join over zero rows is free and yields the correct
            # empty result with the right column types.
            dim = probe_dim(df, vec_col)
            if dim is None:
                brute = True
            else:
                lsh_tables = random_hyperplane_tables(dim, 8, 8, seed=7)
        if not brute:
            candidates = sign_lsh_self_pairs(df, id_col, vec_col, lsh_tables)
    norm = l2_normalize(df.select(id_col, vec_col), vec_col, "__v")
    a = norm.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
    b = norm.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
    if candidates is not None:
        pairs = (
            candidates.select("id_a", "id_b")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(a, "id_a")
            .join(b, "id_b")
        )
    else:
        from prod_recommendation_pyspark_spark.operators.similarity import (
            spread_small_input,
        )

        # the O(n²) scoring is pipelined onto a's scan — spread a
        # single-split read across cores (b is the broadcast side)
        pairs = spread_small_input(a).crossJoin(b).filter(
            F.col("id_a") < F.col("id_b")
        )
    if use_kernel:
        from prod_recommendation_pyspark_spark.operators.similarity import (
            seq_dot_kernel,
        )

        # Arrow-batched, fold-order-exact (bit-identical scores; the
        # interpreted HOF fold serializes onto one core post-AQE)
        dot = seq_dot_kernel("__va", "__vb")
    else:
        dot = F.aggregate(
            F.zip_with("__va", "__vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return (
        pairs.withColumn("cosine", dot)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    strict: bool = True,
) -> DataFrame:
    """Connected components over an undirected edge list by min-label
    propagation: every node repeatedly adopts the smallest label among
    itself and its neighbors until a fixpoint.  Returns (node,
    component) where component = min node id in the component.

    This is the clustering step of near-dup dedup: LSH+verify emits
    PAIRS; picking one canonical doc per duplicate GROUP needs the
    transitive closure (a~b, b~c => keep one of {a,b,c}).

    Scale: each round is one join + one groupBy (two shuffles on the
    node id) over the edge list, and rounds = graph diameter.  Near-dup
    graphs are dense small cliques (diameter ~2-3), so this beats the
    log-n alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") in practice; for
    adversarial long-chain graphs swap the loop body, keeping the
    convergence harness.  Labels are localCheckpoint-ed per round
    (referenced twice: propagation + convergence count) — materialized
    AND lineage-truncated, see the loop-body comment.

    If the loop exhausts ``max_iter`` without reaching a fixpoint the
    labels are PARTIAL (some nodes still carry a non-minimal label) —
    ``strict=True`` (default) raises rather than silently returning
    wrong canonical docs downstream; ``strict=False`` logs a warning
    and returns the partial labels.

    Cache lifetime: the final round's persisted labels back the
    RETURNED plan (unpersisting here would lazily re-run every
    iteration) — the caller owns the cache; blocks are LRU-evicted
    under memory pressure.
    """
    import warnings

    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .persist()
    )
    labels = sym.select("u").distinct().select("u", F.col("u").alias("component"))
    prev = labels.persist()
    prev.count()
    try:
        changed = 0
        for _ in range(max_iter):
            neighbor_min = (
                sym.select(F.col("u").alias("nu"), F.col("v").alias("nv"))
                .join(
                    labels.select(
                        F.col("u").alias("lu"), F.col("component").alias("lc")
                    ),
                    F.col("nv") == F.col("lu"),
                )
                .groupBy("nu")
                .agg(F.min("lc").alias("nbr_min"))
            )
            # old + new component side by side: convergence check and
            # propagation share one plan, no labels self-join.
            # localCheckpoint (not persist): each round's plan would
            # otherwise NEST the previous round's — by iteration k the
            # logical plan holds O(2^k) operator nodes and Catalyst
            # re-analyzes all of them every round even though execution
            # hits the cache (the round-1 audit showed a 10k-Exchange
            # plan text here).  Checkpointing materializes AND truncates
            # lineage, so planning stays O(1) per round.  On a real
            # cluster prefer ``spark.sparkContext.setCheckpointDir`` +
            # ``.checkpoint()`` for fault tolerance; localCheckpoint
            # blocks are cleaned by the ContextCleaner when dereferenced.
            prop = (
                labels.join(neighbor_min, labels.u == F.col("nu"), "left")
                .select(
                    "u",
                    F.col("component").alias("old_component"),
                    F.least(
                        "component", F.coalesce("nbr_min", "component")
                    ).alias("component"),
                )
                .localCheckpoint(eager=True)
            )
            changed = prop.filter(
                F.col("component") != F.col("old_component")
            ).count()
            prev.unpersist()
            prev = prop
            labels = prop.select("u", "component")
            if changed == 0:
                break
        if changed != 0:
            msg = (
                f"connected_components did not converge in {max_iter} "
                f"iterations ({changed} labels still changing) — labels "
                "are partial; raise max_iter (graph diameter exceeds it)"
            )
            if strict:
                raise RuntimeError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
        return labels
    finally:
        sym.unpersist()


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    threshold: float = 0.9,
    centroids: DataFrame | None = None,
    max_cluster: int | None = None,
    round_digits: int = 4,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023):
    partition the corpus into ``k`` clusters, then score pairwise
    cosine ONLY within a cluster — the cross-cluster O(n²) never
    exists.  Returns ``(id_a, id_b, cluster, cosine)`` with
    ``id_a < id_b`` and ``cosine >= threshold``.

    Determinism contract: default centroids are the ``k`` lowest-id
    vectors (no RNG, no iteration) so any engine replays the exact
    clustering; pass ``centroids`` (``(cluster, vec)``, e.g. from
    ``clustering.kmeans_fit``) for tighter clusters.

    Shape at 100 TB: centroid selection is a k-row sort-limit;
    assignment is a broadcast argmin (k × dim floats); the pair join
    shuffles both sides once on the cluster id, so per-task work is
    bounded by the largest cluster — exactly the SemDeDup trade: spend
    a cheap global clustering to make the quadratic step local.
    ``max_cluster`` is the skew guard (same role as MinHash's
    ``max_bucket``): clusters over the cap are deterministically
    sub-split via ``uniform_hash(id)`` into ``ceil(size/cap)`` salted
    sub-clusters and pairs form only within a sub-cluster — bounding
    every task's quadratic work at the cost of cross-sub-split recall
    inside the giant cluster (~1/n_splits for a uniform split; a
    cluster that degenerate should be re-clustered instead).

    The emitted ``cosine`` is rounded to ``round_digits`` BEFORE the
    ``>= threshold`` comparison, so the keep/drop gate operates on a
    quantized value any engine reproduces — a raw float-epsilon
    difference between cosine kernels (normalize-then-fold here vs
    e.g. ``list_cosine_similarity`` elsewhere) cannot flip a
    borderline pair's fate."""
    from prod_recommendation_pyspark_spark.operators.clustering import (
        kmeans_assign,
    )
    from prod_recommendation_pyspark_spark.operators.similarity import (
        l2_normalize,
    )
    from prod_recommendation_pyspark_spark.operators.text import uniform_hash

    if centroids is None:
        centroids = (
            df.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias("vec")
            )
            .orderBy(id_col)
            .limit(k)
            .select(
                (
                    F.row_number().over(Window.orderBy(id_col)) - 1
                ).alias("cluster"),
                "vec",
            )
        )
    assigned = kmeans_assign(df, id_col, vec_col, centroids).select(
        id_col, "cluster"
    )
    norm = l2_normalize(df.select(id_col, vec_col), vec_col, "__v").join(
        assigned, id_col
    )
    join_keys = ["cluster"]
    if max_cluster is not None:
        sizes = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))
        splits = sizes.select(
            "cluster",
            F.ceil(F.col("__n") / F.lit(max_cluster)).cast("int").alias("__ns"),
        )
        norm = norm.join(F.broadcast(splits), "cluster").withColumn(
            "__sub",
            F.floor(uniform_hash(F.col(id_col)) * F.col("__ns")).cast("int"),
        )
        join_keys = ["cluster", "__sub"]
    a = norm.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), *join_keys
    )
    b = norm.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), *join_keys
    )
    dot = F.aggregate(
        F.zip_with("__va", "__vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot, round_digits))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cluster", "cosine")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle-set CONTAINMENT:
    ``c / min(|A|, |B|)`` — the Broder containment measure.  Catches a
    short document embedded verbatim inside a much longer one, which
    Jaccard structurally misses (the big union drives ``c/(na+nb-c)``
    toward 0 no matter how complete the overlap).  The canonical case
    in crawl corpora: a page quoted whole inside an aggregator.

    Same shuffle shape as ``ngram_jaccard_pairs`` brute: explode
    distinct shingles, self-join on the shingle key, count.  At scale,
    cap shingle document-frequency upstream (boilerplate shingles
    dominate the join fan-out) or feed LSH candidates and verify only
    those, exactly as the Jaccard path does.  The score is a single
    IEEE division of exact integer counts — engine-identical."""
    sh = df.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("s"),
    )
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    common = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .withColumn(
            "containment", F.col("c") / F.least(F.col("na"), F.col("nb"))
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "na", "nb", "containment")
    )


def edit_distance_verify(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    max_edits: int = 40,
    prefix_chars: int = 200,
) -> DataFrame:
    """Edit-distance VERIFY stage for blocked near-dup candidates:
    join the candidate ``(id_a, id_b)`` pairs back to their normalized
    text prefixes and keep pairs with Levenshtein distance ≤
    ``max_edits``.  This is the fuzzy-matching arm the token-set
    measures (Jaccard / containment / SimHash) cannot express — edit
    distance sees ORDER, so a document whose shingle set survives a
    scramble fails here while a true small-patch near-dup passes.

    Never call on all pairs: edit distance is O(len²) per pair, so the
    input must come from a blocked candidate generator
    (``winnow_dedup_candidates``, LSH bands, …).  Two scale guards on
    the per-pair cost: texts are normalized (lowercase, alnum-squash —
    the same canonicalization the winnowing fingerprinter uses, so a
    winnow candidate's shared passage survives into this stage) and
    capped at ``prefix_chars``; and Spark's thresholded
    ``levenshtein(l, r, threshold)`` runs the banded O(len·k) DP that
    abandons a pair as soon as its distance provably exceeds
    ``max_edits`` (returning -1) instead of filling the full matrix.

    Shuffle shape: two equi-joins of the (small, blocked) pair set
    against the doc-id-keyed prefix projection — at 100 TB the pair
    set is the LSH/winnow output (bounded by the band caps), and the
    prefix projection is a narrow column pruned at the scan.  The
    emitted distance is an exact integer — engine-identical, fully
    value-hashable against a DuckDB ``levenshtein`` oracle.

    Returns the surviving pairs with every input column plus
    ``edit_distance``.
    """
    clean = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
        1,
        prefix_chars,
    )
    prefix = docs.select(F.col(id_col), clean.alias("__t"))
    ta = prefix.select(F.col(id_col).alias("id_a"), F.col("__t").alias("__ta"))
    tb = prefix.select(F.col(id_col).alias("id_b"), F.col("__t").alias("__tb"))
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), max_edits)
    return (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("edit_distance", dist)
        .filter(F.col("edit_distance") >= 0)
        .drop("__ta", "__tb")
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    id_col: str,
    key: Column,
    window: int = 5,
    bucket_chars: int = 2,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): sort
    the corpus by a fuzzy key, slide a ``window``-row neighborhood,
    and emit every in-window ordered pair ``(id_a, id_b, rank_gap)``
    as near-dup candidates — the classic entity-resolution blocker
    that catches what hash blocking can't: records whose keys are
    CLOSE but not equal (typo'd prefixes land adjacent in sort
    order, in different LSH buckets).

    Distributed global rank with NO global single-partition window:
    the bucket is the key's ``bucket_chars``-char prefix, so bucket
    order refines to exact key order (prefix(a) < prefix(b) ⇒ a < b
    lexicographically); rank within bucket is a partitioned
    row_number over (key, id); bucket offsets come from a cumulative
    sum over the (≤ alphabet^bucket_chars)-row bucket-size table —
    the only unpartitioned window runs on THAT bounded table, never
    on the corpus.  Global rank = offset + in-bucket rank, exactly
    the flat ``row_number() OVER (ORDER BY key, id)`` (pinned by a
    bucketed≡flat pytest and by the oracle, which IS the flat form).

    The neighborhood join is a granule equi-join: each left row emits
    granules ⌊rank/w⌋ and ⌊rank/w⌋+1, the right side keys on
    ⌊rank/w⌋, and the residual filter keeps ``1 ≤ rank_b − rank_a <
    w`` — each qualifying pair matches on exactly one granule (the
    right rank's single granule), so no dedup pass is needed.  Output
    is ≤ (w−1)·N pairs: linear in the corpus, never quadratic."""
    # null keys coalesce to '' so (a) Spark's NULLS FIRST and the
    # oracle's DuckDB NULLS LAST can't shift every global rank against
    # each other, and (b) a null key's prefix bucket is '' (ranked,
    # first bucket) instead of null (dropped by the bucket join)
    keyed = docs.select(
        F.col(id_col).alias("__id"),
        F.coalesce(key.cast("string"), F.lit("")).alias("__k"),
    ).withColumn("__b", F.substring("__k", 1, bucket_chars))
    w_in = Window.partitionBy("__b").orderBy("__k", "__id")
    ranked = keyed.withColumn("__r", F.row_number().over(w_in))
    sizes = keyed.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "__b",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    # Persisted: the ranked table feeds BOTH sides of the granule
    # join below — uncached, the whole bucket-rank pipeline (scan +
    # two windows) runs twice (seen in the plan audit: 4 Window
    # nodes).  Caller owns the lifetime, as tfidf documents.
    g = (
        ranked.join(F.broadcast(offsets), "__b")
        .select("__id", (F.col("__r") + F.col("__off")).alias("__rank"))
        .persist()
    )
    gran = F.floor(F.col("__rank") / window)
    left = g.select(
        F.col("__id").alias("id_a"),
        F.col("__rank").alias("__ra"),
        F.explode(F.array(gran, gran + 1)).alias("__g"),
    )
    right = g.select(
        F.col("__id").alias("id_b"),
        F.col("__rank").alias("__rb"),
        gran.alias("__g"),
    )
    gap = F.col("__rb") - F.col("__ra")
    return (
        left.join(right, "__g")
        .filter((gap >= 1) & (gap <= window - 1))
        .select("id_a", "id_b", gap.alias("rank_gap"))
    )
