"""LLM-data-pipeline query surface (SURVEY.md §7 Phase F): dedup,
similarity search, text analysis, multimodal plumbing on the
``documents`` / ``embeddings`` tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prod_recommendation_pyspark_spark.operators.dedup import (
    embedding_near_dup_pairs,
    exact_dedup,
    hamming64,
    incremental_lsh_candidates,
    lsh_candidate_pairs,
    minhash_band_keys,
    ngram_jaccard_pairs,
    simhash_banded_pairs,
    simhash_signatures,
)
from prod_recommendation_pyspark_spark.operators.multimodal import (
    attach_fake_payload,
    extract_image_features,
    sample_frames,
)
from prod_recommendation_pyspark_spark.operators.text import text_stats
from prod_recommendation_pyspark_spark.queries.registry import register
from prod_recommendation_pyspark_spark.sources.catalog import Catalog
from prod_recommendation_pyspark_spark.sources.writers import write_bucketed
from prod_recommendation_pyspark_spark.streaming.pipeline import (
    replay_stream,
    scratch_dir,
)


# Canonical single-split-read fan-out (no-op when the input already
# has enough splits — the 100 TB case): operators/similarity.py.
from prod_recommendation_pyspark_spark.operators.similarity import (  # noqa: E402
    spread_small_input as _spread,
)

# Word-trigram Jaccard oracle: shingle i = words[i..i+2]; DuckDB list
# slicing is 1-based inclusive so w[i:i+2] mirrors Spark slice(w,i,3).
_SH_SIZES_SQL = """
    toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
    sh AS (SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, greatest(len(w) - 1, 2)),
                         i -> array_to_string(w[i:i+2], ' '))) AS s
           FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)"""

_SHINGLES_SQL = _SH_SIZES_SQL + """,
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
               GROUP BY a.doc_id, b.doc_id)
"""

_JACCARD_TAIL_SQL = """
    SELECT id_a, id_b,
           round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
    FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    ORDER BY id_a, id_b
    """

_JACCARD_SQL = f"""
    WITH {_SHINGLES_SQL}{_JACCARD_TAIL_SQL}"""


def _cross_jaccard_sql(pairs: str) -> str:
    """Brute-force trigram Jaccard ≥ 0.8 over the ``(a, b)`` shingle
    pairs that satisfy ``pairs`` — the oracle of the dedup-store
    queries, whose candidates cross a store side with an arrival side
    instead of self-pairing ``a.doc_id < b.doc_id``."""
    return f"""
    WITH {_SH_SIZES_SQL},
    common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
               FROM sh a JOIN sh b ON a.s = b.s
               WHERE {pairs}
               GROUP BY a.doc_id, b.doc_id){_JACCARD_TAIL_SQL}"""


#: Store = the corpus (``doc_id % 5 != 4``), arrivals = today's batch.
_STORE_X_BATCH = "a.doc_id % 5 <> 4 AND b.doc_id % 5 = 4"


def _verified(
    docs: DataFrame, cands: DataFrame, a: str = "id_a", b: str = "id_b",
    distinct: bool = False,
) -> DataFrame:
    """The dedup verify tail: candidate pairs ``(a, b)`` as long
    ``(id_a, id_b)`` (``distinct`` for streamed candidates, which
    arrive once per band collision), exact trigram Jaccard ≥ 0.8 on
    those pairs only, rounded and ordered like the oracles."""
    pairs = cands.select(
        F.col(a).cast("long").alias("id_a"),
        F.col(b).cast("long").alias("id_b"),
    )
    if distinct:
        pairs = pairs.distinct()
    verified = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_words=3, threshold=0.8, candidates=pairs
    )
    return verified.select(
        "id_a", "id_b", F.round("jaccard", 4).alias("jaccard")
    ).orderBy("id_a", "id_b")


def _band_store(
    spark: SparkSession, table: str, base: str, *slices: DataFrame
) -> DataFrame:
    """The persisted band-key store: each slice's ``minhash_band_keys``
    written to the bucketed table ``table`` (16 buckets on ``(band,
    key)``, EXTERNAL at ``{base}/store`` — a managed table would collide
    with a previous run's warehouse leftovers in a fresh session), the
    first slice overwriting and the rest appended, then read back
    through the catalog."""
    for i, docs in enumerate(slices):
        write_bucketed(
            minhash_band_keys(docs, "doc_id", "text"), table, 16,
            ["band", "key"], mode="append" if i else "overwrite",
            path=f"{base}/store",
        )
    return spark.table(table)


@register(
    "exact_dedup_documents",
    sql="""
    SELECT doc_id, source, n_chars
    FROM (SELECT doc_id, source, n_chars,
                 row_number() OVER (
                     PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                     ORDER BY doc_id) AS rn
          FROM documents)
    WHERE rn = 1
    ORDER BY doc_id
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 fingerprint of normalized text, keep the
    lowest doc_id per fingerprint.  One shuffle on the fingerprint."""
    docs = Catalog(spark, sf_dir).table("documents")
    return (
        exact_dedup(docs, "text", "doc_id", keep="min")
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


@register("minhash_lsh_dedup_candidates", sql=_JACCARD_SQL)
def minhash_lsh_dedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + banded LSH(16×4) candidate generation, then exact
    trigram-Jaccard verification at 0.8 — the scale path for near-dup
    dedup: signatures and band keys are pure Catalyst expressions,
    one shuffle on band keys, verification only on candidates.

    Oracle = brute-force Jaccard: with b=16,r=4 a 0.8-Jaccard pair is
    missed w.p. ~2e-4, and this corpus's near-dups are ≥0.9 (miss
    ~1e-7), so LSH+verify equals brute force deterministically here."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return _verified(docs, lsh_candidate_pairs(
        docs, "doc_id", "text", shingle_words=3, n_hashes=64, bands=16
    ))


@register("incremental_dedup_documents", sql=_cross_jaccard_sql(_STORE_X_BATCH))
def incremental_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup — the daily job of a continuously
    ingesting corpus: dedup a NEW batch (doc_id % 5 == 4 stands in for
    today's arrivals) against the EXISTING corpus's prebuilt LSH band-
    key index (operators/dedup.py::minhash_band_keys, persistable via
    ``write_bucketed(keys, ..., ["band", "key"])`` so the corpus side
    joins from bucket files with no shuffle and no recompute — per-day
    cost scales with |batch|, not the 100 TB corpus).  Only the batch
    is shingled/hashed; candidates are verified with exact trigram
    Jaccard at 0.8.  Oracle = brute-force cross Jaccard (same missed-
    pair probability argument as ``minhash_lsh_dedup_candidates``)."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    store = minhash_band_keys(corpus, "doc_id", "text")
    return _verified(
        docs, incremental_lsh_candidates(store, batch, "doc_id", "text")
    )


@register("dedup_index_nightly_e2e", sql=_cross_jaccard_sql(_STORE_X_BATCH))
def dedup_index_nightly_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup NIGHTLY-ARTIFACT story end to end — the third leg of
    the serving-split trilogy (peer search: ``rank_window_nightly_e2e``;
    ANN: ``ann_ivf_nightly_e2e``): the corpus's MinHash band-key index
    is WRITTEN as a parquet table bucketed by ``(band, key)``
    (``sources/writers.py::write_bucketed`` — 16 buckets), RELOADED
    through the catalog, and today's arrival batch (doc_id % 5 == 4)
    is probed against the reloaded store —
    ``incremental_lsh_candidates`` shingles/hashes ONLY the batch; the
    corpus side joins from its pre-hashed bucket files with NO
    Exchange and NO recompute (pytest-pinned on the plan), so per-day
    cost rides |batch|, not the 100 TB corpus.  Candidates are
    verified with exact trigram Jaccard at 0.8, identical to
    ``incremental_dedup_documents`` — and the oracle is the same
    brute-force cross Jaccard, so a hash-green row proves the
    PERSISTED path end to end: hash determinism across the write, the
    bucketed layout's join, and the probe arithmetic."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    store = _band_store(
        spark, "dedup_band_index_nightly", scratch_dir("dedup_idx_nightly_"),
        corpus,
    )
    return _verified(
        docs, incremental_lsh_candidates(store, batch, "doc_id", "text")
    )


@register(
    "dedup_index_delete_e2e",
    sql=_cross_jaccard_sql(
        "a.doc_id % 5 <> 4 AND a.doc_id % 7 <> 2 AND b.doc_id % 5 = 4"
    ),
)
def dedup_index_delete_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DELETE half of the dedup artifact lifecycle (round-11
    verdict #1): the band-key store is written over the FULL corpus, a
    takedown set (corpus docs with doc_id % 7 == 2) lands as a
    TOMBSTONE table, and the arrival-batch probe anti-joins the store
    against it — a deleted document can never pair with new arrivals
    between rebuilds.  The ORACLE knows nothing about tombstones: it
    replays brute-force cross Jaccard against the SURVIVING corpus
    (rebuild-minus-deleted), and band keys are per-document, so
    tombstone-probe ≡ compacted-store probe ≡ rebuild exactly (the
    compaction, ``drop_tombstoned`` over the whole store, is
    additionally pytest-pinned equal to the rebuild,
    tests/test_artifact_lifecycle.py).  Delete cost: one broadcast
    anti-join on the store scan — never re-shingling the surviving
    corpus."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    tombs = corpus.filter(F.col("doc_id") % 7 == 2).select("doc_id")
    store = _band_store(
        spark, "dedup_band_index_delete", scratch_dir("dedup_idx_delete_"),
        corpus,
    )
    return _verified(docs, incremental_lsh_candidates(
        store, batch, "doc_id", "text", tombstones=tombs
    ))


@register("dedup_index_append_e2e", sql=_cross_jaccard_sql(_STORE_X_BATCH))
def dedup_index_append_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INSERT half of the dedup artifact lifecycle: yesterday's
    arrivals are APPENDED to the persisted band-key store instead of
    rebuilding it — ``write_bucketed(mode='append')``, the path the
    round-12 review fix made safe (the old unconditional DROP would
    have silently destroyed the store this append extends).  Band
    keys are per-document, so store(corpus) + append(batch₁) ≡
    store(corpus ∪ batch₁) exactly, and Spark's bucketed append keeps
    the bucket spec — the grown store still feeds the probe join from
    bucket files.

    Flow: the nightly store is built on doc_id % 5 ∈ {0,1,2};
    yesterday's arrivals (% 5 == 3) are hashed and APPENDED; today's
    batch (% 5 == 4) probes the grown store.  The oracle replays
    brute-force cross Jaccard of the FULL grown corpus (% 5 <> 4)
    against today's batch — identical to ``dedup_index_nightly_e2e``'s
    oracle, which is the point: growing the store by append must be
    indistinguishable from the nightly rebuild."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    nightly = docs.filter(F.col("doc_id") % 5 <= 2)
    arrivals = docs.filter(F.col("doc_id") % 5 == 3)
    batch = docs.filter(F.col("doc_id") % 5 == 4)
    grown = _band_store(
        spark, "dedup_band_index_append", scratch_dir("dedup_idx_append_"),
        nightly, arrivals,
    )
    return _verified(
        docs, incremental_lsh_candidates(grown, batch, "doc_id", "text")
    )


@register(
    "streaming_dedup_serving_replay", sql=_cross_jaccard_sql(_STORE_X_BATCH)
)
def streaming_dedup_serving_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING dedup loop registered under the brute-force
    cross-Jaccard value oracle — unlike the foreachBatch serving
    replays (peer, ANN), this one exercises Spark's NATIVE append-mode
    streaming surface: ``streaming_incremental_dedup`` is a pure
    projection + stream-static join (no state store, no aggregation),
    so it runs as a real ``writeStream`` into a parquet FILE SINK with
    a checkpoint — arrival docs staged as three files →
    ``maxFilesPerTrigger=1`` (three micro-batches) → per-batch band
    collisions appended to the sink → sink read back, distinct'd into
    candidate pairs, and verified with exact trigram Jaccard in the
    batch layer (the candidates→verify split the operator's docstring
    prescribes).  A hash-green row pins the native streaming plan
    (file-source batching, stream-static join, append sink, restart
    checkpoint) end to end against the same oracle as the batch and
    bucketed-artifact paths — three execution engines, one answer.

    The static side is the NIGHTLY BUCKETED ARTIFACT (same
    ``write_bucketed`` store as ``dedup_index_nightly_e2e``), not an
    in-session frame — the deployment truth: the 24/7 loop serves off
    the artifact the nightly job wrote, and when the store outgrows
    the broadcast threshold the bucketed layout feeds the per-batch
    join with zero store-side shuffle (at driver scales the store
    simply broadcasts).  The measured hot spot in this loop was
    elsewhere: a one-file micro-batch pipelines the 64-hash signature
    onto a single core, which is why ``streaming_incremental_dedup``
    spreads the arriving side before hashing (11.5s/batch unspread at
    sf0.1 — `lastProgress.durationMs.addBatch` — vs sub-second
    spread)."""
    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_incremental_dedup,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    corpus = docs.filter(F.col("doc_id") % 5 != 4)
    batch = docs.filter(F.col("doc_id") % 5 == 4).select("doc_id", "text")
    cand_schema = None

    def start(stream: DataFrame, base: str):
        nonlocal cand_schema
        # static side of every micro-batch's stream-static join: the
        # nightly bucketed artifact (no static-side shuffle per batch)
        store = _band_store(spark, "dedup_band_index_serving", base, corpus)
        cand_stream = streaming_incremental_dedup(stream, store, "doc_id", "text")
        cand_schema = cand_stream.schema
        return (
            cand_stream.writeStream.format("parquet")
            .option("path", f"{base}/out")
            .option("checkpointLocation", f"{base}/ckpt")
            .outputMode("append")
            .start()
        )

    out = replay_stream(batch, "doc_id", start, "dedup_serving_replay_")
    # zero-candidate replays still create the sink dir (with
    # _spark_metadata) the moment the query starts, so a bare
    # isdir check can't detect emptiness and schema inference would
    # fail on a data-less dir (round-11 advice) — read with the
    # stream's own schema instead: committed-file listing comes from
    # the sink's metadata log and an empty log yields the empty
    # typed frame.
    return _verified(
        docs, spark.read.schema(cand_schema).parquet(out),
        "corpus_id", "doc_id", distinct=True,
    )


@register(
    "streaming_dedup_within_batch",
    sql=_cross_jaccard_sql(
        """(a.doc_id % 2 = 0 AND b.doc_id % 2 = 1)
                  OR (a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
                      AND a.doc_id % 3 = b.doc_id % 3
                      AND a.doc_id < b.doc_id)"""
    ),
)
def streaming_dedup_within_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming dedup loop WITH within-micro-batch self-pairing
    (round-11 verdict #5): ``streaming_dedup_serving_replay`` pins the
    stream × store half, but two near-dup docs arriving in the SAME
    micro-batch never meet the store — this query proves the composed
    loop (``streaming/joins.py::streaming_dedup_serving_full``) flags
    them: per foreachBatch micro-batch, the arriving frame is banded
    against the store AND self-paired with the batch-layer
    ``lsh_candidate_pairs`` on the micro-batch alone.

    Corpus = even doc_ids (the nightly store), arrivals = odd,
    staged as three micro-batches by doc_id % 3 — at sf0.01 one
    near-dup arrival pair lands inside a single micro-batch, so the
    within-batch path provably contributes rows the stream-static
    join alone would miss.  The ORACLE replays exactly the serving
    contract: brute-force Jaccard over (store × arrival) pairs PLUS
    (arrival × arrival) pairs sharing a micro-batch.  Near-dup
    arrivals in DIFFERENT micro-batches are absent from BOTH sides —
    the documented deferral to the next nightly rebuild, now pinned
    as semantics instead of left implicit."""
    import os

    from prod_recommendation_pyspark_spark.streaming.joins import (
        streaming_dedup_serving_full,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    arrivals = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    store = minhash_band_keys(corpus, "doc_id", "text")

    def start(stream: DataFrame, base: str):
        def emit(df: DataFrame, batch_id: int) -> None:
            df.write.mode("append").parquet(f"{base}/out")

        return streaming_dedup_serving_full(
            stream, store, emit, "doc_id", "text",
            checkpoint_dir=f"{base}/ckpt",
        )

    out = replay_stream(arrivals, "doc_id", start, "dedup_within_batch_")
    if not os.path.isdir(out):  # no batch emitted (empty arrivals)
        return spark.createDataFrame(
            [], "id_a long, id_b long, jaccard double"
        )
    return _verified(docs, spark.read.parquet(out), distinct=True)


@register("ngram_jaccard_pairs_brute", sql=_JACCARD_SQL)
def ngram_jaccard_pairs_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ 0.8, no LSH prefilter — the
    correctness baseline (explode shingles → join on shingle →
    count)."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return (
        ngram_jaccard_pairs(docs, "doc_id", "text", shingle_words=3, threshold=0.8)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@register("prefix_filter_jaccard_pairs", sql=_JACCARD_SQL)
def prefix_filter_jaccard_pairs_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Jaccard ≥ 0.8 pairs via PPJoin-style prefix filtering
    (operators/dedup.py::prefix_filter_jaccard_pairs): the candidate
    join touches only each doc's rarest-token prefix, yet the oracle
    is the SAME brute-force SQL as ngram_jaccard_pairs_brute — the
    value hash proves candidates lose nothing.  The exact scale path
    where MinHash trades recall and brute trades the shuffle."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return (
        prefix_filter_jaccard_pairs(
            docs, "doc_id", "text", shingle_words=3, threshold=0.8
        )
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


@register("simhash_near_dup_pairs")  # no oracle: Spark-internal hash family
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(63-bit, token-level) pairs with Hamming distance ≤ 8 via
    banded blocking — EXACT (pigeonhole over 9 disjoint bit-bands), no
    cross join; see operators/dedup.py:simhash_banded_pairs.  Hash
    family is Spark's xxhash64 (not reproducible in DuckDB → rows-only
    check); banded ≡ brute-force equivalence and recall vs Jaccard
    pairs are pytests."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    sigs = simhash_signatures(docs, "doc_id", "text")
    return simhash_banded_pairs(sigs, "doc_id", "sig", max_hamming=8).orderBy(
        "id_a", "id_b"
    )


@register(
    "embedding_near_dup_pairs",
    sql="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.45
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold (0.45 —
    this corpus has no planted duplicates; the operator's production
    default is 0.95)."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    return (
        embedding_near_dup_pairs(emb, "vec_id", "embedding", threshold=0.45, brute=True)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


_TEXT_STATS_SQL = """
    WITH base AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             CASE WHEN NOT regexp_matches(text, '\\S') THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
             len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
             length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
               * 1.0 / greatest(length(text), 1) AS alpha,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 x -> list_contains(['the','a','of','and','to','in','is'], x))) AS hits_en,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 x -> list_contains(['el','la','de','que','y','los','un'], x))) AS hits_es,
             len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                 x -> list_contains(['le','la','de','et','un','que','pour'], x))) AS hits_fr
      FROM documents)
    SELECT doc_id, n_chars, n_tokens, n_bpe_tokens,
           round(n_chars * 1.0 / greatest(n_tokens, 1), 4) AS avg_token_len,
           n_punct,
           round(alpha, 4) AS alpha_ratio,
           round(CAST(0.4 AS DOUBLE) * least(n_tokens / 100.0, 1.0)
                 + CAST(0.4 AS DOUBLE) * alpha
                 + CAST(0.2 AS DOUBLE) * (CASE WHEN n_chars * 1.0 / greatest(n_tokens, 1)
                                     BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END), 6) AS quality,
           CASE WHEN hits_en = 0 AND hits_es = 0 AND hits_fr = 0 THEN 'und'
                WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
                WHEN hits_es >= hits_fr THEN 'es'
                ELSE 'fr' END AS lang_pred,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM base
    {where}
    ORDER BY doc_id
    """


@register("text_stats_documents", sql=_TEXT_STATS_SQL.format(where=""))
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass text analysis: char/token/BPE-token counts, punctuation
    and alpha ratios, composite quality score, stopword-voting language
    ID, md5 content fingerprint — all native expressions in a single
    codegen'd projection."""
    docs = Catalog(spark, sf_dir).table("documents")
    return text_stats(docs, "text", "doc_id").orderBy("doc_id")


# The stub decoder is sha256-seeded, so even the mapInPandas plumbing
# is value-oracled: DuckDB recomputes the digest byte grid per doc.
_DIGEST_BYTE_SQL = "CAST(concat('0x', substring(hx, 2*{i} - 1, 2)) AS INTEGER)"


@register(
    "multimodal_image_features",
    sql="""
    WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents)
    SELECT media_id, 8 AS n_features,
           round(list_sum(list_transform(range(1, 9),
               i -> CAST(concat('0x', substring(hx, 2*i - 1, 2)) AS INTEGER)))
               / 8.0, 4) AS f0
    FROM h ORDER BY media_id
    """,
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload column + typed
    metadata → Arrow-batched mapInPandas feature extraction.  Decode is
    a deterministic STUB (sha256-seeded pixel grid — see
    operators/multimodal.py; real codecs are not in this environment),
    which makes the whole Arrow round-trip value-checkable: the oracle
    recomputes the digest bytes in SQL.  f0 = mean of the first
    digest-byte row."""
    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_fake_payload(docs, "doc_id", "text")
    feats = extract_image_features(media, n_features=8, fake=True)
    return feats.select(
        "media_id",
        F.size("features").alias("n_features"),
        F.round(F.element_at("features", 1), 4).alias("f0"),
    ).orderBy("media_id")


@register(
    "multimodal_frame_sample",
    sql="""
    WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents),
    s AS (SELECT media_id,
                 list_sum(list_transform(range(1, 33),
                     i -> CAST(concat('0x', substring(hx, 2*i - 1, 2)) AS INTEGER))) AS bytesum
          FROM h)
    SELECT media_id, t.frame_idx,
           round(CAST(bytesum + t.frame_idx AS DOUBLE), 4) AS frame_score
    FROM s CROSS JOIN (VALUES (0), (10), (20)) t(frame_idx)
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped plumbing: per-payload frame sampling via
    mapInPandas (one row out per sampled frame, stub demux emits 3
    frames at stride ``every_n``).  Deterministic stub → full value
    oracle, same digest trick as ``multimodal_image_features``."""
    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_fake_payload(docs, "doc_id", "text")
    frames = sample_frames(media, every_n=10, fake=True)
    return frames.select(
        "media_id", "frame_idx", F.round("frame_score", 4).alias("frame_score")
    ).orderBy("media_id", "frame_idx")


@register(
    "multimodal_audio_features",
    sql="""
    WITH h AS (SELECT doc_id AS media_id, text, sha256(text) AS hx FROM documents)
    SELECT media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
           round(sqrt(list_sum(list_transform(range(1, 33),
               i -> pow(CAST(concat('0x', substring(hx, 2*i - 1, 2)) AS INTEGER), 2)))
               / 32.0), 4) AS rms
    FROM h ORDER BY media_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped plumbing: payload → (sample count, digest-waveform
    RMS) via Arrow-batched mapInPandas; deterministic stub → full value
    oracle (same digest trick as the image/frame queries)."""
    from prod_recommendation_pyspark_spark.operators.multimodal import (
        extract_audio_features,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_fake_payload(docs, "doc_id", "text")
    feats = extract_audio_features(media, fake=True)
    return feats.select(
        "media_id", "n_samples", F.round("rms", 4).alias("rms")
    ).orderBy("media_id")


@register(
    "multimodal_resize_grid",
    sql="""
    WITH h AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents),
    px AS (SELECT media_id,
           CAST(concat('0x', substring(hx, 1, 2)) AS INTEGER) AS b0,
           CAST(concat('0x', substring(hx, 9, 2)) AS INTEGER) AS b4,
           CAST(concat('0x', substring(hx, 33, 2)) AS INTEGER) AS b16,
           CAST(concat('0x', substring(hx, 41, 2)) AS INTEGER) AS b20
           FROM h)
    SELECT media_id,
           round((b0 + b4 + b16 + b20) / 4.0, 4) AS px_mean,
           CAST(least(b0, b4, b16, b20) AS DOUBLE) AS px_min,
           CAST(greatest(b0, b4, b16, b20) AS DOUBLE) AS px_max
    FROM px ORDER BY media_id
    """,
)
def multimodal_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage end-to-end: stub-decode the 4×8 digest block →
    nearest-neighbour resize to 2×2 → re-encode as netpbm → REAL
    netpbm decode → stats.  Nearest-neighbour keeps digest bytes
    {0, 4, 16, 20} ((row*4)//2 row, (col*8)//2 col sampling), so the
    oracle recomputes exactly those hex pairs in SQL — the resize
    arithmetic, the netpbm round-trip, and the Arrow plumbing are all
    under the value hash."""
    from prod_recommendation_pyspark_spark.operators.multimodal import (
        resize_images,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_fake_payload(docs, "doc_id", "text")
    resized = resize_images(media, width=2, height=2, fake=True)
    feats = extract_image_features(resized, n_features=8, fake=False)
    return feats.select(
        "media_id",
        F.round(F.element_at("features", 1), 4).alias("px_mean"),
        F.element_at("features", 3).alias("px_min"),
        F.element_at("features", 4).alias("px_max"),
    ).orderBy("media_id")


@register(
    "multimodal_audio_wav_real_decode",
    sql="""
    WITH b AS (SELECT doc_id AS media_id, encode(text) AS bl,
                      hex(encode(text)) AS hx
               FROM documents)
    SELECT media_id,
           CAST(octet_length(bl) AS BIGINT) AS n_samples,
           CASE WHEN octet_length(bl) = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE round(sqrt(list_sum(list_transform(
                         range(1, octet_length(bl) + 1),
                         i -> pow((CAST(concat('0x', substring(hx, 2*i - 1, 2))
                                        AS INTEGER) - 128.0) / 128.0, 2)))
                     / octet_length(bl)), 4) END AS rms
    FROM b ORDER BY media_id
    """,
)
def multimodal_audio_wav_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec under the value hash: text bytes are wrapped
    as genuine 8-bit mono PCM RIFF/WAV payloads (synthesize_wav_from_
    bytes), then decoded with the stdlib-``wave`` real path
    (fake=False) — header parsing, unsigned-8-bit normalization
    ((b-128)/128), and sample count all checked against DuckDB
    recomputing the same bytes via hex()."""
    from prod_recommendation_pyspark_spark.operators.multimodal import (
        extract_audio_features,
        synthesize_wav_from_bytes,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    media = attach_fake_payload(docs, "doc_id", "text")
    wavs = synthesize_wav_from_bytes(media)
    feats = extract_audio_features(wavs, fake=False)
    return feats.select(
        "media_id", "n_samples", F.round("rms", 4).alias("rms")
    ).orderBy("media_id")


@register(
    "multimodal_netpbm_real_decode",
    sql="""
    WITH b AS (SELECT doc_id AS media_id, encode(text) AS bl,
                      hex(encode(text)) AS hx
               FROM documents WHERE octet_length(encode(text)) > 0),
    px AS (SELECT media_id, octet_length(bl) AS n,
                  list_transform(range(1, octet_length(bl) + 1),
                      i -> CAST(concat('0x', substring(hx, 2*i - 1, 2))
                                AS INTEGER)) AS bytes
           FROM b)
    SELECT media_id,
           round(list_sum(bytes) / CAST(n AS DOUBLE), 4) AS px_mean,
           CAST(list_min(bytes) AS DOUBLE) AS px_min,
           CAST(list_max(bytes) AS DOUBLE) AS px_max,
           CAST(n AS DOUBLE) AS width
    FROM px ORDER BY media_id
    """,
)
def multimodal_netpbm_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec under the value hash: a genuine P5 (binary
    grayscale netpbm) payload is assembled with pure Catalyst binary
    concat — header ``P5\\n<w> 1\\n255\\n`` + the text bytes as a 1-row
    raster — then decoded by the real netpbm path (fake=False), whose
    header parsing, raster layout, and stats the oracle recomputes
    from the same bytes via hex()."""
    from prod_recommendation_pyspark_spark.operators.multimodal import (
        extract_image_features,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    body = F.encode(F.col("text"), "utf-8")
    n = F.length(body)
    header = F.encode(
        F.concat(F.lit("P5\n"), n.cast("string"), F.lit(" 1\n255\n")),
        "utf-8",
    )
    media = docs.filter(F.length(F.encode(F.col("text"), "utf-8")) > 0).select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, body).alias("payload"),
    )
    feats = extract_image_features(media, n_features=8, fake=False)
    return feats.select(
        "media_id",
        F.round(F.element_at("features", 1), 4).alias("px_mean"),
        F.element_at("features", 3).alias("px_min"),
        F.element_at("features", 4).alias("px_max"),
        F.element_at("features", 6).alias("width"),
    ).orderBy("media_id")


_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    edges AS (SELECT id_a, id_b
              FROM common
              JOIN sizes sa ON common.id_a = sa.doc_id
              JOIN sizes sb ON common.id_b = sb.doc_id
              WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(u, v) AS (SELECT u, v FROM sym
                    UNION
                    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
             FROM reach GROUP BY u)
    SELECT doc_id, component, doc_id = component AS is_canonical
    FROM comp ORDER BY doc_id
    """


@register("near_dup_clusters", sql=_CLUSTERS_SQL)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup DECISION table: LSH candidates →
    exact-Jaccard verify (≥0.8) → connected components (transitive
    closure: a~b, b~c puts {a,b,c} in one group) → canonical = min
    doc_id per component.  Docs with no near-dup are absent (nothing
    to decide).  Oracle = DuckDB recursive-CTE transitive closure over
    the brute-force Jaccard pairs.

    This is the operator a 100 TB pipeline actually runs to DROP
    duplicates: anti-join the corpus against rows with
    is_canonical=false."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        connected_components,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    cands = lsh_candidate_pairs(
        docs, "doc_id", "text", shingle_words=3, n_hashes=64, bands=16
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    verified = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_words=3, threshold=0.8, candidates=cands
    ).select("id_a", "id_b")
    cc = connected_components(verified, "id_a", "id_b")
    return cc.select(
        F.col("u").alias("doc_id"),
        "component",
        (F.col("u") == F.col("component")).alias("is_canonical"),
    ).orderBy("doc_id")


@register(
    "simhash_banded_vs_brute",
    sql="""
    SELECT CAST(0 AS BIGINT) AS sym_diff, TRUE AS has_pairs
    """,
)
def simhash_banded_vs_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The banded≡brute SimHash property, driver-checkable: the
    pigeonhole-banded pair set (operators/dedup.py:simhash_banded_pairs)
    must equal the O(n²) brute-force Hamming≤8 pair set EXACTLY —
    symmetric difference 0 — and be non-empty on this corpus.  Spark's
    xxhash64 has no DuckDB twin, so the signature VALUES can't be
    oracled; the set-equality property can (constants oracle, same
    pattern as the sketch error-bound booleans)."""
    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    sigs = simhash_signatures(docs, "doc_id", "text").persist()
    banded = simhash_banded_pairs(sigs, "doc_id", "sig", max_hamming=8).select(
        "id_a", "id_b"
    )
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(hamming64(F.col("sig_a"), F.col("sig_b")) <= 8)
        .select("id_a", "id_b")
    ).persist()
    diff = banded.exceptAll(brute).unionByName(brute.exceptAll(banded))
    return diff.agg(F.count(F.lit(1)).alias("sym_diff")).crossJoin(
        brute.agg((F.count(F.lit(1)) > 0).alias("has_pairs"))
    )


# --- Corpus-level term scoring: TF-IDF / BM25 -------------------------------

_TOKENS_SQL = """
    toks AS (
        SELECT doc_id, t.term
        FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(term)
        WHERE t.term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    corpus AS (SELECT count(*) AS n FROM documents)
"""


@register(
    "tfidf_top_terms_documents",
    sql=f"""
    WITH {_TOKENS_SQL},
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, d.df,
               tf.tf * (ln((c.n + 1.0) / (d.df + 1.0)) + 1.0) AS tfidf
        FROM tf JOIN docfreq d USING (term) CROSS JOIN corpus c
        WHERE d.df >= 2),
    ranked AS (
        SELECT doc_id, term, tf, df, round(tfidf, 5) AS tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored)
    SELECT doc_id, term, tf, df, tfidf
    FROM ranked WHERE rn <= 3
    ORDER BY doc_id, term
    """,
)
def tfidf_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smooth idf, scikit formulation) over the corpus — the
    classic keyword-extraction / quality-weighting primitive.  Top-3
    terms per document by score (row_number, term tiebreak).  Two
    shuffles: (doc, term) and term; corpus size broadcast."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        windowed_topk,
    )
    from prod_recommendation_pyspark_spark.operators.text import tfidf

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    scored = tfidf(docs, "doc_id", "text", min_df=2)
    top = windowed_topk(
        scored, "doc_id", [F.col("tfidf").desc(), F.col("term")], 3,
    )
    return top.select(
        "doc_id", "term", "tf", "df", F.round("tfidf", 5).alias("tfidf")
    ).orderBy("doc_id", "term")


@register(
    "bm25_top_terms_documents",
    sql=f"""
    WITH {_TOKENS_SQL},
    doclen AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doclen),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, d.df, l.dl,
               ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * (tf.tf * 2.2)
                 / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl)) AS bm25
        FROM tf JOIN docfreq d USING (term)
                JOIN doclen l USING (doc_id)
                CROSS JOIN stats s
        WHERE d.df >= 2),
    ranked AS (
        SELECT doc_id, term, round(bm25, 5) AS bm25,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY bm25 DESC, term) AS rn
        FROM scored)
    SELECT doc_id, term, bm25
    FROM ranked WHERE rn <= 3
    ORDER BY doc_id, term
    """,
)
def bm25_top_terms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) top-3 terms per document — the
    retrieval-grade sibling of TF-IDF; length-normalized so boilerplate
    long docs don't dominate.  Note the per-doc length table joins on
    the doc key WITHOUT a broadcast hint — it is corpus-sized."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        windowed_topk,
    )
    from prod_recommendation_pyspark_spark.operators.text import bm25

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    scored = bm25(docs, "doc_id", "text", k1=1.2, b=0.75, min_df=2)
    top = windowed_topk(
        scored, "doc_id", [F.col("bm25").desc(), F.col("term")], 3,
    )
    return top.select(
        "doc_id", "term", F.round("bm25", 5).alias("bm25")
    ).orderBy("doc_id", "term")


# --- K-means (Lloyd) — one oracle-checkable step ----------------------------
@register(
    "kmeans_one_step_embeddings",
    sql="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cent AS (SELECT vec_id AS cluster, v AS cv FROM e WHERE vec_id % 13 = 0),
    assign AS (
        SELECT vec_id, cluster FROM (
            SELECT e.vec_id, c.cluster,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY list_distance(e.v, c.cv), c.cluster) AS rn
            FROM e CROSS JOIN cent c)
        WHERE rn = 1),
    means AS (
        SELECT a.cluster, t.i AS pos, avg(e.v[t.i + 1]) AS m
        FROM assign a JOIN e USING (vec_id) CROSS JOIN range(64) t(i)
        GROUP BY a.cluster, t.i)
    SELECT cluster, CAST(pos AS INTEGER) AS pos, round(m, 6) AS mean_val
    FROM means
    ORDER BY cluster, pos
    """,
)
def kmeans_one_step_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step (assign → per-cluster element-wise mean), fully
    value-oracled: centroids are the deterministic vec_id%13 corpus
    sample (same seeding as the IVF index), assignment is nearest
    squared-L2 with lowest-cluster tiebreak, and the updated centroids
    are emitted in LONG form (cluster, pos, mean) so every element is a
    driver-hashable scalar.  Multi-iteration convergence (inertia
    non-increasing, lineage-truncated rounds) is property-tested in
    pytest — the iterative loop itself is not SQL-expressible."""
    from prod_recommendation_pyspark_spark.operators.clustering import (
        kmeans_assign,
        kmeans_update,
    )

    emb = Catalog(spark, sf_dir).table("embeddings")
    centroids = emb.filter(F.col("vec_id") % 13 == 0).select(
        F.col("vec_id").alias("cluster"),
        F.col("embedding").cast("array<double>").alias("vec"),
    )
    assigned = kmeans_assign(emb, "vec_id", "embedding", centroids)
    means = kmeans_update(assigned, emb, "vec_id", "embedding", dim=64)
    return (
        means.select(
            "cluster", F.posexplode("vec").alias("pos", "mean_val")
        )
        .select("cluster", "pos", F.round("mean_val", 6).alias("mean_val"))
        .orderBy("cluster", "pos")
    )


# --- Embedding near-dup, SCALE PATH: LSH-bucketed candidates ---------------
from prod_recommendation_pyspark_spark.operators.similarity import (  # noqa: E402
    random_hyperplane_tables,
    sign_lsh_self_pairs,
)
from prod_recommendation_pyspark_spark.queries.similarity import (  # noqa: E402
    _sig_sql,
)

_ND_TABLES = random_hyperplane_tables(64, 5, 6, seed=11)
_ND_SIGS_SQL = ",\n          ".join(
    f"{_sig_sql(t)} AS sig{i}" for i, t in enumerate(_ND_TABLES)
)
_ND_BANDED_SQL = "\n      UNION ALL ".join(
    f"SELECT vec_id, {i} AS tbl, sig{i} AS sig FROM s" for i in range(len(_ND_TABLES))
)


@register(
    "embedding_near_dup_lsh",
    sql=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id,
          {_ND_SIGS_SQL}
          FROM e),
    banded AS ({_ND_BANDED_SQL}),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded a JOIN banded b
          ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           round(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
    FROM cand JOIN e ea ON cand.id_a = ea.vec_id
              JOIN e eb ON cand.id_b = eb.vec_id
    WHERE list_cosine_similarity(ea.v, eb.v) >= 0.45
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with the SCALE path engaged: candidates come
    from 6 seeded sign-LSH tables (5 planes each) via
    ``sign_lsh_self_pairs`` — the all-pairs cross join never
    materializes — then exact cosine verification ≥ 0.45 on candidates
    only.  Fully deterministic (seeded hyperplane literals shared with
    the SQL oracle), so the driver value-checks the ENTIRE scale path:
    bucket assignment, candidate dedup across tables, and verified
    scores.  Recall vs the brute pair set is asserted in pytest
    (~0.86 at this corpus's low-cosine 'near' regime; for true
    near-dups at cosine ≥ 0.9 the same machinery prunes far harder
    with more planes — collision probability rises steeply with
    similarity)."""
    emb = Catalog(spark, sf_dir).table("embeddings")
    cands = sign_lsh_self_pairs(emb, "vec_id", "embedding", _ND_TABLES)
    verified = embedding_near_dup_pairs(
        emb, "vec_id", "embedding", threshold=0.45, candidates=cands
    )
    return verified.select(
        "id_a", "id_b", F.round("cosine", 4).alias("cosine")
    ).orderBy("id_a", "id_b")


@register(
    "quality_filter_documents",
    sql=_TEXT_STATS_SQL.format(
        where="WHERE quality >= 0.5 AND lang_pred = 'en' "
        "AND n_tokens BETWEEN 5 AND 10000"
    ),
)
def quality_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical curation filter chain over the text-stats
    projection: quality floor + language gate + token-length bounds —
    the shape every pretraining corpus pass runs before dedup.  Pure
    filter over the one-pass stats projection (predicate on computed
    columns; at scale the stats projection and filter fuse into the
    scan's WholeStageCodegen), emitting the same driver-hashable stats
    row for every SURVIVING document."""
    docs = Catalog(spark, sf_dir).table("documents")
    stats = text_stats(docs, "text", "doc_id")
    return stats.filter(
        (F.col("quality") >= 0.5)
        & (F.col("lang_pred") == "en")
        & F.col("n_tokens").between(5, 10000)
    ).orderBy("doc_id")


@register(
    "feature_hash_documents",
    sql="""
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(term)
        WHERE t.term <> ''),
    hashed AS (
        SELECT doc_id,
               CAST(list_reduce(
                   list_transform(string_split(term, ''), c -> ascii(c)),
                   (acc, x) -> (acc * 31 + x) % 1000003) % 1024 AS BIGINT) AS bucket
        FROM toks)
    SELECT doc_id, bucket, CAST(count(*) AS DOUBLE) AS weight
    FROM hashed
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def feature_hash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick vectorization (operators/text.py::feature_hash):
    fixed-width sparse features with NO vocabulary fit — the standard
    featurizer when the vocabulary is unbounded.  The term hash is a
    portable polynomial recurrence ((acc·31 + ascii) % 1000003), so the
    DuckDB oracle replays the exact same buckets — unlike xxhash64,
    every stage of this pipeline is value-checked cross-engine.
    Long-form (doc, bucket, weight) output keeps cells scalar."""
    from prod_recommendation_pyspark_spark.operators.text import feature_hash

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return feature_hash(docs, "doc_id", "text", n_buckets=1024).orderBy(
        "doc_id", "bucket"
    )


# --- Sequence prep: chunking + packing --------------------------------------
@register(
    "chunk_documents_windows",
    sql="""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
        WHERE regexp_matches(text, '\\S')),
    starts AS (
        SELECT doc_id, toks, s.start_token
        FROM d, unnest(range(0, greatest(len(toks) - 32, 1), 96)) AS s(start_token))
    SELECT doc_id,
           CAST(start_token // 96 AS INTEGER)            AS chunk_idx,
           CAST(start_token AS INTEGER)                  AS start_token,
           array_to_string(toks[start_token + 1 : start_token + 128], ' ')
                                                         AS chunk_text,
           CAST(least(len(toks) - start_token, 128) AS INTEGER)
                                                         AS n_chunk_tokens
    FROM starts
    ORDER BY doc_id, chunk_idx
    """,
)
def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (128-token chunks, 32
    overlap → stride 96) — the pretraining/RAG splitter, pure Catalyst
    (tokenize once, ``sequence`` starts, ``slice`` + ``array_join``
    per chunk).  Every output cell scalar; the oracle rebuilds the
    same windows with DuckDB list slicing."""
    from prod_recommendation_pyspark_spark.operators.text import chunk_documents

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    out = chunk_documents(docs, "doc_id", "text", chunk_tokens=128, overlap=32)
    return out.select(
        "doc_id",
        "chunk_idx",
        "start_token",
        "chunk_text",
        "n_chunk_tokens",
    ).orderBy("doc_id", "chunk_idx")


@register(
    "pack_sequences_fractional",
    sql="""
    WITH d AS (
        SELECT doc_id,
               CAST(CASE WHEN NOT regexp_matches(text, '\\S') THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END
                    AS INTEGER) AS n_tokens
        FROM documents),
    packed AS (
        SELECT doc_id, n_tokens,
               doc_id % 16 AS shard,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY doc_id % 16 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM d)
    SELECT doc_id, n_tokens, shard,
           CAST(cum_before AS BIGINT) AS cum_before,
           CAST(cum_before // 512 AS BIGINT) AS pack_id
    FROM packed
    ORDER BY doc_id
    """,
)
def pack_sequences_fractional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted sequence packing, fractional variant (concat-then-split
    trainer convention): deterministic shard, per-shard exclusive
    running token total, pack = floor(cumsum / budget).  One shuffle;
    the oracle recomputes shard, cumsum, and pack assignment from
    scratch.  The exact next-fit variant (docs never straddle packs)
    is applyInPandas-based and property-tested in pytest."""
    from prod_recommendation_pyspark_spark.operators.text import (
        pack_sequences,
        token_count,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    sized = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    out = pack_sequences(sized, "doc_id", "n_tokens", budget=512, n_shards=16)
    return out.select(
        "doc_id", "n_tokens", "shard", "cum_before", "pack_id"
    ).orderBy("doc_id")


@register(
    "stratified_sample_documents",
    sql="""
    WITH langs AS (
        SELECT doc_id,
               CASE WHEN hits_en = 0 AND hits_es = 0 AND hits_fr = 0 THEN 'und'
                    WHEN hits_en >= hits_es AND hits_en >= hits_fr THEN 'en'
                    WHEN hits_es >= hits_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred
        FROM (SELECT doc_id,
                 len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> list_contains(['the','a','of','and','to','in','is'], x))) AS hits_en,
                 len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> list_contains(['el','la','de','que','y','los','un'], x))) AS hits_es,
                 len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> list_contains(['le','la','de','et','un','que','pour'], x))) AS hits_fr
              FROM documents)),
    keyed AS (
        SELECT doc_id, lang_pred,
               list_reduce(list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
                                          c -> ascii(c)),
                           (acc, x) -> (acc * 31 + x) % 1000003) AS draw
        FROM langs),
    ranked AS (
        SELECT doc_id, lang_pred, draw,
               row_number() OVER (PARTITION BY lang_pred
                                  ORDER BY draw, doc_id) AS sample_rank
        FROM keyed)
    SELECT lang_pred, doc_id, draw, CAST(sample_rank AS INTEGER) AS sample_rank
    FROM ranked WHERE sample_rank <= 20
    ORDER BY lang_pred, sample_rank
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — up to 20 docs per
    predicted language, 'randomly' drawn by ordering on the portable
    polynomial hash of the doc id.  The standard curation subsample
    (per-stratum quota), but REPRODUCIBLE and cross-engine-checkable:
    unlike ``sample()``/``rand()``, the draw order is a pure function
    of the key, so the oracle replays the exact same sample.  One
    shuffle on the stratum; windowed top-N applies the quota."""
    from prod_recommendation_pyspark_spark.operators.relational import (
        windowed_topk,
    )
    from prod_recommendation_pyspark_spark.operators.text import (
        language_id,
        portable_term_hash,
    )

    docs = Catalog(spark, sf_dir).table("documents")
    keyed = docs.select(
        "doc_id",
        language_id(F.col("text")).alias("lang_pred"),
        portable_term_hash(F.col("doc_id").cast("string")).alias("draw"),
    )
    return (
        windowed_topk(
            keyed,
            "lang_pred",
            [F.col("draw"), F.col("doc_id")],
            20,
            rank_col="sample_rank",
        )
        .select("lang_pred", "doc_id", "draw", "sample_rank")
        .orderBy("lang_pred", "sample_rank")
    )


# --- Winnowing fingerprints (rolling k-gram hash + window minimum) ----------

_WINNOW_K, _WINNOW_W, _WINNOW_MIN_SHARED = 16, 12, 5

# DuckDB transliteration of winnow_fingerprints (operators/text.py):
# 1-based inclusive slicing s[i:i+k-1] mirrors Spark substr(i, k); the
# gram hash seeds DuckDB's list_reduce with the first element, which
# equals Spark's 0-seeded fold because (0*31 + c1) % p = c1; the CASE
# guards list_reduce's empty-list error for an empty normalized text
# (Spark's fold returns the 0 seed there).
_WINNOW_FPS_SQL = f"""
    g AS (SELECT doc_id, list_transform(
            range(1, greatest(length(s) - {_WINNOW_K - 1}, 1) + 1),
            i -> CASE WHEN length(s[i:i+{_WINNOW_K - 1}]) = 0 THEN 0
                 ELSE list_reduce(
                     list_transform(string_split(s[i:i+{_WINNOW_K - 1}], ''),
                                    ch -> ascii(ch)),
                     (acc, x) -> (acc * 31 + x) % 1000003) END) AS grams
          FROM c),
    wmin AS (SELECT doc_id, list_sort(list_distinct(
               list_transform(range(1, greatest(len(grams) - {_WINNOW_W - 1}, 1) + 1),
                              j -> list_aggregate(grams[j:j+{_WINNOW_W - 1}], 'min')))) AS fps
             FROM g)
"""


@register(
    "winnow_fingerprints_documents",
    sql=f"""
    WITH c AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
               FROM documents WHERE doc_id % 10 = 0),
    {_WINNOW_FPS_SQL}
    SELECT doc_id, unnest(fps) AS fingerprint
    FROM wmin ORDER BY doc_id, fingerprint
    """,
)
def winnow_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003
    — the MOSS fingerprinter; operators/text.py::winnow_fingerprints):
    min-hash-per-window over portable polynomial k-gram hashes, k=16
    w=12, long-form (doc_id, fingerprint).  Every stage is a plain
    expression transliterated into the DuckDB oracle, so the selected
    fingerprints themselves are value-checked cross-engine (unlike the
    xxhash64-based SimHash family, which is rows-only)."""
    from prod_recommendation_pyspark_spark.operators.text import winnow_fingerprints

    docs = _spread(Catalog(spark, sf_dir).table("documents")).filter(
        F.col("doc_id") % 10 == 0
    )
    return winnow_fingerprints(
        docs, "doc_id", "text", k=_WINNOW_K, w=_WINNOW_W
    ).orderBy("doc_id", "fingerprint")


@register(
    "winnow_dedup_candidates",
    sql=f"""
    WITH c AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
               FROM documents),
    {_WINNOW_FPS_SQL},
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM wmin),
    keep AS (SELECT fingerprint FROM fp GROUP BY fingerprint
             HAVING count(*) <= 10000),
    fpk AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN keep USING (fingerprint))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
    FROM fpk a JOIN fpk b USING (fingerprint)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    ORDER BY id_a, id_b
    """,
)
def winnow_dedup_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by shared winnowing fingerprints (k=16, w=12,
    ≥5 shared): the fingerprint-overlap complement to MinHash-LSH —
    winnowing LOCALIZES matches, so one shared ≥27-char passage is
    caught regardless of whole-document Jaccard.  At these parameters
    the pair set coincides exactly with the verified Jaccard≥0.8 set
    at sf0.01 (recall 1.0, zero false candidates; 27/28 at sf0.001 —
    a many-short-spans pair can evade the ≥ k+w-1 passage guarantee;
    see tests/test_llm_pipeline.py).  One shuffle on the fingerprint,
    one
    on the pair key; ubiquitous fingerprints are df-capped
    (cartesian-bomb guard, as MinHash's max_bucket)."""
    from prod_recommendation_pyspark_spark.operators.text import (
        winnow_dedup_candidates,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return winnow_dedup_candidates(
        docs, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, min_shared=_WINNOW_MIN_SHARED,
    ).orderBy("id_a", "id_b")


_EDIT_MAX, _EDIT_PREFIX = 40, 200


@register(
    "edit_distance_near_dup_docs",
    sql=f"""
    WITH c AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
               FROM documents),
    {_WINNOW_FPS_SQL},
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM wmin),
    keep AS (SELECT fingerprint FROM fp GROUP BY fingerprint
             HAVING count(*) <= 10000),
    fpk AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN keep USING (fingerprint)),
    cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
             FROM fpk a JOIN fpk b USING (fingerprint)
             WHERE a.doc_id < b.doc_id
             GROUP BY 1, 2
             HAVING count(*) >= {_WINNOW_MIN_SHARED})
    SELECT cand.id_a, cand.id_b, cand.n_shared,
           levenshtein(ca.s[1:{_EDIT_PREFIX}], cb.s[1:{_EDIT_PREFIX}])
               AS edit_distance
    FROM cand JOIN c ca ON ca.doc_id = cand.id_a
              JOIN c cb ON cb.doc_id = cand.id_b
    WHERE levenshtein(ca.s[1:{_EDIT_PREFIX}], cb.s[1:{_EDIT_PREFIX}])
          <= {_EDIT_MAX}
    ORDER BY id_a, id_b
    """,
)
def edit_distance_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs: winnow-blocked candidates VERIFIED by
    Levenshtein distance ≤ 40 on the 200-char normalized prefix
    (operators/dedup.py::edit_distance_verify).  The set-based
    measures already registered (Jaccard / containment / SimHash) are
    order-blind; edit distance is the one that tells a true
    small-patch near-dup from a shingle-preserving scramble — the
    verify stage a crawl-dedup pipeline runs on its blocked candidate
    pairs before clustering.  Candidates come from the winnowing
    generator (deterministic, oracle-transliterated), the verify DP is
    banded O(len·k) via Spark's thresholded ``levenshtein``, and the
    emitted distance is an exact integer — the whole pipeline is a
    full value oracle, blocked end-to-end (no all-pairs stage
    anywhere)."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        edit_distance_verify,
    )
    from prod_recommendation_pyspark_spark.operators.text import (
        winnow_dedup_candidates,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    cand = winnow_dedup_candidates(
        docs, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, min_shared=_WINNOW_MIN_SHARED,
    )
    return edit_distance_verify(
        cand, docs, "doc_id", "text",
        max_edits=_EDIT_MAX, prefix_chars=_EDIT_PREFIX,
    ).select("id_a", "id_b", "n_shared", "edit_distance").orderBy(
        "id_a", "id_b"
    )


# --- PII redaction + benchmark decontamination ------------------------------

# RE2-safe (no lookaround) so DuckDB replays them verbatim — parity of
# the REDACTED TEXT ITSELF is value-checked, not just match counts.
_PII_SQL_PATS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"\+?\d[\d().-]{7,}\d"),
]
_PII_AUG_SQL = (
    "concat(text, ' contact ', source, '@example.com ip 10.0.', "
    "CAST(doc_id % 256 AS VARCHAR), '.7 ssn 123-45-6789 tel 555-010-', "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"
)
_PII_COUNTS_SQL = ",\n           ".join(
    f"len(regexp_extract_all(aug, '{p}')) AS n_{n}" for n, p in _PII_SQL_PATS
)
_PII_CHAIN_SQL = "aug"
for _n, _p in _PII_SQL_PATS:
    _PII_CHAIN_SQL = f"regexp_replace({_PII_CHAIN_SQL}, '{_p}', '[PII]', 'g')"


@register(
    "redact_pii_documents",
    sql=f"""
    WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents)
    SELECT doc_id,
           {_PII_COUNTS_SQL},
           {_PII_CHAIN_SQL} AS text_redacted
    FROM a ORDER BY doc_id
    """,
)
def redact_pii_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py::redact_pii) over documents
    augmented with deterministic PII-shaped spans derived from the
    row itself (the synthetic corpus contains none, so the query
    plants email/ipv4/ssn/phone per row and proves they come out).
    Counts are per-pattern matches on the ORIGINAL text (the SSN also
    counts as a phone-shaped span — the chain order email → ipv4 →
    ssn → phone decides who redacts it, and the oracle replays the
    identical chain).  Pure codegen'd projection, no shuffle."""
    from prod_recommendation_pyspark_spark.operators.text import redact_pii

    docs = Catalog(spark, sf_dir).table("documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact "),
            F.col("source"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel 555-010-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("aug"),
    )
    return (
        redact_pii(aug, "aug", out_col="text_redacted")
        .select(
            "doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone", "text_redacted"
        )
        .orderBy("doc_id")
    )


_DECON_N, _DECON_MOD, _DECON_RES = 8, 7, 3
# 8-word shingles, mirroring word_shingles: slice(w, i, 8) for
# i in 1..greatest(len-7, 1) — the range/greatest shift is the same
# idiom as _SHINGLES_SQL (n=3) above.
_DECON_SH_SQL = (
    "list_transform(range(1, greatest(len(w) - {m}, 2)), "
    "i -> array_to_string(w[i:i+{s}], ' '))"
).format(m=_DECON_N - 2, s=_DECON_N - 1)


_DECON_ORACLE_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split_regex(text, '\\s+') AS w
                  FROM documents),
    c_sh AS (SELECT DISTINCT doc_id, unnest({_DECON_SH_SQL}) AS s
             FROM toks WHERE doc_id % {_DECON_MOD} <> {_DECON_RES}),
    b_sh AS (SELECT DISTINCT unnest({_DECON_SH_SQL}) AS s
             FROM toks WHERE doc_id % {_DECON_MOD} = {_DECON_RES}),
    hits AS (SELECT doc_id, count(*) AS n_contaminated
             FROM c_sh JOIN b_sh USING (s) GROUP BY doc_id)
    SELECT t.doc_id,
           coalesce(h.n_contaminated, 0) AS n_contaminated,
           coalesce(h.n_contaminated, 0) >= 1 AS contaminated
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {_DECON_MOD} <> {_DECON_RES}) t
    LEFT JOIN hits h ON t.doc_id = h.doc_id
    ORDER BY t.doc_id
    """


@register("decontaminate_documents", sql=_DECON_ORACLE_SQL)
def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/text.py::decontaminate):
    treat doc_id % 7 == 3 as the held-out eval set, flag every other
    document sharing ≥ 1 distinct 8-word shingle with it — the
    leakage check a pretraining corpus runs before training.  On this
    corpus the flagged set is exactly the near-dup twins of benchmark
    members (11 docs at sf0.01), so the query doubles as evidence the
    shingle join finds real leakage, not noise.  One shuffle keyed by
    shingle + one by doc id."""
    from prod_recommendation_pyspark_spark.operators.text import decontaminate

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    bench = docs.filter(F.col("doc_id") % _DECON_MOD == _DECON_RES)
    corpus = docs.filter(F.col("doc_id") % _DECON_MOD != _DECON_RES)
    return decontaminate(
        corpus, bench, "doc_id", "text", shingle_words=_DECON_N, min_overlap=1
    ).orderBy("doc_id")


@register("decontaminate_bloom_documents", sql=_DECON_ORACLE_SQL)
def decontaminate_bloom_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB decontamination path
    (operators/text.py::decontaminate_bloom): the benchmark's shingle
    set folded into a broadcast Bloom bitset tested in the corpus scan
    projection (codegen'd bit arithmetic), exact verify confined to
    the ~2% of shingles that pass.  Because the verify join removes
    every false positive, the result is EXACTLY the exact operator's —
    this query shares `decontaminate_documents`' full value oracle,
    which is the proof the prefilter loses nothing."""
    from prod_recommendation_pyspark_spark.operators.text import (
        decontaminate_bloom,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    bench = docs.filter(F.col("doc_id") % _DECON_MOD == _DECON_RES)
    corpus = docs.filter(F.col("doc_id") % _DECON_MOD != _DECON_RES)
    return decontaminate_bloom(
        corpus, bench, "doc_id", "text", shingle_words=_DECON_N, min_overlap=1
    ).orderBy("doc_id")


_LEAKAGE_SQL = f"""
    WITH RECURSIVE {_SHINGLES_SQL},
    edges AS (SELECT id_a, id_b
              FROM common
              JOIN sizes sa ON common.id_a = sa.doc_id
              JOIN sizes sb ON common.id_b = sb.doc_id
              WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(u, v) AS (SELECT u, v FROM sym
                    UNION
                    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
             FROM reach GROUP BY u)
    SELECT d.doc_id,
           coalesce(c.component, d.doc_id) AS group_id,
           CASE WHEN coalesce(c.component, d.doc_id) % 10 < 8
                THEN 'train' ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ORDER BY d.doc_id
    """


@register("leakage_safe_split_documents", sql=_LEAKAGE_SQL)
def leakage_safe_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: a near-duplicate of a training
    document must never land in the eval set (the contamination that
    inflates benchmark scores), so the split key is the near-dup
    CLUSTER, not the document — every member of a component inherits
    the component's deterministic modulo split; singletons split by
    their own id.  Composition of the engine's own primitives:
    LSH candidates → exact-Jaccard verify → connected components →
    ``modulo_split`` on the group id.  The oracle replays the closure
    with a recursive CTE and the same modulo rule; a pytest asserts
    zero cross-split near-dup pairs."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        connected_components,
    )
    from prod_recommendation_pyspark_spark.operators.relational import (
        modulo_split,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    cands = lsh_candidate_pairs(
        docs, "doc_id", "text", shingle_words=3, n_hashes=64, bands=16
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    verified = ngram_jaccard_pairs(
        docs, "doc_id", "text", shingle_words=3, threshold=0.8, candidates=cands
    ).select("id_a", "id_b")
    cc = connected_components(verified, "id_a", "id_b")
    grouped = (
        docs.select("doc_id")
        .join(
            cc.select(F.col("u").alias("doc_id"), "component"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("group_id"),
        )
    )
    return (
        modulo_split(grouped, "group_id", n_buckets=10, train_buckets=8)
        .select("doc_id", "group_id", "split")
        .orderBy("doc_id")
    )


@register(
    "html_extract_documents",
    sql=r"""
    WITH enc AS (
        SELECT doc_id, lang,
               replace(replace(replace(text, '&', '&amp;'),
                               '<', '&lt;'), '>', '&gt;') AS t
        FROM documents),
    html AS (
        SELECT doc_id, lang,
               '<html><head><title>T</title><script type="x">if(a<1){b}'
               || '</script><style>p{color:red}</style></head><body><h1>'
               || lang || '</h1><!-- meta --><p>' || t
               || '</p></body></html>' AS h
        FROM enc),
    s1 AS (SELECT doc_id, lang,
                  regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g')
                      AS h FROM html),
    s2 AS (SELECT doc_id, lang,
                  regexp_replace(h, '(?is)<style[^>]*>.*?</style>', ' ', 'g')
                      AS h FROM s1),
    s3 AS (SELECT doc_id, lang,
                  regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM s2),
    s4 AS (SELECT doc_id, lang,
                  regexp_replace(h, '<[^>]+>', ' ', 'g') AS h FROM s3),
    dec AS (
        SELECT doc_id, lang,
               replace(replace(replace(replace(replace(replace(h,
                   '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS h
        FROM s4)
    SELECT doc_id, lang,
           trim(regexp_replace(h, '\s+', ' ', 'g')) AS extracted_text
    FROM dec ORDER BY doc_id
    """,
)
def html_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping end-to-end (operators/text.py::strip_markup —
    the trafilatura-lite HTML→text ingest step): each document is
    deterministically wrapped in an HTML page (script + style blocks,
    a comment, entity-encoded body) and then extracted; the value hash
    covers the full encode→strip→decode round-trip, and the DuckDB
    oracle replays the identical RE2-safe regex chain.  Pure
    projection — scan speed at any corpus size."""
    from prod_recommendation_pyspark_spark.operators.text import strip_markup

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    enc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    html = F.concat(
        F.lit(
            '<html><head><title>T</title><script type="x">if(a<1){b}'
            "</script><style>p{color:red}</style></head><body><h1>"
        ),
        F.col("lang"),
        F.lit("</h1><!-- meta --><p>"),
        enc,
        F.lit("</p></body></html>"),
    )
    return docs.select(
        "doc_id",
        "lang",
        strip_markup(html).alias("extracted_text"),
    ).orderBy("doc_id")


@register(
    "url_dedup_documents",
    sql=r"""
    WITH variants AS (
        SELECT doc_id,
               'https://data.example.com/corpus/' || lang || '/' || doc_id
                   AS url
        FROM documents
        UNION ALL
        SELECT doc_id,
               'HTTPS://DATA.Example.COM:443/corpus/' || lang || '/' || doc_id
               || '/?utm_source=feed&utm_medium=rss#top' AS url
        FROM documents),
    n0 AS (SELECT doc_id,
                  lower(regexp_extract(url, '^([^/]+//[^/?#]*)', 1))
                  || regexp_replace(url, '^[^/]+//[^/?#]*', '') AS u
           FROM variants),
    n1 AS (SELECT doc_id, regexp_replace(u,
               '^(http://[^/?#]*):80([/?#]|$)', '\1\2') AS u FROM n0),
    n2 AS (SELECT doc_id, regexp_replace(u,
               '^(https://[^/?#]*):443([/?#]|$)', '\1\2') AS u FROM n1),
    n3 AS (SELECT doc_id, regexp_replace(u, '#.*$', '') AS u FROM n2),
    n4 AS (SELECT doc_id, regexp_replace(u,
               '&(utm_[a-z]+|fbclid|gclid)=[^&#]*', '', 'g') AS u FROM n3),
    n5 AS (SELECT doc_id, regexp_replace(u,
               '\?(utm_[a-z]+|fbclid|gclid)=[^&#]*&', '?') AS u FROM n4),
    n6 AS (SELECT doc_id, regexp_replace(u,
               '\?(utm_[a-z]+|fbclid|gclid)=[^&#]*$', '') AS u FROM n5),
    n7 AS (SELECT doc_id, regexp_replace(u, '\?$', '') AS u FROM n6),
    n8 AS (SELECT doc_id, regexp_replace(u, '([^:/])/$', '\1') AS u FROM n7)
    SELECT u AS url, count(*) AS n_variants, min(doc_id) AS doc_id
    FROM n8 GROUP BY u ORDER BY doc_id
    """,
)
def url_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (operators/text.py::normalize_url — the crawl
    pipeline's cheapest dedup, run BEFORE any content is compared):
    every document gets two deterministic URL variants — canonical,
    and a messy twin (uppercased host, explicit :443, two utm params,
    fragment, trailing slash) — which must collapse to ONE normalized
    key with n_variants = 2.  The value hash covers every
    normalization rule; the oracle replays the identical RE2 chain."""
    from prod_recommendation_pyspark_spark.operators.text import normalize_url

    docs = Catalog(spark, sf_dir).table("documents")
    base = F.concat(
        F.lit("https://data.example.com/corpus/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id"),
    )
    messy = F.concat(
        F.lit("HTTPS://DATA.Example.COM:443/corpus/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id"),
        F.lit("/?utm_source=feed&utm_medium=rss#top"),
    )
    variants = docs.select(
        "doc_id", F.explode(F.array(base, messy)).alias("url")
    )
    return (
        variants.select("doc_id", normalize_url(F.col("url")).alias("url"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_variants"),
            F.min("doc_id").alias("doc_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "segment_dedup_documents",
    sql=r"""
    WITH w AS (SELECT doc_id,
                      CASE WHEN regexp_matches(text, '\S')
                           THEN string_split_regex(trim(lower(text)), '\s+')
                           ELSE [] END AS w
               FROM documents),
    seg AS (SELECT doc_id, CAST(i AS INT) AS pos,
                   array_to_string(
                       w[CAST(i*3+1 AS BIGINT):CAST(i*3+3 AS BIGINT)],
                       ' ') AS seg
            FROM w, unnest(range(0, CAST(ceil(len(w)/3.0) AS BIGINT))) AS t(i)),
    cnt AS (SELECT seg, count(*) AS c FROM seg GROUP BY seg),
    kept AS (SELECT doc_id, pos, seg
             FROM seg JOIN cnt USING (seg) WHERE c <= 1),
    re AS (SELECT doc_id, count(*) AS n_kept,
                  string_agg(seg, ' ' ORDER BY pos) AS clean_text
           FROM kept GROUP BY doc_id),
    tot AS (SELECT doc_id, CAST(ceil(len(w)/3.0) AS INT) AS n_segments
            FROM w)
    SELECT t.doc_id, t.n_segments,
           coalesce(re.n_kept, 0) AS n_kept,
           coalesce(re.clean_text, '') AS clean_text
    FROM tot t LEFT JOIN re USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def segment_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-segment removal with reassembly
    (operators/text.py::segment_dedup — the CCNet line-dedup pass):
    3-word tiles that occur more than once ANYWHERE in the corpus are
    dropped from every document, and survivors are stitched back in
    original order.  At sf0.01 ~15% of tile keys are corpus-dups, so
    every stage provably fires.  The value hash covers the tiling,
    the global occurrence count, the keep-filter, AND the
    order-preserving reassembly (``string_agg ORDER BY pos`` vs
    ``array_sort(collect_list(struct))``)."""
    from prod_recommendation_pyspark_spark.operators.text import segment_dedup

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return segment_dedup(
        docs, "doc_id", "text", seg_words=3, max_occurrences=1
    ).orderBy("doc_id")


@register(
    "heavy_hitters_bigrams",
    sql=r"""
    WITH toks AS (SELECT string_split_regex(text, '\s+') AS w FROM documents),
    g AS (SELECT array_to_string(w[CAST(i AS BIGINT):CAST(i + 1 AS BIGINT)],
                                 ' ') AS item
          FROM toks,
               unnest(range(1, CAST(greatest(len(w) - 1, 1) AS BIGINT) + 1))
                   AS t(i)),
    n AS (SELECT count(*) AS total FROM g),
    c AS (SELECT item, count(*) AS n_occurrences FROM g GROUP BY item)
    SELECT item, n_occurrences,
           round(n_occurrences / total, 6) AS frac
    FROM c CROSS JOIN n
    WHERE n_occurrences > total * 0.00125
    ORDER BY item
    """,
)
def heavy_hitters_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent word-bigrams above 0.125% of all occurrences
    (operators/text.py::heavy_hitters — per-partition Misra-Gries
    sketch, candidate union, exact recount).  The oracle is a plain
    GROUP BY ... HAVING: hash equality proves the bounded-memory
    two-phase plan loses nothing vs the full-cardinality shuffle it
    replaces at 100 TB."""
    from prod_recommendation_pyspark_spark.operators.text import heavy_hitters

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    words = F.split(F.col("text"), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - 1, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(words, i, 2)),
    )
    items = docs.select(F.explode(grams).alias("item"))
    return heavy_hitters(items, "item", k=1000, min_frac=0.00125).orderBy(
        "item"
    )


@register(
    "weighted_sample_documents",
    sql="""
    WITH u AS (
        SELECT doc_id, n_chars,
               ((((doc_id % 4294967296) // 65536) * 2654435761 % 4294967296)
                * 65536 + (doc_id % 65536) * 2654435761) % 4294967296
               / 4294967296.0 AS u
        FROM documents WHERE n_chars > 0)
    SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           round(pow(u, 1.0 / n_chars), 12) AS draw_key
    FROM u
    ORDER BY draw_key DESC, doc_id
    LIMIT 100
    """,
)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (the
    A-Res / Efraimidis-Spirakis scheme: draw key ``u^(1/w)``, keep the
    top-k — here w = document length, so longer documents are
    proportionally likelier, the classic length-weighted corpus
    draw).  ``u`` is the portable integer hash (reshuffle-stable, no
    RNG state) and the key is rounded to 12 digits before ranking so
    ``pow``'s 1-ULP engine variance cannot reorder the cut; doc_id
    breaks exact ties.  Top-k plans as TakeOrdered — per-partition
    heads + a k-row driver merge, no global sort at any scale."""
    from prod_recommendation_pyspark_spark.operators.text import uniform_hash

    docs = Catalog(spark, sf_dir).table("documents").filter(
        F.col("n_chars") > 0
    )
    key = F.round(
        F.pow(uniform_hash(F.col("doc_id")), 1.0 / F.col("n_chars")), 12
    )
    return (
        docs.select("doc_id", "n_chars", key.alias("draw_key"))
        .orderBy(F.col("draw_key").desc(), "doc_id")
        .limit(100)
    )


@register(
    "containment_dedup_pairs",
    sql=f"""
    WITH {_SHINGLES_SQL}
    SELECT id_a, id_b, sa.n AS na, sb.n AS nb,
           round(c * 1.0 / least(sa.n, sb.n), 4) AS containment
    FROM common
    JOIN sizes sa ON common.id_a = sa.doc_id
    JOIN sizes sb ON common.id_b = sb.doc_id
    WHERE c * 1.0 / least(sa.n, sb.n) >= 0.7
    ORDER BY id_a, id_b
    """,
)
def containment_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (c / min set size >= 0.7):
    catches short-doc-inside-long-doc duplication that the symmetric
    Jaccard queries structurally miss — the aggregator/quote case.
    Same brute shingle self-join as ``ngram_jaccard_pairs_brute`` with
    a different, asymmetric score; at 100 TB, feed it LSH candidates
    exactly as the Jaccard verify path does."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    return (
        ngram_containment_pairs(
            docs, "doc_id", "text", shingle_words=3, threshold=0.7
        )
        .select(
            "id_a",
            "id_b",
            "na",
            "nb",
            F.round("containment", 4).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


# --- Count-min sketch: fixed-memory frequency estimation contract ----------
@register(
    "count_min_contract_terms",
    sql=r"""
    WITH toks AS (
        SELECT t.term FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS t(term)
        WHERE t.term <> ''),
    exact AS (SELECT term, count(*) AS n_exact FROM toks GROUP BY term),
    probes AS (SELECT term, n_exact FROM exact
               ORDER BY n_exact DESC, term LIMIT 10),
    cells AS (
        SELECT d.j,
               CAST(list_reduce(
                   list_transform(
                       string_split(CAST(d.j AS VARCHAR) || ':' || term, ''),
                       c -> ascii(c)),
                   (acc, x) -> (acc * 31 + x) % 1000003) % 256 AS BIGINT)
                   AS bucket,
               count(*) AS cnt
        FROM toks, unnest([0, 1, 2, 3]) AS d(j)
        GROUP BY 1, 2),
    pb AS (
        SELECT p.term, p.n_exact, d.j,
               CAST(list_reduce(
                   list_transform(
                       string_split(CAST(d.j AS VARCHAR) || ':' || p.term, ''),
                       c -> ascii(c)),
                   (acc, x) -> (acc * 31 + x) % 1000003) % 256 AS BIGINT)
                   AS bucket
        FROM probes p, unnest([0, 1, 2, 3]) AS d(j)),
    est AS (
        SELECT pb.term, pb.n_exact,
               min(coalesce(c.cnt, 0)) AS n_est
        FROM pb LEFT JOIN cells c USING (j, bucket)
        GROUP BY 1, 2)
    SELECT term, CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_est AS BIGINT) AS n_est,
           n_est >= n_exact AS over_ok
    FROM est
    ORDER BY n_exact DESC, term
    """,
)
def count_min_contract_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation
    (operators/text.py::count_min_cells / count_min_estimate) over the
    corpus term stream, audited against exact counts for the 10
    heaviest terms: ``n_est`` from a 4×256-cell sketch next to
    ``n_exact`` from the full GROUP BY, plus the never-underestimates
    guarantee as a boolean.  The hash family is the portable
    polynomial recurrence parameterized by the row index, so the
    DuckDB oracle replays every cell and every estimate exactly —
    the sketch itself sits under the value hash, not just its
    contract.

    Scale shape: the cell table is a grouped count whose output is
    ≤ depth×width rows regardless of corpus size (map-side partial
    aggregation IS the sketch merge); probing is a broadcast join
    against those ≤1024 rows.  At 100 TB this answers "how often does
    term X occur" without ever shuffling the vocabulary — the
    fixed-memory companion to the exact-but-bounded
    ``heavy_hitters``."""
    from prod_recommendation_pyspark_spark.operators.text import (
        count_min_cells,
        count_min_estimate,
        tokens,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    src = docs.select(
        F.explode(tokens(F.lower(F.col("text")))).alias("term")
    ).filter(F.col("term") != "")
    exact = src.groupBy("term").agg(F.count(F.lit(1)).alias("n_exact"))
    probes = exact.orderBy(F.desc("n_exact"), "term").limit(10)
    cells = count_min_cells(src, "term", width=256, depth=4)
    est = count_min_estimate(
        cells, probes.select("term"), "term", width=256, depth=4
    )
    return (
        probes.join(est, "term")
        .select(
            "term",
            "n_exact",
            "n_est",
            (F.col("n_est") >= F.col("n_exact")).alias("over_ok"),
        )
        .orderBy(F.desc("n_exact"), "term")
    )


# --- Inverted index: posting lists + corpus term statistics -----------------
@register(
    "inverted_index_documents",
    sql=r"""
    WITH occ AS (
        SELECT doc_id, t.term
        FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS t(term)
        WHERE t.term <> ''),
    pd AS (SELECT term, doc_id, count(*) AS c FROM occ GROUP BY 1, 2),
    agg AS (
        SELECT term,
               count(*) AS df,
               CAST(sum(c) AS BIGINT) AS cf,
               array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',')
                   AS postings
        FROM pd GROUP BY term)
    SELECT term, df, cf, postings
    FROM agg
    ORDER BY df DESC, term
    LIMIT 200
    """,
)
def inverted_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/text.py::inverted_index): the
    200 highest-df terms with exact document/collection frequencies
    and the head of each sorted posting list — term → docs, the
    search-engine indexing primitive the scoring queries (bm25, tfidf)
    assume exists.  The posting arrays themselves sit under the value
    hash (array_sort kills collect_list's arrival-order
    nondeterminism; the DuckDB oracle's ordered list() matches
    element-for-element).

    Scale: two keyed shuffles — (term, doc) then term — both with
    map-side partial aggregation; the posting cap bounds the hot-term
    (stopword) reducer rows while df/cf stay exact; the top-200 cut
    plans as TakeOrdered (per-partition heads + a 200-row driver
    merge)."""
    from prod_recommendation_pyspark_spark.operators.text import inverted_index

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    idx = inverted_index(docs, "doc_id", "text", max_postings=20)
    # the driver's value-hash canonicalizer can't sort/hash array
    # cells — serialize the (already sorted) posting head to a
    # comma-joined string; the oracle's array_to_string matches
    return (
        idx.select(
            "term",
            "df",
            "cf",
            F.array_join(
                F.transform(F.col("postings"), lambda x: x.cast("string")),
                ",",
            ).alias("postings"),
        )
        .orderBy(F.desc("df"), "term")
        .limit(200)
    )


# --- Sorted-neighborhood blocking + edit-distance verify ---------------------
_SNM_WINDOW, _SNM_KEY_CHARS = 5, 40


@register(
    "sorted_neighborhood_near_dup_docs",
    sql=f"""
    WITH c AS (SELECT doc_id,
                      regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
               FROM documents),
    k AS (SELECT doc_id, s[1:{_SNM_KEY_CHARS}] AS key FROM c),
    r AS (SELECT doc_id, key,
                 row_number() OVER (ORDER BY key, doc_id) AS rank
          FROM k),
    cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    b.rank - a.rank AS rank_gap
             FROM r a JOIN r b
               ON b.rank - a.rank BETWEEN 1 AND {_SNM_WINDOW - 1})
    SELECT cand.id_a, cand.id_b,
           CAST(cand.rank_gap AS BIGINT) AS rank_gap,
           levenshtein(ca.s[1:{_EDIT_PREFIX}], cb.s[1:{_EDIT_PREFIX}])
               AS edit_distance
    FROM cand JOIN c ca ON ca.doc_id = cand.id_a
              JOIN c cb ON cb.doc_id = cand.id_b
    WHERE levenshtein(ca.s[1:{_EDIT_PREFIX}], cb.s[1:{_EDIT_PREFIX}])
          <= {_EDIT_MAX}
    ORDER BY id_a, id_b
    """,
)
def sorted_neighborhood_near_dup_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sorted-neighborhood near-dup detection
    (operators/dedup.py::sorted_neighborhood_pairs → edit-distance
    verify): sort the corpus by the 40-char normalized-text prefix,
    pair every document with its ≤4 sort neighbors, keep pairs within
    40 edits on the 200-char prefix.  This blocker is complementary to
    the hash family (MinHash/SimHash/winnow need a SHARED shingle or
    fingerprint; the sort key only needs to be CLOSE) — the classic
    merge/purge strategy for typo'd or templated records.

    Scale: global rank is composed from prefix buckets + a cumulative
    offset over the bounded bucket-size table (the ONLY unpartitioned
    window runs on ≤36² rows, never the corpus — the flat
    row_number-over-everything the oracle uses would be a one-task
    straggler at 100 TB); the neighborhood join is a granule equi-join
    emitting ≤ (w−1)·N pairs, and the verify DP is banded O(len·k)."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        edit_distance_verify,
        sorted_neighborhood_pairs,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    key = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""),
        1,
        _SNM_KEY_CHARS,
    )
    cand = sorted_neighborhood_pairs(
        docs, "doc_id", key, window=_SNM_WINDOW, bucket_chars=2
    )
    return (
        edit_distance_verify(
            cand, docs, "doc_id", "text",
            max_edits=_EDIT_MAX, prefix_chars=_EDIT_PREFIX,
        )
        .select("id_a", "id_b", "rank_gap", "edit_distance")
        .orderBy("id_a", "id_b")
    )


# --- Deterministic per-epoch training-data shuffle ---------------------------
@register(
    "epoch_shuffle_documents",
    sql="""
    WITH p AS (
        SELECT e.epoch, doc_id,
               list_reduce(
                   list_transform(
                       string_split(CAST(e.epoch AS VARCHAR) || ':'
                                    || CAST(doc_id AS VARCHAR), ''),
                       c -> ascii(c)),
                   (acc, x) -> (acc * 31 + x) % 1000003) AS poly
        FROM documents, unnest([1, 2]) AS e(epoch)),
    k AS (
        SELECT epoch, doc_id,
               ((poly // 65536) * 2654435761 % 4294967296 * 65536
                + (poly % 65536) * 2654435761) % 4294967296 AS shuffle_key
        FROM p),
    r AS (SELECT epoch, doc_id, shuffle_key,
                 row_number() OVER (PARTITION BY epoch
                                    ORDER BY shuffle_key, doc_id) AS rn
          FROM k)
    SELECT epoch, doc_id, CAST(shuffle_key AS BIGINT) AS shuffle_key
    FROM r WHERE rn <= 50
    ORDER BY epoch, shuffle_key, doc_id
    """,
)
def epoch_shuffle_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-epoch corpus shuffle
    (operators/text.py::epoch_shuffle): the head-50 of epochs 1 and 2
    under their hash-derived orders, proving (a) each epoch's order is
    engine-replayable (the DuckDB oracle folds the same polynomial)
    and (b) different epochs genuinely reorder.  The deterministic
    replacement for ``ORDER BY rand(seed)`` whose stream depends on
    partitioning.  Each epoch's head plans as TakeOrdered — no global
    sort; the production write path is range-partition + local sort
    per the operator docstring."""
    from prod_recommendation_pyspark_spark.operators.text import epoch_shuffle

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id")
    parts = [
        epoch_shuffle(docs, "doc_id", ep)
        .select(F.lit(ep).alias("epoch"), "doc_id", "shuffle_key")
        .orderBy("shuffle_key", "doc_id")
        .limit(50)
        for ep in (1, 2)
    ]
    return parts[0].unionByName(parts[1]).orderBy(
        "epoch", "shuffle_key", "doc_id"
    )


# --- Rendezvous sharding: stable shard assignment ----------------------------
_HRW_W = (
    "(((({x}) % 4294967296) // 65536 * 2654435761 % 4294967296) * 65536"
    " + (({x}) % 65536) * 2654435761) % 4294967296"
)


def _hrw_assign_sql(name: str, n: int) -> str:
    w = _HRW_W.format(x=f"doc_id * 31 + s.s")
    return f"""{name} AS (
        SELECT doc_id, shard FROM (
            SELECT doc_id, s.s AS shard,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY {w} DESC, s.s) AS rn
            FROM documents, unnest(range(0, {n})) AS s(s))
        WHERE rn = 1)"""


@register(
    "rendezvous_shards_documents",
    sql=f"""
    WITH {_hrw_assign_sql("s8", 8)},
    {_hrw_assign_sql("s9", 9)}
    SELECT s8.shard, count(*) AS n_docs,
           CAST(sum(CASE WHEN s8.shard <> s9.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           round(CAST(sum(CASE WHEN s8.shard <> s9.shard THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS moved_frac
    FROM s8 JOIN s9 USING (doc_id)
    GROUP BY s8.shard
    ORDER BY s8.shard
    """,
)
def rendezvous_shards_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous/HRW sharding (operators/text.py::rendezvous_shard):
    per-shard corpus histogram at N=8 next to the fraction of each
    shard's rows that MOVE when resizing to N=9 — the stability
    contract that makes HRW the right shard assignment for training
    shards, embedding-index partitions, and cache keys: expected
    move fraction is 1/(N+1) ≈ 0.111 (every moved row goes to the
    NEW shard), versus ~8/9 for the naive ``id % N``.  All integer
    arithmetic — the oracle replays every weight and argmax, so the
    full assignment (not a summary) sits under the hash.

    Scale: assignment is a row-local projection (N multiplicative
    hashes + a fold argmax) — sharding 100 TB costs one scan, no
    shuffle; the histogram is the only aggregation."""
    from prod_recommendation_pyspark_spark.operators.text import (
        rendezvous_shard,
    )

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id")
    a8 = docs.select(
        "doc_id", rendezvous_shard(F.col("doc_id"), 8, "shard")
    )
    a9 = docs.select(
        "doc_id", rendezvous_shard(F.col("doc_id"), 9, "shard9")
    )
    moved = F.when(F.col("shard") != F.col("shard9"), 1).otherwise(0)
    return (
        a8.join(a9, "doc_id")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(moved).cast("long").alias("n_moved"),
            F.round(
                F.sum(moved).cast("double") / F.count(F.lit(1)), 6
            ).alias("moved_frac"),
        )
        .orderBy("shard")
    )


# --- PMI term co-occurrence ---------------------------------------------------
@register(
    "pmi_cooccurrence_terms",
    sql=r"""
    WITH td AS (
        SELECT DISTINCT doc_id, t.term
        FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS t(term)
        WHERE t.term <> ''),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM td),
    dfreq AS (SELECT term, count(*) AS df FROM td GROUP BY term),
    top AS (SELECT term, df FROM dfreq ORDER BY df DESC, term LIMIT 20),
    tdf AS (SELECT td.doc_id, td.term FROM td JOIN top USING (term)),
    pairs AS (
        SELECT a.term AS term_a, b.term AS term_b, count(*) AS c_ab
        FROM tdf a JOIN tdf b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY 1, 2
        HAVING count(*) >= 5)
    SELECT term_a, term_b,
           ta.df AS c_a, tb.df AS c_b, c_ab,
           round(ln(CAST(n_docs AS DOUBLE) * c_ab / (ta.df * tb.df)), 6)
               AS pmi
    FROM pairs
    JOIN top ta ON ta.term = term_a
    JOIN top tb ON tb.term = term_b
    CROSS JOIN n
    ORDER BY term_a, term_b
    """,
)
def pmi_cooccurrence_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level term
    co-occurrence — the classic distributional-semantics signal
    (PMI > 0: terms attract; < 0: repel) and the statistic behind
    collocation extraction and PMI-SVD embeddings, restricted to the
    20 highest-df terms so the pair space is the top-k square, not
    the vocabulary square.

    Scale: presence dedup and df are the inverted-index shuffles; the
    top-20 cut is a TakeOrdered; the pair self-join fans out only
    top-term postings (≤20 rows per doc) and aggregates map-side;
    the df/N attachments are broadcasts.  All counts are exact
    integers; the single ``ln`` is rounded at 6 — the entropy/KL
    queries' proven residual class."""
    from prod_recommendation_pyspark_spark.operators.text import tokens

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    td = (
        docs.select(
            "doc_id",
            F.explode(tokens(F.lower(F.col("text")))).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    n = td.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfreq = td.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.desc("df"), "term").limit(20)
    tdf = td.join(F.broadcast(top.select("term")), "term")
    a = tdf.select(F.col("doc_id"), F.col("term").alias("term_a"))
    b = tdf.select(F.col("doc_id"), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ta = top.select(
        F.col("term").alias("term_a"), F.col("df").alias("c_a")
    )
    tb = top.select(
        F.col("term").alias("term_b"), F.col("df").alias("c_b")
    )
    return (
        pairs.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            "c_a",
            "c_b",
            "c_ab",
            F.round(
                F.log(
                    F.col("n_docs").cast("double")
                    * F.col("c_ab")
                    / (F.col("c_a") * F.col("c_b"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("term_a", "term_b")
    )


# --- Reciprocal-rank fusion of two retrieval rankings ------------------------
@register(
    "rrf_hybrid_retrieval",
    sql=f"""
    WITH {_TOKENS_SQL},
    q AS (SELECT term FROM docfreq ORDER BY df DESC, term LIMIT 3),
    qtf AS (SELECT tf.doc_id, tf.term, tf.tf, d.df
            FROM tf JOIN q USING (term) JOIN docfreq d USING (term)),
    ra0 AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score_a
            FROM qtf GROUP BY doc_id),
    ra AS (SELECT doc_id,
                  row_number() OVER (ORDER BY score_a DESC, doc_id)
                      AS rank_a
           FROM ra0),
    rb0 AS (SELECT qtf.doc_id,
                   CAST(sum(CAST(round(qtf.tf
                       * (ln((c.n + 1.0) / (qtf.df + 1.0)) + 1.0), 6)
                       AS DECIMAL(38,6))) AS DOUBLE) AS score_b
            FROM qtf CROSS JOIN corpus c GROUP BY qtf.doc_id),
    rb AS (SELECT doc_id,
                  row_number() OVER (ORDER BY score_b DESC, doc_id)
                      AS rank_b
           FROM rb0),
    fused AS (
        SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               a.rank_a, b.rank_b,
               round(coalesce(1.0 / (60 + a.rank_a), 0)
                     + coalesce(1.0 / (60 + b.rank_b), 0), 6) AS rrf
        FROM (SELECT * FROM ra WHERE rank_a <= 50) a
        FULL OUTER JOIN (SELECT * FROM rb WHERE rank_b <= 50) b
          ON a.doc_id = b.doc_id)
    SELECT doc_id, rank_a, rank_b, rrf FROM (
        SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn
        FROM fused)
    WHERE rn <= 20
    ORDER BY doc_id
    """,
)
def rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    hybrid-search combiner: two retrieval rankings for the same query
    (here: raw query-term frequency vs smooth-TF-IDF weighting, over
    the corpus's 3 heaviest terms as the stand-in query) fused by
    ``Σ 1/(60 + rank)``, which rewards agreement without comparing
    incomparable score scales.  Per-ranking scores quantize before
    ranking (ints / round-6 DECIMAL sums), the fused score is a
    two-term row-local sum — every rank and every rrf value replays
    in the oracle.

    Scale: each ranking's top-50 is TakeOrdered (per-partition heads)
    and the ranks are assigned by a window over THAT 50-row table —
    no corpus-wide single-partition window; fusion is a full-outer
    join of two ≤50-row tables."""
    from prod_recommendation_pyspark_spark.operators.text import (
        term_frequencies,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    tf = term_frequencies(docs, "doc_id", "text").persist()
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    q = docfreq.orderBy(F.desc("df"), "term").limit(3)
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    qtf = tf.join(F.broadcast(q.select("term")), "term").join(
        docfreq.withColumnRenamed("df", "df_t"), "term"
    )

    def ranked(scored, score_col):
        top = scored.orderBy(F.desc(score_col), "doc_id").limit(50)
        w = Window.orderBy(F.desc(score_col), "doc_id")
        return top.select(
            "doc_id", F.row_number().over(w).alias("rank")
        )

    ra = ranked(
        qtf.groupBy("doc_id").agg(F.sum("tf").alias("score_a")), "score_a"
    ).withColumnRenamed("rank", "rank_a")
    tfidf_term = F.round(
        F.col("tf")
        * (F.log((F.col("n") + 1.0) / (F.col("df_t") + 1.0)) + 1.0),
        6,
    ).cast("decimal(38,6)")
    rb = ranked(
        qtf.crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(F.sum(tfidf_term).cast("double").alias("score_b")),
        "score_b",
    ).withColumnRenamed("rank", "rank_b")
    fused = (
        ra.join(rb, "doc_id", "full")
        .select(
            "doc_id",
            "rank_a",
            "rank_b",
            F.round(
                F.coalesce(1.0 / (60 + F.col("rank_a")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("rank_b")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "rank_a", "rank_b", "rrf")
        .orderBy("doc_id")
    )


# --- BPE vocabulary induction -------------------------------------------------
def _bpe_step_sql(k: int) -> str:
    sp = f"string_split(trim(rep), ' ')"
    return f"""
    pc{k} AS (
        SELECT p.pair, sum(freq) AS cnt
        FROM rep{k - 1}, unnest(
            list_transform(range(1, len({sp})),
                           i -> {sp}[i] || ' ' || {sp}[i + 1])) AS p(pair)
        GROUP BY 1),
    best{k} AS (SELECT pair, cnt FROM pc{k}
                ORDER BY cnt DESC, pair LIMIT 1),
    rep{k} AS (
        SELECT word, freq,
               replace(rep, ' ' || (SELECT pair FROM best{k}) || ' ',
                       ' ' || replace((SELECT pair FROM best{k}), ' ', '')
                       || ' ') AS rep
        FROM rep{k - 1})"""


@register(
    "bpe_vocabulary_merges",
    sql=f"""
    WITH toks AS (
        SELECT t.term FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(term)
        WHERE t.term <> ''),
    wf AS (SELECT term AS word, count(*) AS freq FROM toks
           GROUP BY term ORDER BY freq DESC, word LIMIT 100),
    rep0 AS (SELECT word, freq,
                    ' ' || array_to_string(
                        list_filter(string_split(word, ''), c -> c <> ''),
                        ' ') || ' ' AS rep
             FROM wf),
    {_bpe_step_sql(1)},
    {_bpe_step_sql(2)},
    {_bpe_step_sql(3)},
    {_bpe_step_sql(4)}
    SELECT * FROM (
        SELECT 1 AS step, pair, replace(pair, ' ', '') AS merged,
               CAST(cnt AS BIGINT) AS pair_count FROM best1
        UNION ALL SELECT 2, pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT)
        FROM best2
        UNION ALL SELECT 3, pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT)
        FROM best3
        UNION ALL SELECT 4, pair, replace(pair, ' ', ''), CAST(cnt AS BIGINT)
        FROM best4)
    ORDER BY step
    """,
)
def bpe_vocabulary_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-vocabulary induction
    (operators/text.py::bpe_merge_steps): 4 merge rounds over the
    corpus's 100 most frequent words — the iterative
    count-pairs → argmax → merge loop that trains every modern
    subword tokenizer, expressed as per-round vocabulary aggregations
    with a 1-row argmax collect (the k-means-centroid driver-collect
    class) and codegen'd merge replaces.  The oracle unrolls all four
    rounds as CTEs, so the LEARNED MERGE SEQUENCE itself — pair,
    merged symbol, and weighted count per round — sits under the
    value hash.  Ties break to the lexicographically smallest pair;
    merge application semantics are pinned in the operator docstring.

    Scale: the corpus is scanned once for (word, freq); every
    iteration then touches only the bounded vocabulary table — BPE
    training cost is independent of corpus size past the first
    rollup."""
    from prod_recommendation_pyspark_spark.operators.text import (
        bpe_merge_steps,
        tokens,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    wf = (
        docs.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "word")
        .limit(100)
    )
    merges, _ = bpe_merge_steps(wf, "word", "freq", steps=4)
    rows = [
        (i + 1, pair, merged, cnt)
        for i, (pair, merged, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "step int, pair string, merged string, pair_count long"
    ).orderBy("step")


# --- Entity resolution end-to-end ---------------------------------------------
@register(
    "entity_resolution_pipeline_docs",
    sql=f"""
    WITH RECURSIVE c AS (
        SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
        FROM documents),
    {_WINNOW_FPS_SQL},
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM wmin),
    keepf AS (SELECT fingerprint FROM fp GROUP BY fingerprint
              HAVING count(*) <= 10000),
    fpk AS (SELECT fp.doc_id, fp.fingerprint
            FROM fp JOIN keepf USING (fingerprint)),
    wcand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM fpk a JOIN fpk b USING (fingerprint)
              WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2
              HAVING count(*) >= {_WINNOW_MIN_SHARED}),
    k AS (SELECT doc_id, s[1:{_SNM_KEY_CHARS}] AS key FROM c),
    r AS (SELECT doc_id,
                 row_number() OVER (ORDER BY key, doc_id) AS rank
          FROM k),
    scand AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
                     greatest(a.doc_id, b.doc_id) AS id_b
              FROM r a JOIN r b
                ON b.rank - a.rank BETWEEN 1 AND {_SNM_WINDOW - 1}),
    cand AS (SELECT id_a, id_b FROM wcand
             UNION SELECT id_a, id_b FROM scand),
    edges AS (
        SELECT cand.id_a, cand.id_b
        FROM cand JOIN c ca ON ca.doc_id = cand.id_a
                  JOIN c cb ON cb.doc_id = cand.id_b
        WHERE levenshtein(ca.s[1:{_EDIT_PREFIX}], cb.s[1:{_EDIT_PREFIX}])
              <= {_EDIT_MAX}),
    sym AS (SELECT id_a AS u, id_b AS v FROM edges
            UNION SELECT id_b, id_a FROM edges),
    reach(u, v) AS (SELECT u, v FROM sym
                    UNION
                    SELECT r2.u, s2.v FROM reach r2 JOIN sym s2
                      ON r2.v = s2.u),
    comp AS (SELECT u, least(u, min(v)) AS component
             FROM reach GROUP BY u)
    SELECT component AS entity_id,
           count(*) AS n_members,
           string_agg(u, ',' ORDER BY u) AS members
    FROM comp
    GROUP BY component
    ORDER BY entity_id
    """,
)
def entity_resolution_pipeline_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entity resolution END-TO-END: two complementary blockers —
    winnowing fingerprints (content overlap) ∪ sorted-neighborhood
    (fuzzy sort-key adjacency) — feed one edit-distance verify stage,
    the surviving pairs close transitively into entities
    (connected_components), and each entity emits its canonical id,
    size, and sorted member list.  This is the merge/purge pipeline a
    record-linkage user runs as ONE query; every stage is an already-
    registered operator, and the oracle replays all of them — both
    blockers, the verify DP, the recursive closure, and the final
    member arrays — under a single value hash.

    Scale: both blockers are linear-output (band caps / (w−1)·N);
    the verify rides the blocked pair volume; components iterate on
    the (tiny) verified edge set, not the corpus."""
    from prod_recommendation_pyspark_spark.operators.dedup import (
        connected_components,
        edit_distance_verify,
        sorted_neighborhood_pairs,
    )
    from prod_recommendation_pyspark_spark.operators.text import (
        winnow_dedup_candidates,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    wcand = winnow_dedup_candidates(
        docs, "doc_id", "text",
        k=_WINNOW_K, w=_WINNOW_W, min_shared=_WINNOW_MIN_SHARED,
    ).select("id_a", "id_b")
    key = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""),
        1,
        _SNM_KEY_CHARS,
    )
    snm = sorted_neighborhood_pairs(
        docs, "doc_id", key, window=_SNM_WINDOW, bucket_chars=2
    ).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    )
    cand = wcand.unionByName(snm).distinct()
    edges = edit_distance_verify(
        cand, docs, "doc_id", "text",
        max_edits=_EDIT_MAX, prefix_chars=_EDIT_PREFIX,
    ).select("id_a", "id_b")
    cc = connected_components(edges, "id_a", "id_b")
    # members serialized to a comma-joined string: the driver's value
    # hasher can't sort/hash array cells (array_sort still kills
    # collect_list's arrival-order nondeterminism before the join)
    return (
        cc.groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("u")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("entity_id")
    )


# --- DSIR importance-resampling selection weights -----------------------------
@register(
    "dsir_importance_weights_docs",
    sql=r"""
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS t(term)
        WHERE t.term <> ''),
    b AS (
        SELECT doc_id,
               CAST(list_reduce(
                   list_transform(string_split(term, ''), c -> ascii(c)),
                   (acc, x) -> (acc * 31 + x) % 1000003) % 128 AS BIGINT)
                   AS bucket
        FROM toks),
    counts AS (
        SELECT bucket,
               CAST(sum(CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS tc,
               CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS rc
        FROM b GROUP BY 1),
    tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt,
                   CAST(sum(rc) AS BIGINT) AS rt FROM counts),
    llr AS (
        SELECT bucket,
               ln(((tc + 0.5) / (tt + 0.5 * 128))
                  / ((rc + 0.5) / (rt + 0.5 * 128))) AS llr
        FROM counts CROSS JOIN tot)
    SELECT b.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(round(sum(CAST(llr AS DECIMAL(38,12))), 4) AS DOUBLE)
               AS dsir_weight
    FROM b JOIN llr USING (bucket)
    WHERE b.doc_id % 7 <> 0
    GROUP BY b.doc_id
    ORDER BY dsir_weight DESC, doc_id
    LIMIT 50
    """,
)
def dsir_importance_weights_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DSIR data selection (operators/text.py::dsir_importance_weights;
    Xie et al. 2023): hashed-unigram log-likelihood-ratio weights of
    every raw-pool document against a target domain, top 50 — the
    standard importance-resampling scorer for "give me more data that
    looks like the benchmark".  The target proxy is deterministic
    (doc_id % 7 == 0) so the oracle replays the exact split; the
    bucket hash is the portable polynomial, the ratio arithmetic is
    operation-order-identical, and the per-doc ln-sum accumulates in
    DECIMAL(38,12) with a decimal-space round.

    Scale: two bucket-model fits collapse to 128 rows each with
    map-side combine; scoring broadcast-joins the 128-row LLR table
    into the token stream and re-aggregates on doc id — no stage
    carries more than corpus-linear rows, and nothing sits on the
    driver."""
    from prod_recommendation_pyspark_spark.operators.text import (
        dsir_importance_weights,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    target = docs.filter(F.col("doc_id") % 7 == 0)
    raw = docs.filter(F.col("doc_id") % 7 != 0)
    out = dsir_importance_weights(raw, target, "doc_id", "text", n_buckets=128)
    return out.orderBy(F.col("dsir_weight").desc(), "doc_id").limit(50)


def _bpe_encode_step_sql(k: int) -> str:
    """Apply the k-th learned merge to the all-corpus representations."""
    return f"""
    repall{k} AS (
        SELECT word, freq,
               replace(rep, ' ' || (SELECT pair FROM best{k}) || ' ',
                       ' ' || replace((SELECT pair FROM best{k}), ' ', '')
                       || ' ') AS rep
        FROM repall{k - 1})"""


@register(
    "bpe_encode_subword_counts",
    sql=f"""
    WITH toks AS (
        SELECT t.term FROM documents,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(term)
        WHERE t.term <> ''),
    wfall AS (SELECT term AS word, count(*) AS freq FROM toks GROUP BY term),
    wf AS (SELECT word, freq FROM wfall
           ORDER BY freq DESC, word LIMIT 100),
    rep0 AS (SELECT word, freq,
                    ' ' || array_to_string(
                        list_filter(string_split(word, ''), c -> c <> ''),
                        ' ') || ' ' AS rep
             FROM wf),
    {_bpe_step_sql(1)},
    {_bpe_step_sql(2)},
    {_bpe_step_sql(3)},
    {_bpe_step_sql(4)},
    repall0 AS (SELECT word, freq,
                       ' ' || array_to_string(
                           list_filter(string_split(word, ''), c -> c <> ''),
                           ' ') || ' ' AS rep
                FROM wfall),
    {_bpe_encode_step_sql(1)},
    {_bpe_encode_step_sql(2)},
    {_bpe_encode_step_sql(3)},
    {_bpe_encode_step_sql(4)}
    SELECT s.token,
           CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM repall4, unnest(string_split(trim(rep), ' ')) AS s(token)
    GROUP BY s.token
    ORDER BY n_occurrences DESC, token
    LIMIT 30
    """,
)
def bpe_encode_subword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE over the whole corpus with the in-engine-trained
    merges (operators/text.py::bpe_encode ∘ bpe_merge_steps): train 4
    merges on the 100 most frequent words, apply them to EVERY corpus
    word, and emit the 30 most frequent resulting subword tokens —
    the corpus-level token distribution a tokenizer report shows.
    The oracle replays training (4 unrolled argmax CTEs) AND encoding
    (4 unrolled replace CTEs over the full vocabulary), so the
    end-to-end train→tokenize composition sits under one value hash.

    Scale: corpus scanned once for (word, freq); training iterates
    the bounded vocabulary; encoding is a codegen'd replace chain on
    the (word, freq) table — subword stats never touch raw text
    again."""
    from prod_recommendation_pyspark_spark.operators.text import (
        bpe_encode,
        bpe_merge_steps,
        tokens,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    wfall = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # persisted: feeds the top-100 training slice AND the full encode
    wfall = wfall.persist()
    wf = wfall.orderBy(F.desc("freq"), "word").limit(100)
    merges, _ = bpe_merge_steps(wf, "word", "freq", steps=4)
    encoded = bpe_encode(wfall, "word", "freq", merges)
    return (
        encoded.select("freq", F.explode("subwords").alias("token"))
        .groupBy("token")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(30)
    )


# --- Sequence prep END-TO-END: chunk → count → pack ---------------------------
@register(
    "sequence_prep_e2e_docs",
    sql="""
    WITH d AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
        WHERE regexp_matches(text, '\\S')),
    starts AS (
        SELECT doc_id, toks, s.start_token
        FROM d, unnest(range(0, greatest(len(toks) - 32, 1), 96)) AS s(start_token)),
    chunks AS (
        SELECT doc_id,
               CAST(start_token // 96 AS INTEGER) AS chunk_idx,
               CAST(least(len(toks) - start_token, 128) AS INTEGER)
                   AS n_chunk_tokens
        FROM starts),
    keyed AS (
        SELECT doc_id, chunk_idx, n_chunk_tokens,
               doc_id * 4096 + chunk_idx AS chunk_key
        FROM chunks),
    packed AS (
        SELECT doc_id, chunk_idx, n_chunk_tokens,
               chunk_key % 16 AS shard,
               coalesce(sum(n_chunk_tokens) OVER (
                   PARTITION BY chunk_key % 16 ORDER BY chunk_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM keyed)
    SELECT doc_id, chunk_idx, n_chunk_tokens, shard,
           CAST(cum_before AS BIGINT) AS cum_before,
           CAST(cum_before // 512 AS BIGINT) AS pack_id
    FROM packed
    ORDER BY doc_id, chunk_idx
    """,
)
def sequence_prep_e2e_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trainer sequence prep END-TO-END as one query: overlapping
    128/32 token-window chunking (chunk_documents) → per-chunk token
    counts → deterministic budgeted packing of the CHUNKS
    (pack_sequences, budget 512, 16 shards, chunk key =
    doc_id·4096 + chunk_idx — chunk counts are window counts of
    bounded documents, far under 4096).  This is the
    tokenize→chunk→pack composition a pretraining data job runs as
    one pass; the oracle replays chunking, counting, sharding, the
    exclusive running total, and the pack assignment under a single
    value hash.

    Scale: chunking is a scan-side projection; packing is ONE shuffle
    on the shard key (pack decisions never leave the executor)."""
    from prod_recommendation_pyspark_spark.operators.text import (
        chunk_documents,
        pack_sequences,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=128, overlap=32
    ).select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        (F.col("doc_id") * 4096 + F.col("chunk_idx")).alias("chunk_key"),
    )
    packed = pack_sequences(
        chunks, "chunk_key", "n_chunk_tokens", budget=512, n_shards=16
    )
    return packed.select(
        "doc_id",
        "chunk_idx",
        "n_chunk_tokens",
        "shard",
        "cum_before",
        "pack_id",
    ).orderBy("doc_id", "chunk_idx")


# --- Perceptual image dedup: real decode → aHash blocking → exact verify -------
@register(
    "image_ahash_dedup_pairs",
    sql=r"""
    WITH c AS (
        SELECT doc_id,
               substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                         1, 40) AS p
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM c a JOIN c b ON a.p = b.p AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
)
def image_ahash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup END-TO-END on REAL image bytes: build an
    8×8 P5 netpbm image per document (pixels = the normalized 40-char
    text prefix, '.'-padded to 64 bytes — the pad char is outside the
    [a-z0-9] alphabet so distinct prefixes never pad to equal bodies),
    REALLY decode it (operators/multimodal.py::_decode_netpbm), block
    on the 64-bit average hash (image_ahash), and verify candidates by
    exact payload equality — the LSH-candidates→verify shape applied
    to media: aHash equality over-generates on near-identical images
    (that is its job), and the verify stage keeps only true duplicates,
    which the oracle predicts as prefix-equal document pairs without
    ever decoding a byte.

    Scale: payload construction and verify are codegen'd binary
    expressions; decode+hash is one Arrow-batched pass; the candidate
    join shuffles on the 8-byte hash — image count, not pixel volume,
    drives every shuffle."""
    from prod_recommendation_pyspark_spark.operators.multimodal import (
        image_ahash,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    prefix = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 40
    )
    body = F.substring(F.rpad(prefix, 64, "."), 1, 64)
    imgs = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.encode(F.lit("P5\n8 8\n255\n"), "utf-8"),
            F.encode(body, "utf-8"),
        ).alias("payload"),
    )
    hashed = image_ahash(imgs, fake=False).join(
        imgs.select("media_id", "payload"), "media_id"
    )
    a = hashed.select(
        F.col("ahash"),
        F.col("media_id").alias("id_a"),
        F.col("payload").alias("__pa"),
    )
    b = hashed.select(
        F.col("ahash"),
        F.col("media_id").alias("id_b"),
        F.col("payload").alias("__pb"),
    )
    return (
        a.join(b, "ahash")
        .filter(F.col("id_a") < F.col("id_b"))
        # exact verify: aHash false positives (near-identical but not
        # identical images) die here, mirroring LSH verify
        .filter(F.col("__pa") == F.col("__pb"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


@register(
    "audio_fingerprint_dedup_pairs",
    sql=r"""
    WITH c AS (
        SELECT doc_id,
               substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                         1, 40) AS p
        FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM c a JOIN c b ON a.p = b.p AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
)
def audio_fingerprint_dedup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perceptual AUDIO dedup END-TO-END on real WAV bytes — the audio
    leg of the multimodal dedup triad (text: minhash/simhash; image:
    image_ahash_dedup_pairs): synthesize a real 8-bit PCM RIFF/WAV per
    document (samples = the '.'-padded normalized 40-char prefix),
    REALLY decode it (operators/multimodal.py::decode_wav), block on
    the gain-invariant energy-delta fingerprint (audio_fingerprint),
    and verify candidates by exact payload equality.  The oracle
    predicts the surviving pairs as prefix-equal documents without
    touching a single sample.

    Scale: synth+decode+fingerprint is one Arrow-batched pass each;
    the candidate join shuffles on the 8-byte fingerprint — clip
    count, not sample volume, drives every shuffle."""
    from prod_recommendation_pyspark_spark.operators.multimodal import (
        audio_fingerprint,
        synthesize_wav_from_bytes,
    )

    docs = _spread(Catalog(spark, sf_dir).table("documents"))
    prefix = F.substring(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]", ""), 1, 40
    )
    body = F.substring(F.rpad(prefix, 64, "."), 1, 64)
    raw = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(body, "utf-8").alias("payload"),
    )
    wavs = synthesize_wav_from_bytes(raw)
    fps = audio_fingerprint(wavs, n_frames=16, fake=False).join(
        wavs.select("media_id", "payload"), "media_id"
    )
    a = fps.select(
        "afp", F.col("media_id").alias("id_a"), F.col("payload").alias("__pa")
    )
    b = fps.select(
        "afp", F.col("media_id").alias("id_b"), F.col("payload").alias("__pb")
    )
    return (
        a.join(b, "afp")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("__pa") == F.col("__pb"))
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )
