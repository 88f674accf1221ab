"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Engine extensions for LLM training-data pipelines (BASELINE.json north
star). Scale design:

- **exact**: one hash-aggregate shuffle on the fingerprint — the cheapest
  possible plan at any scale.
- **MinHash+LSH**: signatures are per-row projections (no shuffle); the
  only shuffles are the band-bucket exchange and the candidate-pair join —
  O(rows·bands) shuffled keys instead of O(rows²) comparisons.
- **SimHash**: explode-tokens → one hash-aggregate per doc; fingerprints
  then self-join on sub-band blocks.
- **n-gram Jaccard**: exact pairwise, bounded by blocking keys — the
  verification primitive for the approximate methods.

All hashing is md5-derived (``conv(substr(md5(x),1,15),16,10)``) so results
are engine-portable and seed-stable — no dependence on Spark's internal
murmur3, which an external oracle cannot reproduce.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_log = logging.getLogger(__name__)

__all__ = [
    "md5_long",
    "word_shingles",
    "exact_dedup",
    "minhash_band_entries",
    "minhash_candidate_pairs",
    "incremental_dedup",
    "ngram_jaccard_pairs",
    "ngram_jaccard_prefix_pairs",
    "simhash",
    "simhash_near_pairs",
    "embedding_cosine_pairs",
    "connected_components",
    "drop_non_canonical",
    "pagerank_fixed_point",
    "triangle_count",
    "link_prediction_scores",
    "golden_record",
    "cross_source_duplicate_matrix",
    "cdc_chunk_stats",
    "sorted_neighborhood_pairs",
    "label_propagation",
]


def md5_long(col: Column, seed: int | str | None = None) -> Column:
    """Portable 60-bit integer hash: first 15 hex digits of md5.

    Seeded variants prefix ``"<seed>|"`` — this is how k independent
    MinHash permutations are derived.
    """
    s = col.cast("string")
    if seed is not None:
        s = F.concat(F.lit(f"{seed}|"), s)
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles → array<string>.

    Documents shorter than ``n`` words yield an empty array (callers filter
    them out of near-dup analysis).
    """
    words = F.filter(F.split(F.lower(F.trim(col)), r"\s+"), lambda x: x != "")
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - n + 1),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def exact_dedup(
    df: DataFrame, key: Column, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup: one canonical row id per duplicate group.

    Returns ``(dedup_key, canonical_id, n_copies)`` — a single
    partial+final hash aggregate (map-side combine makes the shuffle carry
    one row per distinct key per partition, not per input row).
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return df.groupBy(key.alias("dedup_key")).agg(
        agg.alias("canonical_id"), F.count("*").alias("n_copies")
    )


# Affine-permutation constants: k independent (a·h + b) mod P hash families
# over one 32-bit base hash. P = 2^31 - 1 (Mersenne prime); a,b derive from
# golden-ratio/Murmur mixing constants so they are engine-portable literals.
MINHASH_PRIME = (1 << 31) - 1


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    p = MINHASH_PRIME
    return [
        (1 + (0x9E3779B1 * (i + 1)) % (p - 1), (0x85EBCA77 * (i + 1)) % p)
        for i in range(num_hashes)
    ]


def minhash_band_entries(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    partitions: int | None = None,
) -> DataFrame:
    """LSH band entries ``(doc_id_, band, band_hash)`` for a corpus:
    explode shingles → per-shingle base hash → per-doc k-min signature as
    a codegen'd ``groupBy().min()`` aggregate → seeded band hashes.

    Shared by the self-join pair finder (:func:`minhash_candidate_pairs`)
    and the batch-vs-corpus incremental path (:func:`incremental_dedup`).
    At 100 TB the reference corpus' entries are computed once and stored;
    only the new batch re-hashes per ingest."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    if partitions:
        # shingling + hashing are CPU-bound projections: small corpora read
        # as 1-2 parquet splits and would otherwise use 1-2 cores. At real
        # scale the natural file partitioning already fans out.
        df = df.repartition(partitions)

    posting = df.select(
        F.col(id_col).alias("doc_id_"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    h = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    p = F.lit(MINHASH_PRIME)
    coeffs = minhash_coeffs(num_hashes)
    sig = posting.groupBy("doc_id_").agg(
        *[
            F.min((h * F.lit(a) + F.lit(b)) % p).alias(f"mh{i}")
            for i, (a, b) in enumerate(coeffs)
        ]
    )

    # band hash = seeded md5 over "m_i|m_i+1|..." — sig values are plain
    # longs here, so the 4x column duplication below is codegen-cheap
    return sig.select(
        "doc_id_",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        md5_long(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col(f"mh{i}").cast("string")
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            ),
                            "band",
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(
        "doc_id_", F.col("bh.band").alias("band"), F.col("bh.band_hash").alias("band_hash")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
    partitions: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-duplicate pairs, verified by exact Jaccard.

    Pipeline: explode shingles → per-shingle base hash → per-doc k-min
    signature as a plain ``groupBy().min()`` aggregate → band-hash bucket
    join (only docs agreeing on a full band meet) → exact Jaccard
    verification on the shingle sets → pairs with ``jaccard >= threshold``,
    ``id_a < id_b``.

    Structured explode-first on purpose: higher-order array functions are
    not codegen-able and get no common-subexpression elimination, so any
    plan that references a shingle/signature *expression* more than once
    (via CollapseProject / filter pushdown) re-evaluates the whole pipeline
    per reference, interpreted. ``explode`` consumes the array expression
    exactly once (empty arrays self-filter — no ``size > 0`` predicate to
    get pushed into a second evaluation), and the k minima become a fully
    codegen'd hash aggregate with map-side combine. Measured ~2.5x faster
    than the fold-based form at sf0.1.

    At 100 TB the bucket join is the only O(candidate) shuffle; banding
    keeps candidates ~linear for any corpus with bounded duplication.
    """
    band_entries = minhash_band_entries(
        df, id_col, text_col, shingle_n, num_hashes, bands, partitions
    )
    if partitions:
        df = df.repartition(partitions)

    left = band_entries.select(
        "band", "band_hash", F.col("doc_id_").alias("id_a")
    )
    right = band_entries.select(
        "band", "band_hash", F.col("doc_id_").alias("id_b")
    )
    candidates = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )

    # exact-Jaccard verification: shingle arrays re-attached by id join —
    # the join is a CollapseProject barrier, so the intersect/union double
    # reference below reads materialized arrays, not the expression
    doc_sh = df.select(
        F.col(id_col).alias("doc_id_"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    verified = candidates.join(
        doc_sh.select(F.col("doc_id_").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        doc_sh.select(F.col("doc_id_").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
    partitions: int | None = None,
    broadcast_new: bool = True,
    max_broadcast_rows: int = 2_000_000,
    skip_probe: bool = False,
) -> DataFrame:
    """Dedup an incoming batch AGAINST a reference corpus — the production
    crawl-ingestion shape: each ingest must answer "which new documents
    near-duplicate anything we already hold" without re-pairing the corpus
    against itself.

    Same LSH machinery as :func:`minhash_candidate_pairs`
    (:func:`minhash_band_entries`), but the bucket join is new×corpus
    only: candidates meet on (band, band_hash), survivors verify with the
    exact shingle Jaccard. Output is one row per NEW document:
    ``(id, n_matches, best_jaccard, is_dup)`` — ``n_matches`` corpus docs
    at Jaccard ≥ threshold, ``best_jaccard`` the max (NULL when clean).

    Scale: the reference corpus' band entries are a pure per-doc
    projection — compute once per corpus version and store; per ingest
    only the (small) new batch re-hashes, and with ``broadcast_new`` its
    band entries broadcast so the corpus NEVER shuffles. Broadcasting is
    only sane for a bounded batch, so the band-entry count is probed
    first (limit+count short-circuits): past ``max_broadcast_rows`` the
    call FAILS LOUDLY instead of OOMing executors — re-run with
    ``broadcast_new=False`` (shuffled join; the corpus side pays one
    exchange) or split the ingest. The verify join touches only candidate
    pairs (banding keeps those ~linear in batch size for bounded
    duplication).

    The guard probe is one extra (short-circuiting) Spark job per call;
    callers in tight multi-batch ingest loops that already bound the batch
    size upstream can pass ``skip_probe=True`` to elide it. The
    loud-failure probe stays the default — skipping it shifts the OOM
    responsibility to the caller.
    """
    nb = minhash_band_entries(
        new_df, id_col, text_col, shingle_n, num_hashes, bands, partitions
    ).select(F.col("doc_id_").alias("new_id"), "band", "band_hash")
    cb = minhash_band_entries(
        corpus_df, id_col, text_col, shingle_n, num_hashes, bands, partitions
    ).select(F.col("doc_id_").alias("corpus_id"), "band", "band_hash")
    if broadcast_new:
        # same guard shape as kmeans_centroids' trainer probe: an
        # unbounded ingest batch must not silently become a broadcast OOM.
        # Probed on the RAW batch (band entries = rows x bands exactly),
        # so the probe never computes a signature; limit+count
        # short-circuits past the cap.
        if not skip_probe:
            cap = max(1, max_broadcast_rows // bands)
            probe = new_df.select(F.col(id_col)).limit(cap + 1).count()
            if probe > cap:
                raise ValueError(
                    f"incremental_dedup: new batch exceeds {cap} rows "
                    f"(> {max_broadcast_rows} band entries at bands={bands}) "
                    f"— too large to broadcast; pass broadcast_new=False "
                    f"(shuffled join) or split the ingest batch"
                )
        nb = F.broadcast(nb)
    candidates = (
        cb.join(nb, ["band", "band_hash"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )

    def shingle_side(df: DataFrame, out_id: str, out_sh: str) -> DataFrame:
        d = df.repartition(partitions) if partitions else df
        return d.select(
            F.col(id_col).alias(out_id),
            word_shingles(F.col(text_col), shingle_n).alias(out_sh),
        )

    verified = candidates.join(
        shingle_side(new_df, "new_id", "sh_n"), "new_id"
    ).join(shingle_side(corpus_df, "corpus_id", "sh_c"), "corpus_id")
    inter = F.size(F.array_intersect("sh_n", "sh_c")).cast("double")
    union = F.size(F.array_union("sh_n", "sh_c")).cast("double")
    matches = (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_matches"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    if broadcast_new:
        # matches has at most one row per NEW doc, so the same bound that
        # makes the batch's band entries broadcastable covers it; without
        # the hint the post-aggregate size estimate is unknown and the
        # planner falls back to a sort-merge LEFT join (2 exchanges + sorts
        # of both sides) for a bounded-small right side (measured −10% at
        # sf0.1)
        matches = F.broadcast(matches)
    return (
        new_df.select(F.col(id_col).alias("new_id"))
        .join(matches, "new_id", "left")
        .select(
            F.col("new_id").alias(id_col),
            F.coalesce(F.col("n_matches"), F.lit(0)).cast("long").alias("n_matches"),
            "best_jaccard",
            (F.coalesce(F.col("n_matches"), F.lit(0)) > 0).alias("is_dup"),
        )
    )


def _ngram_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    block_cols: list[str],
    partitions: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared posting build for the exact-Jaccard joins: explode-first
    shingle postings ``(doc_id_, [blocks...], shingle)`` plus per-doc
    sizes counted from postings (shingles are distinct per doc). ONE
    definition — the plain and prefix-filtered joins must stay
    bit-identical, which they cannot if their posting/size rules drift.

    NB (r12, measured): do NOT localCheckpoint the posting here even
    though consumers reference it up to ~6×. A/B at sf0.1 read dfcap
    7.07 s materialized vs 5.77 s lazy (same-control runs): the
    duplicate subtrees are cheap scan+explode pipelines that execute in
    parallel inside independent broadcast builds, while a checkpoint
    serializes one block write + N block reads onto the critical path."""
    if partitions:
        df = df.repartition(partitions)
    posting = df.select(
        F.col(id_col).alias("doc_id_"),
        *[F.col(c) for c in block_cols],
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    doc_sizes = posting.groupBy("doc_id_").agg(F.count("*").alias("n_sh"))
    return posting, doc_sizes


def _jaccard_verify(
    common: DataFrame, doc_sizes: DataFrame, jaccard_threshold: float
) -> DataFrame:
    """Shared size-attach + Jaccard filter over ``(id_a, id_b, n_common)``
    pair counts — the other half of the bit-identical contract between the
    plain and prefix-filtered joins."""
    sized = common.join(
        doc_sizes.select(F.col("doc_id_").alias("id_a"), F.col("n_sh").alias("n_a")),
        "id_a",
    ).join(
        doc_sizes.select(F.col("doc_id_").alias("id_b"), F.col("n_sh").alias("n_b")),
        "id_b",
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    ).cast("double")
    return (
        sized.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _array_verify(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    jaccard_threshold: float,
    partitions: int | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate PAIR set by shingle-array
    attach: join each side's full shingle array by doc id and compute
    ``size(array_intersect)`` / union arithmetic per pair row.

    Numerically identical to the posting-join verify (postings are the
    exploded distinct-shingle arrays, so ``count(*)`` over common postings
    == ``size(array_intersect)``, and ``n_sh`` == ``size(sh)``), but the
    plan shape is O(pairs) instead of O(Σ_pairs |doc|): the old
    cand ⋈ posting(id_a) ⋈ posting(id_b, shingle) → groupBy chain expanded
    every pair by every a-side shingle before filtering (measured at sf0.1:
    351k candidates × ~48 shingles ≈ 17M intermediate rows, 6.0 s of the
    dfcap entry's 6.7 s), where this verify moves two doc-count-sized
    array tables through id-keyed joins and finishes pairs in the same
    stage — guide §2.3/§3.3 (don't explode before a join; shuffle the
    lightweight proxy, attach the payload once).

    ``partitions`` mirrors the posting build's repartition: without it
    the shingle-array computation runs at the RAW SCAN's parallelism
    (often 1-2 tasks for a single parquet file) and single-threads the
    verify's heaviest expression (r12, measured at sf0.1: doc_sh noop
    3.9 s unrepartitioned vs the 32-way posting equivalent 0.75 s)."""
    if partitions:
        df = df.repartition(partitions)
    doc_sh = df.select(
        F.col(id_col).alias("doc_id_"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    attached = cand.join(
        doc_sh.select(F.col("doc_id_").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        doc_sh.select(F.col("doc_id_").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    n_a, n_b = F.size("sh_a"), F.size("sh_b")
    jac = n_common.cast("double") / (n_a + n_b - n_common).cast("double")
    return (
        attached.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def pair_sample_pred(mod: int) -> Column:
    """Deterministic 1/``mod`` pair-sampling predicate on ``(id_a, id_b)``:
    keep a pair iff ``md5(id_a|id_b) % mod == 0``. md5 is engine-portable
    and uniform, so any pair statistic computed on the kept subset is an
    unbiased estimate of the full-population statistic with a ``mod``-fold
    cost cut. ``mod=1`` keeps everything (the exact path)."""
    if mod < 1:
        raise ValueError("mod must be >= 1")
    key = F.concat_ws(
        "|", F.col("id_a").cast("string"), F.col("id_b").cast("string")
    )
    return F.pmod(md5_long(key), F.lit(mod)) == 0


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    block_cols: list[str] | None = None,
    partitions: int | None = None,
    pair_sample_mod: int = 1,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs via explode + shingle join.

    Pairs only materialize for docs sharing at least one shingle (and the
    optional blocking keys), so the shuffle is O(postings), not O(rows²).
    This is the exact method; MinHash+LSH is its sublinear approximation.

    ``pair_sample_mod`` > 1 keeps only the deterministic md5 1/mod pair
    subsample (:func:`pair_sample_pred`), applied map-side BEFORE the
    pair-count shuffle so the aggregation volume shrinks by the same
    factor — the knob quality evals use to price the exact ground truth
    independently of corpus size. Default 1 = the full exact result.
    """
    block_cols = block_cols or []
    posting, doc_sizes = _ngram_postings(
        df, id_col, text_col, shingle_n, block_cols, partitions
    )
    a = posting.select(
        *[F.col(c) for c in block_cols],
        F.col("shingle"),
        F.col("doc_id_").alias("id_a"),
    )
    b = posting.select(
        *[F.col(c) for c in block_cols],
        F.col("shingle"),
        F.col("doc_id_").alias("id_b"),
    )
    joined = a.join(b, [*block_cols, "shingle"]).filter(
        F.col("id_a") < F.col("id_b")
    )
    if pair_sample_mod > 1:
        joined = joined.filter(pair_sample_pred(pair_sample_mod))
    common = joined.groupBy("id_a", "id_b").agg(
        F.count("*").alias("n_common")
    )
    # pair-level size attach: the pair table is far smaller than postings,
    # and doc_sizes is doc-count-sized — AQE broadcasts it at small scale,
    # shuffles on id at 100 TB; either way it is off the posting hot path
    return _jaccard_verify(common, doc_sizes, jaccard_threshold)


def ngram_jaccard_dfcap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    df_cap: int = 64,
    block_cols: list[str] | None = None,
    partitions: int | None = None,
) -> DataFrame:
    """Document-frequency-capped set-similarity join — the posting-join
    variant that SURVIVES a corpus whose vocabulary does not grow with
    its size (measured in SCALE.md §11: on the fixed-vocab 10× slice
    the PREFIX-FILTERED variant went 4.3 s → 134.5 s — its "rare
    prefix" selection is only selective under Heaps-law vocabulary
    growth, so on vocabulary-bounded/templated data its candidate set
    collapses toward all-pairs; the plain posting join stayed ~linear
    (2.2 s → 15.9 s) but its Σ df² shuffle mass is one bad skew away
    from the same fate).

    The CCNet/BigTable-dedup remedy, exactly: shingles appearing in more
    than ``df_cap`` documents are non-discriminative and generate NO
    candidates; every candidate pair (docs sharing ≥1 rare shingle) is
    then verified with the TRUE full-shingle Jaccard (a second join of
    the candidate pairs back against the full posting list), so emitted
    scores are exact. The only recall loss is pairs whose EVERY common
    shingle is frequent — at ``jaccard_threshold`` ≥ 0.5 such a pair is
    two documents built almost entirely from stop-shingles, which is
    the pair a dedup pipeline wants suppressed anyway.

    Scale shape: candidate shuffle is bounded by ``Σ_rare df² ≤
    df_cap · postings`` — LINEAR in corpus size by construction, the
    property the uncapped join loses on vocabulary-bounded data.
    """
    block_cols = block_cols or []
    posting, doc_sizes = _ngram_postings(
        df, id_col, text_col, shingle_n, block_cols, partitions
    )
    dfreq = posting.groupBy(*block_cols, "shingle").agg(
        F.count("*").alias("df_")
    )
    rare = posting.join(
        dfreq.filter(F.col("df_") <= df_cap), [*block_cols, "shingle"]
    )
    a = rare.select(
        *[F.col(c) for c in block_cols],
        "shingle",
        F.col("doc_id_").alias("id_a"),
    )
    b = rare.select(
        *[F.col(c) for c in block_cols],
        "shingle",
        F.col("doc_id_").alias("id_b"),
    )
    # candidate pairs WITH their common-rare-shingle count (same shuffle
    # as the old .distinct() — a hash aggregate over the identical join
    # output — but the count feeds a result-preserving prune below)
    cand_counts = (
        a.join(b, [*block_cols, "shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_rare_common"))
    )
    # UPPER-BOUND-JACCARD PRUNE (r12, guide §1.2 "fix the algorithm"):
    # at sf0.1 the cap emits 351k candidate pairs that melt to 57 result
    # rows — the exact verify was 5-6 s of the entry's 6.7 s. For a pair
    # (a, b): every common shingle is rare (all counted in
    # n_rare_common) or frequent (at most min(freq_a, freq_b) of those
    # can be common), so n_common ≤ n_rare_common + min(freq_a, freq_b)
    # and J(a,b) = c/(n_a+n_b-c) is increasing in c — a pair whose bound
    # stays under the threshold can NEVER verify, so dropping it cannot
    # change the result (the bound expression equals the verify
    # expression when the bound is tight, so ties survive). Per-doc
    # stats are one aggregate over the posting×df join the plan already
    # builds; the exact verify then touches only the survivors.
    doc_stats = (
        posting.join(dfreq, [*block_cols, "shingle"])
        .groupBy("doc_id_")
        .agg(
            F.count("*").alias("n_sh_"),
            F.count(F.when(F.col("df_") <= df_cap, 1)).alias("n_rare_"),
        )
        .select(
            "doc_id_",
            F.col("n_sh_"),
            (F.col("n_sh_") - F.col("n_rare_")).alias("n_freq_"),
        )
    )
    annotated = cand_counts.join(
        doc_stats.select(
            F.col("doc_id_").alias("id_a"),
            F.col("n_sh_").alias("n_a"),
            F.col("n_freq_").alias("freq_a"),
        ),
        "id_a",
    ).join(
        doc_stats.select(
            F.col("doc_id_").alias("id_b"),
            F.col("n_sh_").alias("n_b"),
            F.col("n_freq_").alias("freq_b"),
        ),
        "id_b",
    )
    ub = F.col("n_rare_common") + F.least("freq_a", "freq_b")
    ub_j = ub.cast("double") / (
        F.col("n_a") + F.col("n_b") - ub
    ).cast("double")
    pruned = annotated.filter(ub_j >= jaccard_threshold).select("id_a", "id_b")
    # exact verify over surviving pairs only: full shingle arrays attached
    # by doc id (identical arithmetic to the posting-join verify, O(pairs)
    # instead of O(Σ_pairs |doc|) — see _array_verify)
    return _array_verify(
        pruned, df, id_col, text_col, shingle_n, jaccard_threshold,
        partitions=partitions,
    )


def minhash_lsh_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.6,
    partitions: int | None = None,
    truth_sample_mod: int = 1,
) -> DataFrame:
    """MinHash+LSH quality evaluation — "measure, don't guess" for the
    dedup stack: banded candidate pairs vs the EXACT n-gram-Jaccard
    ground truth (posting-list join — O(postings), never all-pairs),
    reporting candidate precision (how selective the bands are) and
    recall (what fraction of true >= threshold pairs the bands surface).

    ``truth_sample_mod`` > 1 evaluates on the deterministic md5 1/mod
    PAIR subsample (:func:`pair_sample_pred`): the same predicate gates
    both the exact-truth pair aggregation (map-side, so the ground
    truth's shuffle shrinks mod-fold) and the candidate set, so
    precision = verified/candidates and recall = verified/truth remain
    unbiased estimates of the full-population ratios while the eval's
    cost scales independently of the dedup stack it measures. The
    default ``1`` is the exact full-truth path (what the battery entry
    and its DuckDB oracle pin).

    Output 1 row: ``(n_candidates, n_truth, n_verified, precision,
    recall)`` — counts exact BIGINTs, ratios single IEEE divisions.
    """
    entries = minhash_band_entries(
        df, id_col, text_col, shingle_n, num_hashes, bands, partitions
    )
    a = entries.select(F.col("doc_id_").alias("id_a"), "band", "band_hash")
    b = entries.select(F.col("doc_id_").alias("id_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if truth_sample_mod > 1:
        cand = cand.filter(pair_sample_pred(truth_sample_mod))
    truth = ngram_jaccard_pairs(
        df, id_col, text_col, shingle_n=shingle_n,
        jaccard_threshold=jaccard_threshold, partitions=partitions,
        pair_sample_mod=truth_sample_mod,
    ).select("id_a", "id_b")
    # one-pass census (r12, guide §2.4): the old shape crossJoined three
    # separate aggregates (count(cand), count(truth), count(cand ⋈ truth)),
    # so the banding AND posting subtrees were each planned/executed twice
    # (202-node plan, 72 Exchanges). Union the two pair sets with flags and
    # reduce per pair instead: max(_c)/max(_t) dedups band-duplicate
    # candidate pairs (subsuming the old dropDuplicates exchange), truth is
    # distinct by construction, and the verified count is the pairs where
    # both flags survive — same three exact integers, every subtree once.
    cand_flag = cand.select(
        "id_a", "id_b", F.lit(1).alias("_c"), F.lit(0).alias("_t")
    )
    truth_flag = truth.select(
        "id_a", "id_b", F.lit(0).alias("_c"), F.lit(1).alias("_t")
    )
    per_pair = (
        cand_flag.unionByName(truth_flag)
        .groupBy("id_a", "id_b")
        .agg(F.max("_c").alias("_c"), F.max("_t").alias("_t"))
    )
    counts = per_pair.agg(
        # coalesce: empty-corpus sums are NULL where the old count(*) was 0
        F.coalesce(F.sum("_c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum("_t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum(F.col("_c") * F.col("_t")), F.lit(0))
        .cast("long")
        .alias("n_verified"),
    )
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_verified",
        (F.col("n_verified").cast("double")
         / F.col("n_candidates").cast("double")).alias("precision"),
        (F.col("n_verified").cast("double")
         / F.col("n_truth").cast("double")).alias("recall"),
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
    block_cols: list[str] | None = None,
    partitions: int | None = None,
    guard_candidate_factor: float | None = 32.0,
    guard_df_cap: int = 64,
    guard_report: dict | None = None,
) -> DataFrame:
    """Prefix-filtered exact n-gram-Jaccard pairs (PPJoin-family
    candidate reduction, Xiao et al., WWW'08): IDENTICAL output to
    :func:`ngram_jaccard_pairs` whenever the exact path runs (the
    default on real skewed corpora), but only each document's PREFIX
    tokens enter the left side of the posting join. On degenerate
    corpora the candidate-mass guard below SUBSTITUTES the df-capped
    approximate join — logged as a warning and reported via
    ``guard_report`` — so the identity claim is conditional on the
    guard not tripping.

    Why it is exact: under any global token order, a pair with
    ``J(a,b) ≥ τ`` shares ``|a∩b| ≥ τ·|a∪b| ≥ ceil(τ·|a|)`` tokens, so
    ``b`` must hit at least one of ``a``'s first
    ``|a| - ceil(τ·|a|) + 1`` tokens (pigeonhole on the complement) —
    joining a-prefix × b-full postings finds every qualifying pair. The
    global order is (document frequency asc, token): rare-first, so the
    indexed prefix tokens are exactly the low-fan-out ones and hot
    shingles ("of the", boilerplate) stay OUT of the left index — the
    candidate-pair cut that makes exact set-similarity joins viable at
    corpus scale (at τ=0.5 the left posting index halves; the cut grows
    with τ and with token-frequency skew).

    Candidates verify by counting FULL common postings (same arithmetic
    as the unfiltered op), so results are bit-identical — the battery
    checks this query against the SAME oracle as the plain join.

    SCALE CAVEAT (measured, SCALE.md §11): the cut's selectivity rests
    on token-frequency skew under Heaps-law vocabulary growth. On a
    corpus whose vocabulary does NOT grow with size (templated/
    synthetic data), "rare-first" prefixes stop being rare — on the
    fixed-vocab 10× slice this variant went superlinear (4.3 s →
    134.5 s) while the plain join stayed ~linear. For
    vocabulary-bounded data use :func:`ngram_jaccard_dfcap_pairs`
    (hard linear candidate bound, explicit recall trade) or the
    MinHash bands (probabilistic, distribution-free).

    CANDIDATE-MASS GUARD (the in-plan mitigation for that caveat):
    before building the candidate join, the operator MEASURES the
    candidate mass it is about to create and falls back to
    :func:`ngram_jaccard_dfcap_pairs` (``df_cap=guard_df_cap``) when
    ``mass > guard_candidate_factor × postings`` — the degenerate
    corpus shape is detected from its own df profile instead of
    discovered as a dead executor. Two stages so the common case pays
    almost nothing: stage 1 bounds prefix mass by the FULL join mass
    ``Σ_blk,shingle df²`` (one hash-aggregate over the posting
    profile the operator computes anyway); only if that bound trips
    does stage 2 compute the EXACT prefix mass ``Σ pdf·df`` (the
    pre-dedup row count of the a-prefix × b-full join) — on skewed
    Heaps-law corpora the prefix cut is precisely what keeps the exact
    mass under the bound, so stage 2 usually re-approves the exact
    path. ``guard_candidate_factor=None`` disables the guard (the
    pre-r11 behavior); ``guard_report`` (optional dict) receives the
    measured numbers + the decision for tests and ops visibility.
    Both guard probes are O(postings) aggregates — linear in the
    input, never in the candidate set they protect against.
    """
    block_cols = block_cols or []
    posting, doc_sizes = _ngram_postings(
        df, id_col, text_col, shingle_n, block_cols, partitions
    )

    from pyspark.sql.window import Window

    dfreq = posting.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = (
        posting.join(dfreq, "shingle")
        .withColumn(
            "_rnk",
            F.row_number().over(
                Window.partitionBy("doc_id_").orderBy("_df", "shingle")
            ),
        )
        .join(doc_sizes, "doc_id_")
    )
    prefix = ranked.filter(
        F.col("_rnk")
        <= F.col("n_sh") - F.ceil(F.lit(jaccard_threshold) * F.col("n_sh")) + 1
    )

    if guard_candidate_factor is not None:
        # stage 1 is ONE aggregate over the posting plan — running it
        # against the unpersisted posting is a single pass, and on
        # Heaps-law corpora it approves immediately, so the common case
        # pays no cache-build (r12 A/B: persist-backed probe 1.1 s
        # steady vs 0.87 s plain at sf0.1; first call 4.5 vs 1.2).
        # Only when stage 1's bound trips do we persist posting for the
        # duration of the stage-2 job (which references it through BOTH
        # bdf and the window-ranked prefix) and release it right after —
        # the final lazy join re-derives posting exactly as the
        # unguarded operator would, so steady-state memory is unchanged
        bdf = posting.groupBy(*block_cols, "shingle").agg(
            F.count("*").alias("bdf_")
        )
        stage1 = bdf.agg(
            F.sum("bdf_").cast("long").alias("postings"),
            F.sum(F.col("bdf_") * F.col("bdf_")).cast("long")
            .alias("full_mass"),
        ).collect()[0]
        postings_n = stage1["postings"] or 0
        budget = guard_candidate_factor * max(postings_n, 1)
        mass: int = stage1["full_mass"] or 0
        stage = 1
        if mass > budget:
            # full-join mass over budget: measure the EXACT prefix mass
            posting.persist()
            try:
                pdf = prefix.groupBy(*block_cols, "shingle").agg(
                    F.count("*").alias("pdf_")
                )
                stage2 = (
                    bdf.join(pdf, [*block_cols, "shingle"])
                    .agg(
                        F.sum(F.col("pdf_") * F.col("bdf_"))
                        .cast("long")
                        .alias("prefix_mass")
                    )
                    .collect()[0]
                )
                mass = stage2["prefix_mass"] or 0
                stage = 2
            finally:
                posting.unpersist()
        fallback = mass > budget
        if guard_report is not None:
            guard_report.update(
                postings=postings_n,
                candidate_mass=mass,
                budget=int(budget),
                stage=stage,
                fallback=fallback,
            )
        if fallback:
            # loud, not silent: the caller asked for the exact prefix
            # join but is getting the bounded-recall approximation
            _log.warning(
                "ngram_jaccard_prefix_pairs: candidate-mass guard "
                "tripped (stage %d: mass %d > budget %d for %d "
                "postings) — falling back to ngram_jaccard_dfcap_pairs"
                "(df_cap=%d); recall is no longer exact",
                stage, mass, int(budget), postings_n, guard_df_cap,
            )
            return ngram_jaccard_dfcap_pairs(
                df, id_col, text_col, shingle_n=shingle_n,
                jaccard_threshold=jaccard_threshold, df_cap=guard_df_cap,
                block_cols=block_cols, partitions=partitions,
            )

    a = prefix.select(
        *[F.col(c) for c in block_cols],
        F.col("shingle"),
        F.col("doc_id_").alias("id_a"),
    )
    b = posting.select(
        *[F.col(c) for c in block_cols],
        F.col("shingle"),
        F.col("doc_id_").alias("id_b"),
    )
    # a-prefix × b-full: every J>=τ pair is caught through the smaller
    # side's prefix; normalize to unordered (id_a < id_b) candidates.
    # NB (r12, measured): an upper-bound-Jaccard prune + array verify (the
    # dfcap entry's r12 rewrite) was A/B'd here too and came out neutral-
    # to-negative (isolated 5-run quiet: 5.72 s vs 5.51 s at HEAD) — the
    # prefix filter already thins candidates enough that the extra
    # doc-size joins cost more than the smaller verify saves; kept on the
    # dfcap path only, where it measured −29%.
    cand = (
        a.join(b, [*block_cols, "shingle"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # verification: count FULL common postings for the surviving pairs —
    # expand each pair by a's postings, then equi-join (id_b, shingle) so
    # only shared shingles survive (never the |a|×|b| cross per pair)
    common = (
        cand.join(
            posting.select(F.col("doc_id_").alias("id_a"), F.col("shingle")),
            "id_a",
        )
        .join(
            posting.select(F.col("doc_id_").alias("id_b"), F.col("shingle")),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_verify(common, doc_sizes, jaccard_threshold)


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32,
    partitions: int | None = None,
) -> DataFrame:
    """SimHash fingerprints: ``(id, simhash)`` with a ``bits``-bit int.

    Explode tokens → one hash-aggregate per doc computing the per-bit
    balance (+1/-1 per token bit) → sign vector packed into an integer.
    One shuffle on the doc id; everything else is codegen expressions.
    """
    if partitions:
        df = df.repartition(partitions)
    toks = F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != "")
    exploded = df.select(
        F.col(id_col).alias("doc_id_"), F.explode(toks).alias("tok")
    ).withColumn("h", md5_long(F.col("tok")))
    balance_aggs = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    balances = exploded.groupBy("doc_id_").agg(*balance_aggs)
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fp = term if fp is None else fp + term
    return balances.select(F.col("doc_id_").alias(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    bits: int = 32,
    blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with block LSH.

    Split each fingerprint into ``blocks`` contiguous bit-blocks; any pair
    within Hamming distance ``max_hamming < blocks`` must agree exactly on
    at least one block (pigeonhole), so the self-join keys on
    (block_idx, block_value) — no quadratic comparison.
    """
    block_bits = bits // blocks
    mask = (1 << block_bits) - 1
    entries = fingerprints.select(
        F.col(id_col).alias("id_"),
        F.col(hash_col).alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col(hash_col), i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("blk_val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("e"),
    ).select("id_", "fp", F.col("e.blk").alias("blk"), F.col("e.blk_val").alias("blk_val"))
    left = entries.select("blk", "blk_val", F.col("id_").alias("id_a"), F.col("fp").alias("fp_a"))
    right = entries.select("blk", "blk_val", F.col("id_").alias("id_b"), F.col("fp").alias("fp_b"))
    pairs = (
        left.join(right, ["blk", "blk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.999,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Pairs within the same block (IVF-style pruning: a coarse cluster id /
    LSH bucket) whose cosine similarity >= ``threshold``. The block equi
    key keeps the self-join linear-ish; pass ``block_col=None`` only for
    small corpora (full O(n^2) cross join). Output ``(id_a, id_b, cos)``.
    """
    from hiv_data_integration_spark.operators.similarity import dot, l2_norm

    keys = [block_col] if block_col else []
    # per-row norms precomputed before the self-join (identical folded
    # values => oracle parity preserved; 3x less per-pair array work)
    a = df.select(
        *keys,
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("va"),
    ).withColumn("na", l2_norm(F.col("va")))
    b = df.select(
        *keys,
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
    ).withColumn("nb", l2_norm(F.col("vb")))
    pairs = (
        (a.join(b, keys) if keys else a.crossJoin(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
        .filter(F.col("cos") >= threshold)
    )
    return pairs.select("id_a", "id_b", "cos")


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (incl. itself)."""
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = (
        nbrs.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .withColumn("m", F.least(F.col("m"), F.col("src")))
    )
    return (
        nbrs.filter(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges large→small, then every node
    connects its smaller-or-equal neighbors (and itself) to the minimum
    neighbor."""
    e = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = e.groupBy("src").agg(F.min("dst").alias("m"))
    relink = e.join(m, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    selfedge = m.select(F.col("src"), F.col("m").alias("dst"))
    return (
        relink.unionByName(selfedge)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _cc_star(edges: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star fixpoint: converges in
    O(log diameter) rounds (vs O(diameter) for plain min-label
    propagation), and the per-round shuffles key on each node's
    neighborhood min, which spreads hot components instead of funnelling
    them through one reducer — the skew-hardened choice for deep or
    heavy-tailed duplicate graphs.

    Convergence test: the oriented edge set is a fixpoint (checksum +
    count equality), at which point every node points directly at its
    component minimum.

    Each round ``localCheckpoint``s its edge set: one star round references
    its input several times (symmetrize + min + relink), so without lineage
    truncation the logical plan doubles per round and Catalyst analysis
    cost explodes long before the data does. Checkpointed blocks live in
    executor storage and are dropped by the storage manager when the
    DataFrames are garbage collected.
    """
    cur = edges.filter(F.col("src") != F.col("dst")).distinct().localCheckpoint()

    def _sig(e: DataFrame):
        # bit_xor, not sum: order-independent like sum but cannot overflow
        # under ANSI arithmetic (edges are distinct, so xor-cancellation
        # of duplicates is not a concern)
        row = e.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    cur_sig = None
    for _ in range(max_iters):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        nxt_sig = _sig(nxt)
        if nxt_sig == cur_sig:
            cur = nxt
            break
        cur, cur_sig = nxt, nxt_sig
    else:
        raise RuntimeError(
            f"connected_components(star) did not converge in {max_iters} rounds"
        )
    # fixpoint: (node -> component min) stars; minima appear only as dst
    return (
        cur.select(F.col("src").alias("id"), F.col("dst").alias("component"))
        .unionByName(
            cur.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
        )
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


#: Edges up to which ``connected_components`` runs its union-find on the
#: driver. The collect, the union-find and the ``(id, component)`` local
#: relation all grow with the edge count, and so does planning each query
#: that reads the result (Catalyst walks a local relation's rows), so the
#: measurement includes one downstream query. Measured on a 4-vCPU box at
#: local[4] (chains of 4 nodes from ``spark.range``; the components, then
#: ``drop_non_canonical`` and a grouped count; driver vs distributed
#: propagation, seconds): 10^3 edges 4.2 vs 10.6 cold, 1.0 vs 4.0 warm;
#: 10^5 2.3 vs 5.3; 3 x 10^5 4.3 vs 7.6; 10^6 12.4 vs 19.8, of which the
#: downstream query took 7.0 vs 1.0. The driver path still wins at 10^6
#: but its lead shrinks and every further query over the result pays the
#: planning again, so the budget stops there.
MAX_DRIVER_EDGES = 1_000_000

_ID_WIDTH = {T.ShortType: 0, T.IntegerType: 1, T.LongType: 2}


def _components_on_driver(
    spark, edges, id_type: T.DataType, id_nullable: bool
) -> DataFrame:
    """Min-root, path-compressing union-find over an Arrow edge table
    (``src``, ``dst``): the min-label fixpoint as a local relation."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    has_null = False
    for a, b in zip(edges.column("src").to_pylist(), edges.column("dst").to_pylist()):
        if a is None or b is None:
            # a null endpoint is one node of its own, joined to nothing
            has_null = True
            for x in (a, b):
                if x is not None:
                    parent.setdefault(x, x)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # min-root union: root == min id
    ids = sorted(parent)
    comps = [find(x) for x in ids]
    if has_null:
        ids.append(None)
        comps.append(None)
    arrow_type = to_arrow_type(id_type)
    schema = T.StructType(
        [
            T.StructField("id", id_type, id_nullable),
            T.StructField("component", id_type),
        ]
    )
    table = pa.table(
        {"id": pa.array(ids, arrow_type), "component": pa.array(comps, arrow_type)}
    )
    return spark.createDataFrame(table, schema=schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
    algorithm: str = "propagation",
) -> DataFrame:
    """Duplicate-pair edges → cluster assignment: ``(id, component)`` where
    ``component`` is the minimum id reachable through the pair graph. A
    null endpoint is a node of its own: it joins nothing and its component
    is null.

    This is the missing step between pairwise near-dup detection (MinHash/
    SimHash/Jaccard emit PAIRS) and corpus dedup (which needs GROUPS —
    a≈b and b≈c must collapse to ONE cluster even though a≈c was never
    emitted). The answer is the unique min-label fixpoint, whichever path
    computes it.

    Integral id columns with at most ``MAX_DRIVER_EDGES`` edges are
    solved on the driver: one bounded collect (a single Spark job), a
    min-root, path-compressing union-find, and the result handed back as
    a local relation in the input id type. No Python worker is forked and
    nothing stays persisted.

    Larger or non-integral graphs run distributed rounds. Min-label
    propagation: every node starts as its own label; each round takes the
    min over its neighborhood, one shuffle join + hash-aggregate per round;
    rounds = O(component diameter), and near-dup components are shallow
    (dup clusters, not social graphs). For deep or heavily skewed
    duplicate graphs pass ``algorithm="star"`` — the alternating
    large-star/small-star variant (O(log diameter) rounds,
    neighborhood-min keyed shuffles).
    """
    if algorithm not in ("propagation", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    fields = fwd.schema.fields
    if all(type(f.dataType) in _ID_WIDTH for f in fields):
        edges = fwd.limit(MAX_DRIVER_EDGES + 1).toArrow()
        if edges.num_rows <= MAX_DRIVER_EDGES:
            # the widest endpoint type and nullability, as the distributed
            # paths keep them
            id_type = max((f.dataType for f in fields), key=lambda t: _ID_WIDTH[type(t)])
            nullable = any(f.nullable for f in fields)
            return _components_on_driver(pairs.sparkSession, edges, id_type, nullable)
    # materialize the pair edges ONCE before symmetrizing: the undirected
    # union references the (potentially expensive — e.g. a full MinHash
    # pipeline) pair plan twice, and without this barrier both branches
    # re-execute it
    fwd = fwd.persist()
    fwd.count()
    if algorithm == "star":
        try:
            # _cc_star drops self-edges up front, so a node whose ONLY pair
            # is a self-pair would vanish; union the full endpoint set back
            # with component=id defaults (groupBy min dedups) to keep the
            # star fixpoint identical to propagation on every input.
            nodes = (
                fwd.select(F.col("src").alias("id"))
                .unionByName(fwd.select(F.col("dst").alias("id")))
                .distinct()
                .withColumn("component", F.col("id"))
            )
            return (
                _cc_star(fwd, max_iters)
                .unionByName(nodes)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
                .localCheckpoint()  # materialize before fwd unpersists
            )
        finally:
            fwd.unpersist()
    edges = (
        fwd.unionByName(
            fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .cache()
    )
    # localCheckpoint, not cache: each round's plan references the previous
    # round's TWICE (the union + the changed-probe join), so without
    # lineage truncation the logical plan doubles per round and the driver
    # OOMs on plan handling long before data size matters (found by the
    # deep-chain property test — a diameter-60 graph runs the full round
    # budget)
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    ).localCheckpoint()
    try:
        for _ in range(max_iters):
            # a null src takes no neighbor's label: null endpoints join
            # nothing, as on the driver and star paths
            neighbor = (
                edges.filter(F.col("src").isNotNull())
                .join(labels.withColumnRenamed("id", "dst"), "dst")
                .select(F.col("src").alias("id"), "component")
            )
            # fused convergence probe (r12, guide §2.4): tag which union
            # branch each row came from and recover the OLD label as
            # min(component WHERE from-labels) inside the SAME aggregate
            # (labels holds exactly one row per id, and every id reappears
            # via the labels branch, so _old is total). The old shape
            # re-joined new_labels against labels after the checkpoint —
            # one extra label-sized shuffle join per round; the probe is
            # now a scan of the already-checkpointed blocks.
            fused = (
                labels.withColumn("_f", F.lit(1))
                .unionByName(neighbor.withColumn("_f", F.lit(0)))
                .groupBy("id")
                .agg(
                    F.min("component").alias("component"),
                    F.min(
                        F.when(F.col("_f") == 1, F.col("component"))
                    ).alias("_old"),
                )
                .localCheckpoint()
            )
            changed = (
                fused.filter(F.col("component") != F.col("_old"))
                .limit(1)
                .count()
            )
            labels = fused.select("id", "component")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds"
            )
    finally:
        edges.unpersist()
        fwd.unpersist()
    return labels


def drop_non_canonical(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus dedup from a component assignment: keep singletons untouched
    and, inside every duplicate cluster, keep only the canonical (minimum
    id) member — a left-anti join against the non-canonical node set."""
    losers = components.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def pagerank_fixed_point(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**12,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """PageRank in FIXED-POINT integer arithmetic — every rank is an exact
    BIGINT multiple of ``1/scale``, so iteration results are bit-identical
    across engines, partitionings, and aggregation orders (integer sums
    commute; double sums do not). The float formulation's cross-engine
    drift is exactly why published PageRank numbers are hard to reproduce;
    at ``scale=10^12`` the quantization error per update is < 1e-12 of
    total mass.

    Update rule per iteration (all integer ops, positive operands):
    ``p'_v = (scale*(den-num)) div (den*N)  +  (num * Σ_in contrib) div den``
    with ``contrib(u→v) = p_u div outdeg(u)``. Dangling mass (nodes with
    no out-edges, and div truncation residue) is dropped, not
    redistributed — the standard simplification; ranks then sum to ≤
    scale, which the tests pin.

    Contract: ``nodes`` must be one row per node (a duplicate id would
    double that node's mass and fan duplicate rank rows through every
    join); ``edges`` may contain parallel edges — each contributes.

    Scale shape: each iteration is one shuffle-join of the rank vector
    with the edge list plus one integer sum by destination — the classic
    distributed PageRank step. The plan is built lazily over ``iters``
    steps; for deep iteration counts at corpus scale, localCheckpoint
    every few steps to keep lineage bounded (same pattern as
    :func:`connected_components`).
    """
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank_fixed_point: empty node set")
    base = (scale * (damping_den - damping_num)) // (damping_den * n_nodes)

    deg = edges.groupBy(F.col(src_col).alias("_u")).agg(
        F.count("*").alias("_deg")
    )
    # materialize (edges ⋈ outdeg) once: every iteration joins against it,
    # and without a checkpoint each of the ``iters`` passes re-derives the
    # edge source AND the degree aggregate from scratch
    e = (
        edges.select(F.col(src_col).alias("_u"), F.col(dst_col).alias("_v"))
        .join(deg, "_u")
        .localCheckpoint()
    )

    p = nodes.select(
        F.col(node_col).alias("_n"),
        F.lit(scale // n_nodes).cast("long").alias("_p"),
    )
    for _ in range(iters):
        contrib = (
            e.join(p, e["_u"] == p["_n"])
            .select(
                F.col("_v"),
                F.expr("_p div _deg").cast("long").alias("_c"),
            )
            .groupBy("_v")
            .agg(F.sum("_c").cast("long").alias("_in"))
        )
        p = (
            p.select("_n")
            .join(contrib, p["_n"] == contrib["_v"], "left")
            .select(
                "_n",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"{damping_num} * coalesce(_in, 0L) div {damping_den}"
                    ).cast("long")
                ).alias("_p"),
            )
        )
    return p.select(
        F.col("_n").alias(node_col), F.col("_p").alias("rank_fp")
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph, with the
    degree-orientation optimization that makes triangle enumeration
    tractable on skewed graphs (Cohen 2009, "Graph Twiddling in a
    MapReduce World"; the same orientation GraphX's TriangleCount uses).

    Input edges may be directed/duplicated; they are canonicalized to
    distinct undirected pairs first. Each edge is then oriented from its
    lower-degree endpoint to the higher-degree one (ties broken by node
    id), which bounds the two-path fan-out per node by O(sqrt(|E|))
    regardless of raw degree skew — the wedge join on a celebrity node's
    raw adjacency would otherwise be quadratic in its degree. Every
    triangle has exactly one source wedge under this orientation, so
    each is found once, no /3 correction.

    Plan: degree aggregate → oriented edge list → self-join on the wedge
    apex (the one big shuffle) → closing-edge semi-ish join → explode
    the 3 corners → count per node. All integer keys and counts:
    bit-stable under any partitioning. The canonical edge set is
    ``localCheckpoint``-ed once: the plan references it THREE times
    (degree derivation, orientation, closing join), and without the
    barrier each reference re-derives the whole upstream edge pipeline
    — for a co-occurrence graph that is the expensive fact self-join,
    tripled (same lineage-truncation pattern as
    :func:`connected_components`).

    Output: ``(node, n_triangles)`` for nodes in ≥1 triangle.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("lo"), F.col("b").alias("hi")),
            )
            .otherwise(
                F.struct(F.col("b").alias("lo"), F.col("a").alias("hi"))
            )
            .alias("e")
        )
        .select(F.col("e.lo").alias("u"), F.col("e.hi").alias("v"))
    )
    w1 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u").alias("apex"), F.col("v").alias("y"))
    wedges = w1.join(w2, "apex").filter(F.col("x") < F.col("y"))
    closing = und.select(
        F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
    )
    tri = wedges.join(closing, ["x", "y"])
    corners = tri.select(
        F.explode(F.array("apex", "x", "y")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("long").alias("n_triangles")
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup estimate: documents split at
    content-derived cut points (positions whose ``window``-gram hash ≡ 0
    mod ``divisor``), chunks fingerprint by md5, and the corpus-wide
    stats say how much storage chunk-level dedup would reclaim — the
    rsync/LBFS/backup-dedup primitive. Unlike fixed-size blocks, CDC
    boundaries survive insertions: a one-word edit re-chunks only its
    neighborhood, so shared chunks keep matching (exactly why the
    near-duplicate corpus shows real sharing).

    Every step is md5-derived integer math (the package's portable-hash
    idiom), so an external engine reproduces chunk boundaries AND
    fingerprints bit-for-bit. Plan (r12 rewrite, guide §2.4 remove
    shuffles outright): the per-position cut test runs INSIDE a
    higher-order ``filter(sequence(1, L-w+1), p -> ...)`` lambda, so
    the L-rows-per-doc position explode never materializes (the old
    shape exploded ~33M position rows at sf0.1, broadcast-joined the
    text back, and ran a per-doc ``lead()`` window — 2 joins + 1
    window shuffle); chunk extents come from zipping the cuts array
    with its own tail (next cut, or L+1 for the last chunk), and only
    the ~L/divisor cut rows per doc explode. One codegen stage from
    scan to the first aggregate — same md5 count, none of the
    intermediate movement. Average chunk length ≈ ``divisor``
    characters; tune it upward at scale so the per-position hash work
    (L lambda steps per doc) amortizes.

    Output 1 row: ``(n_chunks, n_distinct_chunks, bytes_total,
    bytes_stored, dedup_ratio)``.
    """
    base = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_t")
    ).withColumn("_len", F.length("_t"))
    # identical cut rule to the exploded form: position 1 always cuts;
    # p > 1 cuts iff the 60-bit md5 of the w-gram at p ≡ 0 (mod divisor)
    cuts_arr = F.expr(
        f"CASE WHEN _len >= {window} THEN "
        f"filter(sequence(1, _len - {window} + 1), p -> p = 1 OR "
        f"(cast(conv(substring(md5(cast(substring(_t, p, {window}) "
        f"as string)), 1, 15), 16, 10) as bigint) % {divisor}) = 0) "
        f"ELSE array(1) END"
    )
    with_cuts = base.withColumn("_cuts", cuts_arr).withColumn(
        # each chunk runs from its cut to the next cut (or end of doc):
        # ends = tail(cuts) ++ [len + 1], zipped positionally with cuts
        "_ends",
        F.concat(
            F.slice(F.col("_cuts"), 2, F.size("_cuts") - 1),
            F.array(F.col("_len") + 1),
        ),
    )
    chunks = (
        with_cuts.select(
            "_t",
            F.explode(F.arrays_zip("_cuts", "_ends")).alias("_x"),
        )
        .select(
            "_t",
            F.col("_x._cuts").alias("_p"),
            (F.col("_x._ends") - F.col("_x._cuts")).alias("_clen"),
        )
        .select(
            F.md5(F.expr("substring(_t, _p, _clen)")).alias("_h"),
            F.col("_clen"),
        )
    )
    per_chunk = chunks.groupBy("_h").agg(
        F.count("*").alias("_n"), F.min("_clen").alias("_l")
    )
    return per_chunk.agg(
        F.sum("_n").cast("long").alias("n_chunks"),
        F.count("*").alias("n_distinct_chunks"),
        F.sum(F.col("_n") * F.col("_l")).cast("long").alias("bytes_total"),
        F.sum("_l").cast("long").alias("bytes_stored"),
    ).select(
        "*",
        (
            F.lit(1.0)
            - F.col("bytes_stored").cast("double")
            / F.col("bytes_total").cast("double")
        ).alias("dedup_ratio"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo 1995): rank
    records by the blocking key and pair each record with its next
    ``window - 1`` neighbors in that order — O(n·w) candidate pairs
    instead of the O(n²) all-pairs cross join, while typo-adjacent
    records still meet because near-identical keys sort together.
    The classic entity-resolution candidate generator the reference's
    fuzzy org-matching family (``fuzzy.py``) blocks by district; this
    is the key-agnostic alternative when no natural block exists.

    Distributed shape: the global rank comes from ``stable_row_ids``
    (range-repartition + offset broadcast — never a single-reducer
    ``ROW_NUMBER() OVER ()``), and the neighbor pairing is an
    EQUI-join: each row explodes into its ``window - 1`` forward
    neighbor ranks and joins on the rank value. Two range shuffles
    plus one hash join total — no windowed self-scan, no skew (ranks
    are unique and uniform by construction). Multi-pass variants
    (a second pass on a different key) compose by unioning pair sets.

    ``(sort_col, id_col)`` must form a total order (the id tiebreak
    makes it one), so the ranks — and therefore the emitted pair set —
    are bit-deterministic under any partitioning.

    Output: ``(id_a, id_b, key_a, key_b, rank_gap)`` with
    ``rank_gap ∈ [1, window-1]``; callers verify candidates with the
    expensive measure (``F.levenshtein``, MinHash, …) afterwards.
    """
    if window < 2:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 2")
    from hiv_data_integration_spark.operators.relational import stable_row_ids

    ranked = stable_row_ids(
        df.select(F.col(id_col).alias("_id"), F.col(sort_col).alias("_key")),
        ["_key", "_id"],
    ).localCheckpoint()  # both join sides consume it: 1 rank pass, not 2
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.col("row_id").alias("_ra"),
        F.explode(
            F.sequence(F.col("row_id") + 1, F.col("row_id") + (window - 1))
        ).alias("_rb"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_key").alias("key_b"),
        F.col("row_id").alias("_rb"),
    )
    return left.join(right, "_rb").select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        (F.col("_rb") - F.col("_ra")).cast("long").alias("rank_gap"),
    )


def link_prediction_scores(
    edges: DataFrame,
    left_col: str,
    right_col: str,
    max_degree: int | None = None,
    ra_scale: int = 10**12,
) -> DataFrame:
    """Common-neighbors + resource-allocation link prediction over a
    bipartite graph (Zhou, Lü & Zhang 2009): for every pair of LEFT
    nodes sharing ≥1 RIGHT neighbor, emit the shared-neighbor count and
    the RA index Σ 1/deg(z) over shared neighbors ``z`` — the "users
    who bought X also..." candidate generator, and the same
    posting-list self-join that powers record-linkage candidate pairs.

    The RA index is emitted as the exact BIGINT ``ra_score`` =
    Σ floor(ra_scale / deg(z)): per-neighbor contributions are integer,
    so the unordered sum is bit-stable on every engine — a float
    Σ 1/deg would hash-differently under each aggregation order (same
    rationale as the repo's other scaled-integer scores). Divide by
    ``ra_scale`` for the paper's value.

    Scale shape: distinct edges → right-node degree aggregate →
    self-join on the right node (posting-list join). Fan-out per right
    node is deg², so hubs dominate — ``max_degree`` drops right nodes
    above the cap BEFORE the join (the df-blocking cut every
    similarity-join here uses; a stopword-frequency right node predicts
    nothing anyway). Pass None only on graphs known hub-free.

    Output: ``(left_a, left_b, n_common, ra_score)`` with
    ``left_a < left_b``.
    """
    e = edges.select(
        F.col(left_col).alias("l"), F.col(right_col).alias("r")
    ).distinct()
    deg = e.groupBy("r").agg(F.count("*").alias("_d"))
    if max_degree is not None:
        deg = deg.filter(F.col("_d") <= max_degree)
    # `div`, not `/`-then-cast: long `/` long routes through DOUBLE and
    # the rounded quotient can truncate to the wrong floor
    contrib = e.join(deg, "r").select(
        "l",
        "r",
        F.expr(f"CAST({ra_scale} AS BIGINT) div _d").alias("_c"),
    )
    # the two self-join sides re-derive contrib's aggregates (a
    # localCheckpoint barrier measured 2.7× SLOWER at bench scale — the
    # materialized edge list costs more than the recompute, and
    # ReuseExchange does not match across the join's build/probe
    # positions). At corpus scale, hand the operator a pre-deduplicated
    # persisted edge table instead: `e`'s distinct then collapses to a
    # cheap pass-through and the double derivation is two cheap scans.
    a = contrib.alias("a")
    b = contrib.alias("b")
    return (
        a.join(b, "r")
        .filter(F.col("a.l") < F.col("b.l"))
        .groupBy(
            F.col("a.l").alias("left_a"), F.col("b.l").alias("left_b")
        )
        .agg(
            F.count("*").alias("n_common"),
            F.sum("a._c").alias("ra_score"),
        )
    )


def golden_record(
    df: DataFrame,
    cluster_col: str,
    order_cols: list[str],
    field_cols: list[str],
) -> DataFrame:
    """Survivorship merge ("golden record"): collapse each entity
    cluster to one row by taking, PER FIELD, the value from the most
    recent record that actually has it (non-null), recency ordered by
    ``order_cols`` (which must be unique per cluster) — the MDM step
    after entity resolution, where a customer's latest known email and
    latest known phone may come from different source records.

    One hash aggregate, one expression per field:
    ``max(struct(has_value, order…, value)).value`` — the lexicographic
    struct max prefers present over absent, then latest; no window, no
    per-field join, no sort. All-null fields survive as NULL.

    Output: ``cluster_col`` + ``n_records`` + one column per field.
    """
    order = [F.col(c) for c in order_cols]
    aggs = [F.count("*").cast("long").alias("n_records")]
    for f in field_cols:
        aggs.append(
            F.max(
                F.struct(
                    F.col(f).isNotNull().cast("int").alias("_h"),
                    *[o.alias(f"_o{i}") for i, o in enumerate(order)],
                    F.col(f).alias("_v"),
                )
            )
            .getField("_v")
            .alias(f)
        )
    return df.groupBy(cluster_col).agg(*aggs)


def cross_source_duplicate_matrix(
    df: DataFrame,
    source_col: str,
    key_col: Column,
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how
    many DISTINCT content fingerprints they share, as counts and as a
    share of each side's fingerprint set — the crawl-overlap
    diagnostic that decides which source to drop when corpus mixes
    double-count the same pages.

    ``key_col`` is the content fingerprint expression (e.g.
    ``fingerprint(F.col("text"))``). Exact integers + two divisions
    per pair. Posting-list join on the fingerprint: fan-out is
    sources-per-fingerprint, never |docs|².

    Output: ``(source_a, source_b, n_shared, n_a, n_b, share_of_a,
    share_of_b)``.
    """
    m = df.select(
        F.col(source_col).alias("_s"), key_col.alias("_k")
    ).filter(F.col("_s").isNotNull() & F.col("_k").isNotNull()).distinct()
    sizes = m.groupBy("_s").agg(F.count("*").alias("_n"))
    a = m.select(F.col("_s").alias("source_a"), "_k")
    b = m.select(F.col("_s").alias("source_b"), "_k")
    shared = (
        a.join(b, "_k")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    na = sizes.select(F.col("_s").alias("source_a"), F.col("_n").alias("n_a"))
    nb = sizes.select(F.col("_s").alias("source_b"), F.col("_n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.col("n_a").cast("long"),
            F.col("n_b").cast("long"),
            (F.col("n_shared").cast("double") / F.col("n_a").cast("double"))
            .alias("share_of_a"),
            (F.col("n_shared").cast("double") / F.col("n_b").cast("double"))
            .alias("share_of_b"),
        )
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for community
    detection, made DETERMINISTIC: every node starts labeled with its own
    id; each iteration every node adopts the most frequent label among
    its neighbors, ties broken by the smallest label, isolated nodes keep
    their current label. Classic LPA breaks ties randomly and is
    therefore irreproducible; the (count desc, label asc) rule makes the
    fixed iteration count bit-identical across engines and partitionings
    — the same determinism contract as :func:`pagerank_fixed_point`.

    The graph is treated as UNDIRECTED with parallel edges collapsed
    (each neighbor votes once per round) and self-loops dropped.

    Scale shape: one symmetrize+distinct up front (localCheckpointed —
    every iteration re-joins it), then per iteration one join of the
    label vector with the edge list, one (dst, label) count aggregate,
    and one per-dst argmax via ``min(struct(-count, label))`` — the
    standard distributed LPA step. Returns ``(node, label)``.
    """
    sym = (
        edges.select(F.col(src_col).alias("_u"), F.col(dst_col).alias("_v"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("_u"), F.col(src_col).alias("_v")
            )
        )
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.select(F.col(node_col).alias("_n"), F.col(node_col).alias("_lab"))
    for _ in range(iters):
        votes = (
            sym.join(labels, sym["_u"] == labels["_n"])
            .select(F.col("_v"), F.col("_lab"))
            .groupBy("_v", "_lab")
            .agg(F.count("*").alias("_c"))
        )
        winner = votes.groupBy("_v").agg(
            F.min(
                F.struct(
                    (-F.col("_c")).alias("nc"), F.col("_lab").alias("lb")
                )
            ).alias("_m")
        ).select(F.col("_v"), F.col("_m.lb").alias("_new"))
        labels = (
            labels.join(winner, labels["_n"] == winner["_v"], "left")
            .select(
                F.col("_n"),
                F.coalesce(F.col("_new"), F.col("_lab")).alias("_lab"),
            )
        )
    return labels.select(
        F.col("_n").alias(node_col), F.col("_lab").alias("label")
    )


def k_core_peel(
    edges: DataFrame,
    k: int = 3,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling (Seidman 1983; the distributed
    formulation of Montresor et al., "Distributed k-core decomposition"):
    each round drops every node whose CURRENT degree is below ``k`` and
    keeps only edges between survivors. A fixed ``iters`` makes the
    result deterministic and engine-portable (the same contract as
    :func:`pagerank_fixed_point` / :func:`label_propagation`); with
    enough rounds the survivor set IS the k-core, and intermediate
    rounds are the standard peel schedule.

    The graph is treated as UNDIRECTED with parallel edges collapsed and
    self-loops dropped. Scale shape: one symmetrize+distinct up front,
    then per round one degree aggregate + two semi-join-shaped inner
    joins against the (much smaller) survivor set; each round's edge set
    is localCheckpointed so lineage stays flat and dropped rounds'
    blocks free on GC.

    Returns the survivor degree table ``(node, degree)`` after the last
    round's filter (degrees as of the surviving subgraph).
    """
    if k < 1 or iters < 1:
        raise ValueError("k and iters must be >= 1")
    cur = (
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .unionByName(
            edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    for _ in range(iters):
        deg = cur.groupBy("u").agg(F.count("*").alias("_d"))
        keep = deg.filter(F.col("_d") >= k).select("u")
        cur = (
            cur.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint()
        )
    return cur.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("degree")
    )
