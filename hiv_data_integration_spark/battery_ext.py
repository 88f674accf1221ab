"""Extension query battery: dedup / similarity / text analysis / multimodal
(SURVEY.md §2.14 + BASELINE.json north star) with DuckDB oracle mirrors.

The oracles replicate the FULL pipelines (shingling, seeded md5 minhashing,
banding, bucket joins, hyperplane buckets) in SQL — every hash in the
engine is md5-derived precisely so an external engine can reproduce it.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hiv_data_integration_spark.battery import (
    Entry,
    QueryFn,
    dsum,
    read_events_stream,
    tbl,
)
from hiv_data_integration_spark.operators.aggregate import (
    cohort_retention as agg_cohort,
    funnel_conversion as agg_funnel,
    completeness_profile as agg_completeness,
    numeric_histogram as agg_hist,
    trailing_window_features as agg_trailing,
    user_event_sequences as agg_user_seq,
    gap_fill_locf as agg_ops_gap_fill,
)
from hiv_data_integration_spark.operators import dedup as dd
from hiv_data_integration_spark.operators import fuzzy as fz
from hiv_data_integration_spark.operators import multimodal as mm
from hiv_data_integration_spark.operators import sampling as sp
from hiv_data_integration_spark.operators import similarity as sim
from hiv_data_integration_spark.operators import textops as tx

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Shared SQL fragments
# ---------------------------------------------------------------------------

_TOKS = "list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '')"
_PUNCT_SQL = """[!"#$%&''()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]"""
_CJK_SQL = "[一-鿿]"

# corpus with synthetic near-duplicates: every 10th doc re-appears with its
# last word dropped (id offset +100000) — gives the dedup operators real
# work on an otherwise fully-distinct corpus.
_DUP_CORPUS_SQL = """
corpus AS (
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 100000 AS doc_id,
           array_to_string(w[1:len(w)-1], ' ') AS text, lang
    FROM (SELECT doc_id, lang,
                 list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS w
          FROM documents WHERE doc_id % 10 = 0)
)
"""



class _trailing_flush_batch:
    """Re-enable the trailing no-data micro-batch around one ``.start()``.

    The battery's stream session disables ``noDataMicroBatches`` (see
    ``battery._new_utc_stream_session``) because for most one-shot
    availableNow entries that batch emits nothing. The two append-mode
    entries whose RESULTS are flushed by watermark expiry
    (``streaming_outer_join_expiry``, ``streaming_chained_windows``)
    wrap their ``.start()`` in this context manager. StreamExecution
    clones the session's conf at start, so restoring after
    ``awaitTermination`` cannot affect the running query. Exit restores
    the value set before entry, or unsets the key if none was.
    """

    _KEY = "spark.sql.streaming.noDataMicroBatches.enabled"

    def __init__(self, session: SparkSession) -> None:
        self._s = session

    def __enter__(self) -> None:
        self._prior = self._s.conf.getAll.get(self._KEY)
        self._s.conf.set(self._KEY, "true")

    def __exit__(self, *exc: object) -> None:
        if self._prior is None:
            self._s.conf.unset(self._KEY)
        else:
            self._s.conf.set(self._KEY, self._prior)


def _local_result(df: DataFrame) -> DataFrame:
    """Materialize a small result as a local-rows DataFrame.

    Queries that build temp state (bucketed tables, streaming checkpoints,
    partitioned layouts) must not return a lazy plan over that state —
    callers evaluate the DataFrame after we have reclaimed it. Collect the
    (small) result first, then hand back local rows; the cleanup in the
    caller's ``finally`` is then safe.

    Transfer is Arrow both ways (``toArrow`` → ``createDataFrame(pa.Table,
    schema)``, guide §6 "Arrow for driver transfers"): the old row path
    pickled every row out of the JVM and back — measured ~1.5 s of the
    streaming_session_windows entry alone (95k rows at sf0.1). The
    explicit ``df.schema`` pins exact result types (TIMESTAMP_NTZ vs LTZ,
    decimals) across the roundtrip; the row fallback covers any type the
    Arrow bridge rejects and logs a warning naming the exception class.
    """
    try:
        return df.sparkSession.createDataFrame(df.toArrow(), schema=df.schema)
    except Exception as e:
        _log.warning(
            "_local_result: Arrow transfer failed (%s: %s); falling back to rows",
            type(e).__name__, e,
        )
        rows, schema = df.collect(), df.schema
        return df.sparkSession.createDataFrame(rows, schema)


def _spread(df: DataFrame) -> DataFrame:
    """Spread a narrow scan across the session's cores before heavy
    per-row compute (explodes, shingle/token generation, hashing).

    The local testdata ships ONE small parquet file per table — a 1-3
    split scan that single-threads every downstream expression until
    the first exchange (guide §2.5 input skew / §6 input split size;
    maxPartitionBytes cannot split below row-group granularity, so a
    repartition is the only lever). Measured r12 at sf0.1:
    bpe_pair_topk 2.04 s → 0.55 s once spread. Scale-adaptive, not a
    local[32] constant: the target is the session's defaultParallelism
    (follows the driver's SPARK_GRAFT_CPUS master) and the repartition
    is SKIPPED whenever the scan already carries that many splits — a
    production-scale table arrives with thousands of natural splits
    and never pays the extra exchange."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    words = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    mutated = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.array_join(
                # greatest(…, 0): a zero-token doc would give slice
                # length -1 (INVALID_PARAMETER_VALUE); DuckDB's
                # w[1:len(w)-1] yields [] for the same row
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                " ",
            ).alias("text"),
            "lang",
        )
    )
    return docs.unionByName(mutated)


def _sw_count_sql(words: list[str]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({_TOKS}, x -> x IN ({quoted})))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("ws_tokens"),
        tx.regex_token_count(F.col("text")).alias("re_tokens"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')) AS ws_tokens,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS re_tokens
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.quality_features(docs).drop("text")


SQL_QUALITY_SCORES = f"""
WITH feat AS (
    SELECT doc_id,
           length(text) AS n_chars,
           len({_TOKS.replace("lower(text)", "text")}) AS n_words,
           length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')) AS n_punct,
           {_sw_count_sql(tx.STOPWORDS["en"])} AS n_stop
    FROM documents
)
SELECT doc_id, n_chars, n_words,
       CASE WHEN n_words > 0 THEN CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) END AS avg_word_len,
       CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
       CASE WHEN n_words > 0 THEN CAST(n_stop AS DOUBLE) / CAST(n_words AS DOUBLE) END AS stopword_ratio
FROM feat
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(tbl(spark, sf_dir, "documents"))
    return (
        docs.withColumn("predicted", tx.lang_id(F.col("text")))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_LANG_ID = f"""
WITH scores AS (
    SELECT lang,
           {_sw_count_sql(tx.STOPWORDS["en"])} AS s_en,
           {_sw_count_sql(tx.STOPWORDS["fr"])} AS s_fr,
           {_sw_count_sql(tx.STOPWORDS["es"])} AS s_es,
           {_sw_count_sql(tx.STOPWORDS["de"])} AS s_de,
           length(text) - length(regexp_replace(text, '{_CJK_SQL}', '', 'g')) AS s_zh
    FROM documents
)
SELECT lang,
       CASE WHEN s_zh > 0 THEN 'zh'
            WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
            WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
            WHEN s_es >= s_de THEN 'es'
            ELSE 'de' END AS predicted,
       count(*) AS n_docs
FROM scores GROUP BY 1, 2
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", tx.fingerprint(F.col("text")).alias("fp"))


SQL_FINGERPRINT = """
SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return dd.exact_dedup(corpus, tx.fingerprint(F.col("text")), "doc_id")


SQL_DEDUP_EXACT = f"""
WITH {_DUP_CORPUS_SQL}
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS dedup_key,
       min(doc_id) AS canonical_id, count(*) AS n_copies
FROM corpus GROUP BY 1
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return dd.minhash_candidate_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.6, partitions=32,
    )


_MD5L = "CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"

# affine-permutation minhash mirror (operators.dedup.minhash_coeffs)
_MH_A = "[" + ", ".join(str(a) for a, _ in dd.minhash_coeffs(16)) + "]"
_MH_B = "[" + ", ".join(str(b) for _, b in dd.minhash_coeffs(16)) + "]"

def _minhash_sig_ctes(source: str, extra: str = "") -> str:
    """Shared DuckDB CTE chain computing banded MinHash signatures over
    ``source`` (columns: doc_id, text, plus any ``extra`` columns,
    comma-led like ``", side"``). Emits sh/docs2/hs/sig/bands mirroring
    ``operators.dedup.minhash_band_entries`` — the ONE place the shingle
    window, hash widths, affine permutations, and band slicing live on
    the oracle side, shared by the self-join pair oracle and the
    incremental batch-vs-corpus oracle."""
    band_hash = _MD5L.format(
        expr=("'band|' || array_to_string(list_transform("
              "sig[b*4+1:b*4+4], x -> CAST(x AS VARCHAR)), '|')")
    )
    return f"""sh AS (
    SELECT doc_id{extra},
           list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM (SELECT doc_id{extra}, {_TOKS} AS w FROM {source})
),
docs2 AS (SELECT * FROM sh WHERE len(shingles) > 0),
hs AS (
    SELECT doc_id{extra}, shingles,
           list_transform(shingles,
               x -> CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)) AS hvals
    FROM docs2
),
sig AS (
    SELECT doc_id{extra}, shingles,
           list_transform(range(1, 17),
               i -> list_min(list_transform(hvals,
                   h -> (h * {_MH_A}[i] + {_MH_B}[i]) % {dd.MINHASH_PRIME}))) AS sig
    FROM hs
),
bands AS (
    SELECT doc_id{extra}, shingles, b,
           {band_hash} AS band_hash
    FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)
)"""


SQL_MINHASH_PAIRS = f"""
WITH {_DUP_CORPUS_SQL},
{_minhash_sig_ctes("corpus")},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.shingles AS sh_a, b.shingles AS sh_b
    FROM bands a JOIN bands b
      ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) AS jaccard
    FROM cand)
WHERE jaccard >= 0.6
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup (the crawl-ingestion shape): the
    incoming batch is every 10th doc with its last word dropped (planted
    near-dups, must flag) plus every (10k+3)rd doc with its words reversed
    (same vocabulary, disjoint 3-gram shingles, must pass). The corpus'
    LSH band entries are a pure projection — at scale computed once per
    corpus version and stored — and the new batch's entries broadcast, so
    the reference corpus never shuffles. Oracle mirrors the full pipeline
    (signatures, banding, bucket join, exact-Jaccard verify, per-doc
    rollup) in SQL."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
                # greatest(…, 0): a zero-token doc would give slice
                # length -1 (INVALID_PARAMETER_VALUE); DuckDB's
                # w[1:len(w)-1] yields [] for the same row
                F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
                " ",
            ).alias("text"),
    )
    fresh = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(F.reverse(words), " ").alias("text"),
    )
    return dd.incremental_dedup(
        near.unionByName(fresh), docs, "doc_id", "text",
        shingle_n=3, num_hashes=16, bands=4, jaccard_threshold=0.6,
        partitions=32,
        # the batch is bounded by construction (a fixed fraction of the
        # corpus), so the broadcast-size guard probe is a wasted Spark job
        # here (r12: −0.3 s at sf0.1); unbounded ingest callers keep the
        # default loud-failure probe
        skip_probe=True,
    )


_INC_NEWB_SQL = """
newb AS (
    SELECT doc_id + 100000 AS doc_id, array_to_string(w[1:len(w)-1], ' ') AS text
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS w
          FROM documents WHERE doc_id % 10 = 0)
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, array_to_string(list_reverse(w), ' ') AS text
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '') AS w
          FROM documents WHERE doc_id % 10 = 3)
),
allside AS (
    SELECT doc_id, text, 'n' AS side FROM newb
    UNION ALL
    SELECT doc_id, text, 'c' AS side FROM documents
)"""

SQL_INCREMENTAL_DEDUP = (f"""WITH {_INC_NEWB_SQL},
{_minhash_sig_ctes("allside", ", side")}""" + f""",
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
                    n.shingles AS sh_n, c.shingles AS sh_c
    FROM bands n JOIN bands c
      ON n.side = 'n' AND c.side = 'c'
     AND n.b = c.b AND n.band_hash = c.band_hash
),
matches AS (
    SELECT new_id, CAST(count(*) AS BIGINT) AS n_matches,
           max(jaccard) AS best_jaccard
    FROM (
        SELECT new_id, corpus_id,
               CAST(len(list_intersect(sh_n, sh_c)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(sh_n, sh_c))) AS DOUBLE) AS jaccard
        FROM cand)
    WHERE jaccard >= 0.6
    GROUP BY new_id
)
SELECT nb.doc_id,
       CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
       m.best_jaccard,
       COALESCE(m.n_matches, 0) > 0 AS is_dup
FROM newb nb LEFT JOIN matches m ON nb.doc_id = m.new_id
""")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return dd.ngram_jaccard_pairs(
        corpus, "doc_id", "text", shingle_n=3, jaccard_threshold=0.5,
        block_cols=["lang"], partitions=32,
    )


SQL_NGRAM_JACCARD = f"""
WITH {_DUP_CORPUS_SQL},
sh AS (
    SELECT doc_id, lang,
           list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM (SELECT doc_id, lang, {_TOKS} AS w FROM corpus)
),
docs AS (SELECT * FROM sh WHERE len(shingles) > 0),
posting AS (
    SELECT doc_id, lang, len(shingles) AS n_sh, unnest(shingles) AS shingle
    FROM docs
),
common AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS n_a, b.n_sh AS n_b,
           count(*) AS n_common
    FROM posting a JOIN posting b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
    FROM common)
WHERE jaccard >= 0.5
"""


def q_ngram_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style prefix-filtered set-similarity join: must return
    BIT-IDENTICAL pairs to the unfiltered posting join — the oracle is
    the SAME SQL as dedup_ngram_jaccard_pairs, so the hash check proves
    the candidate-reduction optimization loses nothing (the scale story:
    only each doc's rare-token prefix enters the left posting index)."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.ngram_jaccard_prefix_pairs(
        corpus, "doc_id", "text", shingle_n=3, jaccard_threshold=0.5,
        block_cols=["lang"], partitions=32,
    )


def q_ngram_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped set-similarity join (``dedup.ngram_jaccard_dfcap_pairs``,
    cap 20): candidates only through shingles in ≤ 20 docs, every
    candidate exact-verified with full-shingle Jaccard. Shipped after
    the round-10 scale-slope study (SCALE.md §11) measured the
    prefix-filtered join going superlinear on a vocabulary-bounded
    corpus (31× wall for 10× rows — "rare prefix" stops being
    selective when vocabulary does not grow); the cap restores a
    candidate bound no df distribution can break. At this
    corpus's sf0.01 every near-dup pair shares rare shingles, so the
    capped result equals the uncapped one — the oracle re-derives the
    capped definition itself (df CTE + rare-candidate join + full
    verify), so the semantics are hash-pinned, not assumed."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.ngram_jaccard_dfcap_pairs(
        corpus, "doc_id", "text", shingle_n=3, jaccard_threshold=0.5,
        df_cap=20, block_cols=["lang"], partitions=32,
    )


SQL_NGRAM_DFCAP = f"""
WITH {_DUP_CORPUS_SQL},
sh AS (
    SELECT doc_id, lang,
           list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))
               ELSE [] END) AS shingles
    FROM (SELECT doc_id, lang, {_TOKS} AS w FROM corpus)
),
docs AS (SELECT * FROM sh WHERE len(shingles) > 0),
posting AS (
    SELECT doc_id, lang, len(shingles) AS n_sh, unnest(shingles) AS shingle
    FROM docs
),
dfreq AS (
    SELECT lang, shingle, count(*) AS df_ FROM posting GROUP BY 1, 2
),
rare AS (
    SELECT p.doc_id, p.lang, p.shingle
    FROM posting p JOIN dfreq d
      ON p.lang = d.lang AND p.shingle = d.shingle AND d.df_ <= 20
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM rare a JOIN rare b
      ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
),
common AS (
    SELECT c.id_a, c.id_b, a.n_sh AS n_a, b.n_sh AS n_b,
           count(*) AS n_common
    FROM cand c
    JOIN posting a ON a.doc_id = c.id_a
    JOIN posting b ON b.doc_id = c.id_b AND b.shingle = a.shingle
    GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, jaccard FROM (
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE) AS jaccard
    FROM common)
WHERE jaccard >= 0.5
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return dd.simhash(docs, "doc_id", "text", bits=32, partitions=32)


_SIMHASH_BALANCES = ",\n           ".join(
    f"SUM(((h >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(32)
)
_SIMHASH_PACK = " + ".join(
    f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
)

SQL_SIMHASH = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
h AS (SELECT doc_id, {_MD5L.format(expr="tok")} AS h FROM toks),
bal AS (
    SELECT doc_id,
           {_SIMHASH_BALANCES}
    FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({_SIMHASH_PACK} AS BIGINT) AS simhash FROM bal
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.rolling_fingerprint(F.col("text")).alias("rfp")
    )


SQL_ROLLING_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(
           list_concat([CAST(0 AS BIGINT)],
               list_transform({_TOKS},
                   t -> CAST('0x' || substr(md5(t), 1, 8) AS BIGINT))),
           (acc, h) -> (acc * {tx.ROLLING_BASE} + h) % {tx.ROLLING_PRIME}) AS rfp
FROM documents
"""


def q_embedding_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over a corpus with planted scaled
    duplicates (x1.5 scaling keeps cosine == 1 mathematically; 1.5 is a
    power-of-two fraction so the scaling is FP-exact on both engines)."""
    emb = tbl(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.5
        ).alias("embedding"),
        "label",
    )
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).unionByName(planted)
    return dd.embedding_cosine_pairs(
        corpus, "vec_id", "embedding", block_col="label", threshold=0.999
    )


SQL_EMBED_COSINE_DEDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
p AS (SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 1.5) AS v, label
      FROM e WHERE vec_id % 20 = 0),
allv AS (SELECT * FROM e UNION ALL SELECT * FROM p)
SELECT id_a, id_b, cos FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM allv a JOIN allv b ON a.label = b.label AND a.vec_id < b.vec_id
) WHERE cos >= 0.999
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(qv, v) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v)))"
)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.cosine_topk(queries, emb, k=5)


SQL_COSINE_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e CROSS JOIN q WHERE e.vec_id != query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
FROM r WHERE rank <= 5
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.bucketed_topk(queries, emb, bucket_col="label", k=3)


SQL_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label, v AS qv FROM e WHERE vec_id % 50 = 0),
scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e JOIN q USING (label) WHERE e.vec_id != query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
FROM r WHERE rank <= 3
"""

def q_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-checked end-to-end REAL IVF: deterministic Lloyd's k-means
    coarse quantizer (no RNG, init = lowest-id vectors, id-ordered-fold
    means — bit-identical across engines) + nprobe=2 multi-probe search.
    The oracle unrolls all three Lloyd iterations as SQL CTEs
    (assignment → ordered-fold per-dimension mean → empty-cluster
    coalesce), so the driver verifies the TRAINER numerics, not just the
    search. Recall vs the exact baseline is additionally asserted in
    tests/test_similarity_recall.py."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    cents = sim.kmeans_centroids(emb, n_clusters=8, iters=3)
    return sim.kmeans_ivf_topk(queries, emb, cents, k=3, nprobe=2)


def _kmeans_ivf_sql(k_clusters: int = 8, iters: int = 3, nprobe: int = 2,
                    topk: int = 3) -> str:
    """Unrolled-Lloyd's SQL mirror of q_kmeans_ivf_topk.

    Every float op mirrors the Spark side bit-for-bit: distances are
    ``c·c - 2·v·c`` (the per-row ``v·v`` constant is dropped on both
    sides), dot products are left-to-right double folds
    (``list_dot_product`` == ``F.aggregate`` fold — the invariant all
    embed_* oracles already rely on), per-dimension means fold in vec_id
    order with a 0.0 seed, and argmin ties break on the lower centroid
    index exactly like ``array_min`` over (distance, index) structs."""
    assign_rn = (
        "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        "list_dot_product(c.v, c.v) - 2 * list_dot_product(e.v, c.v), c.c_id)"
    )
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),",
        f"""cents0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, v
    FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k_clusters})
),""",
    ]
    for i in range(iters):
        parts.append(f"""assign{i} AS (
    SELECT vec_id, v, c_id FROM (
        SELECT e.vec_id, e.v, c.c_id, {assign_rn} AS rn
        FROM e CROSS JOIN cents{i} c
    ) WHERE rn = 1
),
mean{i} AS (
    SELECT c_id, pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY vec_id)),
                       (acc, x) -> acc + x) / count(*) AS m
    FROM (SELECT c_id, vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
          FROM assign{i})
    GROUP BY c_id, pos
),
cents{i + 1} AS (
    SELECT p.c_id, COALESCE(n.v, p.v) AS v
    FROM cents{i} p LEFT JOIN (
        SELECT c_id, list(m ORDER BY pos) AS v FROM mean{i} GROUP BY c_id
    ) n USING (c_id)
),""")
    parts.append(f"""probe AS (
    SELECT vec_id AS query_id, v AS qv, c_id AS bucket FROM (
        SELECT e.vec_id, e.v, c.c_id, {assign_rn} AS rn
        FROM e CROSS JOIN cents{iters} c
        WHERE e.vec_id % 50 = 0
    ) WHERE rn <= {nprobe}
),
corpus AS (
    SELECT vec_id AS neighbor_id, v AS cv, c_id AS bucket FROM (
        SELECT e.vec_id, e.v, c.c_id, {assign_rn} AS rn
        FROM e CROSS JOIN cents{iters} c
    ) WHERE rn = 1
),
scored AS (
    SELECT query_id, neighbor_id,
           list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
    FROM corpus JOIN probe USING (bucket)
    WHERE neighbor_id != query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
FROM r WHERE rank <= {topk}""")
    return "\n".join(parts)


SQL_KMEANS_IVF_TOPK = _kmeans_ivf_sql()


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., TPAMI 2011), HASH-checked
    end-to-end: 4 subspaces × 16 dims, a deterministic per-subspace Lloyd
    codebook (4 codewords, 2 iterations), corpus encoded to 4 code ids,
    queries scored by asymmetric distance — 4 LUT lookups summed in fixed
    subspace order. The oracle unrolls all 8 per-subspace Lloyd iterations
    as SQL CTEs, so the driver verifies the codebook TRAINER, the encoder,
    and the ADC scorer numerics, not just the final ranking."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    books = sim.pq_codebooks(emb, dim=64, m=4, n_codes=4, iters=2)
    return sim.pq_adc_topk(queries, emb, books, k=3)


def _pq_sql(m: int = 4, sub: int = 16, n_codes: int = 4, iters: int = 2,
            topk: int = 3) -> str:
    """Unrolled per-subspace-Lloyd SQL mirror of q_pq_adc_topk. Same float
    invariants as `_kmeans_ivf_sql`: assignment distance ``c·c − 2·v·c``
    (list_dot_product == the Spark fold == Python's literal sum),
    id-ordered per-dimension mean folds, argmin ties to the lower code id;
    the ADC sum is left-assoc ``d_0 + d_1 + …`` matching the Spark
    expression tree."""
    assign = (
        "row_number() OVER (PARTITION BY e.vec_id ORDER BY "
        "list_dot_product(c.v, c.v) - 2 * list_dot_product(e.sv, c.v), c.c_id)"
    )
    parts = ["WITH"]
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f"""e{s} AS (
    SELECT vec_id, (CAST(embedding AS DOUBLE[]))[{lo}:{hi}] AS sv
    FROM embeddings
),
cents{s}_0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, sv AS v
    FROM (SELECT vec_id, sv FROM e{s} ORDER BY vec_id LIMIT {n_codes})
),""")
        for i in range(iters):
            parts.append(f"""assign{s}_{i} AS (
    SELECT vec_id, sv, c_id FROM (
        SELECT e.vec_id, e.sv, c.c_id, {assign} AS rn
        FROM e{s} e CROSS JOIN cents{s}_{i} c
    ) WHERE rn = 1
),
mean{s}_{i} AS (
    SELECT c_id, pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY vec_id)),
                       (acc, x) -> acc + x) / count(*) AS m
    FROM (SELECT c_id, vec_id, unnest(sv) AS x, generate_subscripts(sv, 1) AS pos
          FROM assign{s}_{i})
    GROUP BY c_id, pos
),
cents{s}_{i + 1} AS (
    SELECT p.c_id, COALESCE(n.v, p.v) AS v
    FROM cents{s}_{i} p LEFT JOIN (
        SELECT c_id, list(m ORDER BY pos) AS v FROM mean{s}_{i} GROUP BY c_id
    ) n USING (c_id)
),""")
        parts.append(f"""codes{s} AS (
    SELECT vec_id, c_id AS code FROM (
        SELECT e.vec_id, c.c_id, {assign} AS rn
        FROM e{s} e CROSS JOIN cents{s}_{iters} c
    ) WHERE rn = 1
),
qd{s} AS (
    SELECT e.vec_id AS query_id, c.c_id,
           list_dot_product(c.v, c.v) - 2 * list_dot_product(e.sv, c.v) AS d
    FROM e{s} e CROSS JOIN cents{s}_{iters} c
    WHERE e.vec_id % 50 = 0
),""")
    code_joins = "\n    ".join(
        f"JOIN codes{s} c{s} ON c{s}.vec_id = c0.vec_id" for s in range(1, m)
    )
    qd_joins = "\n    ".join(
        f"JOIN qd{s} ON qd{s}.query_id = qd0.query_id "
        f"AND qd{s}.c_id = cc.code_{s}" for s in range(1, m)
    )
    adc = " + ".join(f"qd{s}.d" for s in range(m))
    parts.append(f"""corpus_codes AS (
    SELECT c0.vec_id AS neighbor_id,
           {', '.join(f'c{s}.code AS code_{s}' for s in range(m))}
    FROM codes0 c0
    {code_joins}
),
scored AS (
    SELECT qd0.query_id, cc.neighbor_id, {adc} AS adc
    FROM corpus_codes cc
    JOIN qd0 ON qd0.c_id = cc.code_0
    {qd_joins}
    WHERE cc.neighbor_id != qd0.query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, adc
FROM r WHERE rank <= {topk}""")
    # join the WITH header to the first CTE without a leading comma
    body = "\n".join(parts[1:])
    return "WITH " + body


SQL_PQ_ADC_TOPK = _pq_sql()


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (arXiv:2303.09540), HASH-checked
    end-to-end: embeddings + planted x1.5-scaled duplicates (FP-exact
    scaling, same direction ⇒ cosine ≈ 1 after L2-normalization) →
    normalize → deterministic 2-iteration Lloyd clustering → within each
    cluster drop every vector with a lower-id neighbor at cosine ≥ 0.999.
    The oracle unrolls the ENTIRE pipeline — normalization, both Lloyd
    iterations, final assignment, the pairwise drop and the per-cluster
    rollup — as SQL CTEs, so the driver verifies the trainer numerics and
    the dedup decisions, not just row counts."""
    return sim.semantic_dedup(
        _planted_corpus(spark, sf_dir),
        "vec_id", "embedding", n_clusters=16, iters=2, threshold=0.999,
    )


def _planted_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    planted = emb.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 1.5
        ).alias("embedding"),
    )
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(planted)


def q_semantic_dedup_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the documented 100 TB trainer knob EXERCISED: the
    Lloyd quantizer trains on the deterministic md5-threshold 25% sample
    (``kmeans_centroids(sample_fraction=0.25)`` — train-on-sample), the
    final assignment and the pairwise drop cover the full planted corpus
    (assign-all). The oracle unrolls the sampled trainer's CTEs over the
    same md5-thresholded subset, so the sampled path is proven
    bit-deterministic end-to-end, not just claimed bounded."""
    return sim.semantic_dedup(
        _planted_corpus(spark, sf_dir),
        "vec_id", "embedding", n_clusters=16, iters=2, threshold=0.999,
        sample_fraction=0.25,
    )


def _semantic_dedup_sql(k_clusters: int = 16, iters: int = 2,
                        threshold: float = 0.999,
                        sample_hex: str | None = None) -> str:
    """Unrolled SQL mirror of q_semantic_dedup: the same Lloyd CTE shapes
    as `_kmeans_ivf_sql` (see its docstring for the bit-parity
    invariants), over an L2-normalized corpus with planted duplicates.

    ``sample_hex`` mirrors the trainer's deterministic md5-threshold
    sample (``kmeans_centroids(sample_fraction=...)``): the init and both
    Lloyd passes then run over ``tr`` (the sampled subset) while the final
    assignment and the pairwise drop still cover the FULL corpus — the
    train-on-sample / assign-all production shape, hash-checked."""
    tr = "tr" if sample_hex else "e"
    assign_rn_tmpl = (
        "row_number() OVER (PARTITION BY {t}.vec_id ORDER BY "
        "list_dot_product(c.v, c.v) - 2 * list_dot_product({t}.v, c.v), c.c_id)"
    )
    assign_rn = assign_rn_tmpl.format(t="e")
    assign_rn_tr = assign_rn_tmpl.format(t=tr)
    parts = [
        """WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
pl AS (SELECT vec_id + 100000 AS vec_id, list_transform(v0, x -> x * 1.5) AS v0
       FROM raw WHERE vec_id % 20 = 0),
allv AS (SELECT * FROM raw UNION ALL SELECT * FROM pl),
e AS (SELECT vec_id,
             list_transform(v0, x -> x / sqrt(list_dot_product(v0, v0))) AS v
      FROM allv),""",
    ]
    if sample_hex:
        parts.append(
            f"""tr AS (SELECT * FROM e
      WHERE md5('km|' || CAST(vec_id AS VARCHAR)) < '{sample_hex}'),"""
        )
    parts.append(f"""cents0 AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, v
    FROM (SELECT vec_id, v FROM {tr} ORDER BY vec_id LIMIT {k_clusters})
),""")
    for i in range(iters):
        parts.append(f"""assign{i} AS (
    SELECT vec_id, v, c_id FROM (
        SELECT {tr}.vec_id, {tr}.v, c.c_id, {assign_rn_tr} AS rn
        FROM {tr} CROSS JOIN cents{i} c
    ) WHERE rn = 1
),
mean{i} AS (
    SELECT c_id, pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY vec_id)),
                       (acc, x) -> acc + x) / count(*) AS m
    FROM (SELECT c_id, vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos
          FROM assign{i})
    GROUP BY c_id, pos
),
cents{i + 1} AS (
    SELECT p.c_id, COALESCE(n.v, p.v) AS v
    FROM cents{i} p LEFT JOIN (
        SELECT c_id, list(m ORDER BY pos) AS v FROM mean{i} GROUP BY c_id
    ) n USING (c_id)
),""")
    parts.append(f"""af AS (
    SELECT vec_id, v, c_id FROM (
        SELECT e.vec_id, e.v, c.c_id, {assign_rn} AS rn
        FROM e CROSS JOIN cents{iters} c
    ) WHERE rn = 1
),
dropped AS (
    SELECT DISTINCT b.vec_id FROM af a JOIN af b
      ON a.c_id = b.c_id AND a.vec_id < b.vec_id
     AND list_dot_product(a.v, b.v) >= {threshold}
)
SELECT CAST(af.c_id AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped
FROM af LEFT JOIN dropped d ON af.vec_id = d.vec_id
GROUP BY af.c_id""")
    return "\n".join(parts)


SQL_SEMANTIC_DEDUP = _semantic_dedup_sql()
# int(0.25 * 16**8) == 0x40000000 — the engine-side threshold for 25%
SQL_SEMANTIC_DEDUP_SAMPLED = _semantic_dedup_sql(sample_hex="40000000")


_PLANES = sim.deterministic_planes(dim=64, n_planes=8, seed="lsh")


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.lsh_topk(queries, emb, _PLANES, k=3)


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product({{v}}, CAST({_plane_literal(p)} AS DOUBLE[])) >= 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b, p in enumerate(_PLANES)
)

SQL_LSH_TOPK = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST({_BUCKET_SQL.format(v="CAST(embedding AS DOUBLE[])")} AS BIGINT) AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, bucket, v AS qv FROM e WHERE vec_id % 50 = 0),
scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e JOIN q USING (bucket) WHERE e.vec_id != query_id
),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
FROM r WHERE rank <= 3
"""

# wider-bucket plane set for the recall measurement (4 planes -> 16 buckets)
_PLANES4 = sim.deterministic_planes(dim=64, n_planes=4, seed="lsh")

_BUCKET4_SQL = " + ".join(
    f"(CASE WHEN list_dot_product({{v}}, CAST({_plane_literal(p)} AS DOUBLE[])) >= 0 "
    f"THEN {1 << b} ELSE 0 END)"
    for b, p in enumerate(_PLANES4)
)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-checked ANN recall measurement: per-query recall@5 of the
    4-plane hyperplane-LSH search against the exact cosine baseline — both
    sides SQL-expressible, so the driver verifies the recall NUMBERS, not
    just that the query runs. (The k-means IVF twin's recall is asserted
    in pytest; its trainer is iterative and has no SQL mirror.)"""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(queries, emb, k=5)
    approx = sim.lsh_topk(queries, emb, _PLANES4, k=5)
    return sim.recall_at_k(approx, exact)


SQL_ANN_RECALL = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST({_BUCKET4_SQL.format(v="CAST(embedding AS DOUBLE[])")} AS BIGINT) AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, bucket, v AS qv FROM e WHERE vec_id % 50 = 0),
exact_scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e CROSS JOIN q WHERE e.vec_id != query_id
),
exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM exact_scored) WHERE rank <= 5
),
approx_scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e JOIN q USING (bucket) WHERE e.vec_id != query_id
),
approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM approx_scored) WHERE rank <= 5
),
j AS (
    SELECT exact.query_id,
           CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
    FROM exact LEFT JOIN approx a
      ON exact.query_id = a.query_id AND exact.neighbor_id = a.neighbor_id
)
SELECT query_id, count(*) AS n_exact, CAST(sum(hit) AS BIGINT) AS n_hit,
       sum(hit) / count(*) AS recall
FROM j GROUP BY query_id
"""


# ---------------------------------------------------------------------------
# REST sources (S4-S6) with deterministic fake fetchers — the driver-side
# fetch harness (thread pool, retry plumbing, Arrow hand-off) and the
# JVM-side JSON flatten are the operators under test; the oracle reproduces
# the same deterministic payloads in pure SQL.
# ---------------------------------------------------------------------------


def q_rest_fanout_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hiv_data_integration_spark.io import rest

    def fetch(param: dict) -> list[dict]:
        de, pe = param["data_element"], param["period"]
        return [
            {
                "data_element_id": de,
                "category_option_combo_id": f"coc{1 + ou % 2}",
                "organisation_unit_id": f"ou{ou}",
                "period": pe,
                "value": str(int(de[2:]) * 1000 + int(pe[-2:]) * 10 + ou),
            }
            for ou in range(1, 6)
        ]

    return rest.dhis2_analytics_source(
        spark,
        fetch,
        data_elements=["de1", "de2", "de3"],
        periods=["202401", "202402", "202403"],
        retry_sleep=0.0,
    )


SQL_REST_FANOUT = """
SELECT 'de' || d AS data_element_id,
       'coc' || CAST(1 + ou % 2 AS VARCHAR) AS category_option_combo_id,
       'ou' || CAST(ou AS VARCHAR) AS organisation_unit_id,
       '20240' || CAST(p AS VARCHAR) AS period,
       CAST(d * 1000 + p * 10 + ou AS VARCHAR) AS value
FROM range(1, 4) t1(d), range(1, 4) t2(p), range(1, 6) t3(ou)
"""


def q_rest_naomi_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from hiv_data_integration_spark.io import rest

    def fetch(param: dict) -> list[dict]:
        ind, sex, age = param["indicator"], param["sex"], param["age_code"]
        base = float(int(age[1:4])) + (0.5 if sex == "male" else 0.25)
        payload = [
            {
                "subareas": [
                    {
                        "subareas": [
                            {"code": "CIV_2_101", "name": "abobo", "mean": base},
                            {"code": "CIV_2_102", "name": "cocody", "mean": base * 2},
                        ]
                    }
                ]
            }
        ]
        return [
            {
                "indicator": ind,
                "coc_name": f"{age}, {sex}",
                "payload_json": _json.dumps(payload),
            }
        ]

    return rest.naomi_source(spark, fetch, retry_sleep=0.0)


SQL_NAOMI_FLATTEN = """
WITH grid AS (
    SELECT ind, sex, age
    FROM (SELECT unnest(['aware_plhiv_num', 'plhiv']) AS ind),
         (SELECT unnest(['male', 'female']) AS sex),
         (SELECT unnest(['Y000_004', 'Y005_009', 'Y010_014', 'Y015_019',
                         'Y020_024', 'Y025_049', 'Y050_999']) AS age)
),
base AS (
    SELECT ind, sex, age,
           CAST(CAST(substr(age, 2, 3) AS INTEGER) AS DOUBLE)
           + CASE WHEN sex = 'male' THEN 0.5 ELSE 0.25 END AS b
    FROM grid
)
SELECT code, name, mean, indicator, coc_name FROM (
    SELECT 'CIV_2_101' AS code, 'abobo' AS name, b AS mean,
           ind AS indicator, age || ', ' || sex AS coc_name FROM base
    UNION ALL
    SELECT 'CIV_2_102', 'cocody', b * 2, ind, age || ', ' || sex FROM base
)
"""


# ---------------------------------------------------------------------------
# Fuzzy entity resolution (reference D6-D10, update_pnls_report/utils.py:420-558)
# ---------------------------------------------------------------------------


def q_normalize_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accent-fold + punctuation-strip + noise-word normalization over
    adversarially mangled customer names (uppercase, accent injection,
    punctuation) — the canonical-key step of entity resolution."""
    cust = tbl(spark, sf_dir, "customer")
    mangled = F.concat(
        F.translate(F.upper(F.col("c_name")), "UOE", "ÜÔÉ"), F.lit("!!")
    )
    return cust.select(
        "c_custkey",
        mangled.alias("mangled"),
        fz.normalize_text_col(mangled).alias("normalized"),
    )


SQL_NORMALIZE_FOLD = f"""
WITH m AS (
    SELECT c_custkey,
           translate(upper(c_name), 'UOE', 'ÜÔÉ') || '!!' AS mangled
    FROM customer
)
SELECT c_custkey, mangled,
       lower(replace(replace(
           trim(regexp_replace(strip_accents(mangled), '[^\\w\\s-]', '', 'g')),
           'public', ''), '-', ' ')) AS normalized
FROM m
"""


def q_fuzzy_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-checked token-set fuzzy resolution (unblocked difflib path).

    Supplier names get a deterministic typo (``Supplier`` -> ``Suplier``)
    so there is no exact hit and the real SequenceMatcher scoring loop
    runs for every row — yet the outcome is provable: TPC-H supplier
    names are the fixed-width domain ``Supplier#%09d``, so every dirty
    name's unique best match is its own source (ratio 2*16/33 ~ 96.97 vs
    <= 90.9 for any other candidate) and the accepted score is the single
    constant ``100 * (2*16/33)`` — IEEE-exact in both engines. That turns
    the previously rows-only entry into a full value-hash check of the
    candidate-capture, normalization, pruning, and strict-max selection
    machinery (reference D6-D8, update_pnls_report/utils.py:434-514). The
    entry sits on both sides of ``fz.MAX_DRIVER_WORK``: at sf0.01 (100 x
    100 names) it is scored on the driver and no Python worker runs; at
    sf0.1 (1,000 x 1,000) the work exceeds the budget and every row
    streams through the scoring pandas_udf."""
    sup = tbl(spark, sf_dir, "supplier")
    dirty = sup.select(
        F.col("s_suppkey").alias("dirty_key"),
        F.replace(
            F.col("s_name"), F.lit("Supplier"), F.lit("Suplier")
        ).alias("dirty_name"),
    )
    # on the udf path (sf0.1 and up): 16 scoring tasks, not 32 — each task
    # runs a Python worker at full CPU, and 32 workers + 32 JVM threads
    # oversubscribe the box (measured 1.4 s stable at 16 vs 2.8-5.4 s at 32)
    resolved = fz.resolve_entities(
        dirty, "dirty_name", sup, "s_name", "s_name", threshold=80.0,
        partitions=16,
    )
    return resolved.filter(F.col("matched").isNotNull()).select(
        "dirty_key", "dirty_name", "matched", "match_score"
    )


SQL_FUZZY_RESOLVE_SUPPLIERS = """
SELECT s_suppkey AS dirty_key,
       replace(s_name, 'Supplier', 'Suplier') AS dirty_name,
       s_name AS matched,
       100.0 * ((2.0 * 16.0) / 33.0) AS match_score
FROM supplier
"""


def q_fuzzy_resolve_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy resolution, HASH-checked: mangled supplier names
    (uppercased + trailing punctuation) resolve inside their s_nationkey
    block only (reference district-blocking, extract_chu_data.py:337-360).
    The mangle normalizes back to an exact candidate key, so the expected
    output is deterministic and the oracle is plain SQL — the blocked
    machinery (per-block candidate dicts, block-key normalization of a
    numeric block column, exact-hit path) is what's under test."""
    sup = tbl(spark, sf_dir, "supplier")
    dirty = sup.select(
        F.col("s_suppkey").alias("dirty_key"),
        F.concat(F.upper(F.col("s_name")), F.lit("!!")).alias("dirty_name"),
        F.col("s_nationkey").alias("block"),
    )
    resolved = fz.resolve_entities(
        dirty,
        "dirty_name",
        sup,
        "s_name",
        "s_name",
        threshold=90.0,
        partitions=16,
        block_cols=["block"],
        cand_block_cols=["s_nationkey"],
    )
    return resolved.select("dirty_key", "dirty_name", "matched", "match_score")


SQL_FUZZY_RESOLVE_BLOCKED = """
SELECT s_suppkey AS dirty_key,
       upper(s_name) || '!!' AS dirty_name,
       s_name AS matched,
       100.0 AS match_score
FROM supplier
"""


def q_uuid5_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uuid5 org-id synthesis (native SHA-1). Oracle: DuckDB has
    no sha1, so the SQL joins a golden dictionary over the nation dim's
    fixed 25-name domain, derived below from RFC 4122 first principles
    (hashlib SHA-1 + version/variant byte surgery — an implementation
    independent of the operator's Spark expression)."""
    nation = tbl(spark, sf_dir, "nation")
    return nation.select(
        "n_nationkey", fz.uuid5_id(F.col("n_name")).alias("org_uid")
    )


def _uuid5_hex(name: str) -> str:
    """RFC 4122 §4.3 uuid5 from first principles: SHA-1(namespace || name),
    first 16 bytes, version nibble -> 5, variant bits -> 10x. Byte surgery
    over ``hashlib``, independent of the operator's hex-digit Spark
    expression."""
    import hashlib as _hl

    ns = bytes.fromhex("6ba7b8109dad11d180b400c04fd430c8")  # NAMESPACE_DNS
    h = bytearray(_hl.sha1(ns + name.encode("utf-8")).digest()[:16])
    h[6] = (h[6] & 0x0F) | 0x50
    h[8] = (h[8] & 0x3F) | 0x80
    return h.hex()


# The testdata nation dim is the fixed domain NATION_0..NATION_24 (TESTDATA.md)
# — uuid5 is a pure function of the name, so a precomputed dictionary joined
# on n_name is a complete oracle: any Spark-side deviation on any name drops
# the row (inner join) or flips the value hash.
SQL_UUID5_IDS = (
    "SELECT n.n_nationkey, u.org_uid\n"
    "FROM nation n JOIN (VALUES "
    + ", ".join(
        f"('NATION_{i}', '{_uuid5_hex(f'NATION_{i}')}')" for i in range(25)
    )
    + ") AS u(n_name, org_uid) ON n.n_name = u.n_name"
)


# ---------------------------------------------------------------------------
# Multimodal
# ---------------------------------------------------------------------------


def q_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    with_payload = mm.attach_payload(docs)
    return mm.payload_meta(with_payload).select(
        "doc_id", "media_type", "n_bytes", "digest"
    )


SQL_PAYLOAD_META = """
SELECT doc_id, 'image' AS media_type,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS digest
FROM documents
"""


def q_decode_media_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode stub — schema/partitioning/batching
    are the real thing; the byte decoder is a deterministic fake (no media
    libs in this container), which makes it fully SQL-oracle-able: the fake
    dims are pure arithmetic over the payload byte length."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    decoded = mm.decode_media(mm.attach_payload(docs))
    return decoded.select(
        "doc_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


# the stub branch of operators/multimodal.py decode_media: payload = UTF-8
# bytes of text; width = 16 + n%64, height = 16 + (n//64)%64
SQL_DECODE_STUB = """
SELECT doc_id,
       16 + (n % 64) AS width,
       16 + ((n // 64) % 64) AS height,
       n AS n_bytes
FROM (SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted join (engine extension): lineitem ⋈ orders on
    the salted key, then a priority rollup. Output is identical to the
    unsalted join — the oracle runs the plain SQL — while the physical plan
    spreads each hot orderkey across ``salt`` shuffle partitions."""
    from hiv_data_integration_spark.operators.relational import salted_join

    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    orders = tbl(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, on=["okey"], salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        dsum("l_quantity", scale=6, prec=28).alias("sum_qty"),
    )


SQL_SALTED_JOIN = """
SELECT o_orderpriority, count(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_spectrum_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 Spectrum scan, oracle-checked: round-trip the nation dim through
    a CSV file and read it back via the suffix-dispatched reader
    (header + schema inference, the reference's polars-inference shape:
    update_pnls_report_with_spectrum_path/utils.py:51-52). The oracle reads
    the original parquet — the CSV hop must be lossless for this schema."""
    import glob as _glob
    import shutil
    import tempfile

    from hiv_data_integration_spark.io.files import read_spectrum

    nation = tbl(spark, sf_dir, "nation")
    base = tempfile.mkdtemp(prefix="spectrum_")
    try:
        nation.coalesce(1).write.mode("overwrite").option("header", True).csv(
            f"{base}/out"
        )
        part = _glob.glob(f"{base}/out/part-*.csv")[0]
        csv_path = f"{base}/spectrum.csv"
        shutil.move(part, csv_path)
        df = read_spectrum(spark, csv_path)
        out = _local_result(
            df.select(
                F.col("n_nationkey").cast("long").alias("n_nationkey"),
                "n_name",
                F.col("n_regionkey").cast("long").alias("n_regionkey"),
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_SPECTRUM_CSV = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
"""


def q_completeness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile, HASH-checked: total/non-null/null/
    exact-distinct for four customer columns in ONE aggregation job
    (multi-DISTINCT expand), unpivoted to long in-plan."""
    cust = tbl(spark, sf_dir, "customer")
    return agg_completeness(
        cust, ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    )


_PROFILE_COL_SQL = """
SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count({c}) AS BIGINT) AS n_nonnull,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct
FROM customer"""

SQL_COMPLETENESS_PROFILE = "\nUNION ALL\n".join(
    _PROFILE_COL_SQL.format(c=c)
    for c in ("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
)


def q_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling histogram, HASH-checked bin-for-bin: 20 equi-width
    bins over l_extendedprice with auto min/max bounds. Both engines
    compute width, bin index (floored, clamped so the max closes the last
    bin) and bin edges with the identical double arithmetic — IEEE
    addition/division make the edges bit-equal."""
    li = tbl(spark, sf_dir, "lineitem")
    return agg_hist(li, "l_extendedprice", bins=20)


SQL_NUMERIC_HISTOGRAM = """
WITH s AS (
    SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
           max(CAST(l_extendedprice AS DOUBLE)) AS mx
    FROM lineitem
),
p AS (SELECT mn, (mx - mn) / 20 AS wd FROM s),
b AS (
    SELECT CASE WHEN l_extendedprice IS NULL
                  OR isnan(CAST(l_extendedprice AS DOUBLE)) THEN -1
                ELSE LEAST(GREATEST(CAST(floor(
                         (CAST(l_extendedprice AS DOUBLE) - mn) / wd)
                     AS BIGINT), 0), 19)
           END AS bin
    FROM lineitem, p
)
SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_rows,
       CASE WHEN bin < 0 THEN NULL ELSE mn + bin * wd END AS bin_lo,
       CASE WHEN bin < 0 THEN NULL ELSE mn + (bin + 1) * wd END AS bin_hi
FROM b, p GROUP BY bin, mn, wd
"""


def q_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding mean-pooling, HASH-checked down to every double: vectors
    pool per label with the id-ordered per-dimension fold (the same
    bit-determinism invariant the k-means trainer relies on), so the
    oracle reproduces all 64 pooled dimensions exactly. The pooled array
    is posexplode'd to one (label, pos, val) row per dimension — the
    driver's pandas canonicalizer cannot hash raw ArrayType columns
    (round-4 red), and per-dimension rows verify strictly MORE than the
    array did: every double, position-addressed."""
    emb = tbl(spark, sf_dir, "embeddings")
    pooled = sim.mean_pool_embeddings(emb, "label", "embedding", "vec_id")
    return pooled.select(
        F.col("group").cast("long").alias("label"),
        "n_vecs",
        F.posexplode("pooled").alias("pos", "val"),
    )


SQL_MEAN_POOL = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
m AS (
    SELECT label, pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x ORDER BY vec_id)),
                       (acc, x) -> acc + x) / count(*) AS m,
           count(*) AS n
    FROM (SELECT label, vec_id, unnest(v) AS x,
                 generate_subscripts(v, 1) AS pos
          FROM e)
    GROUP BY label, pos
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(n AS BIGINT) AS n_vecs,
       CAST(pos - 1 AS INTEGER) AS pos,
       m AS val
FROM m
"""


def q_asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table as-of join, HASH-checked against DuckDB's NATIVE ASOF
    JOIN operator: for every event, the latest order of the same customer
    at or before the event time. The engine side is the union-window
    formulation (tag → union → running last(value) per key — each input
    shuffles exactly once, no (event, order) pair ever materializes,
    which is what makes as-of joins viable on 100 TB event streams where
    a range join explodes). Orders pre-aggregate to one row per
    (customer, date) so the as-of target is unambiguous in both engines.
    Rolled up per event_type with match counts and an order-id checksum."""
    from hiv_data_integration_spark.operators.relational import asof_join_last

    ev = tbl(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    orders = tbl(spark, sf_dir, "orders")
    right = orders.groupBy(
        F.col("o_custkey").alias("user_id"), "o_orderdate"
    ).agg(F.max("o_orderkey").alias("last_order"))
    joined = asof_join_last(
        ev, right, ["user_id"], "ts", "o_orderdate", "last_order",
        out_col="last_order",
    )
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("last_order").isNotNull().cast("int"))
        .cast("long")
        .alias("n_matched"),
        F.sum(F.coalesce(F.col("last_order"), F.lit(0)) % 1000003)
        .cast("long")
        .alias("order_checksum"),
    )


SQL_ASOF_JOIN_ORDERS = """
WITH r AS (
    SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS last_order
    FROM orders GROUP BY 1, 2
),
j AS (
    SELECT e.event_type, r.last_order
    FROM events e ASOF LEFT JOIN r
      ON e.user_id = r.user_id AND r.o_orderdate <= e.ts
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN last_order IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_matched,
       CAST(SUM(COALESCE(last_order, 0) % 1000003) AS BIGINT) AS order_checksum
FROM j GROUP BY event_type
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture sampling, HASH-checked: documents mix to exact
    en:fr:de = 3:2:1 quotas (T = min over weighted langs of
    floor(n/weight); lang keeps T·w rows, unweighted langs drop), chosen
    in deterministic md5-of-salted-id order. Output: per-lang kept count
    (exactly T·w — the mixture invariant itself) plus an id-sum checksum
    so WHICH rows were kept is verified, not just how many."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("doc_id", "lang")
    kept = sp.mixture_quota_sample(
        docs, "lang", "doc_id", weights={"en": 3, "fr": 2, "de": 1}
    )
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.col("doc_id") % 1000003).cast("long").alias("id_checksum"),
    )


SQL_MIXTURE_SAMPLE = """
WITH counts AS (
    SELECT lang, count(*) AS n FROM documents GROUP BY lang
),
w AS (
    SELECT * FROM (VALUES ('en', 3), ('fr', 2), ('de', 1)) AS t(lang, wt)
),
t_units AS (
    SELECT min(COALESCE(n, 0) // wt) AS t
    FROM w LEFT JOIN counts USING (lang)
),
ranked AS (
    SELECT d.doc_id, d.lang, w.wt,
           row_number() OVER (
               PARTITION BY d.lang
               ORDER BY md5('mixture|' || CAST(d.doc_id AS VARCHAR)), d.doc_id
           ) AS mix_rank
    FROM documents d JOIN w ON d.lang = w.lang
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(SUM(doc_id % 1000003) AS BIGINT) AS id_checksum
FROM ranked, t_units
WHERE mix_rank <= t_units.t * wt
GROUP BY lang
"""


def q_trailing_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-interval features (1-hour window), HASH-checked
    per event: RANGE-frame count + decimal-exact value sum over tz-proof
    epoch seconds — identical frame semantics in both engines, and the
    decimal accumulator makes the sum independent of evaluation order.
    Rolled up per user (n_events, max trailing count, decimal-exact total
    of the per-event sums) to keep the result set compact while every
    event's window still feeds the hash."""
    ev = tbl(spark, sf_dir, "events")
    feats = agg_trailing(ev, "user_id", "ts", "value", window_seconds=3600)
    return feats.groupBy(F.col("user_id").alias("user")).agg(
        F.count("*").alias("n_events"),
        F.max("n_trailing").alias("max_trailing"),
        F.sum(F.col("sum_trailing").cast("decimal(28,6)"))
        .cast("double")
        .alias("total_trailing"),
    )


SQL_TRAILING_WINDOW = """
WITH f AS (
    SELECT user_id,
           count(*) OVER w AS n_trailing,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
               AS sum_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
)
SELECT user_id AS user, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(n_trailing) AS BIGINT) AS max_trailing,
       CAST(SUM(CAST(sum_trailing AS DECIMAL(28,6))) AS DOUBLE)
           AS total_trailing
FROM f GROUP BY user_id
"""


def q_user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence extraction, HASH-checked down to the ordering:
    per-user chronological event-type sequences truncated to 20, verified
    element-for-element against ``list(x ORDER BY ts, event_id)`` — the
    (ts, event_id) key is unique so both engines produce the identical
    array. The sequence is projected to a '|'-joined string (element- and
    order-exact; event_type is NULL-free and delimiter-free) because the
    driver's pandas canonicalizer cannot hash raw ArrayType columns
    (round-4 red). Restricted to users with ≥ 2 events to keep the
    result set meaningful."""
    ev = tbl(spark, sf_dir, "events")
    seqs = agg_user_seq(
        ev, "user_id", "event_type", ["ts", "event_id"], max_len=20
    )
    return seqs.filter(F.col("n_events") >= 2).select(
        "user", F.col("n_events").cast("long").alias("n_events"),
        "seq_len", F.concat_ws("|", "sequence").alias("sequence"),
    )


SQL_USER_EVENT_SEQUENCES = """
SELECT user_id AS user,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(LEAST(count(*), 20) AS BIGINT) AS seq_len,
       array_to_string((list(event_type ORDER BY ts, event_id))[1:20], '|')
           AS sequence
FROM events
GROUP BY user_id
HAVING count(*) >= 2
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line dedup (the C4/Dolma boilerplate killer),
    HASH-checked per document: deterministic boilerplate is injected (a
    newsletter header on every 3rd doc, a copyright footer on every 5th,
    a self-duplicated body line on every 4th), ``line_dedup`` keeps only
    each line's first (doc, position) occurrence corpus-wide, and the
    oracle reproduces the reconstructed text byte-for-byte (md5 signature
    so the result set stays compact while every byte feeds the hash).
    documents.text is single-line ASCII, so body lines collide only where
    injected — every keep/drop decision is oracle-predicted."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("SUBSCRIBE TO OUR NEWSLETTER TODAY\n"),
            ).otherwise(F.lit("")),
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0, F.concat(F.lit("\n"), F.col("text"))
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nCOPYRIGHT 2024 EXAMPLE MEDIA GROUP - ALL RIGHTS RESERVED"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = tx.line_dedup(dirty, "doc_id", "text", min_line_chars=10)
    return out.select(
        "doc_id", "n_lines", "n_kept", "n_dropped",
        F.md5(F.col("text_clean")).alias("clean_sig"),
    )


SQL_LINE_DEDUP = """
WITH dirty AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN 'SUBSCRIBE TO OUR NEWSLETTER TODAY' || chr(10)
                ELSE '' END
           || text
           || CASE WHEN doc_id % 4 = 0 THEN chr(10) || text ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN chr(10) ||
                        'COPYRIGHT 2024 EXAMPLE MEDIA GROUP - ALL RIGHTS RESERVED'
                   ELSE '' END AS t
    FROM documents
),
lines AS (
    SELECT doc_id,
           generate_subscripts(string_split(t, chr(10)), 1) - 1 AS pos,
           unnest(string_split(t, chr(10))) AS line
    FROM dirty
),
marked AS (
    SELECT doc_id, pos, line,
           (length(line) < 10
            OR row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) = 1
           ) AS keep
    FROM lines
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       md5(array_to_string(list(line ORDER BY pos) FILTER (WHERE keep),
                           chr(10))) AS clean_sig
FROM marked GROUP BY doc_id
"""


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (the RefinedWeb/CCNet
    crawl-hygiene step), HASH-checked: deterministic messy URLs are
    synthesized per doc (scheme/www/tracking-param/fragment variants over
    a 5-domain pool), ``normalize_url`` canonicalizes them, and the
    per-domain rollup pins the unique-URL count plus min/max canonical
    strings — so every regexp decision (global replacement included) is
    verified against the RE2 oracle running the same patterns with the
    'g' flag."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    domains = F.array(
        F.lit("example.com"), F.lit("news.site.org"), F.lit("blog.dev"),
        F.lit("data.example.net"), F.lit("archive.org"),
    )
    messy = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("https://")).otherwise(
            F.lit("HTTP://WWW.")
        ),
        F.element_at(domains, (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit("/articles/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("/?utm_source=feed&utm_campaign=x&id="),
                (F.col("doc_id") % 40).cast("string"),
            ),
        ).otherwise(
            F.concat(F.lit("?id="), (F.col("doc_id") % 40).cast("string"))
        ),
        F.when(F.col("doc_id") % 6 == 0, F.lit("#section-2")).otherwise(
            F.lit("")
        ),
    )
    urls = docs.select("doc_id", messy.alias("url"))
    norm = urls.select(
        "doc_id",
        tx.normalize_url(F.col("url")).alias("canon"),
    ).withColumn("domain", tx.url_domain(F.col("canon")))
    return norm.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.count_distinct("canon").alias("n_unique"),
        F.min("canon").alias("min_canon"),
        F.max("canon").alias("max_canon"),
    )


SQL_URL_CANONICALIZE = """
WITH messy AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://WWW.' END)
           || (['example.com', 'news.site.org', 'blog.dev',
                'data.example.net', 'archive.org'])[CAST(doc_id % 5 AS INT) + 1]
           || '/articles/' || CAST(doc_id % 40 AS VARCHAR)
           || (CASE WHEN doc_id % 4 = 0
                    THEN '/?utm_source=feed&utm_campaign=x&id='
                         || CAST(doc_id % 40 AS VARCHAR)
                    ELSE '?id=' || CAST(doc_id % 40 AS VARCHAR) END)
           || (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END)
               AS url
    FROM documents
),
canon AS (
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '#.*$', '', 'g'),
                       '^https?://', '', 'g'),
                     '^www\\.', '', 'g'),
                   '[?&](utm_[a-z]+|fbclid|gclid|msclkid|mc_eid|ref)=[^&#]*',
                   '', 'g'),
                 '^([^?&]*)&', '\\1?', 'g'),
               '[?&]+$', '', 'g'),
             '/$', '', 'g') AS canon
    FROM messy
)
SELECT regexp_extract(canon, '^([^/:?#]+)', 1) AS domain,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT canon) AS BIGINT) AS n_unique,
       min(canon) AS min_canon,
       max(canon) AS max_canon
FROM canon GROUP BY 1
"""


def q_clean_corpus_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus text cleaning, HASH-checked: deterministic dirt is injected
    (a NUL control char on every 7th doc, a zero-width space on every
    11th, doubled spaces on every 13th), the C4/CCNet-style cleaner
    strips it, and per-lang counts + total removed characters verify
    every cleaning decision. The regex classes run verbatim in DuckDB
    (RE2) and Spark (Java regex); the one \\s dialect difference
    (vertical tab) is removed by the control-strip step first, so the
    engines agree by construction."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    dirty = docs.withColumn(
        "dirty",
        F.concat(
            F.when(F.col("doc_id") % 7 == 0, F.lit("A\x00")).otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.lit("\u200b")).otherwise(
                F.lit("")
            ),
            F.when(F.col("doc_id") % 13 == 0, F.lit("  x")).otherwise(F.lit("")),
        ),
    )
    cleaned = dirty.withColumn("clean", tx.clean_corpus_text(F.col("dirty")))
    return cleaned.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("clean") != F.col("dirty")).cast("int"))
        .cast("long")
        .alias("n_changed"),
        F.sum(F.length("dirty") - F.length("clean"))
        .cast("long")
        .alias("chars_removed"),
    )


SQL_CLEAN_CORPUS_TEXT = """
WITH dirty AS (
    SELECT doc_id, lang,
           (CASE WHEN doc_id % 7 = 0 THEN 'A' || chr(0) ELSE '' END)
           || text
           || (CASE WHEN doc_id % 11 = 0 THEN chr(8203) ELSE '' END)
           || (CASE WHEN doc_id % 13 = 0 THEN '  x' ELSE '' END) AS d
    FROM documents
),
cleaned AS (
    SELECT doc_id, lang, d,
           trim(regexp_replace(
               regexp_replace(
                   regexp_replace(d,
                       '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f-\\x9f]', '', 'g'),
                   '[\\x{200b}-\\x{200d}\\x{feff}\\x{ad}]', '', 'g'),
               '[\\s\\x{a0}]+', ' ', 'g')) AS c
    FROM dirty
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN c != d THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(SUM(length(d) - length(c)) AS BIGINT) AS chars_removed
FROM cleaned GROUP BY lang
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning, HASH-checked: a synthetic file
    manifest (one file per document, size = text length, partitioned by
    lang) runs through the next-fit window binning; per-(lang, bin) file
    counts and byte totals verify every bin assignment. The op's own
    ``bin_bytes`` output is surfaced via max() so the oracle checks the
    operator's column, not a recomputation."""
    from hiv_data_integration_spark.io.layout import compaction_plan

    manifest = tbl(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        F.length("text").cast("long").alias("size_bytes"),
        "lang",
    )
    planned = compaction_plan(
        manifest, size_col="size_bytes", file_col="file_id",
        target_bytes=4000, group_cols=["lang"],
    )
    return planned.groupBy("lang", "bin").agg(
        F.count("*").alias("n_files"),
        F.max("bin_bytes").alias("bin_bytes"),
    )


SQL_COMPACTION_PLAN = """
WITH manifest AS (
    SELECT doc_id AS file_id, CAST(length(text) AS BIGINT) AS size_bytes, lang
    FROM documents
),
b AS (
    SELECT file_id, lang, size_bytes,
           CAST(floor(COALESCE(SUM(size_bytes) OVER (
                    PARTITION BY lang ORDER BY size_bytes DESC, file_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / 4000.0) AS BIGINT) AS bin
    FROM manifest
)
SELECT lang, bin, CAST(count(*) AS BIGINT) AS n_files,
       CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes
FROM b GROUP BY lang, bin
"""


def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff audit, HASH-checked: a second orders version plants
    removals (every 97th key), changes (every 101st surviving key gets a
    marked priority), and additions (every 103rd key re-added shifted by
    10M); dataset_diff's full-outer fingerprint join must classify every
    key. Compare columns are string/integer (the engine-portable subset
    of the md5 fingerprint projection). Output: per-status key counts +
    key-sum checksum (exact in BIGINT) so a single misclassified key
    flips the hash."""
    from hiv_data_integration_spark.operators.relational import dataset_diff

    old = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_custkey"
    )
    survivors = old.filter(F.col("o_orderkey") % 97 != 0)
    changed = survivors.withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 101 == 0,
            F.concat(F.col("o_orderpriority"), F.lit("*")),
        ).otherwise(F.col("o_orderpriority")),
    )
    added = old.filter(F.col("o_orderkey") % 103 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_orderstatus", "o_orderpriority", "o_custkey",
    )
    new = changed.unionByName(added)
    diff = dataset_diff(old, new, ["o_orderkey"])
    return diff.groupBy("diff_status").agg(
        F.count("*").alias("n_keys"),
        F.sum(F.col("o_orderkey") % 1000003).cast("long").alias("key_checksum"),
    )


SQL_DATASET_DIFF = """
WITH old AS (
    SELECT o_orderkey, o_orderstatus, o_orderpriority, o_custkey FROM orders
),
new_v AS (
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 101 = 0 THEN o_orderpriority || '*'
                ELSE o_orderpriority END AS o_orderpriority,
           o_custkey
    FROM old WHERE o_orderkey % 97 != 0
    UNION ALL
    SELECT o_orderkey + 10000000, o_orderstatus, o_orderpriority, o_custkey
    FROM old WHERE o_orderkey % 103 = 0
),
fp_old AS (
    SELECT o_orderkey,
           md5((CASE WHEN o_orderstatus IS NULL THEN 'n' ELSE CAST(length(CAST(o_orderstatus AS VARCHAR)) AS VARCHAR) || ':' || CAST(o_orderstatus AS VARCHAR) END) ||
               (CASE WHEN o_orderpriority IS NULL THEN 'n' ELSE CAST(length(CAST(o_orderpriority AS VARCHAR)) AS VARCHAR) || ':' || CAST(o_orderpriority AS VARCHAR) END) ||
               (CASE WHEN o_custkey IS NULL THEN 'n' ELSE CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR) END)) AS f
    FROM old
),
fp_new AS (
    SELECT o_orderkey,
           md5((CASE WHEN o_orderstatus IS NULL THEN 'n' ELSE CAST(length(CAST(o_orderstatus AS VARCHAR)) AS VARCHAR) || ':' || CAST(o_orderstatus AS VARCHAR) END) ||
               (CASE WHEN o_orderpriority IS NULL THEN 'n' ELSE CAST(length(CAST(o_orderpriority AS VARCHAR)) AS VARCHAR) || ':' || CAST(o_orderpriority AS VARCHAR) END) ||
               (CASE WHEN o_custkey IS NULL THEN 'n' ELSE CAST(length(CAST(o_custkey AS VARCHAR)) AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR) END)) AS f
    FROM new_v
),
d AS (
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.f IS NULL THEN 'added'
                WHEN n.f IS NULL THEN 'removed'
                WHEN o.f != n.f THEN 'changed'
                ELSE 'unchanged' END AS diff_status
    FROM fp_old o FULL OUTER JOIN fp_new n ON o.o_orderkey = n.o_orderkey
)
SELECT diff_status, CAST(count(*) AS BIGINT) AS n_keys,
       CAST(SUM(o_orderkey % 1000003) AS BIGINT) AS key_checksum
FROM d GROUP BY diff_status
"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip, oracle-checked: write the customer dim
    as ORC (Spark's second first-class columnar format — same pushdown /
    pruning machinery as parquet at scale), read it back with a pushed
    predicate, and aggregate. The oracle reads the original parquet — the
    ORC hop must be lossless for this schema (strings, longs, doubles)."""
    import shutil
    import tempfile

    cust = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    base = tempfile.mkdtemp(prefix="orc_")
    try:
        cust.write.mode("overwrite").orc(base)
        back = spark.read.orc(base).filter(F.col("c_acctbal") > 0)
        result = back.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_cust"),
            dsum("c_acctbal", scale=2, prec=28).alias("sum_bal"),
            F.min("c_custkey").alias("min_key"),
            F.max("c_custkey").alias("max_key"),
        )
        out = _local_result(result)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_ORC_ROUNDTRIP = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal,
       min(c_custkey) AS min_key, max(c_custkey) AS max_key
FROM customer WHERE c_acctbal > 0
GROUP BY c_mktsegment
"""


def q_sql_ddl_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog lifecycle in pure SQL: CREATE TABLE … USING parquet at an
    explicit tempdir LOCATION (external, so no warehouse litter),
    INSERT INTO … SELECT from a temp view over the source, aggregate the
    managed table back, DROP in ``finally``. Unique table name per run —
    concurrent drivers share one catalog. The oracle aggregates the
    original parquet: the DDL round-trip must be lossless."""
    import shutil
    import tempfile
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:10]
    tbl_name = f"orders_ddl_{tag}"
    view = f"orders_src_{tag}"
    loc = tempfile.mkdtemp(prefix="ddl_")
    orders = tbl(spark, sf_dir, "orders")
    orders.createOrReplaceTempView(view)
    try:
        spark.sql(
            f"""CREATE TABLE {tbl_name}
                (o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)
                USING parquet LOCATION '{loc}/t'"""
        )
        spark.sql(
            f"""INSERT INTO {tbl_name}
                SELECT o_orderkey, o_orderstatus, o_totalprice
                FROM {view} WHERE o_totalprice > 1000.0"""
        )
        out = _local_result(
            spark.sql(
                f"""SELECT o_orderstatus,
                           count(*) AS n_orders,
                           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2)))
                                AS DOUBLE) AS sum_price,
                           min(o_orderkey) AS min_key
                    FROM {tbl_name} GROUP BY o_orderstatus"""
            )
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl_name}")
        spark.catalog.dropTempView(view)
        shutil.rmtree(loc, ignore_errors=True)
    return out


SQL_DDL_MANAGED_TABLE = """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
       min(o_orderkey) AS min_key
FROM orders WHERE o_totalprice > 1000.0
GROUP BY o_orderstatus
"""


def q_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source ingest — the opaque-blob half of the
    multimodal story: every 10th document's payload materialized as a
    file, ingested through Spark's built-in binaryFile format
    (path/modificationTime/length/content), identity recovered from the
    path and losslessness proven by md5 of the raw bytes against the
    oracle's md5 of the original text. At 100 TB this is the raw-media
    landing pattern (each blob one row, content lazily read per split);
    the decode stage on top is the Arrow mapInPandas multimodal path."""
    import shutil
    import tempfile

    docs = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    base = tempfile.mkdtemp(prefix="binf_")
    try:
        # bounded driver materialization (10% of docs) — the WRITE side is
        # harness scaffolding; the operator under test is the read path
        for r in docs.collect():
            with open(f"{base}/doc_{r.doc_id:08d}.bin", "wb") as f:
                f.write(r.text.encode("utf-8"))
        bf = spark.read.format("binaryFile").load(base)
        result = bf.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        out = _local_result(result)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_BINARYFILE_INGEST = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents WHERE doc_id % 10 = 0
"""


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink round-trip (Spark 4 first-class format,
    SPARK-44265 — no external package): write the nation dim as XML
    rowTag records, read it back with an explicit schema (inference
    would widen types), join the region dim broadcast and aggregate.
    The oracle reads the original parquet — the XML hop must be
    lossless for strings and longs. XML is row-oriented text: fine for
    dimension feeds and legacy interchange, never the 100 TB fact path
    (no pushdown, no pruning, full parse per read — the columnar
    formats carry the facts)."""
    import shutil
    import tempfile

    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    base = tempfile.mkdtemp(prefix="xml_")
    try:
        nation.write.format("xml").option("rowTag", "nation").mode(
            "overwrite"
        ).save(base)
        back = (
            spark.read.format("xml")
            .option("rowTag", "nation")
            .schema(nation.schema)
            .load(base)
        )
        result = (
            back.join(
                F.broadcast(region),
                F.col("n_regionkey") == F.col("r_regionkey"),
            )
            .groupBy("r_name")
            .agg(
                F.count("*").alias("n_nations"),
                F.min("n_name").alias("first_nation"),
                F.sum("n_nationkey").cast("long").alias("key_sum"),
            )
        )
        out = _local_result(result)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_XML_ROUNDTRIP = """
SELECT r_name, count(*) AS n_nations,
       min(n_name) AS first_nation,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning: write events
    partitioned by event_type, then aggregate one partition. The filter
    becomes a PartitionFilter — Spark lists only the matching directory, so
    at 100 TB the scan touches 1/N of the data before a single row is read.
    Oracle = the same aggregate over the unpartitioned table."""
    import shutil
    import tempfile

    ev = tbl(spark, sf_dir, "events").select("event_type", "user_id", "value")
    base = tempfile.mkdtemp(prefix="part_events_")
    try:
        ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
        part = spark.read.parquet(base).filter(F.col("event_type") == "click")
        result = part.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
        out = _local_result(result)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_PARTITION_PRUNING = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events WHERE event_type = 'click'
GROUP BY event_type
"""


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle, HASH-checked down to
    the permutation itself: every doc's shard = md5(salted id) mod 8 and
    shard-local position = rank of the shuffle key; the per-shard
    ``perm_checksum`` (sum of pos·(doc_id mod 1000003), exact in BIGINT)
    pins each position assignment, so a single transposition anywhere in
    any shard flips the hash. Reproducible-by-construction across
    engines, runs, and cluster sizes — what an RNG shuffle cannot give."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    sharded = sp.shuffle_shards(docs, "doc_id", n_shards=8)
    return sharded.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.min("pos").alias("min_pos"),
        F.max("pos").alias("max_pos"),
        F.sum(F.col("pos") * (F.col("doc_id") % 1000003))
        .cast("long")
        .alias("perm_checksum"),
    )


SQL_SHUFFLE_SHARDS = """
WITH k AS (
    SELECT doc_id,
           CAST('0x' || substr(md5('shuffle|' || CAST(doc_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS skey
    FROM documents
),
p AS (
    SELECT doc_id, skey % 8 AS shard,
           row_number() OVER (PARTITION BY skey % 8 ORDER BY skey, doc_id) AS pos
    FROM k
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(pos) AS BIGINT) AS min_pos,
       CAST(max(pos) AS BIGINT) AS max_pos,
       CAST(SUM(pos * (doc_id % 1000003)) AS BIGINT) AS perm_checksum
FROM p GROUP BY shard
"""


def q_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout, oracle-checked as a round-trip: write
    lineitem clustered by the interleaved bits of (l_orderkey, l_partkey)
    (io/layout.py — native shift/mask/or Morton key, range-repartition +
    in-partition sort), read it back through a 2-D box predicate, and
    aggregate. The layout is the product: results are byte-identical to
    the original table (the oracle reads the unclustered parquet), while
    row-group min/max footers become axis-aligned z-boxes so BOTH
    predicate dimensions prune at scan time — the multi-dimensional
    data-skipping story a single sort key cannot give at 100 TB
    (tests/test_layout.py asserts the footer-level skipping effect).

    Box bounds are the [10%, 30%] band of each key's range (off-center on
    purpose: a box straddling the z center corner cannot prune at coarse
    partition granularity — Morton-order property), derived with integer
    arithmetic both engines reproduce exactly."""
    import shutil
    import tempfile

    from hiv_data_integration_spark.io.layout import column_minmax, write_zordered

    li = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    base = tempfile.mkdtemp(prefix="zorder_")
    try:
        # ONE stats pass: the same min/max feed the z-key scaling and the
        # box bounds (integer key values are exact as doubles)
        stats = column_minmax(li, ["l_orderkey", "l_partkey"])
        write_zordered(
            li, ["l_orderkey", "l_partkey"], base, target_files=8, stats=stats
        )
        clustered = spark.read.parquet(base)
        mn_o, mx_o = (int(x) for x in stats["l_orderkey"])
        mn_p, mx_p = (int(x) for x in stats["l_partkey"])
        lo_o = mn_o + (mx_o - mn_o) // 10
        hi_o = mn_o + ((mx_o - mn_o) * 3) // 10
        lo_p = mn_p + (mx_p - mn_p) // 10
        hi_p = mn_p + ((mx_p - mn_p) * 3) // 10
        result = (
            clustered.filter(
                F.col("l_orderkey").between(lo_o, hi_o)
                & F.col("l_partkey").between(lo_p, hi_p)
            )
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_rows"),
                dsum("l_quantity", scale=2, prec=28).alias("sum_qty"),
            )
        )
        out = _local_result(result)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_ZORDER_SCAN = """
WITH s AS (
    SELECT min(l_orderkey) AS mn_o, max(l_orderkey) AS mx_o,
           min(l_partkey) AS mn_p, max(l_partkey) AS mx_p
    FROM lineitem
)
SELECT l_returnflag, count(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
FROM lineitem, s
WHERE l_orderkey BETWEEN mn_o + (mx_o - mn_o) // 10
                     AND mn_o + ((mx_o - mn_o) * 3) // 10
  AND l_partkey BETWEEN mn_p + (mx_p - mn_p) // 10
                    AND mn_p + ((mx_p - mn_p) * 3) // 10
GROUP BY l_returnflag
"""


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-checked sketch-accuracy contract: HyperLogLog++
    (``approx_count_distinct``, fixed-size sketch per group, single pass)
    and ``approx_percentile`` (GK sketch) — the 100 TB scale path for
    distinct counting and quantiles — validated against their exact twins
    IN the query. Raw sketch outputs are implementation-defined, so the
    query emits error-bound BOOLEANS (HLL within 5·rsd of the exact
    distinct; GK median between the exact 45th and 55th percentiles) and
    the oracle asserts them TRUE — a sketch drifting out of its documented
    error envelope turns the driver row red."""
    ev = tbl(spark, sf_dir, "events")
    # the exact distinct runs as its OWN aggregation: mixing a DISTINCT
    # aggregate with typed-imperative sketch aggregates forces the whole
    # group-by into a SortAggregate fallback (measured 5.3 s vs 0.3+0.7 s
    # split); the two 5-row results broadcast-join back together
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    approx = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx_users"),
        F.expr("approx_percentile(value, 0.5)").alias("_approx_median"),
        F.expr("percentile(value, 0.45)").alias("_p45"),
        F.expr("percentile(value, 0.55)").alias("_p55"),
    )
    return (
        exact.join(approx, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx_users") - F.col("exact_users"))
                <= 0.1 * F.col("exact_users")
            ).alias("hll_within_bound"),
            (
                (F.col("_approx_median") >= F.col("_p45"))
                & (F.col("_approx_median") <= F.col("_p55"))
            ).alias("median_within_bound"),
        )
    )


SQL_APPROX_SKETCHES = """
SELECT event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS hll_within_bound, TRUE AS median_within_bound
FROM events GROUP BY event_type
"""


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INTERVAL join (click→purchase attribution within 4
    hours per user), oracle-checked: one file-source stream self-joins
    (clicks side × purchases side) under dual watermarks + a time-range
    predicate — the state-bounded dual-stream join every streaming
    attribution pipeline runs. Inner matches emit as they form, so the
    availableNow run over the static file equals the batch join EXACTLY;
    the per-bucket rollup (pair counts, distinct users, an event-id pair
    checksum) hashes every matched pair."""
    import shutil
    import tempfile
    import uuid as _uuid

    from hiv_data_integration_spark.streaming import stream_interval_join

    stream = read_events_stream(
        spark, f"{sf_dir}/events*.parquet", f"{sf_dir}/events.parquet"
    )
    clicks = stream.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = stream_interval_join(
        clicks, purchases, "user_id", "ts",
        max_delay="4 hours", watermark="24 hours",
    ).select("user_id", "event_id", "r_event_id")

    name = f"stream_ivj_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ssession = joined.sparkSession
    out = _local_result(
        ssession.table(name)
        .groupBy((F.col("user_id") % 8).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.count_distinct("user_id").alias("n_users"),
            F.sum(
                (F.col("event_id") % 1000003) * 31
                + (F.col("r_event_id") % 1000003)
            )
            .cast("long")
            .alias("pair_checksum"),
        )
    )
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_STREAMING_INTERVAL_JOIN = """
WITH l AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
r AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
j AS (
    SELECT l.user_id, l.event_id AS le, r.event_id AS re
    FROM l JOIN r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR
)
SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(SUM((le % 1000003) * 31 + (re % 1000003)) AS BIGINT)
           AS pair_checksum
FROM j GROUP BY 1
"""


def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows, oracle-checked: file-source
    readStream → ``F.session_window`` (state-store session merge, no
    Python) → availableNow into a complete-mode memory sink so every
    session emits regardless of the final watermark. Boundary semantics
    pinned by experiment: an event at exactly ``prev + gap`` MERGES into
    the session (new session only when the gap is strictly exceeded), so
    the oracle's gaps-and-islands split uses ``> INTERVAL`` — exact µs
    integer comparison on both engines, no float epoch math. Session ids
    never cross the shuffle key (user_id), so at scale this is one
    shuffle + in-store merge; the complete-mode sink is the toy-scale
    harness, production uses append + watermark eviction."""
    import shutil
    import tempfile
    import uuid as _uuid

    stream = read_events_stream(
        spark, f"{sf_dir}/events*.parquet", f"{sf_dir}/events.parquet"
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("s"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
        .select(
            "user_id",
            # NTZ: the boundary leaves the stream's UTC-pinned session as
            # a wall-clock value, so a non-UTC PROCESS timezone at collect
            # time cannot shift it (LTZ collect converts via process tz)
            F.col("s.start").cast("timestamp_ntz").alias("session_start"),
            F.col("s.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    name = f"stream_sess_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ssession = agg.sparkSession
    out = _local_result(ssession.table(name))
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# session_end = last event + gap (Spark's session_window upper bound);
# split on strict-> gap (boundary event merges — pinned by experiment)
SQL_STREAMING_SESSION_WINDOWS = """
WITH gaps AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts, value,
           SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
           ) AS sid
    FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, sid
"""


def q_streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, oracle-checked END-TO-END: the
    ``applyInPandasWithState`` running per-user totals (arbitrary per-key
    state the built-in aggs can't express) over the events stream,
    availableNow → update-mode memory sink. The LAST update row per user
    (n_events is strictly increasing, so ``max_by`` picks it) must equal
    the batch GROUP BY — a full hash oracle on the custom state path, not
    the weaker rows-only contract. Cents rounding: the pandas state
    accumulates float64; the true per-user total is an exact multiple of
    0.01 (2-decimal inputs), so ROUND(total*100) lands on the same BIGINT
    on both engines regardless of accumulation order."""
    import shutil
    import tempfile
    import uuid as _uuid

    from hiv_data_integration_spark.streaming import running_user_totals

    stream = read_events_stream(
        spark, f"{sf_dir}/events*.parquet", f"{sf_dir}/events.parquet"
    )
    totals = running_user_totals(
        stream.select("user_id", "ts", "value")
    )
    name = f"stream_state_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        totals.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ssession = totals.sparkSession
    out = _local_result(
        ssession.table(name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max_by("total_value", "n_events") * 100)
            .cast("long")
            .alias("total_cents"),
        )
    )
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_STREAMING_STATEFUL_TOTALS = """
SELECT user_id,
       count(*) AS n_events,
       CAST(ROUND(SUM(value) * 100) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
"""


def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densify + forward-fill: per-user HOURLY grid over the
    first week (``F.sequence`` + explode — in-plan grid, no driver loop),
    missing hours carried forward with last-observation LOCF. The value
    chain accumulates as DECIMAL so the carried double is bit-identical
    on both engines; ``filled`` marks synthesized rows."""
    ev = tbl(spark, sf_dir, "events").filter(
        (F.col("ts") >= F.lit("2024-01-01")) & (F.col("ts") < F.lit("2024-01-08"))
    )
    out = agg_ops_gap_fill(
        ev,
        "user_id",
        "ts",
        F.col("value").cast("decimal(28,6)"),
        bucket="hour",
        step_expr="INTERVAL 1 HOUR",
    )
    return out.select(
        F.col("key").alias("user_id"),
        "bucket_ts",
        F.col("value").cast("double").alias("value"),
        "filled",
    )


SQL_GAP_FILL_LOCF = """
WITH hourly AS (
    SELECT user_id, date_trunc('hour', ts) AS b,
           SUM(CAST(value AS DECIMAL(28,6))) AS v
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-08'
    GROUP BY 1, 2
),
grid AS (
    SELECT user_id,
           unnest(generate_series(min(b), max(b), INTERVAL 1 HOUR))
               AS bucket_ts
    FROM hourly GROUP BY user_id
)
SELECT g.user_id, g.bucket_ts,
       CAST(last_value(h.v IGNORE NULLS) OVER (
           PARTITION BY g.user_id ORDER BY g.bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS value,
       h.v IS NULL AS filled
FROM grid g LEFT JOIN hourly h
  ON h.user_id = g.user_id AND h.b = g.bucket_ts
"""


def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join, oracle-checked: the events stream
    joins the STATIC customer dimension (the canonical "enrich a stream
    with a slowly-changing dim" shape — no watermark needed, the static
    side is re-planned per micro-batch and broadcast) then aggregates per
    market segment × event type in complete mode. The static frame must
    come from the stream's own isolated UTC session."""
    import shutil
    import tempfile
    import uuid as _uuid

    stream = read_events_stream(
        spark, f"{sf_dir}/events*.parquet", f"{sf_dir}/events.parquet"
    )
    ssession = stream.sparkSession
    dim = ssession.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # distinct aggs are unsupported on streams; a user-id checksum
            # pins the same row membership without distinct state
            F.sum(F.col("user_id") * 31 + 7).cast("long").alias("user_checksum"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
    )
    name = f"stream_enrich_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _local_result(ssession.table(name))
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_STREAMING_STATIC_ENRICH = """
SELECT c_mktsegment, event_type,
       count(*) AS n_events,
       CAST(SUM(user_id * 31 + 7) AS BIGINT) AS user_checksum,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once ingest, oracle-checked: the events file is
    delivered TWICE (at-least-once re-delivery), the stream dedups on
    event_id (`dropDuplicates` keyed state), and the downstream aggregate
    must equal the batch aggregate over a single copy — the ingestion
    pattern every streaming training-data feed needs. availableNow +
    complete mode + decimal sums keep it deterministic."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="dup_feed_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery2.parquet")

    agg = (
        read_events_stream(spark, src, f"{sf_dir}/events.parquet")
        .dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
    )
    name = f"stream_dedup_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # the memory sink registers in the stream's (isolated UTC) session,
    # not the driver session we were handed
    ssession = agg.sparkSession
    out = _local_result(ssession.table(name))
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


SQL_STREAMING_DEDUP = """
SELECT event_type, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_streaming_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The state-BOUNDED twin of streaming_exactly_once_dedup:
    ``dropDuplicatesWithinWatermark`` holds each event's dedup state only
    until the watermark passes its event time + delay, so the state store
    stays finite on an unbounded feed — plain ``dropDuplicates`` keyed
    state grows forever, which is the difference between a demo and a
    100 TB/day ingest. Same duplicate double-delivery harness; both
    copies land within the delay, so the result equals the batch
    single-copy aggregate exactly."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="dupw_feed_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery2.parquet")

    agg = (
        read_events_stream(spark, src, f"{sf_dir}/events.parquet")
        .withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
    )
    name = f"stream_dedup_wm_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    ssession = agg.sparkSession
    out = _local_result(ssession.table(name))
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


def q_streaming_foreach_batch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``foreachBatch`` production-sink pattern, oracle-checked END TO
    END: the events file delivered twice, one micro-batch per delivery
    (maxFilesPerTrigger=1), each batch's per-user partial aggregate
    MERGED into a parquet state store by read-add-rename-swap. Exact
    accumulators (BIGINT count, DECIMAL sum) make the merge commutative
    and replay-idempotent; the final state must equal exactly 2× the
    single-copy batch aggregate."""
    import shutil
    import tempfile
    import uuid as _uuid

    from hiv_data_integration_spark.streaming import foreach_batch_accumulate

    src = tempfile.mkdtemp(prefix="fb_feed_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery2.parquet")
    state = tempfile.mkdtemp(prefix="fb_state_") + f"/{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        # battery reader: isolated UTC session + footer-type dispatch (the
        # multi-batch pacing variant is exercised in tests/test_streaming)
        stream = read_events_stream(spark, src, f"{sf_dir}/events.parquet")
        final = foreach_batch_accumulate(
            stream,
            state,
            ckpt,
            key_cols=["user_id"],
            sum_cols={
                "n_events": F.lit(1).cast("long"),
                "sum_value": F.col("value").cast("decimal(28,6)"),
            },
        )
        out = _local_result(
            final.select(
                "user_id",
                F.col("n_events").cast("long").alias("n_events"),
                F.round(F.col("sum_value") * 100)
                .cast("long")
                .alias("total_cents"),
            )
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(state.rsplit("/", 1)[0], ignore_errors=True)
    return out


SQL_STREAMING_FOREACH_BATCH = """
SELECT user_id,
       CAST(2 * count(*) AS BIGINT) AS n_events,
       CAST(ROUND(2 * SUM(CAST(value AS DECIMAL(28,6))) * 100) AS BIGINT)
           AS total_cents
FROM events GROUP BY user_id
"""


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM training-corpus prep chain (§2.14 composed): corpus
    with planted duplicates → exact dedup (md5 fingerprint, keep lowest id)
    → quality filtering (min length, punctuation cap) → language ID →
    per-(lang, predicted) corpus stats. Near-dup (MinHash/SimHash/Jaccard)
    removal slots between dedup and quality and is oracle-checked
    standalone (dedup_* queries). Everything here is codegen'd JVM
    expressions — the chain is a projection+aggregate pipeline that scales
    like a scan."""
    corpus = _dup_corpus(spark, sf_dir)
    canon = dd.exact_dedup(corpus, tx.fingerprint(F.col("text")), "doc_id")
    kept = corpus.join(
        canon.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi"
    )
    feat = tx.quality_features(kept)
    good = feat.filter((F.col("n_words") >= 5) & (F.col("punct_ratio") <= 0.2))
    tagged = good.withColumn("predicted", tx.lang_id(F.col("text")))
    return tagged.groupBy("lang", "predicted").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
        dsum("avg_word_len", scale=6, prec=28).alias("sum_awl"),
    )


SQL_CORPUS_PREP = f"""
WITH {_DUP_CORPUS_SQL},
canon AS (
    SELECT min(doc_id) AS doc_id
    FROM corpus
    GROUP BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
),
kept AS (SELECT corpus.* FROM corpus SEMI JOIN canon USING (doc_id)),
feat AS (
    SELECT lang, text,
           length(text) AS n_chars,
           len({_TOKS.replace("lower(text)", "text")}) AS n_words,
           length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')) AS n_punct
    FROM kept
),
good AS (
    SELECT lang, text, n_words,
           CAST(n_chars AS DOUBLE) / CAST(n_words AS DOUBLE) AS avg_word_len
    FROM feat
    WHERE n_words >= 5
      AND CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) <= 0.2
),
scored AS (
    SELECT lang, n_words, avg_word_len,
           {_sw_count_sql(tx.STOPWORDS["en"])} AS s_en,
           {_sw_count_sql(tx.STOPWORDS["fr"])} AS s_fr,
           {_sw_count_sql(tx.STOPWORDS["es"])} AS s_es,
           {_sw_count_sql(tx.STOPWORDS["de"])} AS s_de,
           length(text) - length(regexp_replace(text, '{_CJK_SQL}', '', 'g')) AS s_zh
    FROM good
)
SELECT lang,
       CASE WHEN s_zh > 0 THEN 'zh'
            WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de THEN 'en'
            WHEN s_fr >= s_es AND s_fr >= s_de THEN 'fr'
            WHEN s_es >= s_de THEN 'es'
            ELSE 'de' END AS predicted,
       count(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(avg_word_len AS DECIMAL(28,6))) AS DOUBLE) AS sum_awl
FROM scored GROUP BY 1, 2
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (engine extension): both sides written
    pre-hash-partitioned on the join key, so the join itself plans with no
    Exchange — the 100 TB pattern for fact tables re-joined on the same key
    pipeline after pipeline. Oracle = the plain SQL join (layout changes
    the plan, never the result)."""
    import shutil
    import tempfile
    import uuid as _uuid

    from hiv_data_integration_spark.io.bucketing import (
        colocated_join,
        write_bucketed,
    )

    suffix = _uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="bucketed_")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = (
        tbl(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    try:
        write_bucketed(
            li, f"li_{suffix}", 8, ["l_orderkey"], f"{base}/li", ["l_orderkey"]
        )
        write_bucketed(
            orders, f"ord_{suffix}", 8, ["l_orderkey"], f"{base}/ord", ["l_orderkey"]
        )
        joined = colocated_join(
            spark, f"li_{suffix}", f"ord_{suffix}", ["l_orderkey"]
        )
        result = joined.groupBy("o_orderpriority").agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity", scale=6, prec=28).alias("sum_qty"),
        )
        # materialize the (5-row) rollup so the bucketed tables and their
        # temp dir can be dropped — every invocation would otherwise leak a
        # full bucketed copy of lineitem+orders on disk and in the catalog
        out = _local_result(result)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS li_{suffix}")
        spark.sql(f"DROP TABLE IF EXISTS ord_{suffix}")
        shutil.rmtree(base, ignore_errors=True)
    return out


# same logical join as the salted variant — only the physical layout
# differs, which is exactly the invariant the oracle checks
SQL_BUCKETED_JOIN = SQL_SALTED_JOIN


def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming, oracle-checked: file-source readStream over the
    events parquet → event-time tumbling window aggregation → availableNow
    trigger into a memory sink (complete mode, so every window is emitted
    regardless of the final watermark) → returned as a batch DataFrame.
    Decimal accumulation keeps the double sum bit-deterministic across
    micro-batch merge order. Matches the batch tumbling_window_events
    result, so the same SQL oracles both."""
    import shutil
    import tempfile
    import uuid as _uuid

    # glob, not the literal file path: for non-glob paths the file stream
    # source forces basePath to the path itself, which must be a directory
    # ("Option 'basePath' must be a directory"). ts physical-type dispatch
    # lives in read_events_stream.
    stream = read_events_stream(
        spark, f"{sf_dir}/events*.parquet", f"{sf_dir}/events.parquet"
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
        .select(
            "event_type",
            # NTZ boundary: process-timezone-proof at collect (see the
            # session-window entry)
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )
    name = f"stream_tumbling_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # materialize the (small) aggregate so the memory-sink table and the
    # checkpoint can be reclaimed — repeated bench/driver invocations must
    # not accumulate driver memory or /tmp state. The memory sink lives in
    # the stream's isolated UTC session (see read_events_stream), so the
    # collected window_start renders as the naive-UTC wall the oracle
    # computes even under a hostile driver session timezone.
    ssession = agg.sparkSession
    out = _local_result(ssession.table(name))
    ssession.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM context-prep chunking: overlapping 32-token windows (step 24)
    over the documents corpus — pure per-row projection, no shuffle."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return tx.chunk_documents(docs, chunk_size=32, overlap=8)


# slice end = start + chunk_size (DuckDB slices are 1-based inclusive);
# chunk_idx = start // step
SQL_TEXT_CHUNKING = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
               AS toks
    FROM documents
),
s AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, greatest(len(toks) - 1, 0), 24)) AS start
    FROM d
)
SELECT doc_id AS id,
       CAST(start // 24 AS BIGINT) AS chunk_idx,
       CAST(len(toks[start + 1 : start + 32]) AS BIGINT) AS n_tokens,
       array_to_string(toks[start + 1 : start + 32], ' ') AS chunk
FROM s
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: deterministic synthetic PII (email/IP/phone derived from
    doc_id) injected into each document, then redacted + counted with the
    shared Java-regex/RE2 pattern set — the whole pass is native
    regexp_replace/regexp_count projections."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("doc_id", "text")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel +225 01020304"),
            (F.col("doc_id") % 90 + 10).cast("string"),
            F.lit(" host 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    out = tx.redact_pii(injected)
    return out.select("doc_id", "n_email", "n_ipv4", "n_phone", "redacted")


_PII_EMAIL = tx.PII_PATTERNS["email"]
_PII_IPV4 = tx.PII_PATTERNS["ipv4"]
_PII_PHONE = tx.PII_PATTERNS["phone"]

SQL_PII_REDACTION = f"""
WITH injected AS (
    SELECT doc_id,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com tel +225 01020304'
                || CAST(doc_id % 90 + 10 AS VARCHAR)
                || ' host 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) AS text
    FROM documents
),
s1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           regexp_replace(text, '{_PII_EMAIL}', '[REDACTED-email]', 'g') AS t
    FROM injected
),
s2 AS (
    SELECT doc_id, n_email,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           regexp_replace(t, '{_PII_IPV4}', '[REDACTED-ipv4]', 'g') AS t
    FROM s1
)
SELECT doc_id, n_email, n_ipv4,
       CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
       regexp_replace(t, '{_PII_PHONE}', '[REDACTED-phone]', 'g') AS redacted
FROM s2
"""


def q_streaming_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus chunking, oracle-checked: documents arrive as a
    file stream, the chunker (a stateless projection — sequence +
    posexplode) runs per micro-batch, and per-language chunk statistics
    must equal the batch result. This is the streaming ingestion shape of
    LLM context prep: chunk on arrival, no state, exactly the batch
    semantics."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="doc_feed_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/docs.parquet")

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.format("parquet").schema(schema).load(src)
        .select("doc_id", "text", "lang")
    )
    chunked = tx.chunk_documents(stream, chunk_size=32, overlap=8)
    # re-attach lang via the chunk id (stateless join against a static dim
    # would also work; deriving from the stream keeps it single-source)
    stats = (
        chunked.join(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                F.col("doc_id").alias("id"), "lang"
            ),
            "id",
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    name = f"stream_chunks_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        stats.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _local_result(spark.table(name))
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


SQL_STREAMING_CHUNKING = """
WITH d AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')
               AS toks
    FROM documents
),
s AS (
    SELECT doc_id, lang, toks,
           unnest(generate_series(0, greatest(len(toks) - 1, 0), 24)) AS start
    FROM d
)
SELECT lang, count(*) AS n_chunks,
       CAST(SUM(len(toks[start + 1 : start + 32])) AS BIGINT) AS total_tokens
FROM s GROUP BY lang
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: explode → map-side-combined count → global
    deterministic top-50 (count desc, token asc)."""
    docs = tbl(spark, sf_dir, "documents").select("text")
    return tx.vocab_topk(docs, k=50)


SQL_VOCAB_TOPK = """
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x != '')) AS token
    FROM documents
),
c AS (SELECT token, count(*) AS n_occurrences FROM toks GROUP BY token),
r AS (SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
      FROM c)
SELECT CAST(rank AS BIGINT) AS rank, token, n_occurrences
FROM r WHERE rank <= 50
"""


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS-shape) fingerprint selection: 5-gram rolling hashes,
    window-4 minimum selection, distinct (hash, pos) pairs — per-row
    projection, no shuffle; the oracle mirrors the gram hashing, struct-min
    window selection, and tie rule verbatim."""
    docs = _spread(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
    return tx.winnow_fingerprints(docs, k=5, window=4)


# Shared winnowing CTE chain (tokens -> gram hashes -> window-min
# selections) — ONE definition composed into both the fingerprint query and
# the overlap query so the two oracles can never drift apart.
_WINNOW_CTE = """WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x != '') AS toks
    FROM documents
),
g AS (
    SELECT doc_id,
           list_transform(generate_series(1, len(toks) - 4),
               i -> {'h': CAST('0x' || substr(
                               md5(array_to_string(toks[i : i + 4], ' ')),
                               1, 8) AS BIGINT),
                     'p': CAST(i AS BIGINT)}) AS grams
    FROM t WHERE len(toks) >= 5
),
s AS (
    SELECT doc_id,
           list_transform(
               generate_series(1, greatest(len(grams) - 3, 1)),
               j -> list_sort(grams[j : j + 3])[1]) AS sel
    FROM g WHERE len(grams) > 0
)"""

# toks[i : i+4] is the 5-token gram (DuckDB slices are 1-based inclusive);
# list_sort(...)[1] == Spark array_min struct ordering (h, then p)
SQL_WINNOW_FINGERPRINTS = f"""
{_WINNOW_CTE}
-- per-doc distinct selections: row-level DISTINCT after unnest is the same
-- set as Spark's array_distinct-before-explode (DuckDB list_distinct does
-- not support struct elements)
SELECT DISTINCT doc_id AS id, f.h AS fp_hash, f.p AS fp_pos
FROM s, unnest(s.sel) AS u(f)
"""


def q_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed overlap detection (the winnowing end game): fingerprint
    the corpus, posting-join on the fingerprint HASH, count distinct
    shared hashes per document pair, keep pairs sharing >= 3. The join is
    bucketed by hash — O(postings), never O(docs²); hot hashes (boilerplate
    grams) are the skew to watch at scale, bounded here by the distinct-set
    semantics."""
    docs = _spread(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
    fps = tx.winnow_fingerprints(docs, k=5, window=4).select(
        "id", "fp_hash"
    ).distinct()
    a = fps.select(F.col("id").alias("id_a"), "fp_hash")
    b = fps.select(F.col("id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


SQL_WINNOW_OVERLAP = f"""
{_WINNOW_CTE},
fps AS (
    SELECT DISTINCT doc_id AS id, f.h AS fp_hash
    FROM s, unnest(s.sel) AS u(f)
)
SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
FROM fps a JOIN fps b ON a.fp_hash = b.fp_hash AND a.id < b.id
GROUP BY 1, 2
HAVING count(*) >= 3
"""


def q_pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank over a deterministic synthetic graph
    on the customer keys (decimal-tree edges k→k div 10 plus a functional
    hash edge k→(7k+3) mod N), 3 iterations, top-20 by rank. Every rank
    is an exact BIGINT multiple of 1e-12 — integer sums commute, so the
    result is bit-identical across engines and partitionings, and the
    oracle unrolls all three iterations as plain SQL. The float
    formulation would drift by summation order; this one cannot."""
    cust = tbl(spark, sf_dir, "customer")
    n = cust.count()
    k = F.col("c_custkey").cast("long")
    nodes = cust.select(k.alias("node"))
    e1 = cust.select(
        k.alias("src"), F.expr("c_custkey div 10").cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    e2 = cust.select(
        k.alias("src"), ((k * 7 + 3) % F.lit(n)).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    pr = dd.pagerank_fixed_point(e1.unionByName(e2), nodes, iters=3)
    return pr.orderBy(F.col("rank_fp").desc(), "node").limit(20)


def _pagerank_sql(iters: int = 3, scale: int = 10**12, topk: int = 20) -> str:
    parts = [f"""WITH nn AS (SELECT count(*) AS cnt FROM customer),
nodes AS (SELECT CAST(c_custkey AS BIGINT) AS n FROM customer),
edges AS (
    SELECT CAST(c_custkey AS BIGINT) AS src,
           CAST(c_custkey AS BIGINT) // 10 AS dst
    FROM customer WHERE CAST(c_custkey AS BIGINT) // 10 <> c_custkey
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT),
           (c_custkey * 7 + 3) % (SELECT cnt FROM nn)
    FROM customer
    WHERE (c_custkey * 7 + 3) % (SELECT cnt FROM nn) <> c_custkey
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
p0 AS (SELECT n, {scale} // (SELECT cnt FROM nn) AS p FROM nodes),"""]
    for i in range(iters):
        parts.append(f"""c{i} AS (
    SELECT e.dst, SUM(p.p // d.outdeg) AS m
    FROM edges e JOIN deg d USING (src) JOIN p{i} p ON p.n = e.src
    GROUP BY e.dst
),
p{i + 1} AS (
    SELECT nd.n,
           ({scale} * 15) // (100 * (SELECT cnt FROM nn))
               + 85 * COALESCE(c{i}.m, 0) // 100 AS p
    FROM nodes nd LEFT JOIN c{i} ON c{i}.dst = nd.n
),""")
    parts.append(f"""final AS (SELECT n AS node, CAST(p AS BIGINT) AS rank_fp
                              FROM p{iters})
SELECT node, rank_fp FROM final ORDER BY rank_fp DESC, node LIMIT {topk}""")
    return "\n".join(parts)


SQL_PAGERANK_FIXED_POINT = _pagerank_sql()


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate GROUPS: min-label propagation over the
    MinHash pair graph (a≈b, b≈c collapse to one cluster without an a≈c
    edge). The Spark side iterates to the fixpoint; the oracle computes
    the same fixpoint as a recursive-CTE reachability closure — both
    sides derive the pair graph identically (hash-green standalone as
    dedup_minhash_lsh_pairs). The operator solves graphs within its
    driver edge budget with one union-find on the driver; above it the
    distributed rounds run, and the fixpoint is identical either way
    (tested both sides of the budget)."""
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dd.minhash_candidate_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.6, partitions=32,
    )
    return dd.connected_components(pairs)


SQL_CONNECTED_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({{minhash_sql}}),
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS id, min(dst) AS component FROM reach GROUP BY src
"""


def q_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END GAME, fully hash-checked: near-dup pairs → connected
    components → drop every non-canonical cluster member → per-language
    corpus stats of what survives. Each stage is oracle-green standalone
    (dedup_minhash_lsh_pairs, dedup_connected_components); this entry
    verifies their composition."""
    corpus = _dup_corpus(spark, sf_dir)
    pairs = dd.minhash_candidate_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.6, partitions=32,
    )
    comps = dd.connected_components(pairs)
    kept = dd.drop_non_canonical(corpus, comps, id_col="doc_id")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


# the inner subquery carries its own WITH-scoped corpus; the outer corpus
# CTE (same fragment) feeds the final stats — identical definitions by
# construction, both composed from the same module constants
SQL_CANONICAL_CORPUS = """
WITH RECURSIVE pairs AS ({minhash_sql}),
{dup_corpus_sql},
edges AS (
    SELECT id_a AS a, id_b AS b FROM pairs
    UNION
    SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comps AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src),
losers AS (SELECT id FROM comps WHERE id != component)
SELECT lang, count(*) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM corpus ANTI JOIN losers ON corpus.doc_id = losers.id
GROUP BY lang
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filter: per-doc top-2-gram and
    duplicated-3-gram character fractions + keep verdict. Pure explode +
    hash-aggregate chain keyed by doc id — word-count shape, 100 TB-safe."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("doc_id", "text")
    return tx.ngram_repetition_features(
        docs, top_n=2, dup_n=3, max_top_frac=0.15, max_dup_frac=0.05
    )


SQL_REPETITION_FILTER = f"""
WITH base AS (
    SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS n_chars,
           {_TOKS} AS toks
    FROM documents
),
top2 AS (
    SELECT id, max(cnt * length(gram)) AS top_chars
    FROM (SELECT id, gram, count(*) AS cnt
          FROM (SELECT id,
                       unnest(list_transform(generate_series(1, len(toks) - 1),
                              i -> array_to_string(toks[i : i + 1], ' '))) AS gram
                FROM base WHERE len(toks) >= 2)
          GROUP BY id, gram)
    GROUP BY id
),
dup3 AS (
    SELECT id, sum(cnt * length(gram)) AS dup_chars
    FROM (SELECT id, gram, count(*) AS cnt
          FROM (SELECT id,
                       unnest(list_transform(generate_series(1, len(toks) - 2),
                              i -> array_to_string(toks[i : i + 2], ' '))) AS gram
                FROM base WHERE len(toks) >= 3)
          GROUP BY id, gram)
    WHERE cnt > 1
    GROUP BY id
)
SELECT base.id, base.n_chars,
       CAST(coalesce(top_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE)
           AS top_ngram_char_frac,
       least(CAST(coalesce(dup_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE),
             1.0) AS dup_ngram_char_frac,
       (CAST(coalesce(top_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE)
            <= 0.15
        AND least(CAST(coalesce(dup_chars, 0) AS DOUBLE)
                  / CAST(n_chars AS DOUBLE), 1.0) <= 0.05) AS keep
FROM base
LEFT JOIN top2 ON base.id = top2.id
LEFT JOIN dup3 ON base.id = dup3.id
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination: distinct 4-gram overlap counts per train
    doc against a deterministic eval slice (doc_id % 20 == 0). The eval
    gram set broadcasts; the train corpus never re-shuffles."""
    docs = _spread(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
    eval_df = docs.filter(F.col("doc_id") % 20 == 0)
    train = docs.filter(F.col("doc_id") % 20 != 0)
    return tx.contamination_check(train, eval_df, n=4)


SQL_CONTAMINATION = f"""
WITH g AS (
    SELECT doc_id AS id,
           unnest(list_transform(generate_series(1, len(toks) - 3),
                  i -> array_to_string(toks[i : i + 3], ' '))) AS gram
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    WHERE len(toks) >= 4
),
ev AS (SELECT DISTINCT gram FROM g WHERE id % 20 = 0),
tr AS (SELECT DISTINCT id, gram FROM g WHERE id % 20 != 0)
SELECT tr.id AS id, count(*) AS n_shared_grams
FROM tr JOIN ev USING (gram)
GROUP BY tr.id
"""


def q_split_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (md5-bucket thresholds) +
    per-language temperature down-sampling (exact integer-fraction rates:
    en 1/2, fr 3/4, others kept), aggregated to per-(lang, split) counts.
    Pure per-row projection before the final aggregate — no shuffle until
    the 15-row rollup, stable under any partitioning or append order."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sp.hash_split(docs, "doc_id", train=0.8, val=0.1)
    out = sp.stratified_sample_flag(
        out, "doc_id", "lang", rates={"en": (1, 2), "fr": (3, 4)}
    )
    return out.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
    )


# thresholds: round(0.8 * 65536) = 52429, round(0.9 * 65536) = 58982 —
# the exact integers hash_split derives; rates compared by exact
# cross-multiplication, mirroring operators/sampling.py
SQL_SPLIT_SAMPLE = """
WITH b AS (
    SELECT lang,
           CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) AS sb,
           CAST('0x' || substr(md5('sample:' || lang || '/'
                                   || CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) AS pb
    FROM documents
),
a AS (
    SELECT lang,
           CASE WHEN sb < 52429 THEN 'train'
                WHEN sb < 58982 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN lang = 'en' THEN pb * 2 < 65536
                WHEN lang = 'fr' THEN pb * 4 < 3 * 65536
                ELSE pb < 65536 END AS sampled
    FROM b
)
SELECT lang, split, count(*) AS n_docs,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM a GROUP BY 1, 2
"""


def q_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUP-level split: the split key is the USER, not the
    event, so every event of a user lands in the same train/val/test
    partition — the guard against entity leakage across ML splits (same
    ``hash_split`` operator, keyed on the group column). The oracle pins
    per-split user counts, event counts and value cents; user-level
    atomicity is structural (split is a pure function of user_id) and is
    additionally hash-pinned by n_users: a leaked user would appear in
    two splits and inflate the sum of per-split distinct users."""
    ev = tbl(spark, sf_dir, "events").select("user_id", "value")
    out = sp.hash_split(ev, "user_id", train=0.8, val=0.1)
    return out.groupBy("split").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(28,6)")) * 100
        ).cast("long").alias("total_cents"),
    )


SQL_GROUP_SPLIT = """
WITH a AS (
    SELECT user_id, value,
           CASE WHEN CAST('0x' || substr(md5('split:' || CAST(user_id AS VARCHAR)), 1, 4)
                          AS BIGINT) < 52429 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:' || CAST(user_id AS VARCHAR)), 1, 4)
                          AS BIGINT) < 58982 THEN 'val'
                ELSE 'test' END AS split
    FROM events
)
SELECT split, count(DISTINCT user_id) AS n_users, count(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))) * 100) AS BIGINT)
           AS total_cents
FROM a GROUP BY split
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by raw-ratio tf-idf
    (log-free: only IEEE-exact double ops, so ranking is bit-reproducible
    across engines)."""
    docs = _spread(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
    return tx.tfidf_topk(docs, k=3)


SQL_TFIDF_TOPK = f"""
WITH terms AS (
    SELECT doc_id AS id, unnest({_TOKS}) AS term FROM documents
),
tc AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY id, term),
dfreq AS (SELECT term, count(*) AS df_t FROM tc GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tc.id, tc.term, tc.tf,
           CAST(tc.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE)
               / CAST(dfreq.df_t + 1 AS DOUBLE) AS score
    FROM tc JOIN dfreq USING (term) CROSS JOIN n
),
r AS (SELECT *, row_number() OVER (PARTITION BY id
                                   ORDER BY score DESC, term) AS rk
      FROM scored)
SELECT id, term, tf, score FROM r WHERE rk <= 3
"""


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embeddings table:
    scale, quantized-code checksum, max dequantization error — all
    IEEE-exact arithmetic (floor-spelled half-up rounding), pure per-row
    projection."""
    vecs = tbl(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return sim.quantize_int8(vecs)


SQL_EMBED_QUANTIZE = """
WITH b AS (
    SELECT vec_id AS id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
),
s AS (
    SELECT id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
    FROM b
),
qv AS (
    SELECT id, v, scale,
           CASE WHEN scale = 0
                THEN list_transform(v, x -> 0.0)
                ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS q
    FROM s
)
SELECT id, scale,
       CAST(list_sum(q) AS DOUBLE) AS q_checksum,
       CASE WHEN scale = 0 THEN 0.0
            ELSE list_max(list_transform(generate_series(1, len(q)),
                          i -> abs(q[i] * scale - v[i]))) END AS max_abs_err
FROM qv
"""


def q_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage SQ8 ANN: quantized-code candidate scoring (k*3 survivors)
    + exact cosine rerank — the FAISS refine pattern, hash-checked end to
    end (both stages mirrored in SQL, including the floor-spelled
    quantizer)."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.quantized_rerank_topk(queries, emb, k=5, rerank=3)


SQL_QUANTIZED_RERANK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qz AS (
    SELECT vec_id,
           CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
                ELSE list_transform(v, x -> floor(x / s + 0.5)) END AS cv
    FROM (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
          FROM e)
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
approx AS (
    SELECT query_id, qz.vec_id AS neighbor_id,
           list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) AS acos_
    FROM qz CROSS JOIN q WHERE qz.vec_id != query_id
),
cand AS (
    SELECT query_id, neighbor_id
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY acos_ DESC, neighbor_id) AS ar
          FROM approx)
    WHERE ar <= 15
),
exact AS (
    SELECT c.query_id, c.neighbor_id,
           list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS cos
    FROM cand c
    JOIN e ON c.neighbor_id = e.vec_id
    JOIN q ON c.query_id = q.query_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
      FROM exact)
WHERE rank <= 5
"""


def q_streaming_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PII scrub, oracle-checked: documents arrive as a file
    stream, deterministic synthetic PII is injected per row, the redaction
    pass (stateless native regexp projections) runs per micro-batch, and
    per-language totals must equal the batch result — the
    compliance-on-ingest shape of a training-data feed."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="pii_feed_")
    shutil.copy(f"{sf_dir}/documents.parquet", f"{src}/docs.parquet")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.format("parquet").schema(schema).load(src)
        .select("doc_id", "text", "lang")
    )
    injected = stream.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com host 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    red = tx.redact_pii(injected)
    stats = red.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_email").alias("total_email"),
        F.sum("n_ipv4").alias("total_ipv4"),
        F.sum(F.length("redacted").cast("long")).alias("total_redacted_chars"),
    )
    name = f"stream_pii_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        stats.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _local_result(spark.table(name))
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


SQL_STREAMING_PII = """
WITH injected AS (
    SELECT doc_id, lang,
           text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com host 10.0.0.'
                || CAST(doc_id % 256 AS VARCHAR) AS text
    FROM documents
),
s1 AS (
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '{email}')) AS BIGINT) AS n_email,
           regexp_replace(text, '{email}', '[REDACTED-email]', 'g') AS t
    FROM injected
),
s2 AS (
    SELECT doc_id, lang, n_email,
           CAST(len(regexp_extract_all(t, '{ipv4}')) AS BIGINT) AS n_ipv4,
           regexp_replace(t, '{ipv4}', '[REDACTED-ipv4]', 'g') AS t
    FROM s1
),
s3 AS (
    SELECT doc_id, lang, n_email, n_ipv4,
           regexp_replace(t, '{phone}', '[REDACTED-phone]', 'g') AS t
    FROM s2
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS total_email,
       CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
       CAST(sum(length(t)) AS BIGINT) AS total_redacted_chars
FROM s3 GROUP BY lang
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card rollup every corpus release ships: per (lang,
    split) — document counts, sampling survivors, repetition-quality
    survivors, exact-dedup canonical counts, and total tokens. Composes
    hash_split + stratified sampling + the Gopher repetition filter +
    fingerprint dedup; each ingredient is oracle-green standalone, this
    entry verifies the composition."""
    docs = _spread(tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    out = sp.hash_split(docs, "doc_id", train=0.8, val=0.1)
    out = sp.stratified_sample_flag(
        out, "doc_id", "lang", rates={"en": (1, 2), "fr": (3, 4)}
    )
    rep = tx.ngram_repetition_features(
        docs, top_n=2, dup_n=3, max_top_frac=0.15, max_dup_frac=0.05
    ).select(F.col("id").alias("doc_id"), "keep")
    canon = (
        docs.select("doc_id", tx.fingerprint(F.col("text")).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .withColumn("_canonical", F.lit(True))
        .select("doc_id", "_canonical")
    )
    joined = (
        out.join(rep, "doc_id")
        .join(canon, "doc_id", "left")
        .withColumn("_tokens", tx.token_count(F.col("text")))
    )
    return joined.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("sampled").cast("long")).alias("n_sampled"),
        F.sum(F.col("keep").cast("long")).alias("n_quality_keep"),
        F.sum(F.coalesce(F.col("_canonical"), F.lit(False)).cast("long")).alias(
            "n_canonical"
        ),
        F.sum("_tokens").alias("total_tokens"),
    )


SQL_DATASET_CARD = """
WITH base AS (
    SELECT doc_id, text, lang,
           CAST('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) AS sb,
           CAST('0x' || substr(md5('sample:' || lang || '/'
                                   || CAST(doc_id AS VARCHAR)), 1, 4)
                AS BIGINT) AS pb,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens
    FROM documents
),
a AS (
    SELECT doc_id, text, lang, fp, n_tokens,
           CASE WHEN sb < 52429 THEN 'train'
                WHEN sb < 58982 THEN 'val'
                ELSE 'test' END AS split,
           CASE WHEN lang = 'en' THEN pb * 2 < 65536
                WHEN lang = 'fr' THEN pb * 4 < 3 * 65536
                ELSE pb < 65536 END AS sampled
    FROM base
),
canon AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY fp),
rep AS ({repetition_sql})
SELECT a.lang, a.split, count(*) AS n_docs,
       CAST(sum(CASE WHEN a.sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(sum(CASE WHEN rep.keep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_keep,
       CAST(sum(CASE WHEN canon.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_canonical,
       CAST(sum(a.n_tokens) AS BIGINT) AS total_tokens
FROM a
JOIN rep ON a.doc_id = rep.id
LEFT JOIN canon ON a.doc_id = canon.doc_id
GROUP BY a.lang, a.split
"""


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus round-trip: export the documents table as sharded
    newline-delimited JSON (the LLM-data interchange format) via the
    deterministic-shard sink, read it back with an explicit schema (no
    inference job), and aggregate — the totals must equal the parquet
    source, proving the JSON hop is lossless and the shard routing loses
    and duplicates nothing."""
    import shutil
    import tempfile

    from hiv_data_integration_spark.io.files import read_jsonl_corpus
    from hiv_data_integration_spark.io.sinks import export_training_shards

    docs = _spread(tbl(spark, sf_dir, "documents"))
    base = tempfile.mkdtemp(prefix="jsonl_")
    try:
        export_training_shards(docs, "doc_id", base, n_shards=8, fmt="json")
        back = read_jsonl_corpus(
            spark,
            base,
            schema="doc_id long, text string, lang string, source string, n_chars long",
        )
        out = _local_result(
            back.groupBy("lang").agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.sum(tx.token_count(F.col("text"))).alias("total_tokens"),
                F.count_distinct("doc_id").alias("n_distinct_ids"),
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_JSONL_ROUNDTRIP = r"""
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
       count(DISTINCT doc_id) AS n_distinct_ids
FROM documents GROUP BY lang
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension-history merge: the customer dim loads at batch 1,
    then a batch-2 snapshot arrives with deterministic drift — every 7th
    key's balance moves (changed), every 11th≡3 key disappears (deleted),
    every 13th≡0 key reappears shifted by 1e6 (new). The merge closes,
    versions, and inserts in ONE full-outer join + explode pass; the
    oracle reproduces the same history as a UNION of CASE branches."""
    from hiv_data_integration_spark.operators.history import (
        scd2_initial,
        scd2_merge,
    )

    cust = tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    hist = scd2_initial(cust, batch_id=1)
    upd = (
        cust.filter(F.col("k") % 11 != 3)
        .select(
            "k",
            F.when(F.col("k") % 7 == 0, F.col("bal") + 100)
            .otherwise(F.col("bal"))
            .alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 1000000).alias("k"),
                (F.col("k") % 1000).cast("double").alias("bal"),
            )
        )
    )
    return scd2_merge(
        hist, upd, key_cols=["k"], tracked_cols=["bal"], batch_id=2
    )


SQL_SCD2_HISTORY = """
WITH cur AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
upd AS (
    SELECT k, CASE WHEN k % 7 = 0 THEN bal + 100 ELSE bal END AS bal
    FROM cur WHERE k % 11 != 3
    UNION ALL
    SELECT k + 1000000 AS k, CAST(k % 1000 AS DOUBLE) AS bal
    FROM cur WHERE k % 13 = 0
),
j AS (
    SELECT cur.k AS ck, cur.bal AS cbal, upd.k AS uk, upd.bal AS ubal
    FROM cur FULL OUTER JOIN upd ON cur.k = upd.k
)
SELECT ck AS k, cbal AS bal, CAST(1 AS BIGINT) AS valid_from,
       CAST(NULL AS BIGINT) AS valid_to, TRUE AS is_current
FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND cbal = ubal
UNION ALL
SELECT ck, cbal, 1, 2, FALSE
FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND cbal != ubal
UNION ALL
SELECT uk, ubal, 2, NULL, TRUE
FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND cbal != ubal
UNION ALL
SELECT ck, cbal, 1, 2, FALSE FROM j WHERE uk IS NULL
UNION ALL
SELECT uk, ubal, 2, NULL, TRUE FROM j WHERE ck IS NULL
"""


# ---------------------------------------------------------------------------
# Round-3 training-pipeline + event-analytics operators
# ---------------------------------------------------------------------------

# whitespace-run token count, shared by the packing/decile oracles
_NTOK_SQL = "len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x != ''))"


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: documents → fixed token-budget training shards in
    deterministic id order (see operators.textops.pack_token_budget)."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.pack_token_budget(docs, budget=256)


SQL_TOKEN_PACKING = f"""
WITH d AS (
    SELECT doc_id, lang, {_NTOK_SQL} AS n_tokens FROM documents
),
c AS (
    SELECT doc_id, lang, n_tokens,
           COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
    FROM d
)
SELECT doc_id AS id, lang AS part, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(before // 256 AS BIGINT) AS shard_idx,
       CAST(before % 256 AS BIGINT) AS shard_offset
FROM c
"""


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance resampling (Xie et al. 2023,
    arXiv:2302.03169) toward the English sub-corpus as the target domain,
    fully hash-checked INCLUDING the float weight: the importance score is
    a smoothed rational of exact integer evidence sums (one double
    division — bit-portable, unlike the paper's libm-dependent log-ratio)
    and the accept draw is md5-uniform, so both engines keep or drop the
    exact same documents."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.dsir_importance_resample(docs, F.col("lang") == "en")


SQL_DSIR_RESAMPLE = f"""
WITH d AS (
    SELECT doc_id, lang = 'en' AS is_target, {_TOKS} AS l FROM documents
),
toks AS (
    SELECT doc_id AS id, is_target, unnest(l) AS token FROM d
),
freq AS (
    SELECT token, count(*) AS r_tok,
           SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_tok
    FROM toks GROUP BY token
),
scored AS (
    SELECT id, count(*) AS n_tokens,
           CAST(SUM(t_tok) AS BIGINT) AS sum_target_freq,
           CAST(SUM(r_tok) AS BIGINT) AS sum_raw_freq
    FROM toks JOIN freq USING (token) GROUP BY id
),
w AS (
    SELECT *,
           CAST(sum_target_freq + 1 AS DOUBLE)
               / CAST(sum_raw_freq + 2 AS DOUBLE) AS weight,
           CAST(CAST('0x' || substr(md5('dsir|' || CAST(id AS VARCHAR)), 1, 8)
                     AS BIGINT) AS DOUBLE) / 4294967296.0 AS draw
    FROM scored
)
SELECT id, n_tokens, sum_target_freq, sum_raw_freq, weight
FROM w WHERE draw < weight
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring (perplexity-filter stand-in). The battery
    projects the integer-exact columns — total corpus frequency and
    rare-token count carry the filter signal; the ``ln``-based float score
    is libm-dependent and verified by a same-engine pytest instead."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.unigram_logprob(docs).select("id", "n_tokens", "sum_freq", "n_rare")


SQL_UNIGRAM_LOGPROB = """
WITH d AS (
    SELECT doc_id,
           list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x != '') AS l
    FROM documents
),
toks AS (
    SELECT doc_id AS id, unnest(l) AS token FROM d
),
freq AS (SELECT token, count(*) AS n_tok FROM toks GROUP BY token)
SELECT id, count(*) AS n_tokens,
       CAST(SUM(n_tok) AS BIGINT) AS sum_freq,
       CAST(SUM(CASE WHEN n_tok <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
FROM toks JOIN freq USING (token)
GROUP BY id
"""


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile quality banding: per-language ntile(10) histogram over a
    deterministic (token-count, id) order — the keep-the-top-bands step of
    percentile quality filtering."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.quality_decile_stats(docs)


SQL_QUALITY_DECILES = f"""
WITH d AS (
    SELECT doc_id, lang AS part, {_NTOK_SQL} AS n_tokens FROM documents
),
b AS (
    SELECT part, n_tokens,
           CAST(ntile(10) OVER (PARTITION BY part
                                ORDER BY n_tokens, doc_id) AS BIGINT) AS decile
    FROM d
)
SELECT part, decile, count(*) AS n_docs,
       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM b GROUP BY part, decile
"""


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (over-represented-domain cap): keep the
    first 50 docs of each source in deterministic id order."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "source")
    return sp.quota_per_stratum(docs, "source", "doc_id", 50)


SQL_SOURCE_QUOTA = """
SELECT doc_id, source, quota_rank FROM (
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
                AS BIGINT) AS quota_rank
    FROM documents
) WHERE quota_rank <= 50
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the events stream: users reaching
    view → click → purchase, each stage strictly after the previous
    stage's first entry."""
    ev = tbl(spark, sf_dir, "events")
    return agg_funnel(ev, ["view", "click", "purchase"])


SQL_FUNNEL = """
WITH s0 AS (SELECT user_id AS u, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
       JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
UNION ALL
SELECT CAST(1 AS BIGINT), 'click', count(*) FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), 'purchase', count(*) FROM s2
"""


def q_variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics on the Spark 4 VARIANT type
    (``parse_json`` → ``try_variant_get`` path extraction): the events
    ``props`` JSON column parses once into the binary variant encoding
    and the typed path ``$.k`` feeds ordinary aggregation — the
    schema-on-read shape that replaces brittle from_json struct
    contracts. try_variant_get (not variant_get) so malformed payloads
    degrade to NULL rows instead of failing the scan; the oracle's
    json_extract does the same."""
    ev = tbl(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("long").alias("sum_k"),
            F.count_distinct("k").alias("n_distinct_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


SQL_VARIANT_JSON_EXTRACT = """
WITH x AS (
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       count(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       count(DISTINCT k) AS n_distinct_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM x GROUP BY event_type
"""


def q_windowed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT attribution-window funnel: each next stage must land within
    6 hours of the previous stage's entry (``max_gap``) — the
    converted-within-window semantics; interval arithmetic on NTZ event
    time, timezone-free. Same chain of conditional min-aggregates as the
    unbounded funnel, so the two entries pin both semantics."""
    ev = tbl(spark, sf_dir, "events")
    return agg_funnel(
        ev, ["view", "click", "purchase"], max_gap="6 hours"
    )


SQL_WINDOWED_FUNNEL = """
WITH s0 AS (SELECT user_id AS u, min(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s1 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
       JOIN s0 ON e.user_id = s0.u AND e.ts > s0.t
                AND e.ts <= s0.t + INTERVAL 6 HOUR
       WHERE e.event_type = 'click' GROUP BY e.user_id),
s2 AS (SELECT e.user_id AS u, min(e.ts) AS t FROM events e
       JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t
                AND e.ts <= s1.t + INTERVAL 6 HOUR
       WHERE e.event_type = 'purchase' GROUP BY e.user_id)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'view' AS stage, count(*) AS n_users FROM s0
UNION ALL
SELECT CAST(1 AS BIGINT), 'click', count(*) FROM s1
UNION ALL
SELECT CAST(2 AS BIGINT), 'purchase', count(*) FROM s2
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort/retention matrix: first-activity-day cohorts × whole-week
    offsets, distinct active users per cell."""
    ev = tbl(spark, sf_dir, "events")
    return agg_cohort(ev)


SQL_COHORT_RETENTION = """
WITH f AS (SELECT user_id AS u, min(CAST(ts AS DATE)) AS cohort_day
           FROM events GROUP BY user_id),
a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events)
SELECT cohort_day,
       CAST(floor(datediff('day', cohort_day, d) / 7) AS BIGINT) AS week_offset,
       count(DISTINCT u) AS n_users
FROM a JOIN f USING (u)
GROUP BY cohort_day, week_offset
"""


# ---------------------------------------------------------------------------
# Round-4 sink/source round-trips: the previously pytest-only oracle-able
# operators (VERDICT r3 gap #1), each via the spectrum_csv_scan pattern —
# write through the operator under test, read back, aggregate, and let the
# oracle compute the same result from the pristine parquet source.
# ---------------------------------------------------------------------------


def q_xlsx_report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+K3 round-trip, HASH-checked: the nation dim written into a NEW
    workbook by the from-scratch stdlib XLSX writer (io/excel.py
    write_xlsx_workbook; reference reads workbooks at
    update_pnls_report/extract_chu_data.py:36,182 and writes review sheets
    at utils.py:186-194), then read back through the stdlib sheet codec →
    Spark. The XML cell conventions (inline strings, plain numeric <v>)
    must survive the zip/XML hop losslessly for the hash to match the
    pristine parquet."""
    import os
    import shutil
    import tempfile

    from hiv_data_integration_spark.io.excel import (
        excel_sheet_to_spark,
        read_excel_sheet,
        write_xlsx_workbook,
    )

    nation = tbl(spark, sf_dir, "nation")
    # driver-side grid: the nation dim is the reference's registry scale
    grid = [["n_nationkey", "n_name", "n_regionkey"]] + [
        [int(r.n_nationkey), r.n_name, int(r.n_regionkey)]
        for r in nation.orderBy("n_nationkey").collect()
    ]
    base = tempfile.mkdtemp(prefix="xlsx_rt_")
    try:
        path = os.path.join(base, "report.xlsx")
        write_xlsx_workbook(path, {"NATIONS": grid})
        df = excel_sheet_to_spark(spark, read_excel_sheet(path, "NATIONS"))
        out = _local_result(
            df.select(
                F.col("n_nationkey").cast("long").alias("n_nationkey"),
                "n_name",
                F.col("n_regionkey").cast("long").alias("n_regionkey"),
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_XLSX_ROUNDTRIP = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
"""


def q_csv_per_period_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 round-trip, HASH-checked: reference-exact one-<period>.csv-per-
    month export (io/sinks.py export_csv_per_period; reference
    update_pnls_report/utils.py:395-418) of a quarter of orders, read back
    with an explicit schema and re-aggregated — file naming, header
    emission, and the text round-trip of doubles (shortest-round-trip
    formatting) are all under test."""
    import shutil
    import tempfile

    from hiv_data_integration_spark.io.sinks import export_csv_per_period

    orders = tbl(spark, sf_dir, "orders")
    q1 = orders.filter(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1995-04-01")
    ).select(
        F.date_format("o_orderdate", "yyyyMM").alias("periode"),
        "o_orderkey",
        "o_totalprice",
    )
    base = tempfile.mkdtemp(prefix="percsv_")
    try:
        written = export_csv_per_period(q1, "periode", base)
        assert written, "per-period export produced no files"
        back = spark.read.csv(
            f"{base}/*.csv",
            header=True,
            schema="periode string, o_orderkey long, o_totalprice double",
        )
        out = _local_result(
            back.groupBy("periode").agg(
                F.count("*").alias("n_orders"),
                F.count_distinct("o_orderkey").alias("n_distinct_orders"),
                dsum("o_totalprice", scale=2, prec=18).alias("sum_price"),
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_CSV_PER_PERIOD = """
SELECT strftime(o_orderdate, '%Y%m') AS periode,
       count(*) AS n_orders,
       count(DISTINCT o_orderkey) AS n_distinct_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-04-01'
GROUP BY 1
"""


def q_json_dict_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 round-trip, HASH-checked: a ``{code: org_unit_id}`` mapping file
    (the NAOMI district↔DHIS2 shape, reference
    update_pnls_report/extract_naomi_data.py:134-143) written to JSON,
    scanned back via json_dict_source, and broadcast-joined to the nation
    dim (J7). The mapping is a pure function of the dim, so the oracle
    derives it in SQL."""
    import json
    import os
    import shutil
    import tempfile

    from hiv_data_integration_spark.io.files import json_dict_source

    nation = tbl(spark, sf_dir, "nation")
    mapping = {
        str(r.n_nationkey): f"OU_{r.n_name}" for r in nation.collect()
    }
    base = tempfile.mkdtemp(prefix="jsondict_")
    try:
        path = os.path.join(base, "mapping.json")
        with open(path, "w") as fh:
            json.dump(mapping, fh)
        m = json_dict_source(spark, path)
        joined = nation.join(
            F.broadcast(m),
            nation["n_nationkey"].cast("string") == m["code"],
        ).select(
            "code",
            "organisation_unit_id",
            F.col("n_regionkey").cast("long").alias("n_regionkey"),
        )
        out = _local_result(joined)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_JSON_DICT_SCAN = """
SELECT CAST(n_nationkey AS VARCHAR) AS code,
       'OU_' || n_name AS organisation_unit_id,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
"""


def q_registry_upsert_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 round-trip, HASH-checked: the mutable-registry read-modify-write
    (operators/fuzzy.py upsert_parquet_state; reference
    update_pnls_report/extract_chu_data.py:288,378-381,492-502). Batch 1
    seeds the registry from the supplier dim; batch 2 re-submits every 3rd
    key with changed payload and adds brand-new keys — the atomic
    staging-swap upsert must apply new-over-current precedence on
    collisions, keep everything else, and append the new keys. The merge
    outcome is a pure function of the dim, so the oracle reproduces it as
    a UNION of CASE branches."""
    import shutil
    import tempfile

    from hiv_data_integration_spark.operators.fuzzy import upsert_parquet_state

    sup = tbl(spark, sf_dir, "supplier")
    base = tempfile.mkdtemp(prefix="registry_")
    path = f"{base}/registry.parquet"
    try:
        current = sup.select(
            F.col("s_suppkey").alias("k"),
            F.col("s_name").alias("name"),
            F.lit(1).cast("long").alias("ver"),
        )
        current.write.mode("overwrite").parquet(path)
        new_rows = (
            sup.filter(F.col("s_suppkey") % 3 == 0)
            .select(
                F.col("s_suppkey").alias("k"),
                F.concat(F.col("s_name"), F.lit("+r2")).alias("name"),
                F.lit(2).cast("long").alias("ver"),
            )
            .unionByName(
                sup.filter(F.col("s_suppkey") % 10 == 0).select(
                    (F.col("s_suppkey") + 100000).alias("k"),
                    F.concat(F.lit("NEW_"), F.col("s_name")).alias("name"),
                    F.lit(2).cast("long").alias("ver"),
                )
            )
        )
        merged = upsert_parquet_state(spark, path, new_rows, dedupe_keys=["k"])
        out = _local_result(merged.select("k", "name", "ver"))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_REGISTRY_UPSERT = """
SELECT s_suppkey AS k,
       CASE WHEN s_suppkey % 3 = 0 THEN s_name || '+r2' ELSE s_name END AS name,
       CAST(CASE WHEN s_suppkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS ver
FROM supplier
UNION ALL
SELECT s_suppkey + 100000 AS k, 'NEW_' || s_name AS name,
       CAST(2 AS BIGINT) AS ver
FROM supplier WHERE s_suppkey % 10 = 0
"""


def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup spans (Lee et al. 2022 suffix-array dedup,
    discretized to 5-gram runs): see
    operators.textops.duplicate_ngram_spans for the scale shape."""
    docs = _spread(tbl(spark, sf_dir, "documents"))
    return tx.duplicate_ngram_spans(
        docs, text_col="text", id_col="doc_id", n=5
    )


SQL_DUP_NGRAM_SPANS = f"""
WITH toks AS (SELECT doc_id AS id, {_TOKS} AS w FROM documents),
pg AS (
    SELECT id, i - 1 AS pos,
           CAST('0x' || substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15)
                AS BIGINT) AS gram_h
    FROM (SELECT id, w, unnest(range(1, len(w) - 3)) AS i
          FROM toks WHERE len(w) >= 5)
),
dup AS (SELECT gram_h FROM pg GROUP BY gram_h HAVING count(*) >= 2),
m AS (SELECT pg.id, pg.pos FROM pg JOIN dup USING (gram_h)),
isl AS (
    SELECT id, pos,
           pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS island
    FROM m
)
SELECT id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(count(*) + 4 AS BIGINT) AS span_tokens
FROM isl GROUP BY id, island
"""


def q_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates vs exact counts for the corpus's
    top-20 tokens. The sketch (4×256 integer table) is built in ONE
    map-side-combinable aggregate and broadcasts to the probe join; the
    CMS guarantee est >= exact is part of the checked result. See
    operators.aggregate.countmin_build."""
    from hiv_data_integration_spark.operators.aggregate import (
        countmin_build,
        countmin_query,
    )

    docs = tbl(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(tx.whitespace_tokens(F.lower(F.col("text")))).alias("term")
    )
    cms = countmin_build(terms, "term", depth=4, width=256)
    exact = (
        terms.groupBy("term")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("term"))
        .limit(20)
    )
    est = countmin_query(cms, exact, "term", depth=4, width=256)
    return est.select(
        "term", "exact_cnt", "cms_est",
        (F.col("cms_est") >= F.col("exact_cnt")).alias("upper_bound_holds"),
    )


_CMS_HASH = (
    "(((({r2}) * CAST('0x' || substr(md5(term), 1, 15) AS BIGINT)"
    " + ({b})) % 2305843009213693951) % 256)"
)
_CMS_BUCKETS = ",\n           ".join(
    _CMS_HASH.format(r2=2 * r + 1, b=1000003 * r + 12345) + f" AS b{r}"
    for r in range(4)
)
_CMS_ESTS = "\n".join(
    f"LEFT JOIN cms c{r} ON c{r}.rr = {r} AND c{r}.bucket = p.b{r}"
    for r in range(4)
)
SQL_COUNTMIN_TOKENS = f"""
WITH terms AS (
    SELECT unnest({_TOKS}) AS term FROM documents
),
hashed AS (
    SELECT term,
           {_CMS_BUCKETS}
    FROM terms
),
cms AS (
    SELECT rr, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT 0 AS rr, b0 AS bucket FROM hashed
        UNION ALL SELECT 1, b1 FROM hashed
        UNION ALL SELECT 2, b2 FROM hashed
        UNION ALL SELECT 3, b3 FROM hashed)
    GROUP BY rr, bucket
),
exact AS (
    SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt,
           {_CMS_BUCKETS}
    FROM terms GROUP BY term
    ORDER BY exact_cnt DESC, term LIMIT 20
)
SELECT p.term, p.exact_cnt,
       CAST(least(COALESCE(c0.cnt, 0), COALESCE(c1.cnt, 0),
                  COALESCE(c2.cnt, 0), COALESCE(c3.cnt, 0)) AS BIGINT)
           AS cms_est,
       least(COALESCE(c0.cnt, 0), COALESCE(c1.cnt, 0),
             COALESCE(c2.cnt, 0), COALESCE(c3.cnt, 0)) >= p.exact_cnt
           AS upper_bound_holds
FROM exact p
{_CMS_ESTS}
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the co-purchase graph (parts
    bought together in >= 2 orders) — degree-oriented wedge join, each
    triangle found exactly once. See operators.dedup.triangle_count."""
    li = tbl(spark, sf_dir, "lineitem")
    # co-purchase pairs WITHOUT the fact self-join (r12, guide §2.4):
    # the a⋈b shape shuffled lineitem TWICE by l_orderkey and exploded
    # the join output row-by-row; grouping each order's parts into one
    # sorted array and emitting the ordered index pairs with a
    # higher-order transform keeps the same multiset of (pa<pb) pairs
    # (duplicates of a part within an order still contribute one pair
    # per occurrence pair, exactly like the self-join) through ONE
    # exchange — focused A/B at sf0.1: 2.6-3.3 s → 2.1-2.8 s, output
    # hash-identical
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "filter(transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x as pa, y as pb)), p -> p.pa < p.pb)))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    edges = (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
    )
    return dd.triangle_count(edges)


SQL_TRIANGLE_COUNT = """
WITH e AS (
    SELECT a.l_partkey AS a, b.l_partkey AS b
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= 2
),
tri AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM e e1 JOIN e e2 ON e1.b = e2.a
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri)
GROUP BY node
"""


def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed k-fold assignment + per-fold
    balance stats (the CV-split integrity check: fold sizes, token mass
    and language coverage must be near-uniform)."""
    docs = tbl(spark, sf_dir, "documents")
    return (
        sp.kfold_assign(docs, "doc_id", k=5)
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


SQL_KFOLD_ASSIGNMENT = """
SELECT CAST(CAST('0x' || substr(md5('kfold' || CAST(doc_id AS VARCHAR)), 1, 4)
            AS BIGINT) % 5 AS BIGINT) AS fold,
       count(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       count(DISTINCT lang) AS n_langs
FROM documents
GROUP BY 1
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed 3-term query, rational-idf
    variant (no libm in the score — bit-reproducible ranking). See
    operators.textops.bm25_topk."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.bm25_topk(
        docs, ["customer", "window", "merge"],
        text_col="text", id_col="doc_id", k1=1.2, b=0.75, k=10,
    )


_BM25_PART = (
    "((n_docs - df_t + 0.5) / (df_t + 0.5))"
    " * (tf * 2.2)"
    " / (tf + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs))))"
)
SQL_BM25_TOPK = f"""
WITH toks AS (SELECT doc_id AS id, {_TOKS} AS w FROM documents),
lengths AS (SELECT id, CAST(len(w) AS BIGINT) AS dl FROM toks),
stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) AS sum_dl
    FROM lengths
),
tf AS (
    SELECT id, term, CAST(count(*) AS DOUBLE) AS tf
    FROM (SELECT id, unnest(w) AS term FROM toks)
    WHERE term IN ('customer', 'window', 'merge')
    GROUP BY id, term
),
dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df_t FROM tf GROUP BY term),
scored AS (
    SELECT tf.id, tf.term,
           {_BM25_PART} AS part_score
    FROM tf
    JOIN dfreq USING (term)
    JOIN lengths USING (id)
    CROSS JOIN stats
),
per_term AS (
    SELECT id,
           MAX(CASE WHEN term = 'customer' THEN part_score END) AS s0,
           MAX(CASE WHEN term = 'window' THEN part_score END) AS s1,
           MAX(CASE WHEN term = 'merge' THEN part_score END) AS s2
    FROM scored GROUP BY id
)
SELECT id, COALESCE(s0, 0.0) + COALESCE(s1, 0.0) + COALESCE(s2, 0.0) AS score
FROM per_term
ORDER BY score DESC, id
LIMIT 10
"""


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter (16384 bits × 3 hashes) of the part keys
    shipping in >45-quantity lines, probed with EVERY part key — the
    checked result carries both guarantees: actually-present keys are
    always maybe_present (no false negatives), and the nonzero
    false-positive set is bit-identical on any engine reproducing the
    hash family. See operators.aggregate.bloom_build."""
    from hiv_data_integration_spark.operators.aggregate import (
        bloom_build,
        bloom_probe,
    )

    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    hot = (
        li.filter(F.col("l_quantity") > 45.0)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    bloom = bloom_build(hot, "k", num_bits=16384, num_hashes=3)
    probes = p.select(F.col("p_partkey").alias("k"))
    probed = bloom_probe(bloom, probes, "k", num_bits=16384, num_hashes=3)
    return (
        probed.join(hot.withColumn("_actual", F.lit(True)), "k", "left")
        .select(
            "k",
            "maybe_present",
            F.coalesce(F.col("_actual"), F.lit(False)).alias(
                "actually_present"
            ),
            (
                F.col("maybe_present")
                & ~F.coalesce(F.col("_actual"), F.lit(False))
            ).alias("is_false_positive"),
        )
    )


_BLOOM_POS = (
    "((({m}) * CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15) AS BIGINT)"
    " + ({b})) % 2305843009213693951) % 16384"
)
_BLOOM_LIST = "[" + ", ".join(
    _BLOOM_POS.format(m=2 * r + 1, b=1000003 * r + 12345) for r in range(3)
) + "]"
SQL_BLOOM_MEMBERSHIP = f"""
WITH hot AS (
    SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_quantity > 45.0
),
bloom AS (
    SELECT DISTINCT unnest({_BLOOM_LIST}) AS bit FROM hot
),
probe_bits AS (
    SELECT k, len(list_distinct({_BLOOM_LIST})) AS n_pos,
           unnest(list_distinct({_BLOOM_LIST})) AS bit
    FROM (SELECT p_partkey AS k FROM part)
),
hits AS (
    SELECT pb.k, any_value(pb.n_pos) AS n_pos,
           count(b.bit) AS n_hits
    FROM probe_bits pb LEFT JOIN bloom b ON pb.bit = b.bit
    GROUP BY pb.k
)
SELECT h.k,
       h.n_hits = h.n_pos AS maybe_present,
       hot.k IS NOT NULL AS actually_present,
       (h.n_hits = h.n_pos) AND hot.k IS NULL AS is_false_positive
FROM hits h LEFT JOIN hot ON h.k = hot.k
"""


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag winsorization profile of l_quantity at the
    binary-exact 1/8 and 7/8 percentiles (clamp counts + DECIMAL-exact
    winsorized sum). See operators.aggregate.winsorized_stats."""
    from hiv_data_integration_spark.operators.aggregate import (
        winsorized_stats,
    )

    li = tbl(spark, sf_dir, "lineitem")
    return winsorized_stats(
        li, "l_quantity", "l_returnflag", p_lo=0.125, p_hi=0.875
    )


SQL_WINSORIZED_STATS = """
WITH bounds AS (
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.125) AS lo,
           quantile_cont(l_quantity, 0.875) AS hi
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       MIN(b.lo) AS lo_bound,
       MIN(b.hi) AS hi_bound,
       count(*) AS n_rows,
       CAST(SUM(CASE WHEN l.l_quantity < b.lo THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clamped_lo,
       CAST(SUM(CASE WHEN l.l_quantity > b.hi THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clamped_hi,
       CAST(SUM(CAST(least(greatest(l.l_quantity, b.lo), b.hi)
                     AS DECIMAL(28,6))) AS DOUBLE) AS sum_winsorized
FROM lineitem l JOIN bounds b USING (l_returnflag)
GROUP BY l.l_returnflag
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier profile of event values per type —
    the explicit rank-median formulation (both engines mirror the same
    midpoint expression bit-for-bit). See
    operators.aggregate.robust_outliers."""
    from hiv_data_integration_spark.operators.aggregate import (
        robust_outliers,
    )

    ev = tbl(spark, sf_dir, "events")
    return robust_outliers(ev, "value", "event_type", k=3.0)


SQL_ROBUST_OUTLIERS = """
WITH ranked AS (
    SELECT event_type, value AS v,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
med AS (
    SELECT event_type,
           (MIN(CASE WHEN rn = (n + 1) // 2 THEN v END)
            + MIN(CASE WHEN rn = (n + 2) // 2 THEN v END)) / 2.0 AS _med
    FROM ranked GROUP BY event_type
),
devs AS (
    SELECT e.event_type, m._med, abs(e.value - m._med) AS _dev
    FROM events e JOIN med m USING (event_type)
),
dev_ranked AS (
    SELECT event_type, _med, _dev,
           row_number() OVER (PARTITION BY event_type ORDER BY _dev) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM devs
),
mad AS (
    SELECT event_type,
           (MIN(CASE WHEN rn = (n + 1) // 2 THEN _dev END)
            + MIN(CASE WHEN rn = (n + 2) // 2 THEN _dev END)) / 2.0 AS _mad
    FROM dev_ranked GROUP BY event_type
)
SELECT d.event_type,
       MIN(d._med) AS med,
       MIN(m._mad) AS mad,
       count(*) AS n_rows,
       CAST(SUM(CASE WHEN d._dev > 3.0 * m._mad THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM devs d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding/hopping event-time windows (1 h window, 15 min hop):
    each event lands in exactly 4 overlapping windows — the batch twin
    of the streaming sliding aggregation, fan-out materialized at
    assignment."""
    ev = tbl(spark, sf_dir, "events")
    from hiv_data_integration_spark.operators.aggregate import (
        tumbling_window_agg,
    )

    out = tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        keys=["event_type"],
        aggs=[
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("sum_value"),
        ],
        slide="15 minutes",
    )
    return out.select("event_type", "window_start", "n_events", "sum_value")


SQL_SLIDING_WINDOW = """
SELECT event_type,
       time_bucket(INTERVAL '15 minutes', ts)
           - k * INTERVAL '15 minutes' AS window_start,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)
GROUP BY 1, 2
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix over per-user streams
    (Markov behavior model input). Total order pinned by (ts, event_id).
    See operators.aggregate.event_transitions."""
    from hiv_data_integration_spark.operators.aggregate import (
        event_transitions,
    )

    ev = tbl(spark, sf_dir, "events")
    return event_transitions(ev, "user_id", "ts", "event_type", "event_id")


SQL_EVENT_TRANSITIONS = """
WITH pairs AS (
    SELECT lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, count(*) AS n_trans
    FROM pairs WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
),
totals AS (
    SELECT from_type, SUM(n_trans) AS total FROM counts GROUP BY from_type
)
SELECT c.from_type, c.to_type, c.n_trans,
       CAST(c.n_trans AS DOUBLE) / CAST(t.total AS DOUBLE) AS p_trans
FROM counts c JOIN totals t USING (from_type)
"""


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity quality features (type-token ratio +
    Gini-Simpson, log-free). See operators.textops.token_diversity."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.token_diversity(docs, text_col="text", id_col="doc_id")


SQL_TOKEN_DIVERSITY = f"""
WITH tf AS (
    SELECT id, term, count(*) AS tf FROM (
        SELECT doc_id AS id, unnest({_TOKS}) AS term FROM documents)
    GROUP BY id, term
),
per_doc AS (
    SELECT id, CAST(SUM(tf) AS BIGINT) AS dl,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(SUM(tf * tf) AS BIGINT) AS sum_sq
    FROM tf GROUP BY id
)
SELECT id, dl, n_types,
       CAST(n_types AS DOUBLE) / CAST(dl AS DOUBLE) AS type_token_ratio,
       1.0 - CAST(sum_sq AS DOUBLE) / CAST(dl * dl AS DOUBLE)
           AS gini_simpson
FROM per_doc
"""



def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median, the corpus-curation form of a quantile:
    per return flag, the smallest price whose cumulative QUANTITY
    reaches half the flag's total quantity. Weights are BIGINTs, so the
    half-total test is pure integer math (2*cum >= total); values order
    as DECIMAL(18,2) and only the final projection is double. Runs the
    BUCKETED two-phase path (bucket_div=1000: histogram finds each
    group's median bucket, only that bucket's values sort) — the scale
    path for few-groups/many-values profiles; the oracle keeps the
    naive full cumulative scan, so the hash proves the rewrite."""
    from hiv_data_integration_spark.operators.aggregate import weighted_median

    li = tbl(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("_price"),
        "l_quantity",
    )
    out = weighted_median(
        li, "l_returnflag", "_price", "l_quantity", bucket_div=1000
    )
    return out.select(
        "l_returnflag",
        F.col("weighted_median").cast("double").alias("weighted_median"),
        "total_weight",
    )


SQL_WEIGHTED_MEDIAN = """
WITH per_val AS (
    SELECT l_returnflag AS grp, CAST(l_extendedprice AS DECIMAL(18,2)) AS val,
           SUM(CAST(l_quantity AS BIGINT)) AS w
    FROM lineitem GROUP BY 1, 2
),
c AS (
    SELECT grp, val, w,
           SUM(w) OVER (PARTITION BY grp ORDER BY val
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(w) OVER (PARTITION BY grp) AS total
    FROM per_val
)
SELECT grp AS l_returnflag,
       CAST(MIN(val) AS DOUBLE) AS weighted_median,
       CAST(MIN(total) AS BIGINT) AS total_weight
FROM c WHERE cum * 2 >= total GROUP BY grp
"""


def q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user RFM behavioral features: recency in whole days against
    the corpus max-date anchor (reproducible, no wall clock), frequency,
    and a DECIMAL(28,6)-accumulated monetary sum (bit-identical under
    any partitioning; one final double cast)."""
    from hiv_data_integration_spark.operators.aggregate import rfm_features

    ev = tbl(spark, sf_dir, "events")
    return rfm_features(ev).select(
        F.col("user").alias("user_id"), "recency_days", "frequency",
        "monetary",
    )


SQL_RFM = """
WITH anchor AS (SELECT MAX(CAST(ts AS DATE)) AS a FROM events),
per_user AS (
    SELECT user_id, MAX(CAST(ts AS DATE)) AS last_d, COUNT(*) AS frequency,
           SUM(CAST(value AS DECIMAL(28,6))) AS mon
    FROM events GROUP BY 1
)
SELECT p.user_id,
       CAST(a.a - p.last_d AS BIGINT) AS recency_days,
       p.frequency,
       CAST(p.mon AS DOUBLE) AS monetary
FROM per_user p CROSS JOIN anchor a
"""


def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution over the event stream: every
    view/click/signup inside the 72 h window before a purchase shares
    that purchase's credit equally. Credits decomposed by window-size
    cohort as exact BIGINT numerators (summing 1/n floats across
    conversions would be order-dependent); credit = one IEEE division
    per output row."""
    from hiv_data_integration_spark.operators.aggregate import (
        linear_attribution,
    )

    ev = tbl(spark, sf_dir, "events")
    return linear_attribution(
        ev, "purchase", ["view", "click", "signup"], "72 hours"
    )


SQL_LINEAR_ATTRIBUTION = """
WITH conv AS (SELECT user_id AS u, ts AS ct, event_id AS cid FROM events
              WHERE event_type = 'purchase'),
touch AS (SELECT user_id AS u, event_type AS tt, ts AS tts FROM events
          WHERE event_type IN ('view', 'click', 'signup')),
pct AS (
    SELECT c.cid, t.tt, COUNT(*) AS cnt
    FROM conv c JOIN touch t ON c.u = t.u
     AND t.tts < c.ct AND t.tts >= c.ct - INTERVAL 72 HOUR
    GROUP BY 1, 2
),
pc AS (SELECT cid, CAST(SUM(cnt) AS BIGINT) AS n_touches FROM pct GROUP BY 1)
SELECT pct.tt AS touch_type, pc.n_touches,
       CAST(SUM(pct.cnt) AS BIGINT) AS credit_num,
       COUNT(DISTINCT pct.cid) AS n_conversions,
       CAST(CAST(SUM(pct.cnt) AS BIGINT) AS DOUBLE)
           / CAST(pc.n_touches AS DOUBLE) AS credit
FROM pct JOIN pc USING (cid)
GROUP BY 1, 2
"""


def q_benford_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford leading-digit profile of lineitem prices: values become
    exact integer cents via a DECIMAL cast (never floor(x*100) on
    doubles), and the leading digit is the first character of the
    BIGINT's decimal string — integer-to-string is exact on every
    engine, unlike log10 (libm rounding differs at powers of ten)."""
    from hiv_data_integration_spark.operators.aggregate import benford_profile

    li = tbl(spark, sf_dir, "lineitem")
    return benford_profile(li, "l_extendedprice", decimal_scale=2)


SQL_BENFORD = """
WITH units AS (
    SELECT CAST(CAST(l_extendedprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS u
    FROM lineitem
),
d AS (SELECT CAST(substr(CAST(u AS VARCHAR), 1, 1) AS BIGINT)
          AS leading_digit
      FROM units WHERE u > 0),
c AS (SELECT leading_digit, COUNT(*) AS n_values FROM d GROUP BY 1)
SELECT leading_digit, n_values,
       CAST(n_values AS DOUBLE)
           / CAST((SELECT CAST(SUM(n_values) AS BIGINT) FROM c) AS DOUBLE)
           AS share
FROM c
"""


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric eval-containment decontamination scores: per
    (train doc, eval doc) pair, shared distinct word 3-grams over the
    eval doc's gram count — the right measure when a short benchmark
    item hides inside a long page (containment ~1.0 where Jaccard ~0).
    Eval suite = doc_id % 25 == 0 (broadcast); the corpus never
    re-shuffles. Counts exact BIGINTs; containment one IEEE division."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("doc_id", "text")
    eval_df = docs.filter(F.col("doc_id") % 25 == 0)
    train = docs.filter(F.col("doc_id") % 25 != 0)
    return tx.ngram_containment(train, eval_df, n=3, min_shared=1)


SQL_NGRAM_CONTAINMENT = f"""
WITH g AS (
    SELECT doc_id AS id,
           unnest(list_transform(generate_series(1, len(toks) - 2),
                  i -> array_to_string(toks[i : i + 2], ' '))) AS gram
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
    WHERE len(toks) >= 3
),
ev AS (SELECT DISTINCT id AS eval_id, gram FROM g WHERE id % 25 = 0),
tr AS (SELECT DISTINCT id AS train_id, gram FROM g WHERE id % 25 != 0),
ev_sizes AS (SELECT eval_id, COUNT(*) AS eval_grams FROM ev GROUP BY 1),
shared AS (
    SELECT tr.train_id, ev.eval_id, COUNT(*) AS shared_grams
    FROM tr JOIN ev USING (gram)
    GROUP BY 1, 2
)
SELECT s.train_id, s.eval_id, s.shared_grams, z.eval_grams,
       CAST(s.shared_grams AS DOUBLE) / CAST(z.eval_grams AS DOUBLE)
           AS containment
FROM shared s JOIN ev_sizes z USING (eval_id)
WHERE s.shared_grams >= 1
"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis on the orders->customer key: top-10
    heaviest o_custkey values with exact counts, share, and skew ratio
    (cnt*n_keys/total) — the measurement pass that decides whether a
    join needs salting/AQE skew handling. Ranking is total (count desc,
    key string asc)."""
    from hiv_data_integration_spark.operators.relational import (
        key_skew_profile,
    )

    o = tbl(spark, sf_dir, "orders")
    return key_skew_profile(o, "o_custkey", k=10)


SQL_KEY_SKEW = """
WITH counts AS (
    SELECT CAST(o_custkey AS VARCHAR) AS key, COUNT(*) AS cnt
    FROM orders GROUP BY 1
),
stats AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS nkeys
          FROM counts),
r AS (SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key ASC NULLS LAST)
                 AS rank
      FROM counts)
SELECT r.rank, r.key, r.cnt,
       s.total AS total_rows, s.nkeys AS n_keys,
       CAST(r.cnt AS DOUBLE) / CAST(s.total AS DOUBLE) AS share,
       CAST(r.cnt * s.nkeys AS DOUBLE) / CAST(s.total AS DOUBLE)
           AS skew_ratio
FROM r CROSS JOIN stats s
WHERE r.rank <= 10
"""



def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the exact cosine top-5 and the
    hyperplane-LSH top-3 rankings (k0=60): the zero-training ranker
    combiner. The score adds its 1/(60+rank) terms in fixed list order
    (exact ranker first) — a left-to-right float expression, not an
    aggregate, so the fused ordering is bit-reproducible."""
    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    exact = sim.cosine_topk(queries, emb, k=5)
    approx = sim.lsh_topk(queries, emb, _PLANES, k=3)
    return sim.rrf_fuse([exact, approx], k0=60, k=5)


SQL_RRF_FUSION = f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST({_BUCKET_SQL.format(v="CAST(embedding AS DOUBLE[])")} AS BIGINT) AS bucket
    FROM embeddings
),
q AS (SELECT vec_id AS query_id, bucket, v AS qv FROM e WHERE vec_id % 50 = 0),
exact_scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e CROSS JOIN q WHERE e.vec_id != query_id
),
exact_r AS (
    SELECT query_id, neighbor_id, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM exact_scored) WHERE rank <= 5
),
approx_scored AS (
    SELECT query_id, e.vec_id AS neighbor_id, {_COS_SQL} AS cos
    FROM e JOIN q USING (bucket) WHERE e.vec_id != query_id
),
approx_r AS (
    SELECT query_id, neighbor_id, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM approx_scored) WHERE rank <= 3
),
fused AS (
    SELECT COALESCE(a.query_id, b.query_id) AS query_id,
           COALESCE(a.neighbor_id, b.neighbor_id) AS neighbor_id,
           COALESCE(CAST(1 AS DOUBLE) / (60 + a.rank), CAST(0 AS DOUBLE))
           + COALESCE(CAST(1 AS DOUBLE) / (60 + b.rank), CAST(0 AS DOUBLE))
               AS score
    FROM exact_r a
    FULL OUTER JOIN approx_r b
      ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id) AS rank
      FROM fused)
WHERE rank <= 5
"""


def q_rank_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rank-quantile normalization of document length: each
    doc's n_chars maps to its exact within-source quantile
    (rank-1)/(n-1) with the doc_id tiebreak making ranks unique —
    the cross-source score calibration step of corpus curation."""
    docs = tbl(spark, sf_dir, "documents")
    return sp.rank_quantile_norm(docs, "source", "n_chars", "doc_id")


SQL_RANK_QUANTILE_NORM = """
SELECT doc_id AS id, source AS stratum, n_chars AS metric,
       CAST(ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
       CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n,
       CASE WHEN COUNT(*) OVER (PARTITION BY source) = 1
            THEN CAST(0.5 AS DOUBLE)
            ELSE CAST(ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY n_chars, doc_id) - 1
                      AS DOUBLE)
                 / CAST(COUNT(*) OVER (PARTITION BY source) - 1 AS DOUBLE)
       END AS quantile
FROM documents
"""


def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum interleave ordering: rank docs easy-to-hard (n_chars)
    within each source, then emit the balanced round-robin position —
    every training-window slice stays source-balanced while each
    source ramps in difficulty. The battery materializes the total
    order so the oracle hashes it; at corpus scale the key triple
    feeds repartitionByRange/sortWithinPartitions instead."""
    docs = tbl(spark, sf_dir, "documents")
    return sp.curriculum_interleave(
        docs, "source", ["n_chars"], "doc_id"
    ).select("id", "source", "src_rank", "position")


SQL_CURRICULUM_INTERLEAVE = """
WITH ranked AS (
    SELECT doc_id AS id, source,
           CAST(ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY n_chars, doc_id) AS BIGINT)
               AS src_rank
    FROM documents
)
SELECT id, source, src_rank,
       CAST(ROW_NUMBER() OVER (ORDER BY src_rank, source, id) AS BIGINT)
           AS position
FROM ranked
"""


def q_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Spearman rank correlation between document length
    and whitespace token count (unique ranks via the doc_id tiebreak,
    so rho = 1 - 6*sum(d^2)/(n*(n^2-1)) is exact BIGINT math up to one
    final IEEE division) — the monotone-association profile check."""
    from hiv_data_integration_spark.operators.aggregate import (
        rank_correlation,
    )

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars",
        tx.token_count(F.col("text")).alias("_ntok"),
    )
    return rank_correlation(docs, "lang", "n_chars", "_ntok", "doc_id")


SQL_RANK_CORRELATION = f"""
WITH base AS (
    SELECT doc_id, lang, n_chars, CAST(len({_TOKS}) AS BIGINT) AS ntok
    FROM documents
),
ranked AS (
    SELECT lang,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n_chars, doc_id) AS BIGINT)
               AS rx,
           CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY ntok, doc_id) AS BIGINT) AS ry
    FROM base
)
SELECT lang, COUNT(*) AS n,
       CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
       CAST(1 AS DOUBLE)
       - (CAST(6 AS DOUBLE) * CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE))
         / CAST(COUNT(*) * (COUNT(*) * COUNT(*) - 1) AS DOUBLE) AS rho
FROM ranked
GROUP BY lang
HAVING COUNT(*) >= 2
"""



def q_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-validation suite compiled into ONE pass over
    lineitem: completeness, uniqueness of the (orderkey, linenumber)
    line key, discount range, returnflag domain, and a shipdate regex —
    five expectations, one shared hash aggregate (a 20-rule suite costs
    the same scan as a count). Pass thresholds compare by exact integer
    cross-multiplication, so a 99.9% bar can never flip on float
    rounding."""
    from hiv_data_integration_spark.operators import validation as V

    li = tbl(spark, sf_dir, "lineitem").withColumn(
        "_ship_s", F.col("l_shipdate").cast("string")
    )
    suite = [
        V.not_null("l_orderkey"),
        V.unique("l_orderkey", "l_linenumber"),
        V.in_range("l_discount", 0.0, 0.1),
        V.in_set("l_returnflag", ["A", "N", "R"]),
        V.matches("_ship_s", r"^199[5-9]-", (9, 10)),
    ]
    return V.expectations_check(li, suite)


SQL_EXPECTATIONS_SUITE = """
WITH li AS (SELECT *, CAST(l_shipdate AS VARCHAR) AS ship_s FROM lineitem),
agg AS (
    SELECT
        CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n0,
        CAST(COUNT(*) AS BIGINT) AS d0,
        CAST(COUNT(DISTINCT CASE WHEN l_orderkey IS NOT NULL
                                  AND l_linenumber IS NOT NULL
                             THEN struct_pack(a := l_orderkey,
                                              b := l_linenumber) END)
             AS BIGINT) AS n1,
        CAST(COUNT(CASE WHEN l_orderkey IS NOT NULL
                         AND l_linenumber IS NOT NULL
                    THEN 1 END) AS BIGINT) AS d1,
        CAST(SUM(CASE WHEN l_discount IS NOT NULL
                       AND l_discount >= 0.0 AND l_discount <= 0.1
                  THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        CAST(SUM(CASE WHEN l_discount IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS d2,
        CAST(SUM(CASE WHEN l_returnflag IS NOT NULL
                       AND l_returnflag IN ('A', 'N', 'R')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        CAST(SUM(CASE WHEN l_returnflag IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS d3,
        CAST(SUM(CASE WHEN ship_s IS NOT NULL
                       AND regexp_matches(ship_s, '^199[5-9]-')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n4,
        CAST(SUM(CASE WHEN ship_s IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS d4
    FROM li
)
SELECT 'not_null(l_orderkey)' AS expectation, n0 AS satisfied,
       d0 AS applicable, n0 * 1 >= 1 * d0 AS passed FROM agg
UNION ALL
SELECT 'unique(l_orderkey, l_linenumber)', n1, d1, n1 * 1 >= 1 * d1 FROM agg
UNION ALL
SELECT 'in_range(l_discount, 0.0, 0.1)', n2, d2, n2 * 1 >= 1 * d2 FROM agg
UNION ALL
SELECT 'in_set(l_returnflag)', n3, d3, n3 * 1 >= 1 * d3 FROM agg
UNION ALL
SELECT 'matches(_ship_s, >=9/10)', n4, d4, n4 * 10 >= 9 * d4 FROM agg
"""


def q_fk_orphan_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity profile with synthesized decay: the parent
    snapshot drops every 7th order (the late-arriving-dimension /
    dropped-partition scenario), then lineitem's orderkey FK is
    profiled — orphan rows, orphan keys, orphan fraction. One anti join
    against the distinct parent keys; NULL FKs (none here) would report
    separately, not as orphans."""
    from hiv_data_integration_spark.operators.validation import (
        fk_orphan_profile,
    )

    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 != 0)
    return fk_orphan_profile(li, o, "l_orderkey", "o_orderkey")


SQL_FK_ORPHAN_PROFILE = """
WITH keys AS (SELECT DISTINCT o_orderkey AS pk FROM orders
              WHERE o_orderkey % 7 != 0),
base AS (SELECT l_orderkey AS fk FROM lineitem),
totals AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS child_rows,
           CAST(SUM(CASE WHEN fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_fk_rows
    FROM base
),
orph AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS orphan_rows,
           CAST(COUNT(DISTINCT fk) AS BIGINT) AS orphan_keys
    FROM base WHERE fk IS NOT NULL
      AND fk NOT IN (SELECT pk FROM keys)
)
SELECT t.child_rows, t.null_fk_rows, o.orphan_rows, o.orphan_keys,
       CAST(o.orphan_rows AS DOUBLE) / CAST(t.child_rows AS DOUBLE)
           AS orphan_frac
FROM totals t CROSS JOIN orph o
"""


def q_event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sequenceMatch-style cohort labeling: per user, does the
    chronologically ordered event-type string ever show
    view → … → click → … → purchase? One user-keyed aggregate; the
    (ts, event_id) sort key is unique so every engine reproduces the
    string bit-for-bit before the one regex test."""
    from hiv_data_integration_spark.operators.aggregate import (
        sequence_pattern_match,
    )

    ev = tbl(spark, sf_dir, "events")
    return sequence_pattern_match(
        ev, "user_id", "event_type", ["ts", "event_id"],
        "view.*click.*purchase",
    ).select(F.col("user").alias("user_id"), "n_events", "matched")


SQL_EVENT_PATTERN_MATCH = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
       regexp_matches(string_agg(event_type, ' ' ORDER BY ts, event_id),
                      'view.*click.*purchase') AS matched
FROM events
WHERE ts IS NOT NULL AND event_id IS NOT NULL
GROUP BY user_id
"""



def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OLS trend of whitespace tokens vs characters, from
    the five exact-BIGINT sufficient statistics in one pass; the
    slope/intercept evaluate as fixed-order double expressions over
    integers below 2^53, so they are bit-identical on any engine."""
    from hiv_data_integration_spark.operators.aggregate import grouped_ols

    docs = tbl(spark, sf_dir, "documents").select(
        "lang", "n_chars", tx.token_count(F.col("text")).alias("_ntok")
    )
    return grouped_ols(docs, "lang", "n_chars", "_ntok")


SQL_GROUPED_OLS = f"""
WITH base AS (
    SELECT lang, CAST(n_chars AS BIGINT) AS x,
           CAST(len({_TOKS}) AS BIGINT) AS y
    FROM documents
),
stats AS (
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM base GROUP BY lang
)
SELECT lang, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
       (CAST(sy AS DOUBLE)
        - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
          * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept
FROM stats
WHERE n >= 2 AND n * sxx != sx * sx
"""


def q_contingency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang x source independence profile: per cell the exact observed
    count, the expected count under independence, and the chi-square
    contribution — fixed per-row double expressions over exact BIGINTs
    (never a float SUM across the unordered cell set)."""
    from hiv_data_integration_spark.operators.aggregate import (
        contingency_profile,
    )

    docs = tbl(spark, sf_dir, "documents")
    return contingency_profile(docs, "lang", "source")


SQL_CONTINGENCY = """
WITH cells AS (
    SELECT lang AS row_val, source AS col_val,
           CAST(COUNT(*) AS BIGINT) AS observed
    FROM documents GROUP BY 1, 2
),
rt AS (SELECT row_val, CAST(SUM(observed) AS BIGINT) AS r FROM cells
       GROUP BY 1),
ct AS (SELECT col_val, CAST(SUM(observed) AS BIGINT) AS c FROM cells
       GROUP BY 1),
gt AS (SELECT CAST(SUM(observed) AS BIGINT) AS g FROM cells)
SELECT cells.row_val, cells.col_val, cells.observed,
       CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(gt.g AS DOUBLE)
           AS expected,
       (CAST(cells.observed AS DOUBLE)
        - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
          / CAST(gt.g AS DOUBLE))
       * (CAST(cells.observed AS DOUBLE)
          - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
            / CAST(gt.g AS DOUBLE))
       / (CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE)
          / CAST(gt.g AS DOUBLE)) AS contribution
FROM cells JOIN rt USING (row_val) JOIN ct USING (col_val) CROSS JOIN gt
"""


def q_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert deciles: first view -> first subsequent purchase
    per user, exact BIGINT latency seconds (tz-proof field arithmetic on
    NTZ event time), ntile(10) over the (latency, user) total order so
    bucket membership is engine-reproducible; per-bucket stats exact."""
    from hiv_data_integration_spark.operators.aggregate import (
        conversion_latency_deciles,
    )

    ev = tbl(spark, sf_dir, "events")
    return conversion_latency_deciles(ev, "view", "purchase")


SQL_CONVERSION_LATENCY = """
WITH v AS (SELECT user_id AS u, MIN(ts) AS t0 FROM events
           WHERE event_type = 'view' GROUP BY 1),
p AS (
    SELECT e.user_id AS u, v.t0, MIN(e.ts) AS t1
    FROM events e JOIN v ON e.user_id = v.u AND e.ts > v.t0
    WHERE e.event_type = 'purchase'
    GROUP BY 1, 2
),
lat AS (
    SELECT u, CAST(date_diff('second', t0, t1) AS BIGINT) AS latency_s
    FROM p
),
d AS (SELECT u, latency_s,
             CAST(ntile(10) OVER (ORDER BY latency_s, u) AS BIGINT)
                 AS decile
      FROM lat)
SELECT decile, COUNT(*) AS n_users,
       CAST(MIN(latency_s) AS BIGINT) AS min_s,
       CAST(MAX(latency_s) AS BIGINT) AS max_s
FROM d GROUP BY decile
"""


def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type market-basket lift per user basket: exact BIGINT
    pair/item/basket counts from three hash aggregates, lift = one IEEE
    division of exact products; marginals broadcast, the basket total
    stays in-plan as a 1-row broadcast."""
    from hiv_data_integration_spark.operators.aggregate import (
        cooccurrence_lift,
    )

    ev = tbl(spark, sf_dir, "events")
    return cooccurrence_lift(ev, "user_id", "event_type")


SQL_COOCCURRENCE_LIFT = """
WITH items AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
n AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets FROM items),
c AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS cnt FROM items GROUP BY 1),
pairs AS (
    SELECT a.i AS item_a, b.i AS item_b, CAST(COUNT(*) AS BIGINT) AS n_both
    FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
    GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, p.n_both,
       ca.cnt AS n_a, cb.cnt AS n_b, n.n_baskets,
       CAST(n.n_baskets * p.n_both AS DOUBLE)
           / CAST(ca.cnt * cb.cnt AS DOUBLE) AS lift
FROM pairs p
JOIN c ca ON p.item_a = ca.i
JOIN c cb ON p.item_b = cb.i
CROSS JOIN n
"""



def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance hash-proof: the per-(flag, status)
    quantity rollup is seeded from pre-1998 shipments, then the 1998+
    DELTA folds in via merge_agg_state (one delta-side aggregate + one
    full-outer merge join — O(delta), the base is never re-scanned).
    The oracle recomputes from scratch over ALL of lineitem, so the
    hash proves maintained-state == full recompute, bit for bit
    (DECIMAL accumulation on both paths)."""
    from hiv_data_integration_spark.operators.relational import (
        merge_agg_state,
    )

    li = tbl(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus",
        F.col("l_quantity").cast("decimal(18,2)").alias("sum_qty"),
        F.to_date("l_shipdate").alias("_d"),
    )
    keys = ["l_returnflag", "l_linestatus"]
    base = li.filter(F.col("_d") < F.lit("1998-01-01"))
    delta = li.filter(F.col("_d") >= F.lit("1998-01-01"))
    old_agg = base.groupBy(*keys).agg(
        F.sum("sum_qty").alias("sum_qty"), F.count("*").alias("n_rows")
    )
    merged = merge_agg_state(old_agg, delta, keys, ["sum_qty"])
    return merged.select(
        *keys, F.col("sum_qty").cast("double").alias("sum_qty"), "n_rows"
    )


SQL_INCREMENTAL_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY 1, 2
"""


def q_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 variant, HASH-checked: dynamic partition overwrite (the
    idempotent daily-reload sink). Write 1: all orders partitioned by
    priority at ver 1. Write 2: only URGENT orders with even keys at
    ver 2, with partitionOverwriteMode=dynamic — ONLY the urgent
    partition is replaced (its row count halves, proving replacement
    not append; static overwrite would wipe the other four). Writer-
    level option, never session conf (a crashing query must not
    perturb the shared driver session)."""
    import shutil
    import tempfile

    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    base = tempfile.mkdtemp(prefix="dynpart_")
    path = f"{base}/orders_state"
    try:
        o.withColumn("ver", F.lit(1).cast("long")).write.partitionBy(
            "o_orderpriority"
        ).mode("overwrite").parquet(path)
        (
            o.filter(
                (F.col("o_orderpriority") == "1-URGENT")
                & (F.col("o_orderkey") % 2 == 0)
            )
            .withColumn("ver", F.lit(2).cast("long"))
            .write.partitionBy("o_orderpriority")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
        out = _local_result(
            spark.read.parquet(path)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_rows"),
                F.max("ver").alias("max_ver"),
            )
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


SQL_DYNAMIC_PARTITION_OVERWRITE = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                     THEN CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END
                     ELSE 1 END) AS BIGINT) AS n_rows,
       CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 2 ELSE 1 END
            AS BIGINT) AS max_ver
FROM orders
GROUP BY o_orderpriority
"""


def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface coverage (Spark 4 user-defined TABLE function,
    lateral one-to-many expansion): sentence rows from a 40-doc slice.
    The oracle mirrors with a native unnest-of-split — hash equality
    proves the Python row expander agrees with the set-based form
    bit-for-bit. Sliced small ON PURPOSE: the UDTF is the labeled
    Python path; the native split is the corpus-scale form."""
    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 25 == 0
    )
    return tx.sentence_rows_udtf(docs)


SQL_UDTF_SENTENCES = """
WITH segs AS (
    SELECT doc_id AS id,
           unnest(string_split(text, '. ')) AS seg,
           generate_subscripts(string_split(text, '. '), 1) AS pos
    FROM documents WHERE doc_id % 25 = 0
),
cleaned AS (SELECT id, pos, trim(seg) AS sentence FROM segs
            WHERE trim(seg) != ''),
numbered AS (
    SELECT id, sentence,
           CAST(ROW_NUMBER() OVER (PARTITION BY id ORDER BY pos) - 1
                AS BIGINT) AS idx
    FROM cleaned
)
SELECT id, idx, sentence FROM numbered
"""



def q_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 customer history:
    orders stamped into batch 1 or 2 (o_orderkey parity) pick up the
    balance VERSION valid at their own stamp — valid_from <= stamp <
    valid_to, open interval = current. Orders whose customer was
    deleted in batch 2 but stamped 2 fall out (NULL version, counted in
    the null-version row). Equi hash join on the key with the window as
    a residual; SCD2 intervals are non-overlapping so the join never
    fans out. Balances sum in DECIMAL; one final double cast."""
    from hiv_data_integration_spark.operators.history import (
        pit_join,
        scd2_initial,
        scd2_merge,
    )

    cust = tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    hist = scd2_initial(cust, batch_id=1)
    upd = (
        cust.filter(F.col("k") % 11 != 3)
        .select(
            "k",
            F.when(F.col("k") % 7 == 0, F.col("bal") + 100)
            .otherwise(F.col("bal"))
            .alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("k") % 13 == 0).select(
                (F.col("k") + 1000000).alias("k"),
                (F.col("k") % 1000).cast("double").alias("bal"),
            )
        )
    )
    history = scd2_merge(
        hist, upd, key_cols=["k"], tracked_cols=["bal"], batch_id=2
    )
    facts = tbl(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        (F.lit(1) + F.col("o_orderkey") % 2).cast("long").alias("stamp"),
    )
    joined = pit_join(facts, history, ["k"], "stamp")
    return joined.groupBy("stamp", "valid_from").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("bal").cast("decimal(28,2)"))
        .cast("double")
        .alias("sum_bal"),
    )


SQL_PIT_JOIN = """
WITH cur AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
upd AS (
    SELECT k, CASE WHEN k % 7 = 0 THEN bal + 100 ELSE bal END AS bal
    FROM cur WHERE k % 11 != 3
    UNION ALL
    SELECT k + 1000000 AS k, CAST(k % 1000 AS DOUBLE) AS bal
    FROM cur WHERE k % 13 = 0
),
j AS (
    SELECT cur.k AS ck, cur.bal AS cbal, upd.k AS uk, upd.bal AS ubal
    FROM cur FULL OUTER JOIN upd ON cur.k = upd.k
),
hist AS (
    SELECT ck AS k, cbal AS bal, CAST(1 AS BIGINT) AS valid_from,
           CAST(NULL AS BIGINT) AS valid_to
    FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND cbal = ubal
    UNION ALL
    SELECT ck, cbal, 1, 2
    FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND cbal != ubal
    UNION ALL
    SELECT uk, ubal, 2, NULL
    FROM j WHERE ck IS NOT NULL AND uk IS NOT NULL AND cbal != ubal
    UNION ALL
    SELECT ck, cbal, 1, 2 FROM j WHERE uk IS NULL
    UNION ALL
    SELECT uk, ubal, 2, NULL FROM j WHERE ck IS NULL
),
facts AS (
    SELECT o_custkey AS k,
           CAST(1 + o_orderkey % 2 AS BIGINT) AS stamp
    FROM orders
),
pj AS (
    SELECT f.stamp, h.valid_from, h.bal
    FROM facts f
    LEFT JOIN hist h
      ON f.k = h.k AND h.valid_from <= f.stamp
     AND (h.valid_to IS NULL OR f.stamp < h.valid_to)
)
SELECT stamp, valid_from, COUNT(*) AS n_orders,
       CAST(SUM(CAST(bal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal
FROM pj GROUP BY 1, 2
"""


def q_proportion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag Wilson 95% CI for the share of discounted lineitems
    (discount >= 0.05 compared in DECIMAL so the boundary cannot
    flip): exact BIGINT successes/trials, interval as one fixed-order
    double expression — sqrt is correctly-rounded IEEE, so the bounds
    hash bit-for-bit."""
    from hiv_data_integration_spark.operators.aggregate import proportion_ci

    li = tbl(spark, sf_dir, "lineitem")
    flag = F.col("l_discount").cast("decimal(4,2)") >= F.lit("0.05").cast(
        "decimal(4,2)"
    )
    return proportion_ci(li, "l_returnflag", flag)


SQL_PROPORTION_CI = """
WITH agg AS (
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(l_discount AS DECIMAL(4,2))
                              >= CAST('0.05' AS DECIMAL(4,2))
                     THEN 1 ELSE 0 END) AS BIGINT) AS successes
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n, successes,
       CAST(successes AS DOUBLE) / CAST(n AS DOUBLE) AS p,
       ((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
         + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
           / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE)))
        - CAST(1.96 AS DOUBLE)
          * sqrt(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE)
                    - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                   / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE))))
       / (CAST(1.0 AS DOUBLE)
          + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
            / CAST(n AS DOUBLE)) AS ci_lo,
       ((CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
         + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
           / (CAST(2.0 AS DOUBLE) * CAST(n AS DOUBLE)))
        + CAST(1.96 AS DOUBLE)
          * sqrt(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE)
                    - CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                 / CAST(n AS DOUBLE)
                 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                   / (CAST(4.0 AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n AS DOUBLE))))
       / (CAST(1.0 AS DOUBLE)
          + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
            / CAST(n AS DOUBLE)) AS ci_hi
FROM agg
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary-induction inner loop: corpus-wide adjacent
    2-character pair counts over lowercased text, global top-20 with
    total ordering — 1-based substring positions, identical semantics
    in Spark and ANSI SQL (no split-on-empty edge cases)."""
    docs = _spread(tbl(spark, sf_dir, "documents"))
    return tx.bpe_pair_counts(docs, k=20)


SQL_BPE_PAIRS = """
WITH t AS (SELECT lower(text) AS t FROM documents),
pairs AS (
    SELECT unnest(list_transform(generate_series(1, length(t) - 1),
                  i -> substr(t, i, 2))) AS pair
    FROM t WHERE length(t) >= 2
),
c AS (SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY 1),
r AS (SELECT pair, n_occurrences,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair)
                  AS BIGINT) AS rank
      FROM c)
SELECT rank, pair, n_occurrences FROM r WHERE rank <= 20
"""



def q_streaming_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming trending-items: event-time tumbling windows
    with a watermark aggregate per-type counts in the stream (state
    bounded by window x type), then the FINAL batch pass ranks the
    top 3 types per window — the streaming-aggregate + batch-rank split
    every "trending now" pipeline uses (a global rank inside the stream
    would need unbounded state; the per-window re-rank over the tiny
    aggregate table is free). DECIMAL value sums keep the micro-batch
    merge order invisible."""
    import shutil
    import tempfile
    import uuid as _uuid

    from pyspark.sql.window import Window

    stream = read_events_stream(
        spark, f"{sf_dir}/events*.parquet", f"{sf_dir}/events.parquet"
    )
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", scale=6, prec=28).alias("sum_value"),
        )
        .select(
            # NTZ boundary: process-timezone-proof at collect
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    name = f"stream_topk_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        # the memory sink registers in the stream's ISOLATED UTC session
        # (read_events_stream contract) — route the lookup through it
        ssession = agg.sparkSession
        table = ssession.table(name)
        w = Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type")
        )
        out = _local_result(
            table.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 3)
            .select(
                "window_start", "rank", "event_type", "n_events",
                "sum_value",
            )
        )
        ssession.catalog.dropTempView(name)
        return out
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)


SQL_STREAMING_WINDOWED_TOPK = """
WITH agg AS (
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY window_start
                                        ORDER BY n_events DESC, event_type)
                     AS BIGINT) AS rank
      FROM agg)
SELECT window_start, rank, event_type, n_events, sum_value
FROM r WHERE rank <= 3
"""



def q_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer proration: each order's total price (in cents)
    splits across its lineitems proportional to quantity via the
    largest-remainder method — whole cents, summing EXACTLY to the
    order total (naive rounding leaks cents). All BIGINT math
    (integral `div`, never floor-of-double); remainder ties break by
    linenumber. Sliced to every 20th order to keep the driver compare
    row-bounded."""
    from hiv_data_integration_spark.operators.aggregate import (
        largest_remainder_allocation,
    )

    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 20 == 0
    )
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("_total_cents"),
    )
    base = li.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").cast("long").alias("_qty"),
    ).join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey")).drop(
        "o_orderkey"
    )
    return largest_remainder_allocation(
        base, "l_orderkey", "_qty", "_total_cents", ["l_linenumber"]
    )


SQL_LARGEST_REMAINDER = """
WITH base AS (
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(l.l_quantity AS BIGINT) AS weight,
           CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS T
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_orderkey % 20 = 0
),
w AS (SELECT l_orderkey, CAST(SUM(weight) AS BIGINT) AS W FROM base
      GROUP BY 1),
x AS (
    SELECT b.l_orderkey, b.l_linenumber, b.weight, b.T, w.W,
           (b.T * b.weight) // w.W AS fl,
           (b.T * b.weight) % w.W AS rem
    FROM base b JOIN w USING (l_orderkey)
),
y AS (
    SELECT *,
           CAST(T - SUM(fl) OVER (PARTITION BY l_orderkey) AS BIGINT)
               AS deficit,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY rem DESC, l_linenumber) AS r
    FROM x
)
SELECT l_orderkey, l_linenumber, weight,
       CAST(fl + CASE WHEN r <= deficit THEN 1 ELSE 0 END AS BIGINT)
           AS allocated
FROM y
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity privacy audit: quasi-identifier = (nation, market
    segment, balance bucketed to 1000s); classes under k=5 members are
    re-identification risks and their rows would need suppression.
    Exact counts; one QI hash aggregate + a 1-row rollup."""
    from hiv_data_integration_spark.operators.aggregate import (
        k_anonymity_audit,
    )

    # bucket via floor-of-double (identical IEEE on both engines) — a
    # decimal-cast-to-long would TRUNCATE in Spark but ROUND in DuckDB,
    # splitting boundary classes differently
    cust = tbl(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0))
        .cast("long")
        .alias("_bal_bucket"),
    )
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment", "_bal_bucket"], k=5
    )


SQL_K_ANONYMITY = """
WITH classes AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / CAST(1000.0 AS DOUBLE)) AS BIGINT)
               AS bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1, 2, 3
)
SELECT CAST(5 AS BIGINT) AS k,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_classes,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_classes,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
           AS n_suppressed_rows,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
           / CAST(SUM(n) AS DOUBLE) AS suppressed_frac
FROM classes
"""


def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals engagement time: each event opens a 30-minute
    activity interval; overlaps must not double-count, so cumulative-
    max island detection merges them before summing — naive
    sum(end-start) over-reports exactly where activity clusters. All
    exact BIGINT epoch seconds (tz-proof NTZ field arithmetic)."""
    from hiv_data_integration_spark.operators.aggregate import (
        interval_union_time,
    )

    ev = tbl(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("_start"),
        (F.col("ts") + F.expr("INTERVAL 30 minutes")).alias("_end"),
    )
    return interval_union_time(ev, "user_id", "_start", "_end")


SQL_INTERVAL_UNION = """
WITH base AS (
    -- floor, not CAST: Spark's NTZ field arithmetic TRUNCATES fractional
    -- seconds while a DuckDB BIGINT cast would round them
    SELECT user_id AS u,
           CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts + INTERVAL 30 MINUTE)) AS BIGINT) AS e
    FROM events
),
flagged AS (
    SELECT u, s, e,
           CASE WHEN MAX(e) OVER (PARTITION BY u ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) IS NULL
                  OR s > MAX(e) OVER (PARTITION BY u ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
    FROM base
),
islands AS (
    SELECT u, s, e,
           SUM(new_island) OVER (PARTITION BY u ORDER BY s, e
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
per_island AS (
    SELECT u, island, COUNT(*) AS cnt, MAX(e) - MIN(s) AS cov
    FROM islands GROUP BY 1, 2
)
SELECT u AS user, CAST(SUM(cnt) AS BIGINT) AS n_intervals,
       COUNT(*) AS n_islands, CAST(SUM(cov) AS BIGINT) AS covered_s
FROM per_island GROUP BY u
"""



def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives (WAU): exact distinct counting
    does not decompose over sliding windows, so the day spine range-
    joins the distinct (user, day) activity table — cost bounded by
    days x in-window pairs, with the documented scale knobs (cap the
    spine, or switch to the mergeable-HLL path)."""
    from hiv_data_integration_spark.operators.aggregate import (
        trailing_distinct_users,
    )

    ev = tbl(spark, sf_dir, "events")
    return trailing_distinct_users(ev, window_days=7)


SQL_ROLLING_WAU = """
WITH activity AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
                  FROM events),
days AS (SELECT DISTINCT d AS day FROM activity)
SELECT day, COUNT(DISTINCT u) AS n_active_users
FROM days JOIN activity ON d > day - 7 AND d <= day
GROUP BY day
"""


def q_median_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median NULL repair: every 7th event's value is knocked out,
    then imputed with its event type's exact lower median of the
    surviving values; the rollup hash-pins both the imputation count
    and the DECIMAL-accumulated repaired sum (all-NULL groups would
    stay NULL by contract)."""
    from hiv_data_integration_spark.operators.aggregate import (
        group_median_impute,
    )

    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("value")
        ).alias("v"),
    )
    out = group_median_impute(ev, "event_type", "v")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("was_imputed").cast("long")).alias("n_imputed"),
        F.sum(F.col("value_imputed").cast("decimal(28,6)"))
        .cast("double")
        .alias("sum_imputed"),
    )


SQL_MEDIAN_IMPUTE = """
WITH base AS (
    SELECT event_id, event_type,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
    FROM events
),
per_val AS (
    SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS w
    FROM base WHERE v IS NOT NULL GROUP BY 1, 2
),
c AS (
    SELECT event_type, v, w,
           SUM(w) OVER (PARTITION BY event_type ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(w) OVER (PARTITION BY event_type) AS tot
    FROM per_val
),
med AS (SELECT event_type, MIN(v) AS m FROM c
        WHERE cum * 2 >= tot GROUP BY 1)
SELECT b.event_type, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN b.v IS NULL AND med.m IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
       CAST(SUM(CAST(COALESCE(b.v, med.m) AS DECIMAL(28,6))) AS DOUBLE)
           AS sum_imputed
FROM base b LEFT JOIN med ON b.event_type = med.event_type
GROUP BY 1
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (<=> / IS NOT DISTINCT FROM): the events
    stream splits by id parity, each side aggregates per nullable JSON
    key (malformed payloads -> NULL, a REAL key class), then a
    null-safe FULL OUTER join aligns the two histograms — under plain
    equality the NULL classes would never meet. Pre-aggregation keeps
    the NULL groups from cross-multiplying."""
    ev = tbl(spark, sf_dir, "events").select(
        "event_id",
        F.try_variant_get(
            F.parse_json(F.col("props")), "$.k", "long"
        ).alias("k"),
    )
    left = ev.filter(F.col("event_id") % 2 == 0).groupBy("k").agg(
        F.count("*").alias("n_left")
    )
    right = ev.filter(F.col("event_id") % 2 == 1).groupBy(
        F.col("k").alias("k2")
    ).agg(F.count("*").alias("n_right"))
    return (
        left.join(right, F.col("k").eqNullSafe(F.col("k2")), "full_outer")
        .select(
            F.coalesce(F.col("k"), F.col("k2")).alias("k"),
            "n_left",
            "n_right",
        )
    )


SQL_NULL_SAFE_JOIN = """
WITH ev AS (
    SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events
),
l AS (SELECT k, COUNT(*) AS n_left FROM ev WHERE event_id % 2 = 0
      GROUP BY k),
r AS (SELECT k AS k2, COUNT(*) AS n_right FROM ev WHERE event_id % 2 = 1
      GROUP BY k)
SELECT COALESCE(l.k, r.k2) AS k, l.n_left, r.n_right
FROM l FULL OUTER JOIN r ON l.k IS NOT DISTINCT FROM r.k2
"""


def q_collated_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation semantics: market segments re-cased by key
    parity group under UTF8_LCASE collation — case variants land in ONE
    group without a lower() rewrite of the data. The emitted
    representative is min(original) (the collated group key itself
    keeps an arbitrary variant's casing, which no oracle could
    reproduce); the oracle's lower()-keyed twin proves the grouping is
    exactly case-insensitive equality."""
    cust = tbl(spark, sf_dir, "customer").select(
        F.when(
            F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
        ).otherwise(F.lower("c_mktsegment")).alias("seg_cased")
    )
    return (
        cust.groupBy(F.collate(F.col("seg_cased"), "UTF8_LCASE").alias("_g"))
        .agg(
            F.min("seg_cased").alias("segment_rep"),
            F.count("*").alias("n_customers"),
        )
        .select("segment_rep", "n_customers")
    )


SQL_COLLATED_GROUPS = """
WITH cased AS (
    SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                ELSE lower(c_mktsegment) END AS seg_cased
    FROM customer
)
SELECT MIN(seg_cased) AS segment_rep, COUNT(*) AS n_customers
FROM cased GROUP BY lower(seg_cased)
"""



def q_stable_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed global row numbering: range-repartition + per-
    partition offsets replace the single-reducer empty-window
    row_number; ids are invariant to the sampled range boundaries
    because the key order is total — the oracle's plain ROW_NUMBER
    proves the two-phase assignment is the same global rank, bit for
    bit."""
    from hiv_data_integration_spark.operators.relational import (
        stable_row_ids,
    )

    cust = tbl(spark, sf_dir, "customer").select("c_custkey")
    return stable_row_ids(cust, ["c_custkey"], partitions=8)


SQL_STABLE_ROW_IDS = """
SELECT c_custkey,
       CAST(ROW_NUMBER() OVER (ORDER BY c_custkey) AS BIGINT) AS row_id
FROM customer
"""


def _ema_weights(k: int, num: int, den: int) -> list[float]:
    alpha = num / den
    raw = [alpha * (1.0 - alpha) ** i for i in range(k)]
    tot = sum(raw)
    return [w / tot for w in raw]


_EMA_W = _ema_weights(4, 1, 2)


def q_trailing_ema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated 4-term EMA of event values per user (alpha=1/2,
    normalized literal weights): the recursive EMA's unbounded float
    accumulation is not replayable cross-engine, the fixed k-term
    arithmetic tree is. Warm-up rows (< 3 predecessors) emit NULL via
    natural NULL propagation through the lag terms — identical on both
    engines. Sliced to every 10th user to keep the compare
    row-bounded."""
    from hiv_data_integration_spark.operators.aggregate import trailing_ema

    ev = tbl(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    out = trailing_ema(
        ev, "user_id", ["ts", "event_id"], "value", k=4
    )
    return out.select("event_id", "user_id", "ema")


SQL_TRAILING_EMA = f"""
SELECT event_id, user_id,
       value * {_EMA_W[0]!r}
       + lag(value, 1) OVER w * {_EMA_W[1]!r}
       + lag(value, 2) OVER w * {_EMA_W[2]!r}
       + lag(value, 3) OVER w * {_EMA_W[3]!r} AS ema
FROM events
WHERE user_id % 10 = 0
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""



def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn labels at a mid-corpus cutoff (2024-01-20,
    7-day observation window): features aggregate ONLY pre-cutoff
    events, the label only reads the window, users first seen after
    the cutoff are excluded — the label-generation step behavioral
    models get wrong by letting post-cutoff activity leak into
    features. All counts/recencies exact."""
    from hiv_data_integration_spark.operators.aggregate import churn_labels

    ev = tbl(spark, sf_dir, "events")
    return churn_labels(ev, "2024-01-20", horizon_days=7)


SQL_CHURN_LABELS = """
WITH before AS (
    SELECT user_id, CAST(ts AS DATE) AS d FROM events
    WHERE CAST(ts AS DATE) < DATE '2024-01-20'
),
features AS (
    SELECT user_id AS "user", COUNT(*) AS n_events_before,
           CAST(DATE '2024-01-20' - MAX(d) AS BIGINT)
               AS recency_days_at_cutoff
    FROM before GROUP BY 1
),
active_after AS (
    SELECT DISTINCT user_id AS u FROM events
    WHERE CAST(ts AS DATE) >= DATE '2024-01-20'
      AND CAST(ts AS DATE) < DATE '2024-01-20' + INTERVAL 7 DAY
)
SELECT f."user", f.n_events_before, f.recency_days_at_cutoff,
       a.u IS NULL AS churned
FROM features f LEFT JOIN active_after a ON f."user" = a.u
"""


def q_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of return flag by discount:
    each lineitem's category encodes as the mean discount of the OTHER
    rows in its flag — (sum - own)/(n-1) with DECIMAL sums, so the
    encoding is leakage-safe AND bit-exact; singleton categories would
    encode NULL by contract. Sliced to every 50th order."""
    from hiv_data_integration_spark.operators.aggregate import (
        loo_target_encoding,
    )

    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 50 == 0
    ).select(
        "l_orderkey", "l_linenumber", "l_returnflag",
        F.col("l_discount").cast("decimal(4,2)").alias("disc"),
    )
    out = loo_target_encoding(li, "l_returnflag", "disc")
    return out.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "target_loo"
    )


SQL_LOO_TARGET_ENCODING = """
WITH base AS (
    SELECT l_orderkey, l_linenumber, l_returnflag,
           CAST(l_discount AS DECIMAL(4,2)) AS disc
    FROM lineitem WHERE l_orderkey % 50 = 0
),
stats AS (
    SELECT l_returnflag,
           SUM(CAST(disc AS DECIMAL(28,6))) AS s,
           CAST(COUNT(disc) AS BIGINT) AS n
    FROM base GROUP BY 1
)
SELECT b.l_orderkey, b.l_linenumber, b.l_returnflag,
       CASE WHEN st.n > 1
            THEN CAST(st.s - CAST(b.disc AS DECIMAL(28,6)) AS DOUBLE)
                 / CAST(st.n - 1 AS DOUBLE)
       END AS target_loo
FROM base b JOIN stats st USING (l_returnflag)
"""



def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup estimate over the near-duplicate
    corpus: cut points where the 8-gram md5 hash ≡ 0 mod 64, chunk
    fingerprints by md5 — CDC boundaries survive the corpus's one-word
    edits, so the mutated duplicates share most chunks with their
    originals and the reclaimable-bytes ratio is REAL sharing, not
    whole-doc identity. Every boundary and fingerprint is md5-integer
    math, reproduced bit-for-bit by the oracle."""
    from hiv_data_integration_spark.operators.dedup import cdc_chunk_stats

    corpus = _dup_corpus(spark, sf_dir)
    return cdc_chunk_stats(corpus, window=8, divisor=64)


SQL_CDC_CHUNK_DEDUP = f"""
WITH {_DUP_CORPUS_SQL.strip().lstrip()},
base AS (SELECT doc_id AS id, text AS t, length(text) AS len FROM corpus),
pos AS (
    SELECT id, len, t,
           unnest(CASE WHEN len >= 8 THEN generate_series(1, len - 8 + 1)
                       ELSE [1] END) AS p
    FROM base
),
cuts AS (
    SELECT id, len, p FROM pos
    WHERE p = 1
       OR {_MD5L.format(expr="substr(t, p, 8)")} % 64 = 0
),
extents AS (
    SELECT id, len, p,
           COALESCE(lead(p) OVER (PARTITION BY id ORDER BY p), len + 1)
               AS e
    FROM cuts
),
chunks AS (
    SELECT md5(substr(b.t, x.p, x.e - x.p)) AS h, x.e - x.p AS clen
    FROM extents x JOIN base b ON x.id = b.id
),
per_chunk AS (
    SELECT h, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(clen) AS BIGINT) AS l
    FROM chunks GROUP BY h
)
SELECT CAST(SUM(n) AS BIGINT) AS n_chunks,
       COUNT(*) AS n_distinct_chunks,
       CAST(SUM(n * l) AS BIGINT) AS bytes_total,
       CAST(SUM(l) AS BIGINT) AS bytes_stored,
       CAST(1.0 AS DOUBLE)
       - CAST(SUM(l) AS DOUBLE) / CAST(SUM(n * l) AS DOUBLE)
           AS dedup_ratio
FROM per_chunk
"""


def q_ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic md5-parity A/B split
    of users: exact BIGINT counts, the z statistic one fixed-order
    double expression (sqrt correctly-rounded IEEE — even the test
    statistic hashes). The outcome (odd purchase count) is chosen to be
    non-degenerate on the synthetic corpus — "ever purchased" is 100%
    here, where z is undefined (the operator would emit NULL). p-values
    stay with the caller: erf's libm rounding is not portable."""
    from hiv_data_integration_spark.operators.aggregate import ab_test_ztest

    ev = tbl(spark, sf_dir, "events")
    success = (
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) % 2
    )
    return ab_test_ztest(ev, success)


SQL_AB_TEST_ZTEST = """
WITH per_user AS (
    SELECT user_id AS u,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) % 2
                AS BIGINT) AS conv
    FROM events GROUP BY 1
),
tagged AS (
    SELECT u, conv,
           CAST('0x' || substr(md5('ab' || CAST(u AS VARCHAR)), 1, 4)
                AS BIGINT) % 2 AS v
    FROM per_user
),
agg AS (
    SELECT CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_a,
           CAST(SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_b
    FROM tagged
)
SELECT n_a, conv_a, n_b, conv_b,
       CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p_a,
       CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p_b,
       (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / sqrt(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
              * (CAST(1.0 AS DOUBLE)
                 - CAST(conv_a + conv_b AS DOUBLE)
                   / CAST(n_a + n_b AS DOUBLE))
              * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
                 + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS z
FROM agg
"""


def q_class_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights N/(k·n_c) for the language label
    distribution — exact rational numerator/denominator plus one IEEE
    division; a balanced corpus would weight 1.0 everywhere."""
    from hiv_data_integration_spark.operators.sampling import (
        class_balance_weights,
    )

    docs = tbl(spark, sf_dir, "documents")
    return class_balance_weights(docs, "lang")


SQL_CLASS_BALANCE = """
WITH counts AS (
    SELECT lang AS class, CAST(COUNT(*) AS BIGINT) AS n_class
    FROM documents GROUP BY 1
),
totals AS (SELECT CAST(SUM(n_class) AS BIGINT) AS N, COUNT(*) AS k
           FROM counts)
SELECT c.class, c.n_class,
       t.N AS weight_num,
       CAST(t.k * c.n_class AS BIGINT) AS weight_den,
       CAST(t.N AS DOUBLE) / CAST(t.k * c.n_class AS DOUBLE) AS weight
FROM counts c CROSS JOIN totals t
"""



def q_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each user's 30-minute activity intervals
    (from view events) paired with the same user's 20-minute error
    windows that OVERLAP them (half-open s1<e2 AND s2<e1 — touching
    intervals don't pair). The user equi key bounds the range
    explosion. Rolled up to per-user overlap counts plus exact summed
    overlap seconds (BIGINT epoch math, fractional seconds floored)."""
    from hiv_data_integration_spark.operators.relational import (
        interval_overlap_join,
    )

    ev = tbl(spark, sf_dir, "events")

    def ep(c):
        # floor to whole seconds BEFORE the join: the overlap predicate
        # must compare the same values the oracle compares (raw micro-
        # second timestamps would flip sub-second boundary pairs)
        return (
            F.unix_date(F.col(c).cast("date")).cast("long") * 86400
            + F.hour(c) * 3600 + F.minute(c) * 60 + F.second(c)
        )

    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        ep("ts").alias("v_start"),
        (ep("ts") + 1800).alias("v_end"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        ep("ts").alias("e_start"),
        (ep("ts") + 1200).alias("e_end"),
    )
    pairs = interval_overlap_join(
        views, errors, ["user_id"], "v_start", "v_end", "e_start", "e_end"
    )
    overlap_s = F.least(F.col("v_end"), F.col("e_end")) - F.greatest(
        F.col("v_start"), F.col("e_start")
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_overlaps"),
        F.sum(overlap_s).cast("long").alias("overlap_seconds"),
    )


SQL_INTERVAL_OVERLAP_JOIN = """
WITH v AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts + INTERVAL 30 MINUTE)) AS BIGINT) AS e
    FROM events WHERE event_type = 'view'
),
er AS (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts + INTERVAL 20 MINUTE)) AS BIGINT) AS e
    FROM events WHERE event_type = 'error'
)
SELECT v.user_id, COUNT(*) AS n_overlaps,
       CAST(SUM(LEAST(v.e, er.e) - GREATEST(v.s, er.s)) AS BIGINT)
           AS overlap_seconds
FROM v JOIN er ON v.user_id = er.user_id
WHERE v.s < er.e AND er.s < v.e
GROUP BY v.user_id
"""


def q_sequence_bigram_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support (length-2): top-10 immediately-
    adjacent event-type pairs by DISTINCT-user support — support
    counting, not transition frequency (a hyperactive user counts once
    per pattern, unlike the transition matrix). Unique (ts, event_id)
    order key."""
    from hiv_data_integration_spark.operators.aggregate import (
        sequence_bigram_support,
    )

    ev = tbl(spark, sf_dir, "events")
    return sequence_bigram_support(
        ev, order_cols=["ts", "event_id"], k=10
    )


SQL_SEQUENCE_BIGRAM_SUPPORT = """
WITH pairs AS (
    SELECT DISTINCT user_id AS u, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC,
                                        from_type, to_type) AS BIGINT)
          AS rank
      FROM counts)
SELECT rank, from_type, to_type, n_users,
       CAST(n_users AS DOUBLE) / CAST(tot.n AS DOUBLE) AS support
FROM r CROSS JOIN tot WHERE rank <= 10
"""


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins: the event value (0-100) read as a
    score against the purchase outcome, 10 equal-width bins via
    floor-of-double (identical IEEE on both engines — never a decimal
    cast), top boundary folded into the last bin; exact counts, mean
    score DECIMAL-accumulated. ECE stays with the caller — a float sum
    over unordered bins is not reproducible, the per-bin rows are."""
    from hiv_data_integration_spark.operators.aggregate import (
        calibration_bins,
    )

    ev = tbl(spark, sf_dir, "events")
    return calibration_bins(
        ev, "value", F.col("event_type") == "purchase", n_bins=10,
        score_max=100.0,
    )


SQL_CALIBRATION_BINS = """
WITH base AS (
    SELECT CAST(LEAST(floor(CAST(value AS DOUBLE) * CAST(10 AS DOUBLE)
                            / CAST(100.0 AS DOUBLE)), 9) AS BIGINT)
               AS bin,
           CAST(value AS DOUBLE) AS s,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events
)
SELECT bin, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos,
       CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pos_rate,
       CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS mean_score
FROM base GROUP BY bin
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution candidates: parts ranked
    by name (partkey tiebreak → total order), each paired with its 4
    forward neighbors in sort order — O(n·w) candidates instead of the
    O(n²) cross join — then verified with the expensive measure
    (Levenshtein ≤ 15), the classic block-then-verify ER shape the
    reference's district-blocked fuzzy matcher uses with a natural key
    (``update_orgunits/utils.py`` resolution chain)."""
    from hiv_data_integration_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    part = tbl(spark, sf_dir, "part")
    pairs = sorted_neighborhood_pairs(
        part, id_col="p_partkey", sort_col="p_name", window=5
    )
    return pairs.withColumn(
        "lev", F.levenshtein("key_a", "key_b").cast("long")
    ).filter(F.col("lev") <= 15)


SQL_SORTED_NEIGHBORHOOD = """
WITH r AS (
    SELECT p_partkey AS id, p_name AS key,
           CAST(ROW_NUMBER() OVER (ORDER BY p_name, p_partkey)
                AS BIGINT) AS rk
    FROM part
)
SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b,
       b.rk - a.rk AS rank_gap,
       CAST(levenshtein(a.key, b.key) AS BIGINT) AS lev
FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 4
WHERE levenshtein(a.key, b.key) <= 15
"""


def q_ohlc_value_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per event_type × day bars over the event
    value — open/close picked by exact (epoch_micros, event_id)
    tiebreak packed into one fixed-width lexicographic key so min_by /
    max_by stay map-side combinable (never a sort), high/low exact,
    volume DECIMAL-accumulated."""
    from hiv_data_integration_spark.operators.aggregate import (
        ohlc_downsample,
    )

    ev = tbl(spark, sf_dir, "events")
    return ohlc_downsample(
        ev, keys=["event_type"], ts_col="ts", value_col="value",
        id_col="event_id", bucket="day",
    )


SQL_OHLC_VALUE_BARS = """
WITH base AS (
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           CAST(value AS DOUBLE) AS v,
           lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '|' ||
           lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
    FROM events
)
SELECT event_type, bucket_ts,
       arg_min(v, k) AS open, MAX(v) AS high, MIN(v) AS low,
       arg_max(v, k) AS close, COUNT(*) AS n,
       CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS volume
FROM base GROUP BY event_type, bucket_ts
"""


def q_grouped_mode_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user majority event type with deterministic tiebreak
    (highest count, then smallest value) — spelled as count +
    row_number on BOTH engines because SQL mode()'s tie winner is
    engine-dependent."""
    from hiv_data_integration_spark.operators.aggregate import grouped_mode

    ev = tbl(spark, sf_dir, "events")
    return grouped_mode(ev, keys=["user_id"], value_col="event_type")


SQL_GROUPED_MODE_EVENT = """
WITH c AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_mode
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY n_mode DESC, event_type ASC) AS rn
    FROM c
)
SELECT user_id, event_type AS mode_value, n_mode FROM r WHERE rn = 1
"""


def q_twap_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user × day: each value
    holds until the user's next event ((ts, event_id) order), interval
    assigned to its start's day, value×duration accumulated as DECIMAL
    with one final IEEE division — the irregular-stream downsample a
    plain AVG gets wrong."""
    from hiv_data_integration_spark.operators.aggregate import (
        time_weighted_average,
    )

    ev = tbl(spark, sf_dir, "events")
    return time_weighted_average(
        ev, keys=["user_id"], ts_col="ts", value_col="value",
        id_col="event_id", bucket="day",
    )


SQL_TWAP_USER_DAY = """
WITH base AS (
    SELECT user_id,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           CAST(value AS DECIMAL(18,6)) AS v,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id
                ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dur
    FROM events
)
SELECT user_id, bucket_ts,
       -- numerator decimal->double goes via VARCHAR: DuckDB's direct
       -- DECIMAL->DOUBLE cast is not correctly rounded (1-ULP off vs
       -- Spark's BigDecimal.doubleValue); strtod parsing is
       CASE WHEN SUM(dur) > 0 THEN
            CAST(CAST(SUM(v * CAST(dur AS DECIMAL(19,0))) AS VARCHAR)
                 AS DOUBLE)
            / CAST(SUM(dur) AS DOUBLE)
       END AS twap,
       CAST(SUM(dur) AS BIGINT) AS held_micros,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM base WHERE dur IS NOT NULL
GROUP BY user_id, bucket_ts
"""


def q_segmented_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value total that RESETS at every 'signup'
    event ((ts, event_id) order — unique, so the ROWS-frame prefix sum
    is reproducible) — segment id via running flag count, DECIMAL
    accumulation within (user, segment)."""
    from hiv_data_integration_spark.operators.aggregate import (
        segmented_running_total,
    )
    from pyspark.sql import functions as F

    ev = tbl(spark, sf_dir, "events")
    out = segmented_running_total(
        ev, keys=["user_id"], order_cols=["ts", "event_id"],
        value_col="value",
        reset_col=(F.col("event_type") == "signup"),
    )
    return out.select("event_id", "user_id", "segment", "running_value")


SQL_SEGMENTED_RUNNING_TOTAL = """
WITH seg AS (
    SELECT event_id, user_id, ts, value,
           SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS segment
    FROM events
)
SELECT event_id, user_id, CAST(segment AS BIGINT) AS segment,
       CAST(SUM(CAST(value AS DECIMAL(28,6)))
            OVER (PARTITION BY user_id, segment ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
FROM seg
"""


def q_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (priority sampling): top-10
    documents per language by n_chars-weighted deterministic priority
    w/h — h is the first 13 md5 hex digits of the salted id (+1), exact
    in double, so the priority is ONE correctly-rounded IEEE division
    reproduced bit-for-bit by the oracle."""
    from hiv_data_integration_spark.operators.sampling import (
        weighted_priority_sample,
    )

    docs = tbl(spark, sf_dir, "documents")
    out = weighted_priority_sample(
        docs, id_col="doc_id", weight_col="n_chars", k=10,
        stratum_cols=["lang"],
    )
    return out.select("doc_id", "lang", "n_chars", "priority")


SQL_WEIGHTED_PRIORITY_SAMPLE = """
WITH p AS (
    SELECT doc_id, lang, n_chars,
           CAST(n_chars AS DOUBLE) /
           CAST(CAST('0x' || substr(md5('prio:' || CAST(doc_id AS VARCHAR)),
                                    1, 13) AS BIGINT) + 1 AS DOUBLE)
               AS priority
    FROM documents WHERE n_chars > 0
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY priority DESC, doc_id ASC) AS rn
    FROM p
)
SELECT doc_id, lang, n_chars, priority FROM r WHERE rn <= 10
"""


def q_l_diversity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity privacy audit on customers: (nation, market segment)
    quasi-identifier classes must hold >= 3 distinct account balances;
    exact distinct counts, one IEEE division for the exposed share."""
    from hiv_data_integration_spark.operators.aggregate import (
        l_diversity_audit,
    )

    cust = tbl(spark, sf_dir, "customer")
    return l_diversity_audit(
        cust, ["c_nationkey", "c_mktsegment"], "c_acctbal", l=3
    )


SQL_L_DIVERSITY_CUSTOMERS = """
WITH classes AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
           COUNT(DISTINCT c_acctbal)
           + MAX(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS d
    FROM customer GROUP BY 1, 2
)
SELECT CAST(3 AS BIGINT) AS l,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_classes,
       CAST(SUM(CASE WHEN d < 3 THEN n ELSE 0 END) AS BIGINT)
           AS n_exposed_rows,
       CAST(SUM(CASE WHEN d < 3 THEN n ELSE 0 END) AS DOUBLE)
           / CAST(SUM(n) AS DOUBLE) AS exposed_frac
FROM classes
"""


def q_link_prediction_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors + resource-allocation link prediction between
    suppliers sharing shipped parts (bipartite posting-list self-join,
    hub parts with >20 suppliers df-cut before the join; RA index as an
    exact scaled-integer sum — bit-stable under any aggregation
    order)."""
    from hiv_data_integration_spark.operators.dedup import (
        link_prediction_scores,
    )

    li = tbl(spark, sf_dir, "lineitem")
    return link_prediction_scores(
        li, left_col="l_suppkey", right_col="l_partkey", max_degree=20
    )


SQL_LINK_PREDICTION_SUPPLIERS = """
WITH e AS (
    SELECT DISTINCT l_suppkey AS l, l_partkey AS r FROM lineitem
),
deg AS (
    SELECT r, COUNT(*) AS d FROM e GROUP BY r HAVING COUNT(*) <= 20
),
contrib AS (
    SELECT e.l, e.r, CAST(1000000000000 AS BIGINT) // d AS c
    FROM e JOIN deg USING (r)
)
SELECT a.l AS left_a, b.l AS left_b,
       CAST(COUNT(*) AS BIGINT) AS n_common,
       CAST(SUM(a.c) AS BIGINT) AS ra_score
FROM contrib a JOIN contrib b USING (r)
WHERE a.l < b.l
GROUP BY 1, 2
"""


def q_fifo_match_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO reconciliation: per part, match returned quantities
    (l_returnflag = 'R') against shipped non-returned quantities in
    ship-date order — two window prefix sums + one overlap join, every
    matched quantity the exact DECIMAL overlap length."""
    from hiv_data_integration_spark.operators.relational import fifo_allocate

    li = tbl(spark, sf_dir, "lineitem").withColumn(
        "row_id",
        F.col("l_orderkey") * F.lit(10) + F.col("l_linenumber"),
    )
    supply = li.filter(F.col("l_returnflag") != "R")
    demand = li.filter(F.col("l_returnflag") == "R")
    return fifo_allocate(
        supply, demand, key_cols=["l_partkey"], qty_col="l_quantity",
        order_cols=["l_shipdate", "l_orderkey", "l_linenumber"],
    )


SQL_FIFO_MATCH_RETURNS = """
WITH ranked AS (
    SELECT l_partkey, l_returnflag,
           l_orderkey * 10 + l_linenumber AS rid,
           SUM(CAST(l_quantity AS DECIMAL(28,6)))
               OVER (PARTITION BY l_partkey, (l_returnflag = 'R')
                     ORDER BY l_shipdate, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS hi,
           CAST(l_quantity AS DECIMAL(28,6)) AS q
    FROM lineitem WHERE l_quantity > 0
),
s AS (SELECT l_partkey, rid, hi, hi - q AS lo FROM ranked
      WHERE l_returnflag <> 'R'),
d AS (SELECT l_partkey, rid, hi, hi - q AS lo FROM ranked
      WHERE l_returnflag = 'R')
SELECT s.l_partkey,
       s.rid AS row_id, d.rid AS row_id_d,
       CAST(CAST(LEAST(s.hi, d.hi) - GREATEST(s.lo, d.lo) AS VARCHAR)
            AS DOUBLE) AS qty_matched
FROM s JOIN d ON s.l_partkey = d.l_partkey
WHERE s.lo < d.hi AND d.lo < s.hi
"""


def q_gini_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity (value-concentration) profile of three orders
    columns (two categoricals + the order-date spread) in ONE unpivoted pipeline — rational statistic, exact
    until one final IEEE division (ln-based entropy is engine-ULP-
    dependent and never goes in hashed output)."""
    from hiv_data_integration_spark.operators.aggregate import (
        gini_impurity_profile,
    )

    o = tbl(spark, sf_dir, "orders")
    return gini_impurity_profile(
        o, ["o_orderstatus", "o_orderpriority", "o_orderdate"]
    )


SQL_GINI_PROFILE_ORDERS = """
WITH pairs AS (
    SELECT 'o_orderstatus' AS "column",
           CAST(o_orderstatus AS VARCHAR) AS value FROM orders
    UNION ALL
    SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
    UNION ALL
    SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
),
counts AS (
    SELECT "column", value, CAST(COUNT(*) AS HUGEINT) AS c
    FROM pairs GROUP BY 1, 2
)
SELECT "column",
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(c) AS BIGINT) AS max_count,
       -- VARCHAR-mediated casts: DuckDB's direct wide-int->double is
       -- not correctly rounded; strtod is
       CAST(CAST(SUM(c) * SUM(c) - SUM(c * c) AS VARCHAR) AS DOUBLE)
       / CAST(CAST(SUM(c) * SUM(c) AS VARCHAR) AS DOUBLE) AS gini
FROM counts GROUP BY "column"
"""


def q_roc_auc_value_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of event value as a purchase predictor — the
    Mann-Whitney rank form with ×2 tie absorption: every accumulator
    an exact BIGINT, one final IEEE division; the prefix window runs
    over DISTINCT scores only."""
    from hiv_data_integration_spark.operators.aggregate import roc_auc_exact

    ev = tbl(spark, sf_dir, "events")
    return roc_auc_exact(ev, F.col("event_type") == "purchase", "value")


SQL_ROC_AUC_VALUE_PURCHASE = """
WITH s AS (
    SELECT value AS sc,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
per AS (
    SELECT sc, SUM(y) AS np, SUM(1 - y) AS nn FROM s GROUP BY sc
),
t AS (
    SELECT np, nn,
           np * (2 * (SUM(nn) OVER (ORDER BY sc
                      ROWS UNBOUNDED PRECEDING) - nn) + nn) AS term
    FROM per
)
SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
       CAST(SUM(nn) AS BIGINT) AS n_neg,
       CAST(SUM(term) AS BIGINT) AS u2,
       CASE WHEN SUM(np) > 0 AND SUM(nn) > 0 THEN
            CAST(SUM(term) AS DOUBLE)
            / CAST(2 * SUM(np) * SUM(nn) AS DOUBLE)
       END AS auc
FROM t
"""


def q_zscore_outliers_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly flags: per (event_type, epoch-day mod
    7) group, flag |x−μ| > 3σ via the cross-multiplied ALL-integer form
    (n·x−S₁)² > 9·(n·S₂−S₁²) — no float statistic anywhere, so flags
    cannot flip with aggregation order; the weekday key is pure integer
    arithmetic (engine week-numbering conventions differ)."""
    from hiv_data_integration_spark.operators.aggregate import (
        group_zscore_outliers,
    )

    ev = tbl(spark, sf_dir, "events")
    dow = F.pmod(F.unix_date(F.col("ts").cast("date")), F.lit(7))
    return group_zscore_outliers(
        ev, [F.col("event_type"), dow], "value", k=3
    )


SQL_ZSCORE_OUTLIERS_DOW = """
WITH base AS (
    SELECT event_id, ts, user_id, event_type, value, props,
           CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS xc,
           (((CAST(ts AS DATE) - DATE '1970-01-01') % 7) + 7) % 7 AS dw
    FROM events WHERE value IS NOT NULL
),
st AS (
    SELECT event_type, dw, COUNT(*) AS n, SUM(xc) AS s1,
           SUM(CAST(xc AS HUGEINT) * xc) AS s2
    FROM base GROUP BY 1, 2
)
SELECT b.event_id, b.ts, b.user_id, b.event_type, b.value, b.props,
       CAST(n AS BIGINT) AS n_group,
       (CAST(n AS HUGEINT) * xc - s1) * (CAST(n AS HUGEINT) * xc - s1)
           > 9 * (CAST(n AS HUGEINT) * s2
                  - CAST(s1 AS HUGEINT) * s1) AS is_outlier
FROM base b JOIN st USING (event_type, dw)
"""


def q_feature_hash_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick sparse encoding of two customer categoricals into
    4096 buckets — md5-prefix modulus, no vocabulary build, collisions
    sum; the web-scale categorical encoder."""
    from hiv_data_integration_spark.operators.sampling import feature_hash

    cust = tbl(spark, sf_dir, "customer")
    return feature_hash(
        cust, "c_custkey", ["c_mktsegment", "c_nationkey"],
        num_buckets=4096,
    )


SQL_FEATURE_HASH_CUSTOMERS = """
WITH pairs AS (
    SELECT c_custkey, 'c_mktsegment=' || CAST(c_mktsegment AS VARCHAR) AS f
    FROM customer WHERE c_mktsegment IS NOT NULL
    UNION ALL
    SELECT c_custkey, 'c_nationkey=' || CAST(c_nationkey AS VARCHAR)
    FROM customer WHERE c_nationkey IS NOT NULL
)
SELECT c_custkey,
       CAST('0x' || substr(md5('fh:' || f), 1, 13) AS BIGINT) % 4096
           AS feature_idx,
       CAST(COUNT(*) AS DOUBLE) AS feature_val
FROM pairs GROUP BY 1, 2
"""


def q_km_signup_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-purchase curve over users (right-
    censored at each user's last event): exact integer risk sets, one
    IEEE division per factor, LEFT-TO-RIGHT product fold over the
    time-ordered factor array — replayed factor-for-factor by the
    oracle's list_reduce."""
    from hiv_data_integration_spark.operators.aggregate import kaplan_meier

    ev = tbl(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tl"),
    )
    subj = per_user.select(
        F.datediff(
            F.coalesce(F.col("tp"), F.col("tl")).cast("date"),
            F.col("t0").cast("date"),
        ).alias("dur"),
        F.col("tp").isNotNull().alias("ev"),
    )
    return kaplan_meier(subj, "dur", "ev")


SQL_KM_SIGNUP_TO_PURCHASE = """
WITH pu AS (
    SELECT user_id, min(ts) AS t0,
           min(CASE WHEN event_type = 'purchase' THEN ts END) AS tp,
           max(ts) AS tl
    FROM events GROUP BY 1
),
subj AS (
    SELECT CAST(CAST(COALESCE(tp, tl) AS DATE) - CAST(t0 AS DATE)
                AS BIGINT) AS t,
           (tp IS NOT NULL) AS e
    FROM pu
),
per_t AS (
    SELECT t, COUNT(*) AS c,
           SUM(CASE WHEN e THEN 1 ELSE 0 END) AS d
    FROM subj GROUP BY 1
),
risk AS (
    SELECT t, d,
           SUM(c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n
    FROM per_t
),
f AS (
    SELECT list({'t': t, 'n': n, 'd': d} ORDER BY t) AS arr
    FROM risk WHERE d > 0
),
g AS (
    -- select-list unnest: generate_series cannot lateral-correlate
    SELECT arr, unnest(range(1, len(arr) + 1)) AS i FROM f
)
SELECT arr[i].t AS t,
       CAST(arr[i].n AS BIGINT) AS n_risk,
       CAST(arr[i].d AS BIGINT) AS d_events,
       list_reduce(
           list_transform(arr[1:i],
               x -> CAST(1 AS DOUBLE)
                    - CAST(x.d AS DOUBLE) / CAST(x.n AS DOUBLE)),
           (a, b) -> a * b) AS survival
FROM g
"""


def _daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-event-type value totals in exact integer cents
    (epoch-day key — tz-proof integer arithmetic; the one rounding is
    floor(v·100+0.5), identical IEEE on both engines)."""
    ev = tbl(spark, sf_dir, "events")
    return (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.unix_date(F.col("ts").cast("date")).cast("long").alias("day"),
            F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
            .cast("long")
            .alias("_xc"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("_xc").alias("cents"))
    )


_SQL_DAILY_CENTS = """
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS cents
    FROM events WHERE value IS NOT NULL GROUP BY 1, 2
"""


def q_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall drift test on each event type's daily cents series
    — integer S, integer tie-corrected var18, significance decided by
    the all-integer cross-multiplied inequality (z²=1.96² as
    9604/2500); O(days²) pairwise by design (resolution-bounded)."""
    from hiv_data_integration_spark.operators.aggregate import (
        mann_kendall_trend,
    )

    return mann_kendall_trend(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents"
    )


SQL_MANN_KENDALL_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
s AS (
    SELECT a.event_type,
           CAST(SUM(sign(b.cents - a.cents)) AS BIGINT) AS s_stat
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day < b.day
    GROUP BY 1
),
n AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM daily GROUP BY 1
),
ties AS (
    SELECT event_type,
           SUM(tp * (tp - 1) * (2 * tp + 5)) AS tie18
    FROM (SELECT event_type, cents, CAST(COUNT(*) AS BIGINT) AS tp
          FROM daily GROUP BY 1, 2)
    GROUP BY 1
)
SELECT n.event_type, n.n_points, s.s_stat,
       CAST(n_points * (n_points - 1) * (2 * n_points + 5) - tie18
            AS BIGINT) AS var18,
       s_stat <> 0 AND
       45000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
           > 9604 * (n_points * (n_points - 1) * (2 * n_points + 5)
                     - tie18) AS is_significant,
       CAST(CASE WHEN s_stat <> 0 AND
                      45000 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                      > 9604 * (n_points * (n_points - 1)
                                * (2 * n_points + 5) - tie18)
                 THEN sign(s_stat) ELSE 0 END AS INTEGER) AS trend
FROM n JOIN s USING (event_type) JOIN ties USING (event_type)
"""


def q_cusum_change_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point scan on each event type's daily cents series:
    exact integer mean-centered prefix deviations (scaled by n), change
    point at max |D| with smallest-day tiebreak, floats only in the two
    final fixed-order normalization ops."""
    from hiv_data_integration_spark.operators.aggregate import (
        cusum_change_detection,
    )

    return cusum_change_detection(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents",
        cent_scale=1,
    )


SQL_CUSUM_CHANGE_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
d AS (
    SELECT event_type, day,
           COUNT(*) OVER (PARTITION BY event_type)
             * SUM(cents) OVER (PARTITION BY event_type ORDER BY day
                                ROWS UNBOUNDED PRECEDING)
           - ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
             * SUM(cents) OVER (PARTITION BY event_type) AS dd
    FROM daily
),
agg AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(MAX(dd) AS BIGINT) AS d_max,
           CAST(MIN(dd) AS BIGINT) AS d_min,
           CAST(MAX(dd) - MIN(dd) AS DOUBLE)
               / CAST(COUNT(*) * 1 AS DOUBLE) AS cusum_range
    FROM d GROUP BY 1
),
tc AS (
    SELECT event_type, day,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY abs(dd) DESC, day ASC) AS rn
    FROM d
)
SELECT agg.event_type, n_points, d_max, d_min, cusum_range,
       tc.day AS t_change
FROM agg JOIN tc ON agg.event_type = tc.event_type AND tc.rn = 1
"""


def q_theil_sen_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of each event type's daily cents series —
    median-of-pairwise-slopes by ORDER-STATISTIC selection (tie order
    can't change the value), each slope one IEEE division of exact
    integers; shares the Mann-Kendall pairwise join and scale
    contract."""
    from hiv_data_integration_spark.operators.aggregate import (
        theil_sen_slope,
    )

    return theil_sen_slope(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents"
    )


SQL_THEIL_SEN_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
slopes AS (
    SELECT a.event_type,
           CAST(b.cents - a.cents AS DOUBLE)
           / CAST(b.day - a.day AS DOUBLE) AS s
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day < b.day
),
ranked AS (
    SELECT event_type, s,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY s) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM slopes
),
med AS (
    SELECT event_type, (MIN(s) + MAX(s)) / 2 AS slope,
           CAST(MAX(m) AS BIGINT) AS n_pairs
    FROM ranked WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
    GROUP BY 1
),
n AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM daily GROUP BY 1
)
SELECT n.event_type, n_points,
       COALESCE(n_pairs, 0) AS n_pairs, slope
FROM n LEFT JOIN med USING (event_type)
"""


def q_abc_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/Pareto revenue triage: per brand, classify parts into the
    80%/95% cumulative-revenue tiers — revenue as exact cents (one
    shared floor rounding), boundary membership decided by all-integer
    comparisons so no boundary part can flip."""
    from hiv_data_integration_spark.operators.aggregate import (
        abc_classification,
    )

    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    rev = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == part.p_partkey,
        )
        .select(
            "p_brand",
            "l_partkey",
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * 100
                + F.lit(0.5)
            ).cast("long").alias("_rc"),
        )
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum("_rc").alias("revenue_cents"))
    )
    return abc_classification(
        rev, ["p_brand"], ["l_partkey"], "revenue_cents"
    )


SQL_ABC_PARTS_BY_BRAND = """
WITH rev AS (
    SELECT p_brand, l_partkey,
           CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                               * (1.0 - CAST(l_discount AS DOUBLE))
                               * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1, 2
),
cum AS (
    SELECT p_brand, l_partkey, value,
           SUM(value) OVER (PARTITION BY p_brand
                            ORDER BY value DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS c,
           SUM(value) OVER (PARTITION BY p_brand) AS total
    FROM rev
)
SELECT p_brand, l_partkey, value,
       CAST(c AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share,
       CASE WHEN 100 * (c - value) < 80 * total THEN 'A'
            WHEN 100 * (c - value) < 95 * total THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum
"""


def q_rolling_band_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day band breakout flags on each event type's daily
    cents series — trailing window EXCLUDES the current point, all
    comparison arithmetic exact integers, <5 trailing peers → NULL
    verdict."""
    from hiv_data_integration_spark.operators.aggregate import (
        rolling_band_outliers,
    )

    return rolling_band_outliers(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents",
        window=14, min_n=5, k=3, cent_scale=1,
    )


SQL_ROLLING_BAND_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
b AS (
    SELECT event_type, day, cents,
           COUNT(cents) OVER w AS n,
           SUM(cents) OVER w AS s1,
           SUM(CAST(cents AS HUGEINT) * cents) OVER w AS s2
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, cents,
       CAST(n AS BIGINT) AS n_band,
       CASE WHEN n >= 5 THEN
            (CAST(n AS HUGEINT) * cents - s1)
              * (CAST(n AS HUGEINT) * cents - s1)
            > 9 * (CAST(n AS HUGEINT) * s2
                   - CAST(s1 AS HUGEINT) * s1)
       END AS is_breakout
FROM b
"""


def q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session paths (30-min gap sessions, first 8 steps in
    (ts, event_id) order) — ORDER BY + LIMIT TakeOrdered cut, then the
    k survivors ranked; total (count desc, path asc) order so the cut
    is partition-independent."""
    from hiv_data_integration_spark.operators.aggregate import (
        top_session_paths,
    )

    ev = tbl(spark, sf_dir, "events")
    return top_session_paths(
        ev, "user_id", "ts", "event_id", "event_type",
        gap_minutes=30, max_steps=8, k=20,
    )


SQL_TOP_SESSION_PATHS = """
WITH gaps AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM gaps
),
paths AS (
    SELECT user_id, session_seq,
           array_to_string(
               (list(event_type ORDER BY ts, event_id))[1:8], '>') AS path
    FROM sess GROUP BY 1, 2
),
counts AS (
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY 1
),
r AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path ASC)
              AS rank FROM counts
)
SELECT path, n_sessions, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 20
"""


def q_golden_record_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge per user: latest non-null purchase value,
    latest event type, latest prop-k — one aggregate, per-field
    struct-max (present beats absent, then recency), no windows."""
    from hiv_data_integration_spark.operators.dedup import golden_record

    ev = tbl(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "purchase_value"
        ),
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )
    return golden_record(
        base, "user_id", ["ts", "event_id"],
        ["purchase_value", "event_type", "prop_k"],
    )


SQL_GOLDEN_RECORD_USERS = """
WITH base AS (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'purchase' THEN value END
               AS purchase_value,
           event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
),
n AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_records
    FROM base GROUP BY 1
),
f1 AS (
    SELECT user_id, purchase_value FROM (
        SELECT user_id, purchase_value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY (purchase_value IS NOT NULL) DESC,
                            ts DESC, event_id DESC) AS rn
        FROM base) WHERE rn = 1
),
f2 AS (
    SELECT user_id, event_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY (event_type IS NOT NULL) DESC,
                            ts DESC, event_id DESC) AS rn
        FROM base) WHERE rn = 1
),
f3 AS (
    SELECT user_id, prop_k FROM (
        SELECT user_id, prop_k,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY (prop_k IS NOT NULL) DESC,
                            ts DESC, event_id DESC) AS rn
        FROM base) WHERE rn = 1
)
SELECT n.user_id, n_records, purchase_value, event_type, prop_k
FROM n JOIN f1 USING (user_id) JOIN f2 USING (user_id)
       JOIN f3 USING (user_id)
"""


def q_cohort_ltv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: users vintaged by first-event month (integer
    year·12+month field arithmetic — no date_trunc tz exposure),
    purchase revenue in exact cents, cumulative per cohort age, one
    IEEE division per row for LTV/user."""
    from hiv_data_integration_spark.operators.aggregate import (
        cohort_ltv_curve,
    )

    ev = tbl(spark, sf_dir, "events")
    return cohort_ltv_curve(
        ev, "user_id", "ts", "value",
        revenue_filter=F.col("event_type") == "purchase",
    )


SQL_COHORT_LTV_EVENTS = """
WITH fe AS (
    SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1
),
cohort AS (
    SELECT user_id,
           CAST(year(t0) * 12 + month(t0) - 1 AS BIGINT) AS cohort_month
    FROM fe
),
sizes AS (
    SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM cohort GROUP BY 1
),
rev AS (
    SELECT cohort_month,
           CAST(year(e.ts) * 12 + month(e.ts) - 1 AS BIGINT)
               - cohort_month AS age_months,
           CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM events e JOIN cohort USING (user_id)
    WHERE event_type = 'purchase' AND value IS NOT NULL
    GROUP BY 1, 2
),
c AS (
    SELECT *, CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_month
                   ORDER BY age_months ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_revenue_cents
    FROM rev
)
SELECT c.cohort_month, age_months, n_users, revenue_cents,
       cum_revenue_cents,
       CAST(cum_revenue_cents AS DOUBLE)
           / CAST(n_users * 100 AS DOUBLE) AS ltv_per_user
FROM c JOIN sizes USING (cohort_month)
"""


def q_seasonal_naive_mdape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week seasonal-naive backtest on daily cents per event
    type: MdAPE by order-statistic selection (selection-stable, unlike
    a MAPE mean over near-zero actuals)."""
    from hiv_data_integration_spark.operators.aggregate import (
        seasonal_naive_backtest,
    )

    return seasonal_naive_backtest(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents",
        season=7,
    )


SQL_SEASONAL_NAIVE_MDAPE = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
scored AS (
    SELECT a.event_type,
           CAST(abs(a.cents - b.cents) AS DOUBLE)
           / CAST(a.cents AS DOUBLE) AS ape
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day = b.day + 7
    WHERE a.cents > 0
),
ranked AS (
    SELECT event_type, ape,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ape) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS m
    FROM scored
),
med AS (
    SELECT event_type, (MIN(ape) + MAX(ape)) / 2 AS mdape,
           CAST(MAX(m) AS BIGINT) AS n_scored
    FROM ranked WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
    GROUP BY 1
),
n AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
    FROM daily GROUP BY 1
)
SELECT n.event_type, n_points,
       COALESCE(n_scored, 0) AS n_scored, mdape
FROM n LEFT JOIN med USING (event_type)
"""


def q_audience_overlap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type audience overlap matrix: exact distinct-user
    intersections + Jaccard per pair — self-join fan-out bounded by
    segments-per-user, not users."""
    from hiv_data_integration_spark.operators.aggregate import (
        audience_overlap,
    )

    ev = tbl(spark, sf_dir, "events")
    return audience_overlap(ev, "user_id", "event_type")


SQL_AUDIENCE_OVERLAP_EVENTS = """
WITH m AS (
    SELECT DISTINCT user_id AS u, event_type AS s
    FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
sizes AS (
    SELECT s, CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1
),
pair_counts AS (
    SELECT a.s AS segment_a, b.s AS segment_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM m a JOIN m b ON a.u = b.u AND a.s < b.s
    GROUP BY 1, 2
)
SELECT segment_a, segment_b,
       na.n AS n_a, nb.n AS n_b, n_both,
       CAST(n_both AS DOUBLE)
           / CAST(na.n + nb.n - n_both AS DOUBLE) AS jaccard
FROM pair_counts
JOIN sizes na ON na.s = segment_a
JOIN sizes nb ON nb.s = segment_b
"""


def q_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped multi-touch attribution (40/20/40, solo→100, pair→
    50/50) per (touch_type, n_touches, role) cohort — credit_each a
    fixed CASE over exact integers, at most one IEEE division."""
    from hiv_data_integration_spark.operators.aggregate import (
        position_based_attribution,
    )

    ev = tbl(spark, sf_dir, "events")
    return position_based_attribution(
        ev, "purchase", ["click", "view"], attribution_window="72 hours"
    )


SQL_ATTRIBUTION_POSITION_BASED = """
WITH conv AS (
    SELECT user_id AS u, ts AS ct, event_id AS cid
    FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT user_id AS u, event_type AS tt, ts AS tts, event_id AS tid
    FROM events WHERE event_type IN ('click', 'view')
),
paired AS (
    SELECT cid, tt, tts, tid FROM conv JOIN touch USING (u)
    WHERE tts < ct AND tts >= ct - INTERVAL 72 HOUR
),
roled AS (
    SELECT tt,
           COUNT(*) OVER (PARTITION BY cid) AS n_touches,
           ROW_NUMBER() OVER (PARTITION BY cid ORDER BY tts, tid) AS rn
    FROM paired
),
cohort AS (
    SELECT tt AS touch_type, CAST(n_touches AS BIGINT) AS n_touches,
           CASE WHEN n_touches = 1 THEN 'solo'
                WHEN rn = 1 THEN 'first'
                WHEN rn = n_touches THEN 'last'
                ELSE 'middle' END AS "role"
    FROM roled
)
SELECT touch_type, n_touches, "role",
       CAST(COUNT(*) AS BIGINT) AS n_touch_events,
       CASE WHEN "role" = 'solo' THEN CAST(1.0 AS DOUBLE)
            WHEN n_touches = 2 AND "role" IN ('first', 'last')
                THEN CAST(0.5 AS DOUBLE)
            WHEN "role" IN ('first', 'last') THEN CAST(0.4 AS DOUBLE)
            ELSE CAST(0.2 AS DOUBLE)
                 / CAST(n_touches - 2 AS DOUBLE) END AS credit_each
FROM cohort GROUP BY 1, 2, 3
"""


def q_debounce_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True debounce of click events (60 s chain semantics): each
    burst collapses to its first event with the suppressed count —
    floor-of-epoch seconds on both engines (Spark NTZ field arithmetic
    truncates; DuckDB epoch() carries the fraction)."""
    from hiv_data_integration_spark.operators.aggregate import (
        debounce_events,
    )

    ev = tbl(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    return debounce_events(ev, ["user_id"], "ts", "event_id",
                           gap_seconds=60)


SQL_DEBOUNCE_CLICKS = """
WITH c AS (
    SELECT user_id, ts, event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ep
    FROM events WHERE event_type = 'click'
),
g AS (
    SELECT *, CASE WHEN lag(ep) OVER w IS NULL
                     OR ep - lag(ep) OVER w > 60 THEN 1 ELSE 0 END AS brk
    FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
),
b AS (
    SELECT user_id, ts, event_id, ep,
           SUM(brk) OVER (PARTITION BY user_id ORDER BY ep, event_id
                          ROWS UNBOUNDED PRECEDING) AS burst_seq
    FROM g
),
r AS (
    SELECT user_id, ts, event_id,
           CAST(burst_seq AS BIGINT) AS burst_seq,
           ROW_NUMBER() OVER (PARTITION BY user_id, burst_seq
                              ORDER BY ep, event_id) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY user_id, burst_seq) - 1
                AS BIGINT) AS n_suppressed
    FROM b
)
SELECT user_id, ts, event_id, burst_seq, n_suppressed
FROM r WHERE rn = 1
"""


def q_gap_fill_interp_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation densification of each event type's daily
    cents series — exact BIGINT numerator over the exact span, one
    IEEE division per filled day; observed days pass through exactly."""
    from hiv_data_integration_spark.operators.aggregate import (
        gap_fill_interpolate,
    )

    return gap_fill_interpolate(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents"
    )


SQL_GAP_FILL_INTERP_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
bounds AS (
    SELECT event_type, min(day) AS lo, max(day) AS hi
    FROM daily GROUP BY 1
),
grid AS (
    SELECT event_type, unnest(range(lo, hi + 1)) AS day FROM bounds
),
j AS (
    SELECT g.event_type, g.day, d.cents
    FROM grid g LEFT JOIN daily d USING (event_type, day)
),
f AS (
    SELECT *,
           last_value(cents IGNORE NULLS) OVER wf AS pv,
           last_value(CASE WHEN cents IS NOT NULL THEN day END
                      IGNORE NULLS) OVER wf AS pt,
           first_value(cents IGNORE NULLS) OVER wb AS nv,
           first_value(CASE WHEN cents IS NOT NULL THEN day END
                       IGNORE NULLS) OVER wb AS nt
    FROM j
    WINDOW wf AS (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING),
           wb AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, day,
       CASE WHEN cents IS NOT NULL THEN CAST(cents AS DOUBLE)
            ELSE CAST(pv * (nt - day) + nv * (day - pt) AS DOUBLE)
                 / CAST(nt - pt AS DOUBLE) END AS value_interp,
       cents IS NOT NULL AS is_observed
FROM f
"""


def q_dataset_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksums for three dimension tables
    (supplier's DOUBLE balance pre-projected to fixed-point cents —
    the documented recipe for float columns, whose raw string
    rendering is engine-specific) — the post-migration reconciliation
    one-number-per-table audit."""
    from hiv_data_integration_spark.operators.aggregate import (
        dataset_fingerprint,
    )

    supplier = tbl(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        F.floor(F.col("s_acctbal").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("s_acctbal_cents"),
    )
    return dataset_fingerprint(
        {
            "region": tbl(spark, sf_dir, "region"),
            "nation": tbl(spark, sf_dir, "nation"),
            "supplier": supplier,
        }
    )


SQL_DATASET_FINGERPRINTS = """
SELECT 'region' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
                CAST(r_regionkey AS VARCHAR), r_name)), 1, 15)
            AS BIGINT)) AS HUGEINT) % 2305843009213693952 AS BIGINT)
           AS checksum
FROM region
UNION ALL
SELECT 'nation', CAST(COUNT(*) AS BIGINT),
       CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
                CAST(n_nationkey AS VARCHAR), n_name,
                CAST(n_regionkey AS VARCHAR))), 1, 15)
            AS BIGINT)) AS HUGEINT) % 2305843009213693952 AS BIGINT)
FROM nation
UNION ALL
SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
       CAST(CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
                CAST(s_suppkey AS VARCHAR), s_name,
                CAST(s_nationkey AS VARCHAR),
                CAST(CAST(floor(CAST(s_acctbal AS DOUBLE) * 100 + 0.5)
                     AS BIGINT) AS VARCHAR))), 1, 15)
            AS BIGINT)) AS HUGEINT) % 2305843009213693952 AS BIGINT)
FROM supplier
"""


def q_ks_value_user_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic on event values, even-user vs
    odd-user populations — cross-multiplied integer ECDF gaps, max
    exact, one division; peak location reported."""
    from hiv_data_integration_spark.operators.aggregate import ks_statistic

    ev = tbl(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return ks_statistic(
        ev, F.pmod(F.col("user_id"), F.lit(2)) == 0, "value"
    )


SQL_KS_VALUE_USER_PARITY = """
WITH base AS (
    SELECT value AS v,
           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
    FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
),
per AS (
    SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM base GROUP BY 1
),
g AS (
    SELECT v,
           abs(SUM(ca) OVER wp * SUM(cb) OVER ()
               - SUM(cb) OVER wp * SUM(ca) OVER ()) AS gg,
           SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
    FROM per
    WINDOW wp AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
m AS (SELECT *, MAX(gg) OVER () AS gm FROM g)
SELECT CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CAST(MAX(gg) AS BIGINT) AS d_num,
       CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
            CAST(MAX(gg) AS DOUBLE)
            / CAST(MAX(na) * MAX(nb) AS DOUBLE) END AS ks,
       MIN(CASE WHEN gg = gm THEN v END) AS ks_at_value
FROM m
"""


def q_tv_drift_user_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact total-variation drift of the event-type mix, even-user vs
    odd-user populations — integer numerator Σ|c₁N₂ − c₂N₁|, one
    division; NULL categories counted (null-rate shift IS drift)."""
    from hiv_data_integration_spark.operators.aggregate import (
        distribution_drift_tv,
    )

    ev = tbl(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    return distribution_drift_tv(
        ev, F.pmod(F.col("user_id"), F.lit(2)) == 0, "event_type"
    )


SQL_TV_DRIFT_USER_PARITY = """
WITH base AS (
    SELECT event_type AS v,
           CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
    FROM events WHERE user_id IS NOT NULL
),
per AS (
    SELECT v, SUM(a) AS ca, SUM(1 - a) AS cb FROM base GROUP BY 1
),
t AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM per)
SELECT CAST(MAX(na) AS BIGINT) AS n_a,
       CAST(MAX(nb) AS BIGINT) AS n_b,
       CAST(COUNT(*) AS BIGINT) AS n_categories,
       CAST(SUM(abs(ca * nb - cb * na)) AS BIGINT) AS tv_num,
       CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
            CAST(SUM(abs(ca * nb - cb * na)) AS DOUBLE)
            / CAST(2 * MAX(na) * MAX(nb) AS DOUBLE) END AS tv
FROM per, t
"""


def q_pvm_brand_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of per-brand revenue change, 1996 →
    1997: exact integer quantities/cents, effect terms fixed-order
    with one division each; new/churned segments classified."""
    from hiv_data_integration_spark.operators.aggregate import (
        price_volume_decomposition,
    )

    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    base = (
        li.join(
            F.broadcast(part.select("p_partkey", "p_brand")),
            li.l_partkey == part.p_partkey,
        )
        .filter(F.year("l_shipdate").isin(1996, 1997))
        .select(
            "p_brand",
            F.year("l_shipdate").cast("string").alias("per"),
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * 100
                + F.lit(0.5)
            ).cast("long").alias("rc"),
        )
    )
    return price_volume_decomposition(
        base, ["p_brand"], "per", "q", "rc", "1996", "1997"
    )


SQL_PVM_BRAND_YOY = """
WITH base AS (
    SELECT p_brand, CAST(year(l_shipdate) AS VARCHAR) AS per,
           CAST(l_quantity AS BIGINT) AS q,
           CAST(floor(CAST(l_extendedprice AS DOUBLE)
                      * (1.0 - CAST(l_discount AS DOUBLE))
                      * 100 + 0.5) AS BIGINT) AS r
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE year(l_shipdate) IN (1996, 1997)
),
agg AS (
    SELECT p_brand,
           CAST(SUM(CASE WHEN per = '1996' THEN q ELSE 0 END) AS BIGINT)
               AS q_base,
           CAST(SUM(CASE WHEN per = '1997' THEN q ELSE 0 END) AS BIGINT)
               AS q_comp,
           CAST(SUM(CASE WHEN per = '1996' THEN r ELSE 0 END) AS BIGINT)
               AS r_base_cents,
           CAST(SUM(CASE WHEN per = '1997' THEN r ELSE 0 END) AS BIGINT)
               AS r_comp_cents,
           MAX(CASE WHEN per = '1996' THEN 1 ELSE 0 END) AS hb,
           MAX(CASE WHEN per = '1997' THEN 1 ELSE 0 END) AS hc
    FROM base GROUP BY 1
)
SELECT p_brand, q_base, q_comp, r_base_cents, r_comp_cents,
       CAST(r_comp_cents - r_base_cents AS BIGINT) AS delta_cents,
       CASE WHEN hb * hc = 1 THEN
                CAST(q_comp - q_base AS DOUBLE)
                * (CAST(r_base_cents AS DOUBLE) / CAST(q_base AS DOUBLE))
            ELSE CAST(r_comp_cents - r_base_cents AS DOUBLE) END
           AS volume_effect,
       CASE WHEN hb * hc = 1 THEN
                (CAST(r_comp_cents AS DOUBLE) / CAST(q_comp AS DOUBLE)
                 - CAST(r_base_cents AS DOUBLE) / CAST(q_base AS DOUBLE))
                * CAST(q_comp AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END AS price_effect,
       CASE WHEN hb * hc = 1 THEN 'continuing'
            WHEN hc = 1 THEN 'new' ELSE 'churned' END AS status
FROM agg
"""


def q_lump_rare_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-category lumping of part types: top-3 by count survive,
    the tail folds into __OTHER__ — TakeOrdered head set broadcast
    back, partition-independent cut."""
    from hiv_data_integration_spark.operators.aggregate import (
        lump_rare_categories,
    )

    part = tbl(spark, sf_dir, "part")
    return lump_rare_categories(part, "p_type", k=3)


SQL_LUMP_RARE_PART_TYPES = """
WITH counts AS (
    SELECT COALESCE(CAST(p_type AS VARCHAR), '__NULL__') AS c,
           COUNT(*) AS n
    FROM part GROUP BY 1
),
top AS (SELECT c FROM counts ORDER BY n DESC, c ASC LIMIT 3)
SELECT CASE WHEN c IN (SELECT c FROM top) THEN c
            ELSE '__OTHER__' END AS category_out,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_source_categories
FROM counts GROUP BY 1
"""


def q_embed_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka two-stage ANN: 16-of-64-dim prefix cosine candidates
    (k·3 survivors) + full-dim exact rerank — both stages mirrored in
    SQL, same determinism chain as the SQ8 refine twin."""
    import hiv_data_integration_spark.operators.similarity as sim

    emb = tbl(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    return sim.prefix_dim_rerank_topk(
        queries, emb, prefix_dims=16, k=5, rerank=3
    )


SQL_EMBED_PREFIX_RERANK = """
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv, v[1:16] AS qp
      FROM e WHERE vec_id % 50 = 0),
c AS (SELECT vec_id AS neighbor_id, v AS cv, v[1:16] AS cp FROM e),
s1 AS (
    SELECT query_id, neighbor_id, qv, cv,
           list_dot_product(qp, cp)
               / (sqrt(list_dot_product(qp, qp))
                  * sqrt(list_dot_product(cp, cp))) AS pcos
    FROM c CROSS JOIN q WHERE neighbor_id != query_id
),
cand AS (
    SELECT query_id, neighbor_id, qv, cv FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY pcos DESC, neighbor_id) AS ar
        FROM s1) WHERE ar <= 15
),
ex AS (
    SELECT query_id, neighbor_id,
           list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))) AS cos_
    FROM cand
)
SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank, cos_ AS cos
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos_ DESC, neighbor_id) AS rn FROM ex)
WHERE rn <= 5
"""


def q_embed_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) label-quality audit: bit-deterministic
    per-label mean-pool centroids, cosine assignment with total-order
    tiebreak, exact confusion-matrix counts."""
    import hiv_data_integration_spark.operators.similarity as sim

    emb = tbl(spark, sf_dir, "embeddings")
    return sim.nearest_centroid_confusion(emb)


SQL_EMBED_CENTROID_CONFUSION = """
WITH e AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
m AS (
    SELECT label, pos,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
                                    list(x ORDER BY vec_id)),
                       (acc, x) -> acc + x) / count(*) AS m
    FROM (SELECT label, vec_id, unnest(v) AS x,
                 generate_subscripts(v, 1) AS pos
          FROM e)
    GROUP BY label, pos
),
cent AS (SELECT label AS cl, list(m ORDER BY pos) AS cv FROM m GROUP BY 1),
scored AS (
    SELECT e.vec_id, e.label AS true_label, cent.cl,
           list_dot_product(e.v, cent.cv)
               / (sqrt(list_dot_product(e.v, e.v))
                  * sqrt(list_dot_product(cent.cv, cent.cv))) AS cos_
    FROM e CROSS JOIN cent
),
pred AS (
    SELECT vec_id, true_label, cl FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY cos_ DESC, cl ASC) AS rn
        FROM scored) WHERE rn = 1
)
SELECT true_label, cl AS pred_label, CAST(COUNT(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
"""


def q_rake_keyphrases_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus RAKE-lite keyphrases over documents (en stopword breaks,
    2-4-word runs, ratio-of-sums scoring — one division per phrase,
    documented variant of the paper's sum-of-rationals)."""
    from hiv_data_integration_spark.operators.textops import rake_keyphrases

    docs = _spread(tbl(spark, sf_dir, "documents"))
    return rake_keyphrases(docs, "doc_id", "text", k=20)


SQL_RAKE_KEYPHRASES_DOCS = f"""
WITH toks AS (
    SELECT d, unnest(t) AS w, generate_subscripts(t, 1) AS pos
    FROM (SELECT doc_id AS d,
                 list_filter(string_split_regex(
                     lower(regexp_replace(text, '{_PUNCT_SQL}', ' . ',
                                          'g')), '\\s+'),
                     x -> x != '') AS t
          FROM documents)
),
seg AS (
    SELECT d, pos, w,
           w IN ('the', 'and', 'of', 'to', 'is', 'it', 'that', 'this', '.') AS isb,
           SUM(CASE WHEN w IN ('the', 'and', 'of', 'to', 'is', 'it', 'that', 'this', '.')
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY d ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS sg
    FROM toks
),
runs AS (
    SELECT d, sg, list(w ORDER BY pos) AS ws
    FROM seg WHERE NOT isb GROUP BY d, sg
    HAVING COUNT(*) BETWEEN 2 AND 4
),
occ AS (SELECT array_to_string(ws, ' ') AS phrase, ws FROM runs),
wstats AS (
    SELECT w, COUNT(*) AS freq, SUM(l) AS deg
    FROM (SELECT unnest(ws) AS w, len(ws) AS l FROM occ) GROUP BY 1
),
phr AS (
    SELECT phrase, COUNT(*) AS n_occ, any_value(ws) AS ws
    FROM occ GROUP BY 1
),
scored AS (
    SELECT phrase, n_occ,
           CAST(SUM(deg) AS BIGINT) AS deg_sum,
           CAST(SUM(freq) AS BIGINT) AS freq_sum
    FROM (SELECT phrase, n_occ, unnest(ws) AS w FROM phr)
    JOIN wstats USING (w)
    GROUP BY 1, 2
)
SELECT phrase, CAST(n_occ AS BIGINT) AS n_occurrences, deg_sum, freq_sum,
       CAST(deg_sum AS DOUBLE) / CAST(freq_sum AS DOUBLE) AS score
FROM scored ORDER BY score DESC, phrase ASC LIMIT 20
"""


def q_bigram_next_token_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM top-1 next-token self-accuracy on the documents corpus
    — the log-free predictability metric; all-integer until one
    division."""
    from hiv_data_integration_spark.operators.textops import (
        bigram_next_token_accuracy,
    )

    docs = _spread(tbl(spark, sf_dir, "documents"))
    return bigram_next_token_accuracy(docs, "doc_id", "text")


SQL_BIGRAM_NEXT_TOKEN_ACC = """
WITH toks AS (
    SELECT d, unnest(t) AS w1, generate_subscripts(t, 1) AS pos
    FROM (SELECT doc_id AS d,
                 list_filter(string_split_regex(lower(text),
                                                '[^a-z0-9]+'),
                             x -> x != '') AS t
          FROM documents)
),
pairs AS (
    SELECT d, w1, lead(w1) OVER (PARTITION BY d ORDER BY pos) AS w2
    FROM toks
),
counts AS (
    SELECT w1, w2, COUNT(*) AS c FROM pairs
    WHERE w2 IS NOT NULL GROUP BY 1, 2
),
pred AS (
    SELECT w1, c AS hits FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY w1
                   ORDER BY c DESC, w2 ASC) AS rn FROM counts)
    WHERE rn = 1
),
tot AS (SELECT w1, SUM(c) AS n FROM counts GROUP BY 1)
SELECT CAST(SUM(n) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_prefix_types,
       CAST(SUM(hits) AS BIGINT) AS n_hits,
       CAST(SUM(hits) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
           AS top1_accuracy
FROM tot JOIN pred USING (w1)
"""


def q_share_of_parent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region→nation order-revenue contribution table: exact cents
    totals at every ancestor level, one division per share — the BI
    drill-down staple."""
    from hiv_data_integration_spark.operators.aggregate import (
        share_of_parent,
    )

    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    leaf = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "r_name",
            "n_name",
            F.floor(
                F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)
            ).cast("long").alias("cents"),
        )
    )
    return share_of_parent(leaf, ["r_name", "n_name"], "cents")


SQL_SHARE_OF_PARENT_REVENUE = """
WITH leaf AS (
    SELECT r_name, n_name,
           CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS value
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY 1, 2
)
SELECT r_name, n_name, value,
       CAST(SUM(value) OVER (PARTITION BY r_name) AS BIGINT)
           AS total_r_name,
       CAST(value AS DOUBLE)
           / CAST(SUM(value) OVER (PARTITION BY r_name) AS DOUBLE)
           AS share_of_r_name,
       CAST(SUM(value) OVER () AS BIGINT) AS total_all,
       CAST(value AS DOUBLE) / CAST(SUM(value) OVER () AS DOUBLE)
           AS share_of_all
FROM leaf
"""


def q_price_band_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D tolerance clustering of distinct part retail prices per
    brand (cents, ε = 100): chain-gap islands on the value axis —
    near-equal price points collapse without any pairwise join."""
    from hiv_data_integration_spark.operators.aggregate import (
        value_band_clusters,
    )

    part = tbl(spark, sf_dir, "part")
    cents = part.select(
        "p_brand",
        F.floor(
            F.col("p_retailprice").cast("double") * 100 + F.lit(0.5)
        ).cast("long").alias("price_cents"),
    )
    return value_band_clusters(
        cents, ["p_brand"], "price_cents", epsilon=100
    )


SQL_PRICE_BAND_CLUSTERS = """
WITH cents AS (
    SELECT p_brand,
           CAST(floor(CAST(p_retailprice AS DOUBLE) * 100 + 0.5)
                AS BIGINT) AS v
    FROM part WHERE p_retailprice IS NOT NULL
),
per_v AS (
    SELECT p_brand, v, COUNT(*) AS c FROM cents GROUP BY 1, 2
),
seg AS (
    SELECT p_brand, v, c,
           SUM(CASE WHEN pv IS NULL OR v - pv > 100 THEN 1 ELSE 0 END)
               OVER (PARTITION BY p_brand ORDER BY v
                     ROWS UNBOUNDED PRECEDING) AS cluster_seq
    FROM (SELECT *, lag(v) OVER (PARTITION BY p_brand ORDER BY v) AS pv
          FROM per_v)
)
SELECT p_brand, CAST(cluster_seq AS BIGINT) AS cluster_seq,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MIN(v) AS BIGINT) AS lo,
       CAST(MAX(v) AS BIGINT) AS hi
FROM seg GROUP BY 1, 2
"""


def q_fd_audit_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does l_orderkey determine
    l_shipdate? (It doesn't — items of one order ship on different
    days; the violation counts quantify by how much.) All-integer
    plurality counting."""
    from hiv_data_integration_spark.operators.validation import (
        fd_violations,
    )

    li = tbl(spark, sf_dir, "lineitem")
    return fd_violations(li, ["l_orderkey"], "l_shipdate")


SQL_FD_AUDIT_LINEITEM = """
WITH pairs AS (
    SELECT l_orderkey,
           COALESCE(CAST(l_shipdate AS VARCHAR), '__NULL__') AS dep,
           COUNT(*) AS c
    FROM lineitem GROUP BY 1, 2
),
per AS (
    SELECT l_orderkey, SUM(c) AS n, MAX(c) AS m FROM pairs GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN n > m THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating_groups,
       CAST(SUM(n - m) AS BIGINT) AS n_violation_rows,
       SUM(n - m) = 0 AS fd_holds
FROM per
"""


def q_trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed event-type popularity (7-day half-life, exact
    dyadic decay — powers of two scale doubles exactly; the only
    rounding is the final DECIMAL→double, VARCHAR-mediated in the
    oracle)."""
    from hiv_data_integration_spark.operators.aggregate import (
        recency_weighted_popularity,
    )

    ev = tbl(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "ts",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return recency_weighted_popularity(
        base, ["event_type"], "ts", "cents", half_life_days=7
    )


SQL_TRENDING_EVENT_TYPES = """
WITH base AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
           CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS w
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
anchor AS (
    SELECT MAX(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) AS a
    FROM events
),
k AS (
    SELECT event_type, w,
           LEAST(GREATEST((a - day) // 7, 0), 40) AS kk
    FROM base, anchor
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CASE WHEN kk < 40 THEN
                CAST(w AS HUGEINT) * (CAST(1 AS BIGINT) << (40 - kk))
                ELSE 0 END) AS VARCHAR) AS DOUBLE)
           / 1099511627776.0 AS score
FROM k GROUP BY 1
"""


def q_trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of event value cents per type — exact trim set
    via (value, id) rank, DECIMAL middle sum, one division."""
    from hiv_data_integration_spark.operators.aggregate import trimmed_mean

    ev = tbl(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value").cast("double") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    return trimmed_mean(
        base, ["event_type"], "cents", "event_id", trim_frac=0.1
    )


SQL_TRIMMED_MEAN_VALUE = """
WITH base AS (
    SELECT event_type, event_id,
           CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS v
    FROM events WHERE value IS NOT NULL
),
ranked AS (
    SELECT event_type, v,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY v, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n,
           CAST(floor(COUNT(*) OVER (PARTITION BY event_type) * 0.1)
                AS BIGINT) AS t
    FROM base
),
kept AS (SELECT * FROM ranked WHERE rn > t AND rn <= n - t)
SELECT event_type,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(MAX(t) AS BIGINT) AS n_trimmed_each,
       CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS trimmed_mean
FROM kept GROUP BY 1
"""


def q_conformal_naive_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% interval half-width for the week-over-week
    seasonal-naive forecaster, per event type — the ⌈(n+1)·0.9⌉-th
    smallest |residual|, pure integer index arithmetic, exact
    selection."""
    from hiv_data_integration_spark.operators.aggregate import (
        split_conformal_width,
    )
    from pyspark.sql import functions as _F

    daily = _daily_cents(spark, sf_dir)
    prior = daily.select(
        "event_type",
        (F.col("day") + 7).alias("day"),
        F.col("cents").alias("_prior"),
    )
    resid = daily.join(prior, ["event_type", "day"]).select(
        "event_type", (F.col("cents") - F.col("_prior")).alias("resid")
    )
    return split_conformal_width(
        resid, ["event_type"], "resid", alpha_num=1, alpha_den=10
    )


SQL_CONFORMAL_NAIVE_WIDTH = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
resid AS (
    SELECT a.event_type, abs(a.cents - b.cents) AS r
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day = b.day + 7
),
ranked AS (
    SELECT event_type, r,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM resid
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_calib,
       CAST(LEAST(((n + 1) * 9 + 9) // 10, n) AS BIGINT) AS q_index,
       CAST(r AS BIGINT) AS width
FROM ranked WHERE rn = LEAST(((n + 1) * 9 + 9) // 10, n)
"""


def q_ma_crossover_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7/28-day moving-average crossover signals on daily cents per
    event type — regimes and flips decided by cross-multiplied integer
    sums, never a float mean."""
    from hiv_data_integration_spark.operators.aggregate import (
        ma_crossover_signals,
    )

    return ma_crossover_signals(
        _daily_cents(spark, sf_dir), ["event_type"], "day", "cents",
        short_window=7, long_window=28,
    )


SQL_MA_CROSSOVER_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
r AS (
    SELECT event_type, day, cents AS value,
           CASE WHEN COUNT(cents) OVER wl >= 28 THEN
                SUM(cents) OVER ws * COUNT(cents) OVER wl
                > SUM(cents) OVER wl * COUNT(cents) OVER ws
           END AS regime_up
    FROM daily
    WINDOW ws AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
           wl AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 27 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, value, regime_up,
       CAST(CASE WHEN regime_up IS NOT NULL
                  AND lag(regime_up) OVER wo IS NOT NULL THEN
            CASE WHEN regime_up AND NOT lag(regime_up) OVER wo THEN 1
                 WHEN NOT regime_up AND lag(regime_up) OVER wo THEN -1
                 ELSE 0 END
       END AS INTEGER) AS signal
FROM r WINDOW wo AS (PARTITION BY event_type ORDER BY day)
"""


def q_weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Jaccard between every pair of document sources' token
    count distributions — all-integer Σmin / (T₁+T₂−Σmin), one
    division per pair; only shared tokens ever join."""
    from hiv_data_integration_spark.operators.textops import (
        weighted_jaccard_sources,
    )

    docs = tbl(spark, sf_dir, "documents")
    return weighted_jaccard_sources(docs, "source", "text")


SQL_WEIGHTED_JACCARD_SOURCES = """
WITH counts AS (
    SELECT s, w, COUNT(*) AS c FROM (
        SELECT source AS s,
               unnest(list_filter(string_split_regex(lower(text),
                                                     '[^a-z0-9]+'),
                                  x -> x != '')) AS w
        FROM documents)
    GROUP BY 1, 2
),
totals AS (SELECT s, SUM(c) AS t FROM counts GROUP BY 1),
shared AS (
    SELECT a.s AS source_a, b.s AS source_b,
           CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS shared_min
    FROM counts a JOIN counts b ON a.w = b.w AND a.s < b.s
    GROUP BY 1, 2
)
SELECT source_a, source_b, shared_min,
       CAST(ta.t AS BIGINT) AS total_a,
       CAST(tb.t AS BIGINT) AS total_b,
       CAST(shared_min AS DOUBLE)
           / CAST(ta.t + tb.t - shared_min AS DOUBLE)
           AS weighted_jaccard
FROM shared
JOIN totals ta ON ta.s = source_a
JOIN totals tb ON tb.s = source_b
"""


def q_corr_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-moment Pearson r² (+ sign) between quantity and revenue
    cents per return flag — DECIMAL(38) sufficient statistics, r² as
    (num/dx)·(num/dy) so nothing overflows; no sqrt."""
    from hiv_data_integration_spark.operators.aggregate import (
        correlation_rsq,
    )

    li = tbl(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(
            F.col("l_extendedprice")
            * (F.lit(1.0) - F.col("l_discount"))
            * 100
            + F.lit(0.5)
        ).cast("long").alias("rev_cents"),
    )
    return correlation_rsq(base, "qty", "rev_cents", ["l_returnflag"])


SQL_CORR_QTY_REVENUE = """
WITH base AS (
    SELECT l_returnflag,
           CAST(l_quantity AS BIGINT) AS x,
           CAST(floor(CAST(l_extendedprice AS DOUBLE)
                      * (1.0 - CAST(l_discount AS DOUBLE))
                      * 100 + 0.5) AS BIGINT) AS y
    FROM lineitem
),
agg AS (
    SELECT l_returnflag,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy
    FROM base GROUP BY 1
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       CAST(sign(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE))
            AS INTEGER) AS sign,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
            (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
            * (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
       END AS r_squared
FROM agg
"""


def q_autocorr_lag7_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-7 autocorrelation of each event type's daily cents series —
    the weekly-seasonality detector, composed as correlation_rsq over
    the day/day−7 self-join."""
    from hiv_data_integration_spark.operators.aggregate import (
        correlation_rsq,
    )

    daily = _daily_cents(spark, sf_dir)
    prior = daily.select(
        "event_type",
        (F.col("day") + 7).alias("day"),
        F.col("cents").alias("prior"),
    )
    joined = daily.join(prior, ["event_type", "day"])
    return correlation_rsq(joined, "cents", "prior", ["event_type"])


SQL_AUTOCORR_LAG7_DAILY = f"""
WITH daily AS ({_SQL_DAILY_CENTS}),
base AS (
    SELECT a.event_type, a.cents AS x, b.cents AS y
    FROM daily a JOIN daily b
      ON a.event_type = b.event_type AND a.day = b.day + 7
),
agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy,
           SUM(CAST(x AS HUGEINT) * y) AS sxy
    FROM base GROUP BY 1
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(sign(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE))
            AS INTEGER) AS sign,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
            (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
             / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
            * (CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
               / CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE))
       END AS r_squared
FROM agg
"""


def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-LEAD matrix over documents: the
    fingerprint is the first 5 tokens (boilerplate/syndicated-lead
    detection — full-text md5 finds zero cross-source overlap in this
    corpus, the lead fingerprint finds the shared openings); exact
    shared counts + per-side shares via a posting-list join."""
    from hiv_data_integration_spark.operators.dedup import (
        cross_source_duplicate_matrix,
    )

    docs = tbl(spark, sf_dir, "documents")
    lead5 = F.array_join(
        F.slice(
            F.filter(
                F.split(F.lower(F.col("text")), r"[^a-z0-9]+"),
                lambda x: x != "",
            ),
            1,
            5,
        ),
        " ",
    )
    return cross_source_duplicate_matrix(docs, "source", lead5)


SQL_CROSS_SOURCE_DUPS = """
WITH m AS (
    SELECT DISTINCT source AS s,
           array_to_string(
               (list_filter(string_split_regex(lower(text),
                                               '[^a-z0-9]+'),
                            x -> x != ''))[1:5], ' ') AS k
    FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
),
sizes AS (SELECT s, COUNT(*) AS n FROM m GROUP BY 1),
shared AS (
    SELECT a.s AS source_a, b.s AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM m a JOIN m b ON a.k = b.k AND a.s < b.s
    GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b,
       CAST(n_shared AS DOUBLE) / CAST(na.n AS DOUBLE) AS share_of_a,
       CAST(n_shared AS DOUBLE) / CAST(nb.n AS DOUBLE) AS share_of_b
FROM shared
JOIN sizes na ON na.s = source_a
JOIN sizes nb ON nb.s = source_b
"""


def q_ess_doc_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of n_chars-weighted documents per
    language — Σw·(Σw/Σw²) fixed-order on exact DECIMAL sums; the
    reweighting health check."""
    from hiv_data_integration_spark.operators.sampling import (
        effective_sample_size,
    )

    docs = tbl(spark, sf_dir, "documents")
    return effective_sample_size(docs, "n_chars", ["lang"])


SQL_ESS_DOC_WEIGHTS = """
WITH base AS (
    SELECT lang, CAST(n_chars AS HUGEINT) AS w
    FROM documents WHERE n_chars > 0
),
agg AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
           SUM(w) AS sw, SUM(w * w) AS sww
    FROM base GROUP BY 1
)
SELECT lang, n_rows, CAST(sw AS BIGINT) AS sum_w,
       CAST(CAST(sw AS VARCHAR) AS DOUBLE)
           * (CAST(CAST(sw AS VARCHAR) AS DOUBLE)
              / CAST(CAST(sww AS VARCHAR) AS DOUBLE)) AS ess,
       (CAST(CAST(sw AS VARCHAR) AS DOUBLE)
        * (CAST(CAST(sw AS VARCHAR) AS DOUBLE)
           / CAST(CAST(sww AS VARCHAR) AS DOUBLE)))
           / CAST(n_rows AS DOUBLE) AS ess_ratio
FROM agg
"""


def q_behavior_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior bitmask census over the five event types at USER-DAY
    grain (lifetime masks all saturate to 31 in this corpus — the
    daily mask is the discriminative census): per user-day bit_or of
    explicit-order bits, then exact mask segment sizes with readable
    labels."""
    from hiv_data_integration_spark.operators.aggregate import (
        behavior_bitmask_segments,
    )

    ev = tbl(spark, sf_dir, "events").withColumn(
        "user_day",
        F.col("user_id") * 100000
        + F.unix_date(F.col("ts").cast("date")).cast("long"),
    )
    return behavior_bitmask_segments(
        ev, "user_day", "event_type",
        ["click", "error", "purchase", "signup", "view"],
    )


SQL_BEHAVIOR_SEGMENTS = """
WITH m AS (
    SELECT user_id * 100000
           + CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS user_day,
           bit_or(CASE event_type WHEN 'click' THEN 1
                                  WHEN 'error' THEN 2
                                  WHEN 'purchase' THEN 4
                                  WHEN 'signup' THEN 8
                                  WHEN 'view' THEN 16
                                  ELSE 0 END) AS mask
    FROM events GROUP BY 1
)
SELECT CAST(mask AS BIGINT) AS mask,
       concat_ws('+',
           CASE WHEN mask & 1 > 0 THEN 'click' END,
           CASE WHEN mask & 2 > 0 THEN 'error' END,
           CASE WHEN mask & 4 > 0 THEN 'purchase' END,
           CASE WHEN mask & 8 > 0 THEN 'signup' END,
           CASE WHEN mask & 16 > 0 THEN 'view' END) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM m GROUP BY mask
"""


def q_peak_concurrency_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous user sessions (30-min gap sessions → [first,
    last) half-open intervals → sweep-line): single-event sessions have
    empty intervals and carry no occupancy by contract; boundary ties
    close-before-open so back-to-back sessions never double-count."""
    from hiv_data_integration_spark.operators.aggregate import (
        max_concurrency,
        sessionize,
    )

    ev = tbl(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", gap_minutes=30)
    intervals = sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    return max_concurrency(intervals, "s", "e")


SQL_PEAK_CONCURRENCY_SESSIONS = """
WITH gaps AS (
    SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL THEN 1
                WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1
                ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM gaps
),
iv AS (
    SELECT user_id, session_seq,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS e
    FROM sess GROUP BY 1, 2
),
iv2 AS (SELECT * FROM iv WHERE e > s),
ev2 AS (
    SELECT s AS t, 1 AS d FROM iv2
    UNION ALL SELECT e, -1 FROM iv2
),
r AS (
    SELECT t, SUM(d) OVER (ORDER BY t, d ROWS UNBOUNDED PRECEDING) AS c
    FROM ev2
),
m AS (SELECT *, MAX(c) OVER () AS mm FROM r)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM iv2) AS n_intervals,
       CAST(MAX(mm) AS BIGINT) AS peak_concurrency,
       CAST(MIN(CASE WHEN c = mm THEN t END) AS BIGINT) AS t_peak
FROM m
"""


def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: global revenue tiers (ABC, all-integer
    boundary math) × monthly-demand variability tiers (XYZ, exact CV²
    rationals) per part, cross-tabulated — the 9-cell stocking-policy
    census."""
    from hiv_data_integration_spark.operators.aggregate import (
        abc_classification,
        xyz_classification,
    )

    li = tbl(spark, sf_dir, "lineitem")
    rev = (
        li.select(
            "l_partkey",
            F.floor(
                F.col("l_extendedprice")
                * (F.lit(1.0) - F.col("l_discount"))
                * 100
                + F.lit(0.5)
            ).cast("long").alias("_rc"),
        )
        .groupBy("l_partkey")
        .agg(F.sum("_rc").alias("rev_cents"))
        .withColumn("_all", F.lit(1))
    )
    abc = abc_classification(
        rev, ["_all"], ["l_partkey"], "rev_cents"
    ).select("l_partkey", "abc_class")
    monthly = li.select(
        "l_partkey",
        (
            F.year("l_shipdate").cast("long") * 12
            + F.month("l_shipdate").cast("long")
            - 1
        ).alias("mon"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    xyz = xyz_classification(
        monthly, ["l_partkey"], "mon", "qty"
    ).select("l_partkey", "xyz_class")
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(F.count("*").cast("long").alias("n_parts"))
    )


SQL_ABC_XYZ_MATRIX = """
WITH rev AS (
    SELECT l_partkey,
           CAST(SUM(CAST(floor(CAST(l_extendedprice AS DOUBLE)
                               * (1.0 - CAST(l_discount AS DOUBLE))
                               * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value
    FROM lineitem GROUP BY 1
),
cum AS (
    SELECT l_partkey, value,
           SUM(value) OVER (ORDER BY value DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS c,
           SUM(value) OVER () AS total
    FROM rev
),
abc AS (
    SELECT l_partkey,
           CASE WHEN 100 * (c - value) < 80 * total THEN 'A'
                WHEN 100 * (c - value) < 95 * total THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum
),
monthly AS (
    SELECT l_partkey,
           CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
               AS mon,
           SUM(CAST(l_quantity AS BIGINT)) AS x
    FROM lineitem GROUP BY 1, 2
),
mom AS (
    SELECT l_partkey,
           CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS s1,
           SUM(CAST(x AS HUGEINT) * x) AS s2
    FROM monthly GROUP BY 1
),
xyz AS (
    SELECT l_partkey,
           CASE WHEN s1 <= 0 THEN 'Z'
                WHEN 4 * (n * s2 - s1 * s1) <= 1 * (s1 * s1) THEN 'X'
                WHEN 1 * (n * s2 - s1 * s1) <= 1 * (s1 * s1) THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM mom
)
SELECT abc_class, xyz_class, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM abc JOIN xyz USING (l_partkey)
GROUP BY 1, 2
"""


def q_sla_p95_ship_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p95 order→ship delay per order priority with an SLA breach flag
    — the percentile is an ORDER-STATISTIC selection at ⌈0.95·n⌉
    (exact integer days, rank ties broken by line id so the selection
    is unique), never an interpolated float."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    d = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
                "delay_days"
            ),
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("_id"),
        )
        .filter(F.col("delay_days").isNotNull())
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("delay_days"), F.col("_id")
    )
    w_all = Window.partitionBy("o_orderpriority")
    ranked = d.select(
        "o_orderpriority",
        "delay_days",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(w_all).alias("_n"),
    )
    sel = ranked.filter(
        F.col("_rn") == F.expr("CAST((_n * 95 + 99) div 100 AS BIGINT)")
    )
    return sel.select(
        "o_orderpriority",
        F.col("_n").cast("long").alias("n_lines"),
        F.col("delay_days").cast("long").alias("p95_delay_days"),
        (F.col("delay_days") > 100).alias("sla_breach"),
    )


SQL_SLA_P95_SHIP_DELAY = """
WITH d AS (
    SELECT o_orderpriority,
           CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT) AS delay_days,
           l_orderkey * 10 + l_linenumber AS id
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate IS NOT NULL AND o_orderdate IS NOT NULL
),
ranked AS (
    SELECT o_orderpriority, delay_days,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY delay_days, id) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM d
)
SELECT o_orderpriority,
       CAST(n AS BIGINT) AS n_lines,
       CAST(delay_days AS BIGINT) AS p95_delay_days,
       delay_days > 100 AS sla_breach
FROM ranked WHERE rn = (n * 95 + 99) // 100
"""


def q_top_decile_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the exact share carried by the top 10%
    of customers (⌈n/10⌉ by revenue, total order) — integer head
    selection + exact cents sums, one division."""
    from pyspark.sql.window import Window

    orders = tbl(spark, sf_dir, "orders")
    rev = (
        orders.select(
            "o_custkey",
            F.floor(
                F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)
            ).cast("long").alias("_rc"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("_rc").alias("rev_cents"))
    )
    w = Window.orderBy(F.col("rev_cents").desc(), F.col("o_custkey"))
    ranked = rev.select(
        "o_custkey",
        "rev_cents",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy()).alias("_n"),
    )
    agg = ranked.agg(
        F.max("_n").cast("long").alias("n_customers"),
        F.max(F.expr("CAST((_n + 9) div 10 AS BIGINT)")).alias("_k"),
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.sum(
            F.when(
                F.col("_rn") <= F.expr("(_n + 9) div 10"),
                F.col("rev_cents"),
            ).otherwise(0)
        ).cast("long").alias("top_decile_cents"),
    )
    return agg.select(
        "n_customers",
        F.col("_k").alias("n_top"),
        "total_cents",
        "top_decile_cents",
        (
            F.col("top_decile_cents").cast("double")
            / F.col("total_cents").cast("double")
        ).alias("top_decile_share"),
    )


SQL_TOP_DECILE_REVENUE_SHARE = """
WITH rev AS (
    SELECT o_custkey,
           CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS rev_cents
    FROM orders GROUP BY 1
),
ranked AS (
    SELECT o_custkey, rev_cents,
           ROW_NUMBER() OVER (ORDER BY rev_cents DESC, o_custkey) AS rn,
           COUNT(*) OVER () AS n
    FROM rev
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       CAST(MAX((n + 9) // 10) AS BIGINT) AS n_top,
       CAST(SUM(rev_cents) AS BIGINT) AS total_cents,
       CAST(SUM(CASE WHEN rn <= (n + 9) // 10 THEN rev_cents
                     ELSE 0 END) AS BIGINT) AS top_decile_cents,
       CAST(SUM(CASE WHEN rn <= (n + 9) // 10 THEN rev_cents
                     ELSE 0 END) AS DOUBLE)
           / CAST(SUM(rev_cents) AS DOUBLE) AS top_decile_share
FROM ranked
"""


def q_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus curation: rank documents by an integer-quantized
    quality ratio (unique-token fraction, scaled to [0, 1e6] via exact
    integer division) and greedily keep the best until 2/5 of the corpus'
    total whitespace tokens are spent. The engine runs the bucketed
    two-phase selection in :func:`sp.token_budget_select` (no global sort);
    the oracle runs the literal global-window greedy — identical output
    proves the distributed algorithm."""
    docs = _spread(tbl(spark, sf_dir, "documents"))
    toks = tx.whitespace_tokens(F.lower(F.col("text")))
    d = docs.select(
        "doc_id", "lang", toks.alias("_t")
    ).select(
        "doc_id",
        "lang",
        F.size("_t").cast("long").alias("toks"),
        F.size(F.array_distinct("_t")).cast("long").alias("uniq"),
    ).filter(F.col("toks") > 0).select(
        "doc_id", "lang", "toks",
        F.expr("uniq * 1000000 div toks").alias("ratio_k"),
    )
    sel = sp.token_budget_select(d, "doc_id", "toks", "ratio_k", 2, 5)
    return sel.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("sel_tokens"),
        F.min("ratio_k").cast("long").alias("min_ratio_k"),
    )


SQL_CORPUS_BUDGET_SELECT = """
WITH raw AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       x -> x != '') AS t
    FROM documents
),
d AS (
    SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS toks,
           (CAST(len(list_distinct(t)) AS BIGINT) * 1000000)
               // CAST(len(t) AS BIGINT) AS ratio_k
    FROM raw WHERE len(t) > 0
),
o AS (
    SELECT *, SUM(toks) OVER (ORDER BY ratio_k DESC, doc_id) AS cum FROM d
),
b AS (SELECT (SUM(toks) * 2) // 5 AS budget FROM d)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS sel_tokens,
       CAST(MIN(ratio_k) AS BIGINT) AS min_ratio_k
FROM o, b WHERE cum <= budget GROUP BY lang
"""


def q_pii_risk_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier co-occurrence triage: deterministic synthetic PII
    (email on doc_id%3, phone on doc_id%4, IPv4 on doc_id%5 — so kinds
    co-occur on the lcm residues) injected per document, then per-row
    DISTINCT-kind counts on the ORIGINAL text and a none/single/multi
    tier census per source. Counting kinds on unredacted text means an
    IPv4 may legitimately also match the phone-shaped digit-run pattern —
    both engines run the identical pattern set so the tiers agree."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    injected = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" reach user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.org"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" call +225 010203"),
                    (F.col("doc_id") % 90 + 10).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" node 192.168.1."),
                    (F.col("doc_id") % 256).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    tiers = tx.pii_risk_tiers(injected)
    return tiers.groupBy("source", "pii_tier").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_pii_kinds").cast("long").alias("total_kinds"),
    )


_PII_E = tx.PII_PATTERNS["email"]
_PII_I = tx.PII_PATTERNS["ipv4"]
_PII_P = tx.PII_PATTERNS["phone"]

SQL_PII_RISK_TRIAGE = f"""
WITH injected AS (
    SELECT doc_id, source,
           text
           || CASE WHEN doc_id % 3 = 0
                   THEN ' reach user' || CAST(doc_id AS VARCHAR)
                        || '@example.org' ELSE '' END
           || CASE WHEN doc_id % 4 = 0
                   THEN ' call +225 010203'
                        || CAST(doc_id % 90 + 10 AS VARCHAR) ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN ' node 192.168.1.'
                        || CAST(doc_id % 256 AS VARCHAR) ELSE '' END AS text
    FROM documents
),
k AS (
    SELECT doc_id, source,
           (CASE WHEN regexp_matches(text, '{_PII_E}') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(text, '{_PII_I}') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(text, '{_PII_P}') THEN 1 ELSE 0 END)
               AS n_pii_kinds
    FROM injected
)
SELECT source,
       CASE WHEN n_pii_kinds = 0 THEN 'none'
            WHEN n_pii_kinds = 1 THEN 'single'
            ELSE 'multi' END AS pii_tier,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_pii_kinds) AS BIGINT) AS total_kinds
FROM k GROUP BY 1, 2
"""


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage audit: top-100 corpus tokens with cumulative share of
    ALL token occurrences — the concentration curve behind stopword lists
    and tokenizer-vocabulary sizing. cum_share is one division of two
    exact integers (bit-portable)."""
    docs = tbl(spark, sf_dir, "documents").select("text")
    return tx.vocab_coverage(docs, k=100)


SQL_VOCAB_COVERAGE_CURVE = """
WITH toks AS (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                  x -> x != '')) AS token
    FROM documents
),
c AS (
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM toks GROUP BY token
),
t AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS total FROM c),
r AS (
    SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank
    FROM c
),
top AS (SELECT * FROM r WHERE rank <= 100),
cc AS (SELECT *, SUM(n_occurrences) OVER (ORDER BY rank) AS cum FROM top)
SELECT CAST(rank AS BIGINT) AS rank, token, n_occurrences,
       CAST(CAST(cum AS BIGINT) AS DOUBLE)
           / CAST(total AS DOUBLE) AS cum_share
FROM cc, t
"""


def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH quality evaluation — "measure, don't guess" for the
    dedup stack: banding candidate pairs vs the EXACT n-gram-Jaccard
    ground truth (posting-list join — O(postings), never all-pairs on the
    engine side), with candidate precision (how selective are the bands)
    and recall (what fraction of true >=0.6 pairs the bands surface).
    One summary row of exact counts + two exact-integer divisions.
    ``truth_sample_mod=1`` here pins the exact full-truth path the
    oracle mirrors; the md5 pair-subsample knob (mod > 1, unbiased
    precision/recall at 1/mod the ground-truth cost) is unit-tested in
    tests/test_operators.py."""
    corpus = _dup_corpus(spark, sf_dir)
    return dd.minhash_lsh_eval(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.6, partitions=32, truth_sample_mod=1,
    )


SQL_MINHASH_EVAL = f"""
WITH {_DUP_CORPUS_SQL},
{_minhash_sig_ctes("corpus")},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
truth AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM docs2 a JOIN docs2 b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles)) > 0
      AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(a.shingles, b.shingles)))
                 AS DOUBLE) >= 0.6
),
ver AS (SELECT * FROM cand INTERSECT SELECT * FROM truth),
n AS (
    SELECT CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM ver) AS BIGINT) AS n_verified
)
SELECT n_candidates, n_truth, n_verified,
       CAST(n_verified AS DOUBLE) / CAST(n_candidates AS DOUBLE) AS precision,
       CAST(n_verified AS DOUBLE) / CAST(n_truth AS DOUBLE) AS recall
FROM n
"""


def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination audit: near-duplicate pairs (verified
    MinHash, Jaccard >= 0.6) that CROSS split boundaries are leakage — a
    mutated near-copy of a train doc landing in test inflates eval. The
    planted dup corpus guarantees nonzero leakage (doc_id and
    doc_id+100000 hash to independent splits). Output: pair census per
    unordered split pair with the leak flag."""
    corpus = _dup_corpus(spark, sf_dir)
    split = sp.hash_split(corpus, "doc_id", train=0.8, val=0.1).select(
        "doc_id", "split"
    )
    pairs = dd.minhash_candidate_pairs(
        corpus, "doc_id", "text", shingle_n=3, num_hashes=16, bands=4,
        jaccard_threshold=0.6, partitions=32,
    ).select("id_a", "id_b")
    j = (
        pairs.join(
            split.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("s_a")
            ),
            "id_a",
        )
        .join(
            split.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("s_b")
            ),
            "id_b",
        )
    )
    return (
        j.select(
            F.least("s_a", "s_b").alias("split_lo"),
            F.greatest("s_a", "s_b").alias("split_hi"),
        )
        .groupBy("split_lo", "split_hi")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .withColumn("is_leak", F.col("split_lo") != F.col("split_hi"))
    )


SQL_SPLIT_LEAKAGE_AUDIT = f"""
WITH {_DUP_CORPUS_SQL},
{_minhash_sig_ctes("corpus")},
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                    a.shingles AS sh_a, b.shingles AS sh_b
    FROM bands a JOIN bands b
      ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
pairs AS (
    SELECT id_a, id_b FROM cand
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE)
              >= 0.6
),
sp AS (
    SELECT doc_id,
           CASE WHEN CAST('0x' || substr(md5('split:'
                        || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                     < 52429 THEN 'train'
                WHEN CAST('0x' || substr(md5('split:'
                        || CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
                     < 58982 THEN 'val'
                ELSE 'test' END AS split
    FROM corpus
)
SELECT least(a.split, b.split) AS split_lo,
       greatest(a.split, b.split) AS split_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       least(a.split, b.split) != greatest(a.split, b.split) AS is_leak
FROM pairs p
JOIN sp a ON p.id_a = a.doc_id
JOIN sp b ON p.id_b = b.doc_id
GROUP BY 1, 2
"""


def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (first 3 merge rules) over the documents
    corpus — word-frequency-table formulation, so the per-iteration work
    is vocabulary-sized regardless of corpus size; greedy non-overlapping
    merges with deterministic (count desc, pair asc) rule selection. The
    oracle unrolls all three train steps as CTE stages, including the
    even-offset parity rule for left==right runs."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("text")
    return tx.bpe_learn_merges(docs, iterations=3)


# Shared 3-stage BPE training CTE chain (words -> pair counts -> argmax
# -> position-set merge), composed into BOTH the merge-rule oracle and
# the encoded-symbol census oracle so the two can never drift apart.
_BPE_TRAIN_CTES = """WITH wd0 AS (
    SELECT regexp_split_to_array(word, '') AS s,
           CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\\s+'),
                   x -> x != '')) AS word
        FROM documents)
    WHERE regexp_matches(word, '^[a-z]+$') AND len(word) >= 2
    GROUP BY word
),
p1 AS (
    SELECT s[u.i] AS l, s[u.i + 1] AS r, freq
    FROM wd0, UNNEST(range(1, len(s))) AS u(i)
),
c1 AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM p1 GROUP BY l, r),
b1 AS (SELECT l, r, cnt FROM c1 ORDER BY cnt DESC, l, r LIMIT 1),
m1 AS (
    SELECT s, freq, l, r,
           CASE WHEN l = r THEN
               list_filter(
                   list_filter(range(1, len(s)), i -> s[i] = l AND s[i + 1] = r),
                   m -> (m - coalesce(list_max(
                            list_filter(range(1, m), j -> s[j] != l)), 0) - 1)
                        % 2 = 0)
           ELSE list_filter(range(1, len(s)), i -> s[i] = l AND s[i + 1] = r)
           END AS K
    FROM wd0, b1
),
wd1 AS (
    SELECT list_transform(
               list_filter(range(1, len(s) + 1),
                           i -> NOT list_contains(
                                    list_transform(K, m -> m + 1), i)),
               i -> CASE WHEN list_contains(K, i)
                         THEN s[i] || s[i + 1] ELSE s[i] END) AS s,
           freq
    FROM m1
),
p2 AS (
    SELECT s[u.i] AS l, s[u.i + 1] AS r, freq
    FROM wd1, UNNEST(range(1, len(s))) AS u(i)
),
c2 AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM p2 GROUP BY l, r),
b2 AS (SELECT l, r, cnt FROM c2 ORDER BY cnt DESC, l, r LIMIT 1),
m2 AS (
    SELECT s, freq, l, r,
           CASE WHEN l = r THEN
               list_filter(
                   list_filter(range(1, len(s)), i -> s[i] = l AND s[i + 1] = r),
                   m -> (m - coalesce(list_max(
                            list_filter(range(1, m), j -> s[j] != l)), 0) - 1)
                        % 2 = 0)
           ELSE list_filter(range(1, len(s)), i -> s[i] = l AND s[i + 1] = r)
           END AS K
    FROM wd1, b2
),
wd2 AS (
    SELECT list_transform(
               list_filter(range(1, len(s) + 1),
                           i -> NOT list_contains(
                                    list_transform(K, m -> m + 1), i)),
               i -> CASE WHEN list_contains(K, i)
                         THEN s[i] || s[i + 1] ELSE s[i] END) AS s,
           freq
    FROM m2
),
p3 AS (
    SELECT s[u.i] AS l, s[u.i + 1] AS r, freq
    FROM wd2, UNNEST(range(1, len(s))) AS u(i)
),
c3 AS (SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM p3 GROUP BY l, r),
b3 AS (SELECT l, r, cnt FROM c3 ORDER BY cnt DESC, l, r LIMIT 1),
m3 AS (
    SELECT s, freq, l, r,
           CASE WHEN l = r THEN
               list_filter(
                   list_filter(range(1, len(s)), i -> s[i] = l AND s[i + 1] = r),
                   m -> (m - coalesce(list_max(
                            list_filter(range(1, m), j -> s[j] != l)), 0) - 1)
                        % 2 = 0)
           ELSE list_filter(range(1, len(s)), i -> s[i] = l AND s[i + 1] = r)
           END AS K
    FROM wd2, b3
),
wd3 AS (
    SELECT list_transform(
               list_filter(range(1, len(s) + 1),
                           i -> NOT list_contains(
                                    list_transform(K, m -> m + 1), i)),
               i -> CASE WHEN list_contains(K, i)
                         THEN s[i] || s[i + 1] ELSE s[i] END) AS s,
           freq
    FROM m3
)
"""

SQL_BPE_LEARN_MERGES = f"""{_BPE_TRAIN_CTES}
SELECT CAST(1 AS BIGINT) AS iteration, l AS left_sym, r AS right_sym,
       l || r AS merged, cnt AS pair_count FROM b1
UNION ALL
SELECT CAST(2 AS BIGINT), l, r, l || r, cnt FROM b2
UNION ALL
SELECT CAST(3 AS BIGINT), l, r, l || r, cnt FROM b3
"""

SQL_BPE_ENCODED_SYMBOLS = f"""{_BPE_TRAIN_CTES},
occ AS (
    SELECT symbol, CAST(SUM(freq) AS BIGINT) AS n_occurrences
    FROM (SELECT freq, unnest(s) AS symbol FROM wd3)
    GROUP BY symbol
),
rk AS (
    SELECT *, row_number() OVER (ORDER BY n_occurrences DESC, symbol) AS rank
    FROM occ
)
SELECT CAST(rank AS BIGINT) AS rank, symbol,
       CAST(len(symbol) AS BIGINT) AS n_chars, n_occurrences
FROM rk WHERE rank <= 20
"""


def q_bpe_encoded_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY side of BPE training: tokenize the vocabulary with the 3
    learned merges and census the resulting symbol inventory (top-20 by
    weighted occurrence, with symbol character lengths) — the compression
    audit of the learned rules. Shares the trainer (and, on the oracle
    side, the _BPE_TRAIN_CTES chain) with bpe_learn_merges."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("text")
    return tx.bpe_encoded_symbol_topk(docs, iterations=3, k=20)


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled multilingual sampling allocation (the
    XLM-R/mT5 recipe): per-language token mass -> alpha=0.5 temperature
    weights (sqrt flattens the head so low-resource languages are not
    drowned) -> EXACT largest-remainder allocation of a 1,000,000-sample
    budget. sqrt is IEEE-correctly-rounded on both engines and the weight
    is quantized to integer milli-units before the all-BIGINT Hamilton
    proration, so every allocated count is bit-portable."""
    from hiv_data_integration_spark.operators.aggregate import (
        largest_remainder_allocation,
    )

    docs = tbl(spark, sf_dir, "documents")
    t = (
        docs.select("lang", tx.token_count(F.col("text")).alias("_tok"))
        .groupBy("lang")
        .agg(F.sum("_tok").cast("long").alias("tokens"))
    )
    w = t.select(
        "lang",
        "tokens",
        F.floor(F.sqrt(F.col("tokens").cast("double")) * 1000)
        .cast("long")
        .alias("weight"),
        F.lit(1000000).cast("long").alias("_total"),
        F.lit("all").alias("_grp"),
    )
    alloc = largest_remainder_allocation(
        w, "_grp", "weight", "_total", ["lang"]
    )
    return alloc.join(t, "lang").select("lang", "tokens", "weight", "allocated")


SQL_TEMPERATURE_MIXTURE = """
WITH t AS (
    SELECT lang,
           CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
               AS tokens
    FROM documents GROUP BY lang
),
w AS (
    SELECT lang, tokens,
           CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * 1000) AS BIGINT)
               AS weight
    FROM t
),
tot AS (SELECT SUM(weight) AS total_w FROM w),
f AS (
    SELECT lang, tokens, weight,
           (1000000 * weight) // total_w AS fl,
           (1000000 * weight) % total_w AS rem
    FROM w, tot
),
d AS (SELECT SUM(fl) AS sfl FROM f),
r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, lang) AS rk FROM f)
SELECT lang, tokens, weight,
       CAST(fl + CASE WHEN rk <= 1000000 - sfl THEN 1 ELSE 0 END AS BIGINT)
           AS allocated
FROM r, d
"""


def q_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing audit: assign each document to the
    smallest power-of-2 length bucket (16..512 tokens; longer docs clamp
    to the 512 bucket as truncation), then census the padding a
    fixed-shape training batch would waste per bucket — the
    length-bucketing decision every trainer makes, quantified. All
    integer sums + one exact division per bucket."""
    docs = tbl(spark, sf_dir, "documents")
    n = tx.token_count(F.col("text"))
    cap = (
        F.when(n <= 16, 16).when(n <= 32, 32).when(n <= 64, 64)
        .when(n <= 128, 128).when(n <= 256, 256).otherwise(512)
    ).cast("long")
    d = docs.select(
        n.alias("_n"),
        cap.alias("bucket_cap"),
    ).select(
        "bucket_cap",
        F.least(F.col("_n"), F.col("bucket_cap")).alias("_kept"),
        F.greatest(F.col("_n") - F.col("bucket_cap"), F.lit(0).cast("long"))
        .alias("_trunc"),
    )
    return d.groupBy("bucket_cap").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_kept").cast("long").alias("total_tokens"),
        F.sum(F.col("bucket_cap") - F.col("_kept")).cast("long")
        .alias("total_padding"),
        F.sum("_trunc").cast("long").alias("total_truncated"),
        (
            F.sum(F.col("bucket_cap") - F.col("_kept")).cast("double")
            / (F.count("*") * F.first("bucket_cap")).cast("double")
        ).alias("waste_frac"),
    )


SQL_PADDING_WASTE = f"""
WITH d AS (
    SELECT CAST({_NTOK_SQL} AS BIGINT) AS n FROM documents
),
b AS (
    SELECT n,
           CAST(CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                     WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                     WHEN n <= 256 THEN 256 ELSE 512 END AS BIGINT)
               AS bucket_cap
    FROM d
)
SELECT bucket_cap,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(least(n, bucket_cap)) AS BIGINT) AS total_tokens,
       CAST(SUM(bucket_cap - least(n, bucket_cap)) AS BIGINT)
           AS total_padding,
       CAST(SUM(greatest(n - bucket_cap, 0)) AS BIGINT) AS total_truncated,
       CAST(CAST(SUM(bucket_cap - least(n, bucket_cap)) AS BIGINT) AS DOUBLE)
           / CAST(COUNT(*) * bucket_cap AS DOUBLE) AS waste_frac
FROM b GROUP BY bucket_cap
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities (3
    iterations, count-desc/min-label tie-break) over the same synthetic
    customer graph as the PageRank entry; output is the community census
    (label, size, member-id checksum). The oracle unrolls all three
    synchronous rounds — vote counts, per-node argmax, isolated-node
    carry-over — as plain SQL stages."""
    cust = tbl(spark, sf_dir, "customer")
    n = cust.count()
    k = F.col("c_custkey").cast("long")
    nodes = cust.select(k.alias("node"))
    e1 = cust.select(
        k.alias("src"), F.expr("c_custkey div 10").cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    e2 = cust.select(
        k.alias("src"), ((k * 7 + 3) % F.lit(n)).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    labels = dd.label_propagation(e1.unionByName(e2), nodes, iters=3)
    return labels.groupBy(F.col("label")).agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("node").cast("long").alias("member_checksum"),
    )


SQL_LABEL_PROPAGATION = """WITH nn AS (SELECT count(*) AS cnt FROM customer),
nodes AS (SELECT CAST(c_custkey AS BIGINT) AS n FROM customer),
edges0 AS (
    SELECT CAST(c_custkey AS BIGINT) AS src,
           CAST(c_custkey AS BIGINT) // 10 AS dst
    FROM customer WHERE CAST(c_custkey AS BIGINT) // 10 <> c_custkey
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT),
           (c_custkey * 7 + 3) % (SELECT cnt FROM nn)
    FROM customer
    WHERE (c_custkey * 7 + 3) % (SELECT cnt FROM nn) <> c_custkey
),
sedges AS (
    SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges0
        UNION ALL
        SELECT dst AS u, src AS v FROM edges0
    ) WHERE u <> v
),
l0 AS (SELECT n, n AS lab FROM nodes),
v0 AS (
    SELECT e.v AS node, l.lab, count(*) AS c
    FROM sedges e JOIN l0 l ON l.n = e.u GROUP BY 1, 2
),
a0 AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab) AS rk
        FROM v0)
    WHERE rk = 1
),
l1 AS (
    SELECT l.n, COALESCE(a.lab, l.lab) AS lab
    FROM l0 l LEFT JOIN a0 a ON a.node = l.n
),
v1 AS (
    SELECT e.v AS node, l.lab, count(*) AS c
    FROM sedges e JOIN l1 l ON l.n = e.u GROUP BY 1, 2
),
a1 AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab) AS rk
        FROM v1)
    WHERE rk = 1
),
l2 AS (
    SELECT l.n, COALESCE(a.lab, l.lab) AS lab
    FROM l1 l LEFT JOIN a1 a ON a.node = l.n
),
v2 AS (
    SELECT e.v AS node, l.lab, count(*) AS c
    FROM sedges e JOIN l2 l ON l.n = e.u GROUP BY 1, 2
),
a2 AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab) AS rk
        FROM v2)
    WHERE rk = 1
),
l3 AS (
    SELECT l.n, COALESCE(a.lab, l.lab) AS lab
    FROM l2 l LEFT JOIN a2 a ON a.node = l.n
),
census AS (
    SELECT lab AS label, CAST(count(*) AS BIGINT) AS n_members,
           CAST(SUM(n) AS BIGINT) AS member_checksum
    FROM l3 GROUP BY lab
)
SELECT label, n_members, member_checksum FROM census"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct count over orders.o_orderkey: md5
    registers (mergeable sketch state an engine-agnostic pipeline can
    store per segment and max-merge), exact-rational harmonic sum, raw
    estimate, and a 4-sigma accuracy gate the oracle re-derives and must
    agree is TRUE. Unlike approx_count_distinct (Spark-internal xxhash,
    not reproducible outside Spark) every step here is engine-portable."""
    from hiv_data_integration_spark.operators.aggregate import (
        hll_estimate,
        hll_registers,
    )

    orders = tbl(spark, sf_dir, "orders")
    est = hll_estimate(hll_registers(orders, "o_orderkey"))
    exact = orders.agg(
        F.count_distinct("o_orderkey").cast("long").alias("n_exact")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "m",
        "max_register",
        "harmonic_num",
        "estimate",
        "n_exact",
        (
            F.abs(
                F.col("estimate") / F.col("n_exact").cast("double") - 1.0
            )
            <= 0.26
        ).alias("within_4sigma"),
    )


SQL_HLL_DISTINCT = """
WITH h AS (
    SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM orders
),
r AS (
    SELECT h % 256 AS bucket,
           MAX(CASE WHEN h // 256 = 0 THEN 53
                    ELSE 53 - length(bin(h // 256)) END) AS register
    FROM h GROUP BY 1
),
a AS (
    SELECT CAST(MAX(register) AS BIGINT) AS max_register,
           CAST(COUNT(*) AS BIGINT) AS nonempty
    FROM r
),
np AS (
    SELECT CAST(SUM(CAST(pow(2.0, a.max_register - r.register) AS BIGINT))
                AS BIGINT) AS s
    FROM r, a
),
est AS (
    SELECT CAST(256 AS BIGINT) AS m, a.max_register,
           CAST(np.s + (256 - a.nonempty)
                * CAST(pow(2.0, a.max_register) AS BIGINT) AS BIGINT)
               AS harmonic_num
    FROM a, np
),
x AS (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_exact FROM orders)
SELECT m, max_register, harmonic_num,
       47072.71267120224 * pow(2.0, max_register)
           / CAST(harmonic_num AS DOUBLE) AS estimate,
       n_exact,
       abs(47072.71267120224 * pow(2.0, max_register)
           / CAST(harmonic_num AS DOUBLE) / CAST(n_exact AS DOUBLE) - 1.0)
           <= 0.26 AS within_4sigma
FROM est, x
"""


def q_hist_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantile sketch over
    orders.o_totalprice: the (bin, count) table is sum-mergeable segment
    state (the quantile analogue of the HLL/count-min register tables);
    P50/P90/P99 are estimated as the upper edge of the bin where the
    cumulative count crosses ceil(p*n/100) and checked against the EXACT
    order statistics with a one-bin-width error gate the oracle
    re-derives and must agree is TRUE. Every float step (bin width, bin
    index, edge reconstruction) is the identical IEEE op sequence on
    both engines; ranks are exact integers."""
    from pyspark.sql.window import Window

    o = tbl(spark, sf_dir, "orders").select(F.col("o_totalprice").alias("x"))
    mm = o.agg(
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
        F.count("*").cast("long").alias("n"),
    ).withColumn("w", (F.col("mx") - F.col("mn")) / F.lit(128.0))
    b = o.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.floor((F.col("x") - F.col("mn")) / F.col("w")).cast("long"),
            F.lit(127).cast("long"),
        ).alias("bin")
    )
    hist = b.groupBy("bin").agg(F.count("*").cast("long").alias("cnt"))
    cum = hist.withColumn(
        "cum", F.sum("cnt").over(Window.orderBy("bin"))
    )
    tgt = mm.select(
        "mn", "w", "n",
        F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("p"),
    ).select(
        "mn", "w",
        F.col("p").cast("long").alias("p"),
        F.expr("(n * p + 99) div 100").cast("long").alias("t"),
    )
    crossing = (
        tgt.join(F.broadcast(cum), F.col("cum") >= F.col("t"))
        .groupBy("p", "mn", "w", "t")
        .agg(F.min("bin").alias("qbin"))
    )
    rn = o.select(
        "x", F.row_number().over(Window.orderBy("x")).cast("long").alias("r")
    )
    exact = crossing.select("p", "t").join(
        rn, F.col("r") == F.col("t")
    ).select("p", F.col("x").alias("exact"))
    est = (
        F.col("mn") + (F.col("qbin") + 1).cast("double") * F.col("w")
    )
    return crossing.join(exact, "p").select(
        "p",
        est.alias("est"),
        "exact",
        (
            F.abs(est - F.col("exact"))
            <= F.col("w") + F.col("w") * F.lit(1e-9)
        ).alias("within_one_bin"),
    )


SQL_HIST_QUANTILE = """
WITH o AS (SELECT o_totalprice AS x FROM orders),
mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx, CAST(COUNT(*) AS BIGINT) AS n
       FROM o),
par AS (SELECT mn, mx, n, (mx - mn) / 128.0 AS w FROM mm),
b AS (
    SELECT least(CAST(floor((x - mn) / w) AS BIGINT), 127) AS bin
    FROM o, par
),
hist AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bin),
cum AS (SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM hist),
tgt AS (
    SELECT CAST(v.p AS BIGINT) AS p,
           CAST((par.n * v.p + 99) // 100 AS BIGINT) AS t, mn, w
    FROM par, (VALUES (50), (90), (99)) v(p)
),
crossing AS (
    SELECT p, t, mn, w, MIN(bin) AS qbin
    FROM tgt JOIN cum ON cum.cum >= tgt.t
    GROUP BY p, t, mn, w
),
rn AS (SELECT x, row_number() OVER (ORDER BY x) AS r FROM o),
exact AS (
    SELECT c.p, rn.x AS exact FROM crossing c JOIN rn ON rn.r = c.t
)
SELECT c.p,
       c.mn + (c.qbin + 1) * c.w AS est,
       e.exact,
       abs(c.mn + (c.qbin + 1) * c.w - e.exact) <= c.w + c.w * 1e-9
           AS within_one_bin
FROM crossing c JOIN exact e ON e.p = c.p
"""


def q_streaming_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance, oracle-checked END TO END: the
    events file delivered TWICE, each micro-batch's HLL register table
    max-merged into a parquet register store via foreachBatch. Registers
    are set-semantics, so the double delivery must change NOTHING — the
    final estimate equals the single-copy batch HLL bit-for-bit (the
    oracle computes exactly that), demonstrating that at-least-once
    delivery already gives the exactly-once answer for max-mergeable
    sketch state."""
    import shutil
    import tempfile
    import uuid as _uuid

    from hiv_data_integration_spark.operators.aggregate import hll_estimate
    from hiv_data_integration_spark.streaming import foreach_batch_hll_merge

    src = tempfile.mkdtemp(prefix="hll_feed_")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery1.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery2.parquet")
    state = tempfile.mkdtemp(prefix="hll_state_") + f"/{_uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        stream = read_events_stream(spark, src, f"{sf_dir}/events.parquet")
        regs = foreach_batch_hll_merge(stream, state, ckpt, "event_id")
        est = hll_estimate(regs)
        exact = (
            tbl(spark, sf_dir, "events")
            .agg(F.count_distinct("event_id").cast("long").alias("n_exact"))
        )
        out = _local_result(
            est.crossJoin(F.broadcast(exact)).select(
                "m", "max_register", "harmonic_num", "estimate", "n_exact",
                (
                    F.abs(
                        F.col("estimate") / F.col("n_exact").cast("double")
                        - 1.0
                    )
                    <= 0.26
                ).alias("within_4sigma"),
            )
        )
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(state.rsplit("/", 1)[0], ignore_errors=True)
    return out


SQL_STREAMING_HLL = """
WITH h AS (
    SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM events
),
r AS (
    SELECT h % 256 AS bucket,
           MAX(CASE WHEN h // 256 = 0 THEN 53
                    ELSE 53 - length(bin(h // 256)) END) AS register
    FROM h GROUP BY 1
),
a AS (
    SELECT CAST(MAX(register) AS BIGINT) AS max_register,
           CAST(COUNT(*) AS BIGINT) AS nonempty
    FROM r
),
np AS (
    SELECT CAST(SUM(CAST(pow(2.0, a.max_register - r.register) AS BIGINT))
                AS BIGINT) AS s
    FROM r, a
),
est AS (
    SELECT CAST(256 AS BIGINT) AS m, a.max_register,
           CAST(np.s + (256 - a.nonempty)
                * CAST(pow(2.0, a.max_register) AS BIGINT) AS BIGINT)
               AS harmonic_num
    FROM a, np
),
x AS (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_exact FROM events)
SELECT m, max_register, harmonic_num,
       47072.71267120224 * pow(2.0, max_register)
           / CAST(harmonic_num AS DOUBLE) AS estimate,
       n_exact,
       abs(47072.71267120224 * pow(2.0, max_register)
           / CAST(harmonic_num AS DOUBLE) / CAST(n_exact AS DOUBLE) - 1.0)
           <= 0.26 AS within_4sigma
FROM est, x
"""


def q_streaming_outer_join_expiry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with WATERMARK EXPIRY —
    the semantics the inner-join entry can't show: a click with no
    purchase within 4 h is emitted exactly once WITH NULL right columns,
    but only after the global watermark passes its eligibility window
    ("no match" is only declarable once late data is impossible). The
    feed is the events file plus a far-future two-row sentinel file
    (filtered out of the result) whose sole job is to advance the
    watermark past every real event's expiry. Sentinel and events ride
    in ONE data micro-batch (r12: was maxFilesPerTrigger=1 / 3 batches;
    the watermark still only advances at batch END, so every unmatched
    row is STILL emitted exclusively by watermark expiry in the
    engine's trailing no-data batch — semantics unchanged, one full
    state-eviction cycle cheaper; measured 6.5→2.8 s steady-state at
    sf0.1, identical result rows). The availableNow run therefore
    flushes ALL pending unmatched rows and the result equals the batch
    LEFT JOIN exactly — matched-pair checksums and null-right counts
    both hash."""
    import datetime as _dt
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hiv_data_integration_spark.streaming import stream_interval_join

    src = tempfile.mkdtemp(prefix="soj_feed_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a_delivery.parquet")
        # sentinel with the file's OWN physical schema (pyarrow row-slice
        # rewrite): the stream reader applies the probed footer schema to
        # every file, so the sentinel must match it bit-for-bit
        t = pq.read_table(f"{sf_dir}/events.parquet")
        two = t.slice(0, 2).to_pydict()
        max_ts = pa.compute.max(t.column("ts")).as_py()
        far = (
            max_ts + 90 * 24 * 3600 * 10**9  # legacy int64-nanos footer
            if isinstance(max_ts, int)
            else max_ts + _dt.timedelta(days=90)
        )
        two["event_id"] = [-1, -2]
        two["user_id"] = [-1, -1]
        two["event_type"] = ["click", "purchase"]
        two["ts"] = [far, far]
        two["value"] = [0.0, 0.0]
        if "props" in two:
            two["props"] = [None, None]
        pq.write_table(
            pa.table(two, schema=t.schema), f"{src}/z_sentinel.parquet"
        )
        now = _time.time()
        os.utime(f"{src}/a_delivery.parquet", (now - 3600, now - 3600))
        os.utime(f"{src}/z_sentinel.parquet", (now, now))

        stream = read_events_stream(spark, src, f"{sf_dir}/events.parquet")
        clicks = stream.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        purchases = stream.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        )
        joined = stream_interval_join(
            clicks, purchases, "user_id", "ts",
            max_delay="4 hours", watermark="1 hour", how="left_outer",
        ).select("user_id", "event_id", "r_event_id")

        name = f"stream_soj_{_uuid.uuid4().hex[:12]}"
        # unmatched rows flush ONLY in the trailing no-data batch (the
        # session default disables it) — re-enable for this query
        with _trailing_flush_batch(joined.sparkSession):
            q = (
                joined.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        ssession = joined.sparkSession
        le = F.col("event_id") % 1000003
        re_ = F.col("r_event_id") % 1000003
        out = _local_result(
            ssession.table(name)
            .filter(F.col("user_id") >= 0)
            .groupBy((F.col("user_id") % 8).cast("long").alias("bucket"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.count("r_event_id").cast("long").alias("n_matched"),
                F.sum(
                    F.when(
                        F.col("r_event_id").isNotNull(), le * 31 + re_
                    ).otherwise(le * 17)
                )
                .cast("long")
                .alias("pair_checksum"),
            )
        )
        ssession.catalog.dropTempView(name)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_STREAMING_OUTER_JOIN = """
WITH l AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
r AS (
    SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
),
j AS (
    SELECT l.user_id, l.event_id AS le, r.event_id AS re
    FROM l LEFT JOIN r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 4 HOUR
)
SELECT CAST(user_id % 8 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(re) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN re IS NOT NULL
                     THEN (le % 1000003) * 31 + re % 1000003
                     ELSE (le % 1000003) * 17 END) AS BIGINT)
           AS pair_checksum
FROM j GROUP BY 1
"""


def q_streaming_chained_windows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CHAINED streaming aggregations (Spark 3.4+ multiple stateful
    operators): hourly tumbling per-type counts re-aggregated into a
    per-day PEAK-HOURLY-RATE table inside ONE streaming query — the
    downsample→rollup cascade a metrics pipeline runs, previously
    impossible without an intermediate sink. ``window_time()`` gives the
    hourly window's event time so the daily window chains off it; both
    stages share the watermark, and a far-future sentinel row (filtered
    out of the result) advances it past every real day so the
    availableNow run flushes both stages and equals the batch twin
    exactly. Sentinel and events ride in ONE data micro-batch (r12: was
    maxFilesPerTrigger=1 / 3 batches; the watermark only advances at
    batch END either way, so both stages still flush exclusively in the
    engine's trailing no-data batch — same rows, one state cycle
    cheaper)."""
    import datetime as _dt
    import os
    import shutil
    import tempfile
    import time as _time
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tempfile.mkdtemp(prefix="chw_feed_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/a_delivery.parquet")
        t = pq.read_table(f"{sf_dir}/events.parquet")
        two = t.slice(0, 1).to_pydict()
        max_ts = pa.compute.max(t.column("ts")).as_py()
        legacy_nanos = isinstance(max_ts, int)
        far = (
            max_ts + 90 * 24 * 3600 * 10**9
            if legacy_nanos
            else max_ts + _dt.timedelta(days=90)
        )
        two["event_id"] = [-1]
        two["user_id"] = [-1]
        two["event_type"] = ["click"]
        two["ts"] = [far]
        two["value"] = [0.0]
        if "props" in two:
            two["props"] = [None]
        pq.write_table(
            pa.table(two, schema=t.schema), f"{src}/z_sentinel.parquet"
        )
        now = _time.time()
        os.utime(f"{src}/a_delivery.parquet", (now - 3600, now - 3600))
        os.utime(f"{src}/z_sentinel.parquet", (now, now))

        stream = read_events_stream(spark, src, f"{sf_dir}/events.parquet")
        hourly = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n_hour"))
        )
        daily = (
            hourly.groupBy(
                F.window(F.window_time("w"), "1 day").alias("d"),
                "event_type",
            )
            .agg(
                F.max("n_hour").cast("long").alias("peak_hourly"),
                F.count("*").cast("long").alias("n_hours_active"),
            )
            .select(
                # NTZ boundary: process-timezone-proof at collect
                F.col("d.start").cast("timestamp_ntz").alias("day_start"),
                "event_type",
                "peak_hourly",
                "n_hours_active",
            )
        )
        name = f"stream_chw_{_uuid.uuid4().hex[:12]}"
        # both chained stages flush ONLY in the trailing no-data batch
        # (the session default disables it) — re-enable for this query
        with _trailing_flush_batch(daily.sparkSession):
            q = (
                daily.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        ssession = daily.sparkSession
        cutoff = (
            _dt.datetime(1970, 1, 1)
            + _dt.timedelta(microseconds=max_ts // 1000)
            if legacy_nanos
            else max_ts
        )
        out = _local_result(
            ssession.table(name).filter(F.col("day_start") <= F.lit(cutoff))
        )
        ssession.catalog.dropTempView(name)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_STREAMING_CHAINED_WINDOWS = """
WITH h AS (
    SELECT date_trunc('hour', ts) AS hs, event_type,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT CAST(date_trunc('day', hs) AS TIMESTAMP) AS day_start, event_type,
       CAST(MAX(n) AS BIGINT) AS peak_hourly,
       CAST(count(*) AS BIGINT) AS n_hours_active
FROM h GROUP BY 1, 2
"""


def q_seasonality_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap — the traffic-shape census every
    ops dashboard starts from: per (epoch-dow, wall-clock hour) cell,
    event count and exact cents. Both keys are tz-proof field reads on
    the NTZ timestamp (hour() is a wall-clock field; dow is epoch-days
    mod 7), one hash aggregate, at most 168 output rows at any corpus
    size."""
    ev = tbl(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return (
        ev.select(
            F.pmod(F.unix_date(F.col("ts").cast("date")), F.lit(7))
            .cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
            cents.alias("_c"),
        )
        .groupBy("dow", "hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("_c").cast("long").alias("sum_cents"),
        )
    )


SQL_SEASONALITY_HEATMAP = """
SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
            AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM events GROUP BY 1, 2
"""


def q_nearest_event_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event temporal join (both directions — not just the
    backward as-of): for each probe order, the closest event of its
    customer in absolute time, ties broken (earlier ts, smaller id).
    Probe-set pattern like the ANN entries: the ~1% sampled probe side
    broadcasts, the events corpus scans ONCE, and the per-probe argmin
    is a single ``min(struct(abs_gap, ts, event_id))`` hash aggregate —
    no window over the corpus, no fan-out materialized. Gap is exact
    integer microseconds."""
    from hiv_data_integration_spark.operators.aggregate import (
        ntz_epoch_micros,
    )

    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 97 == 0
    ).select(
        "o_orderkey",
        F.col("o_custkey").alias("user_id"),
        # midnight-of-orderdate in exact epoch micros, tz-proof (no
        # date->zoned-timestamp cast that a hostile session could shift)
        # o_orderdate is a midnight NTZ timestamp; the date truncation
        # is a pure field drop (verified zero non-midnight values)
        (F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
         * F.lit(86_400_000_000)).alias("_om"),
    )
    ev = tbl(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    j = ev.join(F.broadcast(o), "user_id")
    gap = F.abs(ntz_epoch_micros("ts") - F.col("_om")).cast("long")
    best = (
        j.select(
            "o_orderkey",
            F.struct(
                gap.alias("g"),
                F.col("ts").alias("t"),
                F.col("event_id").alias("e"),
            ).alias("_cand"),
        )
        .groupBy("o_orderkey")
        .agg(F.min("_cand").alias("_b"))
    )
    return best.select(
        "o_orderkey",
        F.col("_b.e").cast("long").alias("nearest_event_id"),
        F.col("_b.g").cast("long").alias("gap_micros"),
    )


SQL_NEAREST_EVENT_PROBE = """
WITH probes AS (
    SELECT o_orderkey, o_custkey AS user_id,
           CAST(o_orderdate AS TIMESTAMP) AS ots
    FROM orders WHERE o_orderkey % 97 = 0
),
j AS (
    SELECT p.o_orderkey, e.event_id, e.ts,
           CAST(abs(epoch_us(e.ts) - epoch_us(p.ots)) AS BIGINT) AS g
    FROM probes p JOIN events e ON e.user_id = p.user_id
),
r AS (
    SELECT o_orderkey, event_id, g,
           row_number() OVER (PARTITION BY o_orderkey
                              ORDER BY g, ts, event_id) AS rk
    FROM j
)
SELECT o_orderkey, CAST(event_id AS BIGINT) AS nearest_event_id,
       g AS gap_micros
FROM r WHERE rk = 1
"""


def q_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness / staleness audit — the data-ops SLA check: per
    event type, last-seen timestamp, lag behind the globally freshest
    type in exact integer seconds, and a >24 h staleness flag. Two hash
    aggregates + a broadcast 1-row global max."""
    ev = tbl(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_seen"),
        F.count("*").cast("long").alias("n_events"),
    )
    from hiv_data_integration_spark.operators.aggregate import (
        ntz_epoch_micros,
    )

    g = per.agg(F.max("last_seen").alias("_g"))
    # tz-proof NTZ field arithmetic (see ntz_epoch_micros). Exact
    # integer FLOOR division (d - pmod(d, 1e6) is a multiple of 1e6,
    # so the one double division is exact) — matches the oracle's
    # integer `//` even for negative deltas, instead of relying on
    # lag >= 0 to make truncation and floor coincide.
    d = ntz_epoch_micros("_g") - ntz_epoch_micros("last_seen")
    lag = ((d - F.pmod(d, F.lit(1000000))) / F.lit(1000000)).cast("long")
    return per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "last_seen",
        "n_events",
        lag.alias("lag_seconds"),
        (lag > 86400).alias("stale_over_1d"),
    )


SQL_FRESHNESS_AUDIT = """
WITH per AS (
    SELECT event_type, MAX(ts) AS last_seen,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
),
g AS (SELECT MAX(last_seen) AS gmax FROM per)
SELECT event_type, last_seen, n_events,
       CAST((epoch_us(gmax) - epoch_us(last_seen)) // 1000000 AS BIGINT)
           AS lag_seconds,
       (epoch_us(gmax) - epoch_us(last_seen)) // 1000000 > 86400
           AS stale_over_1d
FROM per, g
"""


def q_audio_framing_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame-plan synthesis (the multimodal family's audio leg):
    given per-clip sample counts at a declared rate, compute the
    25 ms / 10 ms-hop framing plan — frame size/hop in samples, frame
    count ``1 + (n − win) div hop`` (0 when the clip is shorter than
    one window), coverage end. Pure integer arithmetic on metadata —
    the real decode would be an Arrow-batched mapInPandas like the
    image stubs; the PLAN is what the distributed scheduler shards on,
    and it must be exact. Clip lengths are synthesized deterministically
    from doc_id."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    sr = F.lit(16000)
    win = (sr * 25 / 1000).cast("long")   # 400 samples
    hop = (sr * 10 / 1000).cast("long")   # 160 samples
    n = (F.lit(300) + F.pmod(F.col("doc_id") * 2654435761, F.lit(64000)))
    n = n.cast("long")
    frames = F.when(n >= win, (n - win - F.pmod(n - win, hop)) / hop + 1)\
        .otherwise(F.lit(0)).cast("long")
    return docs.select(
        "doc_id",
        n.alias("n_samples"),
        win.alias("frame_len"),
        hop.alias("hop_len"),
        frames.alias("n_frames"),
        F.when(frames > 0, win + (frames - 1) * hop)
        .otherwise(F.lit(0)).cast("long").alias("covered_samples"),
    )


SQL_AUDIO_FRAMING_STUB = """
WITH base AS (
    SELECT doc_id,
           CAST(300 + (doc_id * 2654435761) % 64000 AS BIGINT) AS n
    FROM documents
),
f AS (
    SELECT doc_id, n,
           CASE WHEN n >= 400
                THEN (n - 400) // 160 + 1 ELSE 0 END AS frames
    FROM base
)
SELECT doc_id, n AS n_samples,
       CAST(400 AS BIGINT) AS frame_len,
       CAST(160 AS BIGINT) AS hop_len,
       CAST(frames AS BIGINT) AS n_frames,
       CAST(CASE WHEN frames > 0 THEN 400 + (frames - 1) * 160
                 ELSE 0 END AS BIGINT) AS covered_samples
FROM f
"""


def _make_wav_encoder():
    """Build ``wav_for(doc_id, odd_list=True)``: the synthetic corpus's
    canonical-PCM WAV for one document — RIFF header, an odd-length
    ``LIST`` chunk on every 5th doc when ``odd_list`` (exercising the RIFF
    even-padding rule), ``fmt `` with doc-derived rate/channels, and a
    ``data`` chunk whose byte i is ``(i·7 + doc_id) % 256``. The audio
    oracles rebuild samples from this arithmetic. A by-value closure, as
    in ``operators/multimodal.py``."""
    import struct as _struct

    def wav_for(doc_id: int, odd_list: bool = True) -> bytes:
        sr = 8000 + 4000 * (doc_id % 3)
        ch = 1 + (doc_id % 2)
        ba = ch * 2  # 16-bit PCM
        ns = 100 + (doc_id * 2654435761) % 1000
        data_len = ns * ba
        body = bytes((i * 7 + doc_id) % 256 for i in range(data_len))
        chunks = b""
        if odd_list and doc_id % 5 == 0:
            # odd-length metadata chunk: 7-byte body + 1 pad byte
            chunks += b"LIST" + _struct.pack("<I", 7) + b"INFOxyz" + b"\x00"
        chunks += b"fmt " + _struct.pack("<IHHIIHH", 16, 1, ch, sr, sr * ba, ba, 16)
        chunks += b"data" + _struct.pack("<I", data_len) + body
        return b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    return wav_for


def _make_png_encoder():
    """Build ``png_for(doc_id)``: the synthetic corpus's 8-bit grayscale
    PNG for one document — zlib IDAT, CRC'd chunks, filter-0 scanlines,
    dims ``8·(1 + doc_id % 5) × 8·(1 + (doc_id // 5) % 4)`` and pixel
    ``(7x + 13y + doc_id) % 256``, which the image-hash oracles rebuild.
    A by-value closure, as in ``operators/multimodal.py``."""
    import struct as _struct
    import zlib as _zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = _struct.pack(">I", _zlib.crc32(ctype + data) & 0xFFFFFFFF)
        return _struct.pack(">I", len(data)) + ctype + data + crc

    def png_for(doc_id: int) -> bytes:
        w = 8 * (1 + doc_id % 5)
        h = 8 * (1 + (doc_id // 5) % 4)
        raw = b"".join(
            b"\x00" + bytes((7 * x + 13 * y + doc_id) % 256 for x in range(w))
            for y in range(h)
        )
        ihdr = _struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", _zlib.compress(raw))
            + chunk(b"IEND", b"")
        )

    return png_for


# Session-scoped cache for the synthesized WAV corpus — same pattern
# and eviction discipline as _PHASH_CACHE/_GIF_CACHE (payloads are
# INPUT data; synthesize once per (SparkContext, sf_dir), every audio
# entry reads the checkpointed frame).
_WAV_CACHE: dict[tuple[str, str], DataFrame] = {}


def _wav_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synth stage for the audio entries: a genuine canonical-PCM
    WAV byte stream per document — RIFF header, an odd-length LIST chunk
    on every 5th doc (exercising the RIFF even-padding rule), ``fmt ``
    with doc-derived rate/channels, and a ``data`` chunk with real
    deterministic sample bytes (byte i = (i·7 + doc_id) % 256). Returns
    ``(doc_id, payload)``, session-cached + ``localCheckpoint``ed like
    the GIF/PNG corpora."""
    key = (spark.sparkContext.applicationId, sf_dir)
    _evict_dead_sessions(_WAV_CACHE, key[0])
    cached = _WAV_CACHE.get(key)
    if cached is not None:
        return cached
    docs = (
        tbl(spark, sf_dir, "documents").select("doc_id").repartition(32)
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    wav_for = _make_wav_encoder()

    def synth_batches(batches):
        import pandas as _pd

        for pdf in batches:
            out = _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [wav_for(int(d)) for d in pdf["doc_id"]],
                }
            )
            yield out

    out = docs.mapInPandas(synth_batches, synth_schema).localCheckpoint(
        eager=True
    )
    _WAV_CACHE[key] = out
    return out


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV/RIFF header decode (the audio twin of the image leg's
    real PNG decoder, ``multimodal.decode_media``): stage 1 is the
    shared WAV synthesis (:func:`_wav_payloads`); stage 2
    (``multimodal.decode_audio``) walks the chunks back out with a
    stdlib struct parser inside Arrow ``mapInPandas``. The synthesis
    parameters are pure doc_id arithmetic, so the decoded metadata is
    hash-checkable in SQL — the decoder must invert the container
    format bit-for-bit to go green. Per-row decode cost is O(header),
    not O(payload): the scale path for 100 TB audio ingest."""
    decoded = mm.decode_audio(_wav_payloads(spark, sf_dir))
    return decoded.select(
        "doc_id",
        F.col("audio.sample_rate").alias("sample_rate"),
        F.col("audio.channels").alias("channels"),
        F.col("audio.bits_per_sample").alias("bits_per_sample"),
        F.col("audio.n_samples").alias("n_samples"),
        F.col("audio.duration_micros").alias("duration_micros"),
        F.col("audio.n_bytes").alias("n_bytes"),
        F.col("audio.decoder").alias("decoder"),
    )


def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-level audio fingerprint over the same synthesized WAVs
    (:func:`_wav_payloads`): ``multimodal.audio_frame_energy`` decodes
    the 16-bit LE PCM ``data`` chunk into real signed samples and
    computes exact per-frame energies ``Σ s²`` (400-sample window /
    160-sample hop over the raw interleaved stream, prefix-sum of
    squares), emitting the stream census and the peak frame (ties →
    lowest index). Every sample byte is doc_id arithmetic, so the
    oracle rebuilds the signed samples, the frame lattice, and the
    argmax in SQL from first principles — the parser must decode the
    actual PCM payload bit-for-bit to go green. Completes the audio
    leg: q_audio_decode proves the HEADER path, this proves the
    SAMPLE path."""
    energized = mm.audio_frame_energy(_wav_payloads(spark, sf_dir))
    return energized.select(
        "doc_id",
        F.col("energy.n_stream_samples").alias("n_stream_samples"),
        F.col("energy.n_frames").alias("n_frames"),
        F.col("energy.total_energy").alias("total_energy"),
        F.col("energy.peak_frame").alias("peak_frame"),
        F.col("energy.peak_energy").alias("peak_energy"),
        F.col("energy.decoder").alias("decoder"),
    )


# rebuilds the PCM stream from the synthesis arithmetic: data byte i =
# (i*7 + doc_id) % 256; sample k = b(2k) + 256*b(2k+1), signed 16-bit;
# stream length = ns*ch samples; frames = 400-window/160-hop lattice;
# energy = exact BIGINT sum of squares; peak tie -> lowest frame index.
SQL_AUDIO_ENERGY = """
WITH p AS (
    SELECT doc_id,
           CAST(1 + (doc_id % 2) AS BIGINT) AS ch,
           CAST(100 + (doc_id * 2654435761) % 1000 AS BIGINT) AS ns
    FROM documents
),
s AS (
    SELECT doc_id, ch * ns AS nss FROM p
),
smp AS (
    SELECT doc_id, nss, k,
           ((2 * k * 7 + doc_id) % 256)
           + 256 * (((2 * k + 1) * 7 + doc_id) % 256) AS raw
    FROM s, UNNEST(range(0, nss)) t(k)
),
sq AS (
    SELECT doc_id, nss, k,
           CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
    FROM smp
),
tot AS (
    SELECT doc_id, MAX(nss) AS nss, SUM(v * v) AS te
    FROM sq GROUP BY doc_id
),
fr AS (
    SELECT t.doc_id, f.f AS frame
    FROM tot t, UNNEST(range(0, CASE WHEN t.nss >= 400
                                     THEN (t.nss - 400) // 160 + 1
                                     ELSE 0 END)) f(f)
),
fe AS (
    SELECT fr.doc_id, fr.frame, SUM(sq.v * sq.v) AS e
    FROM fr JOIN sq
      ON sq.doc_id = fr.doc_id
     AND sq.k >= fr.frame * 160 AND sq.k < fr.frame * 160 + 400
    GROUP BY fr.doc_id, fr.frame
),
peak AS (
    SELECT doc_id, frame, e,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY e DESC, frame ASC) AS rk
    FROM fe
),
nf AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames FROM fe GROUP BY 1
)
SELECT t.doc_id,
       CAST(t.nss AS BIGINT) AS n_stream_samples,
       CAST(COALESCE(nf.n_frames, 0) AS BIGINT) AS n_frames,
       CAST(t.te AS BIGINT) AS total_energy,
       CAST(pk.frame AS BIGINT) AS peak_frame,
       CAST(pk.e AS BIGINT) AS peak_energy,
       'wav' AS decoder
FROM tot t
LEFT JOIN nf ON nf.doc_id = t.doc_id
LEFT JOIN (SELECT * FROM peak WHERE rk = 1) pk ON pk.doc_id = t.doc_id
"""


# mirrors the synthesis arithmetic: sr/ch/ns from doc_id; total bytes =
# 12 (RIFF hdr) + [16 when doc_id%5=0: LIST 8+7+1 pad] + 24 (fmt) +
# 8 + ns*ch*2 (data); duration = exact integer floor micros. The decoder
# only goes green by actually walking the chunk layout back out.
SQL_AUDIO_DECODE = """
WITH p AS (
    SELECT doc_id,
           CAST(8000 + 4000 * (doc_id % 3) AS INTEGER) AS sr,
           CAST(1 + (doc_id % 2) AS INTEGER) AS ch,
           CAST(100 + (doc_id * 2654435761) % 1000 AS BIGINT) AS ns
    FROM documents
)
SELECT doc_id, sr AS sample_rate, ch AS channels,
       CAST(16 AS INTEGER) AS bits_per_sample,
       ns AS n_samples,
       CAST((ns * 1000000) // sr AS BIGINT) AS duration_micros,
       CAST(12 + (CASE WHEN doc_id % 5 = 0 THEN 16 ELSE 0 END)
            + 24 + 8 + ns * ch * 2 AS BIGINT) AS n_bytes,
       'wav' AS decoder
FROM p
"""


# Session-scoped cache for the decoded phash frame: the three phash
# entries (image_phash, near_pairs, clusters) share ONE decode+hash
# stage per (SparkContext, sf_dir) — the persist-once production shape
# a corpus run uses (hash the corpus once, then pairs/clusters/audits
# all read the hashed frame). Keyed by applicationId so a new session
# (e.g. the hostile drive) never sees another context's checkpoint
# blocks; entries are a few thousand 40-byte rows, so the cache is
# bounded. Writes evict every entry from OTHER applicationIds (a
# long-lived driver that stops/recreates SparkSessions would otherwise
# accumulate dead DataFrame refs pinning checkpoint blocks forever).
_PHASH_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _evict_dead_sessions(cache: dict, app_id: str) -> None:
    """Drop cache entries from SparkContexts other than the live one —
    their checkpoint blocks are unreachable (or worse, pinned) once the
    owning session stops. Called BEFORE every cache lookup (not only on
    population): a hit path that skipped eviction would let a dead
    session's entries survive indefinitely in a driver process whose
    live keys keep hitting."""
    for k in [k for k in cache if k[0] != app_id]:
        del cache[k]


def _png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared PNG corpus for the image-hash entries: a genuine 8-bit
    grayscale PNG per document (zlib IDAT, CRC'd chunks, filter-0
    scanlines, doc_id-derived dims and pixel pattern). Cached +
    ``localCheckpoint``ed per (SparkContext, sf_dir) like _GIF_CACHE —
    payloads are input data, synthesized once per session. Returns
    ``(doc_id, payload)``."""
    key = (spark.sparkContext.applicationId, sf_dir, "png")
    _evict_dead_sessions(_PHASH_CACHE, key[0])
    cached = _PHASH_CACHE.get(key)
    if cached is not None:
        return cached
    # the documents table is one small parquet split — without a
    # repartition the pure-Python encode (and everything the cached
    # frame feeds) would run on ONE core of local[32]
    docs = (
        tbl(spark, sf_dir, "documents").select("doc_id").repartition(32)
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    png_for = _make_png_encoder()

    def synth_batches(batches):
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [png_for(int(d)) for d in pdf["doc_id"]],
                }
            )

    out = docs.mapInPandas(synth_batches, synth_schema).localCheckpoint(
        eager=True
    )
    _PHASH_CACHE[key] = out
    return out


def _phash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared stage for the three phash entries: the synthesized PNG
    corpus (:func:`_png_payloads`) decoded by ``multimodal.image_ahash``
    (zlib inflate + unfilter + exact-integer 8×8 average-hash). The
    hashed frame is ``localCheckpoint``ed eagerly and cached per
    (SparkContext, sf_dir) so pairs/clusters reuse the decoded frame
    instead of re-paying the pure-Python PNG inflate (measured: the
    clusters entry dropped from a 7.48 s floor to 1.24 s once the
    decode stage became shared and the CC kernelized). Returns
    ``(doc_id, width, height, phash_hi, phash_lo, decoder)``."""
    key = (spark.sparkContext.applicationId, sf_dir, "ahash")
    _evict_dead_sessions(_PHASH_CACHE, key[0])
    cached = _PHASH_CACHE.get(key)
    if cached is not None:
        return cached
    hashed = mm.image_ahash(_png_payloads(spark, sf_dir))
    out = hashed.select(
        "doc_id",
        F.col("ahash.width").alias("width"),
        F.col("ahash.height").alias("height"),
        F.col("ahash.phash_hi").alias("phash_hi"),
        F.col("ahash.phash_lo").alias("phash_lo"),
        F.col("ahash.decoder").alias("decoder"),
    ).localCheckpoint(eager=True)
    _PHASH_CACHE[key] = out
    return out


def _dhash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached decoded dHash frame (same discipline as
    :func:`_phash_hashes` — the pure-Python PNG decode is paid once per
    session, every consumer reads the checkpoint). Returns
    ``(doc_id, width, height, dhash_hi, dhash_lo, decoder)``."""
    key = (spark.sparkContext.applicationId, sf_dir, "dhash")
    _evict_dead_sessions(_PHASH_CACHE, key[0])
    cached = _PHASH_CACHE.get(key)
    if cached is not None:
        return cached
    out = (
        mm.image_dhash(_png_payloads(spark, sf_dir))
        .select(
            "doc_id",
            F.col("dhash.width").alias("width"),
            F.col("dhash.height").alias("height"),
            F.col("dhash.phash_hi").alias("dhash_hi"),
            F.col("dhash.phash_lo").alias("dhash_lo"),
            F.col("dhash.decoder").alias("decoder"),
        )
        .localCheckpoint(eager=True)
    )
    _PHASH_CACHE[key] = out
    return out


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-hash over REAL decoded PNG pixels
    (``multimodal.image_dhash``): gradient-sign bits over a 9×8
    nearest-neighbor grid — the brightness-shift-robust companion to
    the aHash entry, sharing the session-cached PNG corpus. The oracle
    rebuilds the gathered grid pixels from the synthesis formula and
    re-derives all 64 comparison bits in SQL."""
    return _dhash_hashes(spark, sf_dir)


# gathered pixel (ty,tx) = raster pixel (tx*w//9, ty*h//8) of the
# (7x+13y+doc_id)%256 grid; bit = cell[x+1] > cell[x]; MSB-first pack
# into unsigned 32-bit halves (rows 0-3 -> hi, 4-7 -> lo)
_SQL_DHASH_CTE = """
WITH p AS (
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 5) AS BIGINT) AS w,
           CAST(8 * (1 + (doc_id // 5) % 4) AS BIGINT) AS h
    FROM documents
),
cells AS (
    SELECT doc_id, w, h, ty.ty AS ty, tx.tx AS tx,
           (7 * ((tx.tx * w) // 9) + 13 * ((ty.ty * h) // 8) + doc_id)
               % 256 AS v
    FROM p, UNNEST(range(0, 8)) ty(ty), UNNEST(range(0, 9)) tx(tx)
),
bits AS (
    SELECT a.doc_id, a.w, a.h, a.ty, a.tx,
           CASE WHEN b.v > a.v THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS bit
    FROM cells a JOIN cells b
      ON b.doc_id = a.doc_id AND b.ty = a.ty AND b.tx = a.tx + 1
    WHERE a.tx < 8
),
dhashes AS (
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(SUM(CASE WHEN ty < 4 THEN bit << (31 - (ty * 8 + tx))
                         ELSE 0 END) AS BIGINT) AS dhash_hi,
           CAST(SUM(CASE WHEN ty >= 4 THEN bit << (31 - ((ty - 4) * 8 + tx))
                         ELSE 0 END) AS BIGINT) AS dhash_lo
    FROM bits GROUP BY doc_id
)
"""

SQL_IMAGE_DHASH = _SQL_DHASH_CTE + """
SELECT doc_id, width, height, dhash_hi, dhash_lo, 'png' AS decoder
FROM dhashes
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image perceptual hash over REAL decoded pixels (see
    :func:`_phash_hashes`). The synthesis parameters are pure doc_id
    arithmetic, so the oracle rebuilds the SAME pixel grid with
    ``unnest(range(...))`` and re-derives every cell sum and hash bit in
    SQL — the decoder must invert zlib+PNG bit-for-bit to go green. This
    is the image near-dup primitive of the multimodal dedup family."""
    return _phash_hashes(spark, sf_dir)


def _phash_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-hash CLASSES of the phash corpus: one row per distinct
    64-bit hash with its min-doc representative and member count —
    the kernel every phash pair/cluster entry now runs its LSH on.
    Mass duplication (the thing that explodes near-dup graphs at
    100 TB) collapses here in ONE hash aggregate, so everything
    downstream works on distinct-fingerprint cardinality, not corpus
    cardinality. Session-cached + eagerly ``localCheckpoint``ed like
    the hash frame it contracts (deterministic derived data; three
    entries + the mass probe reuse it, and the contraction is
    distinct-fingerprint-sized so the checkpoint blocks are small —
    coalesced to a handful of partitions so downstream tiny jobs do
    not pay 32-task scheduling). Returns ``(phash_hi, phash_lo, rep,
    n)``."""
    key = (spark.sparkContext.applicationId, sf_dir, "classes")
    _evict_dead_sessions(_PHASH_CACHE, key[0])
    cached = _PHASH_CACHE.get(key)
    if cached is not None:
        return cached
    out = (
        _phash_hashes(spark, sf_dir)
        .groupBy("phash_hi", "phash_lo")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count("*").cast("long").alias("n"),
        )
        .coalesce(4)
        .localCheckpoint(eager=True)
    )
    _PHASH_CACHE[key] = out
    return out


def _phash_class_band_pairs(classes: DataFrame) -> DataFrame:
    """Banded Hamming LSH over exact-hash classes: each 64-bit hash
    splits into 4×16-bit bands; classes sharing any band value become
    candidates (pigeonhole: hamming ≤ 4 < bands+1 guarantees one equal
    band... at threshold 4 with 4 bands the banding is a candidate
    generator verified by the exact distance, identical to the
    pre-kernel shape because band values are functions of the hash
    alone). Returns ``(rep_a, rep_b, n_a, n_b, hamming)`` for verified
    cross-class candidates (rep_a < rep_b)."""
    band_structs = F.array(
        *[
            F.struct(F.lit(k).alias("bk"), bv.cast("long").alias("bv"))
            for k, bv in enumerate(
                [
                    F.shiftright("phash_hi", 16),
                    F.col("phash_hi").bitwiseAND(F.lit(65535)),
                    F.shiftright("phash_lo", 16),
                    F.col("phash_lo").bitwiseAND(F.lit(65535)),
                ]
            )
        ]
    )
    bands = classes.select(
        "rep", "n", "phash_hi", "phash_lo",
        F.explode(band_structs).alias("b"),
    ).select("rep", "n", "phash_hi", "phash_lo", "b.bk", "b.bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.bk") == F.col("b.bk"),
                F.col("a.bv") == F.col("b.bv"),
                F.col("a.rep") < F.col("b.rep"),
            ],
        )
        .select(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.col("a.phash_hi").alias("ha"),
            F.col("a.phash_lo").alias("la"),
            F.col("b.phash_hi").alias("hb"),
            F.col("b.phash_lo").alias("lb"),
        )
        .dropDuplicates(["rep_a", "rep_b"])
    )
    ham = (
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        + F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
    ).cast("long")
    return cand.select(
        "rep_a", "rep_b", "n_a", "n_b", ham.alias("hamming")
    ).filter(F.col("hamming") <= 4)


_PHASH_MASS_CACHE: dict[tuple[str, str], tuple[int, int]] = {}


def _phash_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, rep)`` membership map of the phash corpus — which
    exact-hash class each document belongs to. The class side of the
    join is distinct-fingerprint-sized by construction, so it is
    BROADCAST: the member table (the corpus, at 100 TB) never shuffles
    to learn its representative. Session-cached + checkpointed like
    the frames it derives from."""
    key = (spark.sparkContext.applicationId, sf_dir, "members")
    _evict_dead_sessions(_PHASH_CACHE, key[0])
    cached = _PHASH_CACHE.get(key)
    if cached is not None:
        return cached
    classes = _phash_classes(spark, sf_dir)
    out = (
        _phash_hashes(spark, sf_dir)
        .join(
            F.broadcast(classes.select("phash_hi", "phash_lo", "rep")),
            ["phash_hi", "phash_lo"],
        )
        .select("doc_id", "rep")
        .localCheckpoint(eager=True)
    )
    _PHASH_CACHE[key] = out
    return out


def q_phash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs via banded Hamming LSH over the REAL
    decoded perceptual hashes (companion to ``multimodal_image_phash``,
    same two decode stages), KERNELIZED since r12: the LSH self-join
    runs over exact-hash CLASSES (:func:`_phash_classes` — distinct
    fingerprints, not documents), and member pairs are recovered by
    expansion joins afterwards. Output is bit-identical to the
    pre-kernel per-document join (band values are functions of the
    hash, so two docs share a band iff their classes do; identical
    hashes share every band and verify at hamming 0), which is why the
    oracle is unchanged — but the quadratic candidate explosion on
    mass-duplicate corpora now happens ONLY in the final expansion,
    which is the output contract itself, never in the join. At sf0.01:
    481 verified pairs (93 exact dups, the rest structural
    near-misses). Python only in the two decode stages; the hash frame
    is checkpointed + session-cached (see :func:`_phash_hashes`).

    SCALE (measured, SCALE.md §12/§13): pair EMISSION is Ω(Σ class²)
    over duplicate classes — that is the contract of a full pair list,
    not join waste (on the 10× slice: 102× pairs for 10× docs). The
    operator PROBES that mass before expanding (one aggregate over the
    class profile: Σ n·(n−1)/2 within-class pairs vs
    ``mass_warn_factor ×`` corpus size) and logs a warning naming
    ``multimodal_phash_class_pairs`` — the class-representative +
    multiplicity successor whose output stays kernel-sized — when the
    expansion is quadratic-dominated. ``q_phash_clusters`` consumes the
    kernel directly and never expands."""
    classes = _phash_classes(spark, sf_dir)  # session-cached checkpoint
    mass_key = (spark.sparkContext.applicationId, sf_dir)
    _evict_dead_sessions(_PHASH_MASS_CACHE, mass_key[0])
    if mass_key not in _PHASH_MASS_CACHE:
        _PHASH_MASS_CACHE[mass_key] = tuple(
            classes.select(
                F.sum("n").cast("long"),
                F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long"),
            ).collect()[0]
        )
    n_docs, within_mass = _PHASH_MASS_CACHE[mass_key]
    mass_warn_factor = 8.0
    if (within_mass or 0) > mass_warn_factor * max(n_docs or 0, 1):
        _log.warning(
            "multimodal_phash_near_pairs: exact-duplicate mass is "
            "quadratic-dominated (%d within-class pairs for %d docs); "
            "the full pair expansion is output-bound by contract — "
            "use multimodal_phash_class_pairs (class representatives + "
            "multiplicities) or multimodal_phash_clusters for the "
            "kernel-sized result",
            within_mass, n_docs,
        )
    members = _phash_members(spark, sf_dir)
    class_pairs = _phash_class_band_pairs(classes)
    ma, mb = members.alias("ma"), members.alias("mb")
    cross = (
        F.broadcast(class_pairs.alias("p"))
        .join(ma, F.col("p.rep_a") == F.col("ma.rep"))
        .join(mb, F.col("p.rep_b") == F.col("mb.rep"))
        .select(
            F.least("ma.doc_id", "mb.doc_id").alias("doc_a"),
            F.greatest("ma.doc_id", "mb.doc_id").alias("doc_b"),
            F.col("p.hamming").alias("hamming"),
        )
    )
    within = (
        ma.join(
            mb,
            on=[
                F.col("ma.rep") == F.col("mb.rep"),
                F.col("ma.doc_id") < F.col("mb.doc_id"),
            ],
        )
        .select(
            F.col("ma.doc_id").alias("doc_a"),
            F.col("mb.doc_id").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(within)


def q_phash_class_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-safe near-dup pair contract: CLASS-REPRESENTATIVE
    pairs + multiplicities instead of the materialized member-pair
    list. One row per verified class pair ``(rep_a, rep_b, hamming,
    n_pairs = n_a·n_b)`` plus one row per exact-duplicate class
    ``(rep, rep, 0, n·(n−1)/2)`` — ``sum(n_pairs)`` equals exactly the
    row count of ``multimodal_phash_near_pairs`` (property-tested), so
    the full pair set is represented losslessly while the OUTPUT stays
    kernel-sized: on mass-duplicate corpora (bounded hash diversity —
    the §12 10× shape that made the expansion 102×) this plan's output
    is flat in corpus size and its cost is one hash aggregate + the
    distinct-fingerprint LSH join. The oracle replays the class
    contraction + banding + multiplicity arithmetic in SQL."""
    classes = _phash_classes(spark, sf_dir)  # session-cached checkpoint
    cross = _phash_class_band_pairs(classes).select(
        "rep_a",
        "rep_b",
        "hamming",
        (F.col("n_a") * F.col("n_b")).cast("long").alias("n_pairs"),
    )
    within = classes.filter(F.col("n") >= 2).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.lit(0).cast("long").alias("hamming"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
    )
    return cross.unionByName(within)


def _crossmodal_pair_sets(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared stage for the cross-modal entries: the two per-pair
    signal sets — ``image_pairs (doc_a, doc_b, image_hamming)`` from
    the banded dHash LSH over distinct base images expanded through
    the broadcast doc→image map, and ``tpairs_ham (doc_a, doc_b, tm,
    t_hamming)`` — the exact 8-word-prefix fingerprint pairs with each
    pair's image Hamming attached DIRECTLY (two map + two hash
    lookups, linear in text pairs) — over the duplication corpus. The
    verdict entry LEFT-joins the small text set onto the expanded
    image list and derives text_only rows from ``t_hamming``; the
    cluster entry consumes ``t_hamming ≤ 1`` alone and never touches
    the expansion.

    Corpus = the shared duplication corpus (base documents + mutated
    last-word-dropped copies at ``doc_id + 100000``); each corpus doc
    carries the PNG of its BASE document (``doc_id % 100000`` — copies
    reuse their source's image, the real web shape). Signals:

    - **image**: banded Hamming LSH over the decoded dHashes of the
      distinct base images (the §13 kernel shape — the self-join never
      sees the duplicated corpus), verified at hamming ≤ 1 (the
      synthesized gradient-sign corpus is collision-dense, so a loose
      threshold would declare most of it near-duplicate), then
      expanded to corpus pairs through the doc→image map (broadcast —
      the map's image side is distinct-image-sized); same-image pairs
      (source vs its copies) join at hamming 0.
    - **text**: exact match on the 8-word normalized prefix fingerprint
      (md5 of the first 8 whitespace-split lowercased tokens — the
      last-word mutation preserves it, so injected copies match while
      unrelated docs collide only by real prefix duplication)."""
    corpus = _dup_corpus(spark, sf_dir).select("doc_id", "text")
    bmap = corpus.select(
        "doc_id", (F.col("doc_id") % 100000).alias("img_id")
    )
    dh = _dhash_hashes(spark, sf_dir).select(
        F.col("doc_id").alias("img_id"), "dhash_hi", "dhash_lo"
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(k).alias("bk"), bv.cast("long").alias("bv"))
            for k, bv in enumerate(
                [
                    F.shiftright("dhash_hi", 16),
                    F.col("dhash_hi").bitwiseAND(F.lit(65535)),
                    F.shiftright("dhash_lo", 16),
                    F.col("dhash_lo").bitwiseAND(F.lit(65535)),
                ]
            )
        ]
    )
    # KERNELIZE (the phash-near-pairs lesson, re-learned here by the
    # first §13 measurement of this entry at 19x for 10x input): band
    # over the DISTINCT dHash values, never over per-image rows — on a
    # bounded-diversity corpus the per-image self-join emits
    # Σ hash-class² candidates (9M at the 10x slice) while the class
    # join stays kernel-sized. Membership (doc → hash-class rep)
    # composes the doc→image map with the image→class map, both joined
    # broadcast so the corpus side never shuffles.
    dclasses = dh.groupBy("dhash_hi", "dhash_lo").agg(
        F.min("img_id").alias("crep")
    )
    cbands = dclasses.select(
        "crep", "dhash_hi", "dhash_lo", F.explode(band_structs).alias("b")
    ).select("crep", "dhash_hi", "dhash_lo", "b.bk", "b.bv")
    a, b = cbands.alias("a"), cbands.alias("b")
    ham = (
        F.bit_count(F.col("a.dhash_hi").bitwiseXOR(F.col("b.dhash_hi")))
        + F.bit_count(F.col("a.dhash_lo").bitwiseXOR(F.col("b.dhash_lo")))
    ).cast("long")
    cpairs = (
        a.join(
            b,
            on=[
                F.col("a.bk") == F.col("b.bk"),
                F.col("a.bv") == F.col("b.bv"),
                F.col("a.crep") < F.col("b.crep"),
            ],
        )
        .select(
            F.col("a.crep").alias("ca"),
            F.col("b.crep").alias("cb"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["ca", "cb"])
        .filter(F.col("hamming") <= 1)
    )
    cmembers = (
        bmap.join(F.broadcast(dh), "img_id")
        .join(F.broadcast(dclasses), ["dhash_hi", "dhash_lo"])
        .select("doc_id", "crep")
    )
    cm1, cm2 = cmembers.alias("cm1"), cmembers.alias("cm2")
    img_cross = (
        F.broadcast(cpairs.alias("p"))
        .join(cm1, F.col("p.ca") == F.col("cm1.crep"))
        .join(cm2, F.col("p.cb") == F.col("cm2.crep"))
        .select(
            F.least("cm1.doc_id", "cm2.doc_id").alias("doc_a"),
            F.greatest("cm1.doc_id", "cm2.doc_id").alias("doc_b"),
            F.col("p.hamming").alias("image_hamming"),
        )
    )
    # within-hash-class pairs: covers both same-image docs AND distinct
    # images with identical hashes — exactly the hamming-0 rows the
    # per-image join produced (identical hashes share every band)
    img_within = (
        cm1.join(
            cm2,
            on=[
                F.col("cm1.crep") == F.col("cm2.crep"),
                F.col("cm1.doc_id") < F.col("cm2.doc_id"),
            ],
        )
        .select(
            F.col("cm1.doc_id").alias("doc_a"),
            F.col("cm2.doc_id").alias("doc_b"),
            F.lit(0).cast("long").alias("image_hamming"),
        )
    )
    image_pairs = img_cross.unionByName(img_within)
    words = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    tfp = corpus.select(
        "doc_id",
        F.md5(F.array_join(F.slice(words, 1, 8), " ")).alias("fp"),
    )
    t1, t2 = tfp.alias("t1"), tfp.alias("t2")
    tpairs = (
        t1.join(
            t2,
            on=[
                F.col("t1.fp") == F.col("t2.fp"),
                F.col("t1.doc_id") < F.col("t2.doc_id"),
            ],
        )
        .select(
            F.col("t1.doc_id").alias("doc_a"),
            F.col("t2.doc_id").alias("doc_b"),
            F.lit(True).alias("tm"),
        )
    )
    # attach each text pair's EXACT image Hamming directly (two map
    # lookups + two hash lookups — linear in |tpairs|): at hamming <= 1
    # the 4-band pigeonhole loses nothing, so `t_hamming <= 1` is
    # EXACTLY membership in image_pairs. This is what keeps the
    # cluster path (and the text_only verdicts) free of the expanded
    # image-pair list — the r12 slope study measured the naive
    # full-outer-over-expansion shape at 19x for 10x input
    # (SCALE.md §13) because Σ image-class² pairs dominate it.
    dha, dhb = dh.alias("dha"), dh.alias("dhb")
    ma2, mb2 = bmap.alias("ma2"), bmap.alias("mb2")
    t_ham = (
        F.bit_count(F.col("dha.dhash_hi").bitwiseXOR(F.col("dhb.dhash_hi")))
        + F.bit_count(F.col("dha.dhash_lo").bitwiseXOR(F.col("dhb.dhash_lo")))
    ).cast("long")
    tpairs_ham = (
        tpairs.alias("tp")
        .join(ma2, F.col("tp.doc_a") == F.col("ma2.doc_id"))
        .join(mb2, F.col("tp.doc_b") == F.col("mb2.doc_id"))
        .join(dha, F.col("ma2.img_id") == F.col("dha.img_id"))
        .join(dhb, F.col("mb2.img_id") == F.col("dhb.img_id"))
        .select(
            F.col("tp.doc_a").alias("doc_a"),
            F.col("tp.doc_b").alias("doc_b"),
            F.col("tp.tm").alias("tm"),
            t_ham.alias("t_hamming"),
        )
    )
    return image_pairs, tpairs_ham


def q_crossmodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL near-dup verdicts: the image-hash family joined
    with the text-fingerprint family into one per-pair verdict (see
    :func:`_crossmodal_pair_sets` for the two signal constructions —
    image: banded dHash LSH over distinct base images at hamming ≤ 1,
    kernel-shaped, expanded through the broadcast doc→image map; text:
    exact 8-word normalized prefix fingerprint). Verdict per candidate
    pair: ``both`` / ``image_only`` / ``text_only``, with the exact
    image Hamming distance where the image signal fired.

    SCALE SHAPE (re-measured, SCALE.md §13): the verdict list itself is
    output-bound by the expanded image-pair contract, but nothing else
    may scale with it — the text verdicts come from ``tpairs_ham``
    (each text pair's image Hamming computed directly, linear in text
    pairs; ``t_hamming ≤ 1`` is exactly image-pair membership because
    the 4-band pigeonhole is lossless at that threshold), so the only
    join against the expanded list is one LEFT join with the small
    text-pair set — the naive full-outer-over-expansion shape measured
    19× at 10× input before this restructure. Everything after the
    shared session-cached decode is native (explode/join/bit ops/
    md5)."""
    image_pairs, tpairs_ham = _crossmodal_pair_sets(spark, sf_dir)
    i = image_pairs.alias("i")
    t = tpairs_ham.select("doc_a", "doc_b", "tm").alias("t")
    img_side = i.join(
        t,
        on=[
            F.col("i.doc_a") == F.col("t.doc_a"),
            F.col("i.doc_b") == F.col("t.doc_b"),
        ],
        how="left",
    ).select(
        F.col("i.doc_a").alias("doc_a"),
        F.col("i.doc_b").alias("doc_b"),
        F.col("i.image_hamming").alias("image_hamming"),
        F.coalesce("t.tm", F.lit(False)).alias("text_match"),
        F.when(F.col("t.tm").isNotNull(), F.lit("both"))
        .otherwise(F.lit("image_only"))
        .alias("verdict"),
    )
    text_only = tpairs_ham.filter(F.col("t_hamming") > 1).select(
        "doc_a",
        "doc_b",
        F.lit(None).cast("long").alias("image_hamming"),
        F.lit(True).alias("text_match"),
        F.lit("text_only").alias("verdict"),
    )
    return img_side.unionByName(text_only)


def q_crossmodal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster census over the STRONG cross-modal edges: only pairs
    flagged by BOTH modalities (image dHash ≤ 1 AND matching text
    prefix fingerprint — the high-precision subset of
    :func:`q_crossmodal_neardup`) enter the connected-components pass,
    so a corpus dedup acting on these clusters removes only documents
    corroborated by two independent signals. Two-level CC (the §13
    kernel discipline: both-signal edge sets are small by construction,
    so the local union-find path usually takes it in one job; the
    distributed star rounds remain the fallback). The oracle replays
    the transitive closure with a recursive CTE over the SAME verdict
    SQL filtered to 'both'."""
    from hiv_data_integration_spark.operators.dedup import (
        connected_components,
    )

    # 'both' == a text pair whose images verify at hamming <= 1, so the
    # edge set comes straight from tpairs_ham — LINEAR in text pairs;
    # neither the expanded image-pair list nor even the banded image
    # self-join output is materialized on this path (measured: the
    # inner-join-over-expansion shape was 19x at 10x input, this one
    # is flat — SCALE.md §13)
    _image_pairs, tpairs_ham = _crossmodal_pair_sets(spark, sf_dir)
    edges = tpairs_ham.filter(F.col("t_hamming") <= 1).select(
        "doc_a", "doc_b"
    )
    cc = connected_components(edges, "doc_a", "doc_b", algorithm="star")
    return cc.groupBy("component").agg(
        F.count("*").cast("long").alias("n_members")
    )


# rebuilds the synthesized pixel grid ((7x+13y+doc_id)%256 over
# w=8(1+doc_id%5), h=8(1+(doc_id//5)%4)) and re-derives the aHash:
# cell (i,j) = pixel block [i*h/8,(i+1)*h/8) x [j*w/8,(j+1)*w/8);
# bit = 64*cell_sum >= total_sum (exact cross-multiplication);
# hi/lo = MSB-first packed 32-bit halves. Shared by both phash oracles.
_SQL_PHASH_CTE = """
WITH p AS (
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 5) AS BIGINT) AS w,
           CAST(8 * (1 + (doc_id // 5) % 4) AS BIGINT) AS h
    FROM documents
),
px AS (
    SELECT doc_id, w, h, x, y,
           (7 * x + 13 * y + doc_id) % 256 AS v,
           y // (h // 8) AS ci, x // (w // 8) AS cj
    FROM p, UNNEST(range(0, w)) AS tx(x), UNNEST(range(0, h)) AS ty(y)
),
cells AS (
    SELECT doc_id, MAX(w) AS w, MAX(h) AS h, ci, cj, SUM(v) AS cs
    FROM px GROUP BY doc_id, ci, cj
),
tot AS (SELECT doc_id, SUM(cs) AS ts FROM cells GROUP BY 1),
bits AS (
    SELECT c.doc_id, c.w, c.h, c.ci, c.cj,
           CASE WHEN 64 * c.cs >= t.ts THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS b
    FROM cells c JOIN tot t USING (doc_id)
),
hashes AS (
    SELECT doc_id,
           CAST(MAX(w) AS INTEGER) AS width,
           CAST(MAX(h) AS INTEGER) AS height,
           CAST(SUM(CASE WHEN ci < 4 THEN b << (31 - (ci * 8 + cj))
                         ELSE 0 END) AS BIGINT) AS phash_hi,
           CAST(SUM(CASE WHEN ci >= 4 THEN b << (31 - ((ci - 4) * 8 + cj))
                         ELSE 0 END) AS BIGINT) AS phash_lo
    FROM bits GROUP BY doc_id
)
"""

SQL_IMAGE_PHASH = _SQL_PHASH_CTE + """
SELECT doc_id, width, height, phash_hi, phash_lo, 'png' AS decoder
FROM hashes
"""

# band k of the 64-bit hash = 16-bit slice (hi//2^16, hi%2^16, lo//2^16,
# lo%2^16 — halves are unsigned 32-bit so // and % equal shift and mask);
# candidates share any band, verified Hamming = popcount of the xors.
SQL_PHASH_NEAR_PAIRS = _SQL_PHASH_CTE + """,
bands AS (
    SELECT doc_id, phash_hi, phash_lo, k AS bk,
           CASE k WHEN 0 THEN phash_hi // 65536
                  WHEN 1 THEN phash_hi % 65536
                  WHEN 2 THEN phash_lo // 65536
                  ELSE phash_lo % 65536 END AS bv
    FROM hashes, UNNEST(range(0, 4)) t(k)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.phash_hi AS ha, a.phash_lo AS la,
           b.phash_hi AS hb, b.phash_lo AS lb
    FROM bands a JOIN bands b
      ON a.bk = b.bk AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
           AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 4
"""

# class-aware successor: contract exact-hash classes (rep = min doc_id,
# n = member count), band the DISTINCT hashes, verify hamming <= 4, and
# emit multiplicities instead of expanded member pairs — n_a*n_b for a
# cross-class pair, n*(n-1)/2 for each exact-duplicate class.
SQL_PHASH_CLASS_PAIRS = _SQL_PHASH_CTE + """,
classes AS (
    SELECT phash_hi, phash_lo, MIN(doc_id) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM hashes GROUP BY 1, 2
),
cbands AS (
    SELECT rep, n, phash_hi, phash_lo, k AS bk,
           CASE k WHEN 0 THEN phash_hi // 65536
                  WHEN 1 THEN phash_hi % 65536
                  WHEN 2 THEN phash_lo // 65536
                  ELSE phash_lo % 65536 END AS bv
    FROM classes, UNNEST(range(0, 4)) t(k)
),
ccand AS (
    SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
           a.n AS n_a, b.n AS n_b,
           a.phash_hi AS ha, a.phash_lo AS la,
           b.phash_hi AS hb, b.phash_lo AS lb
    FROM cbands a JOIN cbands b
      ON a.bk = b.bk AND a.bv = b.bv AND a.rep < b.rep
)
SELECT rep_a, rep_b,
       CAST(bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) AS BIGINT)
           AS hamming,
       CAST(n_a * n_b AS BIGINT) AS n_pairs
FROM ccand
WHERE bit_count(xor(ha, hb)) + bit_count(xor(la, lb)) <= 4
UNION ALL
SELECT rep, rep, CAST(0 AS BIGINT), CAST(n * (n - 1) // 2 AS BIGINT)
FROM classes WHERE n >= 2
"""

# cross-modal verdicts: dHash banded LSH over base images (kernel) +
# expansion through the doc->image map, full-outer-joined with exact
# 8-word-prefix fingerprint pairs over the duplication corpus.
SQL_CROSSMODAL_NEARDUP = _SQL_DHASH_CTE + f""",
{_DUP_CORPUS_SQL.strip().rstrip()}
, bmap AS (SELECT doc_id, doc_id % 100000 AS img_id FROM corpus),
ibands AS (
    SELECT doc_id AS img_id, dhash_hi, dhash_lo, k AS bk,
           CASE k WHEN 0 THEN dhash_hi // 65536
                  WHEN 1 THEN dhash_hi % 65536
                  WHEN 2 THEN dhash_lo // 65536
                  ELSE dhash_lo % 65536 END AS bv
    FROM dhashes, UNNEST(range(0, 4)) t(k)
),
ipairs AS (
    SELECT DISTINCT a.img_id AS ia, b.img_id AS ib,
           CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
              + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT) AS hamming
    FROM ibands a JOIN ibands b
      ON a.bk = b.bk AND a.bv = b.bv AND a.img_id < b.img_id
    WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 1
),
image_pairs AS (
    SELECT least(m1.doc_id, m2.doc_id) AS doc_a,
           greatest(m1.doc_id, m2.doc_id) AS doc_b,
           p.hamming AS image_hamming
    FROM ipairs p JOIN bmap m1 ON m1.img_id = p.ia
                  JOIN bmap m2 ON m2.img_id = p.ib
    UNION ALL
    SELECT m1.doc_id, m2.doc_id, CAST(0 AS BIGINT)
    FROM bmap m1 JOIN bmap m2
      ON m1.img_id = m2.img_id AND m1.doc_id < m2.doc_id
),
tfp AS (
    SELECT doc_id,
           md5(array_to_string(
               (list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                            x -> x != ''))[1:8], ' ')) AS fp
    FROM corpus
),
tpairs AS (
    SELECT t1.doc_id AS doc_a, t2.doc_id AS doc_b, TRUE AS tm
    FROM tfp t1 JOIN tfp t2 ON t1.fp = t2.fp AND t1.doc_id < t2.doc_id
)
SELECT coalesce(i.doc_a, t.doc_a) AS doc_a,
       coalesce(i.doc_b, t.doc_b) AS doc_b,
       i.image_hamming AS image_hamming,
       coalesce(t.tm, FALSE) AS text_match,
       CASE WHEN i.doc_a IS NOT NULL AND t.tm IS NOT NULL THEN 'both'
            WHEN i.doc_a IS NOT NULL THEN 'image_only'
            ELSE 'text_only' END AS verdict
FROM image_pairs i FULL OUTER JOIN tpairs t
  ON i.doc_a = t.doc_a AND i.doc_b = t.doc_b
"""

SQL_CROSSMODAL_CLUSTERS = (
    "WITH RECURSIVE verdicts AS (" + SQL_CROSSMODAL_NEARDUP + """),
both_edges AS (
    SELECT doc_a AS a, doc_b AS b FROM verdicts WHERE verdict = 'both'
    UNION
    SELECT doc_b, doc_a FROM verdicts WHERE verdict = 'both'
),
reach(src, dst) AS (
    SELECT a, a FROM both_edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN both_edges e ON r.dst = e.a
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
SELECT component, CAST(count(*) AS BIGINT) AS n_members
FROM comp GROUP BY component
"""
)


def q_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end image dedup: decode (real PNG pixels) → aHash → banded
    Hamming near-pairs → KERNELIZED connected components → cluster
    census (component = smallest member doc_id, n_members). The full
    pipeline a multimodal corpus dedup runs — pairs alone under-collapse
    (a≈b and b≈c must merge even though a≈c was never emitted).

    Kernelization (the scale move, and why the r10 floor dropped
    7.49 s → 1.24 s min-of-5 quiet): docs with IDENTICAL hashes are guaranteed pairwise
    edges (hamming 0 shares every band), so exact-hash groups contract
    to their min-doc representative in ONE hash aggregate before any
    iteration. The star CC then runs on the contracted graph — orders
    of magnitude fewer edges and a shallower diameter (at sf0.1:
    62,122 raw edges → 4,382 contracted) — and the
    census expands back by summing group sizes per component. Exact-dup
    mass is precisely what explodes near-dup graphs at 100 TB, so the
    contraction is the difference between CC rounds over billions of
    edges and CC rounds over the distinct-fingerprint graph. At sf0.01:
    481 edges over 474 docs → 180 clusters, sizes 2–22. The oracle
    replays the transitive closure with a recursive CTE over the SAME
    pair SQL, so the kernelized fixpoint must match the plain one
    bit-for-bit."""
    from hiv_data_integration_spark.operators.dedup import (
        connected_components,
    )

    # since r12 the kernel comes straight from the class helpers — the
    # expanded member-pair list is never materialized here at all (the
    # pre-r12 shape expanded q_phash_near_pairs and re-contracted it;
    # cross-class band pairs ARE the contracted edge set, because two
    # docs pair iff their classes share a band and verify, and
    # within-class pairs contract to nothing)
    groups = _phash_classes(spark, sf_dir)  # session-cached checkpoint
    contracted = _phash_class_band_pairs(groups).select("rep_a", "rep_b")
    groups = groups.select("rep", F.col("n").alias("group_n"))
    # two-level CC: the kernel is the distinct-fingerprint graph (4,382
    # contracted edges at sf0.1), which the operator solves on the
    # driver; bigger kernels fall back to the distributed star rounds
    cc = connected_components(contracted, "rep_a", "rep_b", algorithm="star")
    # expand: every rep carries its group size. The census covers only
    # docs that PARTICIPATE in the pair graph (the un-kernelized
    # semantics): a group participates iff it has ≥2 members (identical
    # hashes are pairwise edges) or its rep touches a contracted edge
    # (identical hashes share every cross-group edge, so participation
    # is group-level). Edge-free singleton groups are excluded, exactly
    # as they never entered the plain CC.
    rep_sizes = groups.select("rep", "group_n")
    comp = (
        rep_sizes.join(cc.withColumnRenamed("id", "rep"), "rep", "left")
        .filter((F.col("group_n") >= 2) | F.col("component").isNotNull())
        .select(
            F.coalesce("component", "rep").alias("component"), "group_n"
        )
    )
    return comp.groupBy("component").agg(
        F.sum("group_n").cast("long").alias("n_members")
    )


SQL_PHASH_CLUSTERS = (
    "WITH RECURSIVE pairs AS (" + SQL_PHASH_NEAR_PAIRS + """),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(src, dst) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
comp AS (SELECT src AS id, min(dst) AS component FROM reach GROUP BY src)
SELECT component, CAST(count(*) AS BIGINT) AS n_members
FROM comp GROUP BY component
"""
)


# Session-scoped cache for the synthesized GIF corpus (same shape as
# _PHASH_CACHE): blob payloads are INPUT data — a real pipeline reads
# them from storage once; only the per-entry DECODE is the operator
# under measurement — so the three GIF entries share one synthesis per
# (SparkContext, sf_dir) instead of re-encoding 5k LZW streams each.
_GIF_CACHE: dict[tuple[str, str, bool], DataFrame] = {}


def _gif_payloads(
    spark: SparkSession, sf_dir: str, interlaced: bool = False
) -> DataFrame:
    """Shared synth stage for the animation/video entries: a genuine
    ANIMATED GIF89a byte stream per document — logical screen
    descriptor, 256-entry identity-grayscale global color table, and
    ``1 + doc_id % 4`` frames, each with a graphic-control extension
    (doc-derived delay) and REAL variable-width LZW pixel data (the
    encoder grows its code width 9→12 bits and emits clear codes like
    any conformant writer; the decoder in ``multimodal`` is validated
    against an independently published code/pixel sample, so this is
    a true codec round-trip, not a self-consistent pair). Frame pixel
    ``(x, y, f) = (7x + 13y + 11f + doc_id) % 256`` — pure doc_id
    arithmetic, so SQL oracles rebuild every pixel. Returns
    ``(doc_id, payload)``."""
    key = (spark.sparkContext.applicationId, sf_dir, interlaced)
    _evict_dead_sessions(_GIF_CACHE, key[0])
    cached = _GIF_CACHE.get(key)
    if cached is not None:
        return cached
    # one small parquet split in -> repartition so the per-payload
    # Python encode parallelizes across the session's cores
    docs = (
        tbl(spark, sf_dir, "documents").select("doc_id").repartition(32)
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    def synth_batches(batches):
        # self-contained closure (ships by value; see operators/multimodal.py)
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        _enc_roots: dict[int, dict[bytes, int]] = {}

        def lzw_encode(indices: bytes, mcs: int) -> bytes:
            clear = 1 << mcs
            eoi = clear + 1
            out = bytearray()
            cur = 0
            curbits = 0
            code_size = mcs + 1

            def emit(code: int) -> None:
                nonlocal cur, curbits
                cur |= code << curbits
                curbits += code_size
                while curbits >= 8:
                    out.append(cur & 0xFF)
                    cur >>= 8
                    curbits -= 8

            base = _enc_roots.get(clear)
            if base is None:
                base = {bytes([i]): i for i in range(clear)}
                _enc_roots[clear] = base

            def fresh():
                return dict(base)

            table = fresh()
            next_code = eoi + 1
            emit(clear)
            prev = b""
            for b in indices:
                cand = prev + bytes([b])
                if cand in table:
                    prev = cand
                    continue
                emit(table[prev])
                table[cand] = next_code
                next_code += 1
                # widen AFTER the entry numbered (1<<code_size) exists:
                # the code just emitted still fits; the next may not
                if next_code - 1 == (1 << code_size) and code_size < 12:
                    code_size += 1
                if next_code >= 4000:  # stay clear of the 12-bit corner
                    emit(clear)
                    table = fresh()
                    next_code = eoi + 1
                    code_size = mcs + 1
                prev = bytes([b])
            if prev:
                emit(table[prev])
            emit(eoi)
            if curbits:
                out.append(cur & 0xFF)
            return bytes(out)

        def sub_blocks(data: bytes) -> bytes:
            out = bytearray()
            for i in range(0, len(data), 255):
                chunk = data[i : i + 255]
                out.append(len(chunk))
                out += chunk
            out.append(0)
            return bytes(out)

        def gif_for(doc_id: int) -> bytes:
            w = 8 * (1 + doc_id % 3)
            h = 8 * (1 + (doc_id // 3) % 2)
            nf = 1 if interlaced else 1 + doc_id % 4
            buf = bytearray()
            buf += b"GIF89a"
            # GCT present, 8-bit color resolution, 2^(7+1)=256 entries
            buf += _struct.pack("<HHBBB", w, h, 0x80 | 0x70 | 0x07, 0, 0)
            for i in range(256):  # identity grayscale palette
                buf += bytes((i, i, i))
            for f in range(nf):
                delay = (doc_id + f) % 100
                buf += (
                    b"\x21\xf9"
                    + bytes((4, 0))
                    + _struct.pack("<H", delay)
                    + b"\x00\x00"
                )
                fpacked = 0x40 if interlaced else 0
                buf += b"\x2c" + _struct.pack("<HHHHB", 0, 0, w, h, fpacked)
                # pixel(x,y) = (7x + 13y + 11f + doc_id) % 256 — one
                # vectorized grid instead of w·h Python-level mod ops
                grid = (
                    7 * _np.arange(w, dtype=_np.int64)[None, :]
                    + 13 * _np.arange(h, dtype=_np.int64)[:, None]
                    + (11 * f + doc_id)
                ) % 256
                grid = grid.astype(_np.uint8)
                rows = [grid[y].tobytes() for y in range(h)]
                if interlaced:
                    # store rows in the 4-pass interlace order the spec
                    # defines; the decoder must invert this exactly
                    order = [
                        y
                        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                        for y in range(start, h, step)
                    ]
                    rows = [rows[y] for y in order]
                indices = b"".join(rows)
                buf.append(8)  # LZW min code size
                buf += sub_blocks(lzw_encode(indices, 8))
            buf += b"\x3b"
            return bytes(buf)

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [gif_for(int(d)) for d in pdf["doc_id"]],
                }
            )

    out = docs.mapInPandas(synth_batches, synth_schema).localCheckpoint(
        eager=True
    )
    _GIF_CACHE[key] = out
    return out


def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (the Spark 4 `pyspark.sql.datasource`
    API — the extension point the reference's bespoke REST/file readers
    would use for sources Spark lacks a connector for): a deterministic
    partitioned sequence source with SOURCE-SIDE FILTER PUSHDOWN —
    ``pushFilters`` consumes `id >=` / `id <` bounds by narrowing the
    partition ranges (returning only the unconsumed filters, per the
    AND-list contract), so workers never materialize pruned rows. The
    class tree is defined inside this function (cloudpickle ships it by
    value — the driver's own session workers don't have this repo on
    their import path). Results are config-independent: when
    ``spark.sql.python.filterPushdown.enabled`` is off Spark re-applies
    the same predicates post-scan; the unit test drives pushFilters
    directly to prove the partition narrowing. The oracle rebuilds the
    sequence arithmetic from ``range()``."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
    )

    class _SeqPartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start, self.end = start, end

    class _SeqReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", 200_000))
            self.nparts = int(options.get("parts", 16))
            self.lo = 0
            self.hi = self.n

        def partitions(self):
            lo, hi = self.lo, max(self.lo, self.hi)
            if lo >= hi:
                # a fully-pruning predicate must yield 0 rows, not crash:
                # PySpark substitutes [None] for an empty partition list
                # and read(None) would die on partition.start
                return [_SeqPartition(lo, lo)]
            span = max(1, (hi - lo + self.nparts - 1) // self.nparts)
            return [
                _SeqPartition(s, min(s + span, hi))
                for s in range(lo, hi, span)
            ]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i, i % 7, (i * 2654435761) % 1000)

    class _SeqReaderPushdown(_SeqReader):
        # Spark REFUSES a reader that defines pushFilters while
        # spark.sql.python.filterPushdown.enabled is false, so the
        # pushdown tier is a subclass selected per session conf —
        # results are identical either way (Spark re-applies the
        # predicates post-scan on the plain tier)
        def pushFilters(self, filters):
            for f in filters:
                # consume only single-column bounds on `id`; everything
                # else is returned for Spark to evaluate post-scan
                if (
                    isinstance(f, GreaterThanOrEqual)
                    and f.attribute == ("id",)
                    and isinstance(f.value, int)
                ):
                    self.lo = max(self.lo, f.value)
                elif (
                    isinstance(f, LessThan)
                    and f.attribute == ("id",)
                    and isinstance(f.value, int)
                ):
                    self.hi = min(self.hi, f.value)
                else:
                    yield f

    class SeqDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "graft_seq"

        def schema(self) -> str:
            return "id bigint, bucket int, val bigint"

        def reader(self, schema):
            if self.options.get("pushdown", "false") == "true":
                return _SeqReaderPushdown(self.options)
            return _SeqReader(self.options)

    spark.dataSource.register(SeqDataSource)
    pd_enabled = (
        spark.conf.get(
            "spark.sql.python.filterPushdown.enabled", "false"
        )
        or "false"
    ).lower() == "true"
    df = (
        spark.read.format("graft_seq")
        .option("n", 200_000)
        .option("parts", 16)
        .option("pushdown", "true" if pd_enabled else "false")
        .load()
    )
    return (
        df.filter((F.col("id") >= 12_345) & (F.col("id") < 180_000))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("val").cast("long").alias("sum_val"),
        )
    )


SQL_PYTHON_DATASOURCE = """
WITH t AS (
    SELECT i AS id, CAST(i % 7 AS INTEGER) AS bucket,
           (i * 2654435761) % 1000 AS val
    FROM range(0, 200000) r(i)
    WHERE i >= 12345 AND i < 180000
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       MIN(id) AS min_id, MAX(id) AS max_id,
       CAST(SUM(val) AS BIGINT) AS sum_val
FROM t GROUP BY bucket
"""


def _make_seq_stream_source():
    """Build the streaming sequence DataSource class tree (classes are
    defined inside a function so cloudpickle ships them by value — the
    driver's own session workers don't have this repo importable; see
    ``q_python_datasource``). Returned class is also driven directly by
    the unit tests to pin the offset/replay contract without a session.
    """
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class _SeqStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", 120_000))
            self.step = int(options.get("step", 30_000))

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = int(start["pos"])
            end = min(pos + self.step, self.n)
            rows = [
                (i, i % 7, (i * 2654435761) % 1000)
                for i in range(pos, end)
            ]
            # a list_iterator: the engine requires an iterator here and
            # its prefetch cache copy.copy()s it, which a generator
            # can't survive
            return iter(rows), {"pos": end}

        def readBetweenOffsets(self, start, end):
            return iter(
                [
                    (i, i % 7, (i * 2654435761) % 1000)
                    for i in range(int(start["pos"]), int(end["pos"]))
                ]
            )

    class SeqStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "graft_seq_stream"

        def schema(self) -> str:
            return "id bigint, bucket int, val bigint"

        def simpleStreamReader(self, schema):
            return _SeqStreamReader(self.options)

    return SeqStreamSource


def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CUSTOM PYTHON DATA SOURCE (the `simpleStreamReader`
    tier of the Spark 4 `pyspark.sql.datasource` API — completing the
    custom-source story `python_datasource_scan` opened on the batch
    side): a deterministic offset-ranged sequence source. Offsets are
    `{"pos": k}` dicts; each `read(start)` returns one materialized
    micro-batch `[pos, min(pos+step, n))` plus the advanced offset
    (the engine's prefetch cache copies the returned iterator, so rows
    must be a list, not a generator), and `readBetweenOffsets` replays
    any committed range deterministically — the recovery contract. The
    stream ingests via a stateless APPEND-mode memory sink (4
    offset-ranged micro-batches at n=120k/step=30k — `availableNow` is
    unsupported for Python stream sources and falls back to a single
    batch, so a processingTime trigger drives the multi-batch
    path — 0 ms so the next batch fires as soon as the previous
    commits (batch BOUNDARIES come from the source's step, not the
    clock; r12: measured −30% stream wall vs the old 50 ms interval);
    the source's stationary latestOffset lets
    processAllAvailable() terminate), and the per-bucket census is
    computed BATCH-side over the ingested table after the stream stops
    — the entry pins the source contract, not sink state.
    The oracle rebuilds the identical census from `range()` arithmetic.
    Class tree defined in-function: cloudpickle ships it by value."""
    import shutil
    import tempfile
    import uuid as _uuid

    n_rows_total, step = 120_000, 30_000
    SeqStreamSource = _make_seq_stream_source()
    spark.dataSource.register(SeqStreamSource)
    stream = (
        spark.readStream.format("graft_seq_stream")
        .option("n", n_rows_total)
        .option("step", step)
        .load()
    )
    name = f"stream_seq_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        # stateless append-mode ingest (the entry pins the SOURCE
        # contract — offsets, prefetch, replay — so the sink carries no
        # state store; a complete-mode variant would pay a
        # 32-partition state commit per micro-batch for a 7-group agg)
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 milliseconds")
            .start()
        )
        # the source's latestOffset stops advancing once pos reaches n,
        # so processAllAvailable() blocks until exactly the full row
        # budget is committed — no sink polling
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        ingested = spark.table(name)
        census = ingested.groupBy("bucket").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        out = _local_result(census)
        consumed = int(
            out.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).collect()[0][0]
            or 0
        )
        if consumed < n_rows_total:
            raise RuntimeError(
                f"stream census incomplete: {consumed}/{n_rows_total}"
            )
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def _make_seq_pstream_source():
    """Build the PARTITIONED streaming sequence DataSource — the
    executor-parallel `streamReader` tier of the Spark 4 API (the
    scale path: `simpleStreamReader` reads on the driver; this tier
    plans offset ranges on the driver and ships `InputPartition`s to
    executors, the shape a 1000-executor ingest needs). Offsets are
    `{"pos": k}`; `latestOffset` advances the watermark one `step` per
    trigger (capped at n, then stationary — which is what lets
    `processAllAvailable` terminate); `partitions(start, end)` splits
    the committed range into `parts` executor splits (a fully-pruned
    empty range yields one empty partition — the same crash guard as
    the batch source); `read` runs ON EXECUTORS and may be a plain
    generator (no driver prefetch cache at this tier). Classes are
    in-function so cloudpickle ships them by value; the factory is
    also driven directly by the unit tests."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangePart(InputPartition):
        def __init__(self, s: int, e: int):
            self.s, self.e = s, e

    class _SeqPartReader(DataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", 120_000))
            self.step = int(options.get("step", 30_000))
            self.nparts = int(options.get("parts", 8))
            self.pos = 0

        def initialOffset(self):
            return {"pos": 0}

        def latestOffset(self):
            self.pos = min(self.pos + self.step, self.n)
            return {"pos": self.pos}

        def partitions(self, start, end):
            lo, hi = int(start["pos"]), int(end["pos"])
            if lo >= hi:
                return [_RangePart(lo, lo)]
            span = max(1, (hi - lo + self.nparts - 1) // self.nparts)
            return [
                _RangePart(s, min(s + span, hi))
                for s in range(lo, hi, span)
            ]

        def read(self, partition):
            for i in range(partition.s, partition.e):
                yield (i, i % 7, (i * 2654435761) % 1000)

        def commit(self, end):
            pass

    class SeqPartStreamSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "graft_seq_pstream"

        def schema(self) -> str:
            return "id bigint, bucket int, val bigint"

        def streamReader(self, schema):
            return _SeqPartReader(self.options)

    return SeqPartStreamSource


def q_python_datasource_pstream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTOR-PARALLEL streaming custom Python data source (the full
    `streamReader` tier — completes the three-tier custom-source story:
    batch reader with pushdown, driver-side simple stream reader, and
    this partition-planned stream whose `read` runs on executors).
    Same deterministic sequence and census as the simple tier, same
    oracle — the two tiers must agree bit-for-bit; what changes is the
    physical ingest shape (driver plans offset ranges, executors scan
    their `InputPartition`s in parallel — the only shape that survives
    a 1000-executor firehose)."""
    import shutil
    import tempfile
    import uuid as _uuid

    n_rows_total = 120_000
    spark.dataSource.register(_make_seq_pstream_source())
    stream = (
        spark.readStream.format("graft_seq_pstream")
        .option("n", n_rows_total)
        .option("step", 30_000)
        .option("parts", 8)
        .load()
    )
    name = f"stream_pseq_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 milliseconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(60)
        census = spark.table(name).groupBy("bucket").agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        out = _local_result(census)
        consumed = int(
            out.agg(F.coalesce(F.sum("n_rows"), F.lit(0))).collect()[0][0]
            or 0
        )
        if consumed < n_rows_total:
            raise RuntimeError(
                f"pstream census incomplete: {consumed}/{n_rows_total}"
            )
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_PYTHON_DATASOURCE_STREAM = """
WITH t AS (
    SELECT i AS id, CAST(i % 7 AS INTEGER) AS bucket,
           (i * 2654435761) % 1000 AS val
    FROM range(0, 120000) r(i)
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
       MIN(id) AS min_id, MAX(id) AS max_id,
       CAST(SUM(val) AS BIGINT) AS sum_val
FROM t GROUP BY bucket
"""


def q_gif_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame decode (the video leg's actual codec,
    retiring the last synthetic frame path): stage 1 synthesizes a
    genuine multi-frame GIF89a per document (:func:`_gif_payloads`,
    real LZW), stage 2 (``multimodal.gif_frame_stats``) walks the
    container back out — extensions, image descriptors, sub-blocks,
    variable-width LZW, palette→luma — and emits one exact-integer
    stats row per frame. The synthesis parameters are pure doc_id
    arithmetic, so the oracle rebuilds every pixel of every frame with
    ``unnest(range(...))`` and re-derives the sums — the decoder must
    invert GIF+LZW bit-for-bit to go green."""
    return mm.gif_frame_stats(_gif_payloads(spark, sf_dir))


SQL_GIF_FRAME_DECODE = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
fr AS (
    SELECT p.doc_id, p.w, p.h, p.nf, f.f AS fi
    FROM p, UNNEST(range(0, p.nf)) f(f)
),
px AS (
    SELECT fr.doc_id, fr.fi, fr.w, fr.h, fr.nf,
           y.y * fr.w + x.x + 1 AS pos,
           (7 * x.x + 13 * y.y + 11 * fr.fi + fr.doc_id) % 256 AS v
    FROM fr, UNNEST(range(0, fr.h)) y(y), UNNEST(range(0, fr.w)) x(x)
)
SELECT doc_id AS media_id,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST((doc_id + fi) % 100 AS INTEGER) AS delay_cs,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM(v * pos) AS BIGINT) AS pix_checksum,
       'gif' AS decoder
FROM px GROUP BY doc_id, nf, fi, w, h
"""


def q_gif_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL interlaced-GIF decode: the synthesis writes each frame's rows
    in the spec's 4-pass interlace order (rows 0,8,.. then 4,12,.. then
    2,6,.. then odd rows) with the interlace flag set, and the decoder
    must INVERT the permutation exactly — the oracle computes the stats
    over the RASTER-order pixel formula, so any off-by-one in the
    deinterlace row remap (the classic GIF decoder bug) hash-fails.
    Single interlaced frame per doc; same stats contract as
    :func:`q_gif_frame_decode`."""
    return mm.gif_frame_stats(_gif_payloads(spark, sf_dir, interlaced=True))


SQL_GIF_INTERLACED = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h
    FROM documents
),
px AS (
    SELECT p.doc_id, p.w, p.h,
           y.y * p.w + x.x + 1 AS pos,
           (7 * x.x + 13 * y.y + p.doc_id) % 256 AS v
    FROM p, UNNEST(range(0, p.h)) y(y), UNNEST(range(0, p.w)) x(x)
)
SELECT doc_id AS media_id,
       CAST(1 AS INTEGER) AS n_frames,
       CAST(0 AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(doc_id % 100 AS INTEGER) AS delay_cs,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM(v * pos) AS BIGINT) AS pix_checksum,
       'gif' AS decoder
FROM px GROUP BY doc_id, w, h
"""


def q_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal video analysis over REAL decoded GIF frames: per-frame
    56-bit block-dHash (``multimodal.gif_frame_dhash`` — decode + hash
    behind ONE Python fence), then everything temporal is NATIVE Spark:
    consecutive-frame Hamming delta = lag window + ``bit_count(xor)``,
    scene cut = delta > 8, per-clip census (n_cuts / max / total
    delta). The oracle rebuilds every pixel closed-form, re-derives
    each frame's 8×8 block-sum grid, packs the same 56 gradient-sign
    bits with integer shifts, and re-runs the lag/xor/bit_count chain —
    the hash pins the full decode→fingerprint→temporal-delta pipeline
    end to end. Scale: decode is O(pixels) per blob with no shuffle;
    the window shuffles once on media_id (clip-sized groups, bounded
    frames per clip)."""
    from pyspark.sql.window import Window

    fp = mm.gif_frame_dhash(_gif_payloads(spark, sf_dir))
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    deltas = fp.withColumn(
        "delta",
        F.bit_count(
            F.col("dhash56").bitwiseXOR(F.lag("dhash56").over(w))
        ),
    )
    return deltas.groupBy("media_id").agg(
        F.max("n_frames").cast("int").alias("n_frames"),
        F.sum(F.when(F.col("delta") > 8, 1).otherwise(0))
        .cast("long")
        .alias("n_cuts"),
        F.coalesce(F.max("delta"), F.lit(0)).cast("int").alias("max_delta"),
        F.coalesce(F.sum("delta"), F.lit(0))
        .cast("long")
        .alias("sum_delta"),
        F.min("decoder").alias("decoder"),
    )


SQL_SCENE_CUTS = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
fr AS (
    SELECT p.doc_id, p.w, p.h, p.nf, f.f AS fi
    FROM p, UNNEST(range(0, p.nf)) f(f)
),
cell AS (
    SELECT fr.doc_id, fr.nf, fr.fi,
           (y.y * 8) // fr.h AS ci, (x.x * 8) // fr.w AS cj,
           SUM((7 * x.x + 13 * y.y + 11 * fr.fi + fr.doc_id) % 256) AS s
    FROM fr, UNNEST(range(0, fr.h)) y(y), UNNEST(range(0, fr.w)) x(x)
    GROUP BY 1, 2, 3, 4, 5
),
fp AS (
    SELECT doc_id, nf, fi,
           COALESCE(SUM(CASE WHEN nxt > s
               THEN (CAST(1 AS BIGINT) << CAST(ci * 7 + cj AS INTEGER))
               ELSE 0 END), 0) AS dhash
    FROM (
        SELECT *, LEAD(s) OVER (
            PARTITION BY doc_id, fi, ci ORDER BY cj) AS nxt
        FROM cell)
    WHERE nxt IS NOT NULL
    GROUP BY doc_id, nf, fi
),
delta AS (
    SELECT doc_id, nf,
           bit_count(CAST(xor(dhash,
               LAG(dhash) OVER (PARTITION BY doc_id ORDER BY fi)
           ) AS BIGINT)) AS d
    FROM fp
)
SELECT doc_id AS media_id,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(COALESCE(SUM(CASE WHEN d > 8 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_cuts,
       CAST(COALESCE(MAX(d), 0) AS INTEGER) AS max_delta,
       CAST(COALESCE(SUM(d), 0) AS BIGINT) AS sum_delta,
       'gif' AS decoder
FROM delta GROUP BY doc_id, nf
"""


def q_frame_class_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-FRAME near-duplicate pairs on the kernel contract (the
    §13 discipline applied to the temporal family): per-frame 56-bit
    block-dHashes over REAL decoded GIF frames (same single Python
    fence as the scene-cut entries, session-cached), contracted to
    exact-hash classes (rep = min ``media_id·64 + frame_idx`` frame
    uid), banded 4×14-bit Hamming LSH over the DISTINCT hashes
    (pigeonhole: hamming ≤ 3 < 4 bands guarantees a shared band),
    verified exactly, and emitted as class-representative pairs +
    multiplicities — ``(rep_a, rep_b, hamming, n_pairs)`` cross rows
    plus ``(rep, rep, 0, n(n−1)/2)`` exact-dup rows. Frame corpora are
    the most duplicate-dense modality there is (static shots repeat
    frames within AND across clips), so the kernel-sized output is the
    only 100 TB-viable pair contract; the expanded member list is
    recoverable exactly (Σ n_pairs) but never materialized. The oracle
    rebuilds every frame's hash closed-form and replays contraction,
    banding and multiplicity arithmetic in SQL."""
    key = (spark.sparkContext.applicationId, sf_dir, "gifdhash")
    _evict_dead_sessions(_PHASH_CACHE, key[0])
    fp = _PHASH_CACHE.get(key)
    if fp is None:
        fp = (
            mm.gif_frame_dhash(_gif_payloads(spark, sf_dir))
            .select("media_id", "frame_idx", "dhash56")
            .localCheckpoint(eager=True)
        )
        _PHASH_CACHE[key] = fp
    classes = fp.groupBy("dhash56").agg(
        F.min(F.col("media_id") * 64 + F.col("frame_idx")).alias("rep"),
        F.count("*").cast("long").alias("n"),
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(k).alias("bk"), bv.cast("long").alias("bv"))
            for k, bv in enumerate(
                [
                    F.shiftright("dhash56", 42),
                    F.shiftright("dhash56", 28).bitwiseAND(F.lit(16383)),
                    F.shiftright("dhash56", 14).bitwiseAND(F.lit(16383)),
                    F.col("dhash56").bitwiseAND(F.lit(16383)),
                ]
            )
        ]
    )
    bands = classes.select(
        "rep", "n", "dhash56", F.explode(band_structs).alias("b")
    ).select("rep", "n", "dhash56", "b.bk", "b.bv")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(
        F.col("a.dhash56").bitwiseXOR(F.col("b.dhash56"))
    ).cast("long")
    cross = (
        a.join(
            b,
            on=[
                F.col("a.bk") == F.col("b.bk"),
                F.col("a.bv") == F.col("b.bv"),
                F.col("a.rep") < F.col("b.rep"),
            ],
        )
        .select(
            F.col("a.rep").alias("rep_a"),
            F.col("b.rep").alias("rep_b"),
            ham.alias("hamming"),
            (F.col("a.n") * F.col("b.n")).cast("long").alias("n_pairs"),
        )
        .dropDuplicates(["rep_a", "rep_b"])
        .filter(F.col("hamming") <= 3)
    )
    within = classes.filter(F.col("n") >= 2).select(
        F.col("rep").alias("rep_a"),
        F.col("rep").alias("rep_b"),
        F.lit(0).cast("long").alias("hamming"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
    )
    return cross.unionByName(within)


# reuses the scene-cut oracle's closed-form frame-hash derivation, then
# replays the class contraction (rep = min media_id*64 + frame_idx),
# 4x14-bit banding over distinct hashes, exact Hamming verify at <= 3,
# and the multiplicity arithmetic.
SQL_FRAME_CLASS_PAIRS = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
fr AS (
    SELECT p.doc_id, p.w, p.h, p.nf, f.f AS fi
    FROM p, UNNEST(range(0, p.nf)) f(f)
),
cell AS (
    SELECT fr.doc_id, fr.nf, fr.fi,
           (y.y * 8) // fr.h AS ci, (x.x * 8) // fr.w AS cj,
           SUM((7 * x.x + 13 * y.y + 11 * fr.fi + fr.doc_id) % 256) AS s
    FROM fr, UNNEST(range(0, fr.h)) y(y), UNNEST(range(0, fr.w)) x(x)
    GROUP BY 1, 2, 3, 4, 5
),
fp AS (
    SELECT doc_id, fi,
           COALESCE(SUM(CASE WHEN nxt > s
               THEN (CAST(1 AS BIGINT) << CAST(ci * 7 + cj AS INTEGER))
               ELSE 0 END), 0) AS dhash
    FROM (
        SELECT *, LEAD(s) OVER (
            PARTITION BY doc_id, fi, ci ORDER BY cj) AS nxt
        FROM cell)
    WHERE nxt IS NOT NULL
    GROUP BY doc_id, fi
),
classes AS (
    SELECT dhash, MIN(doc_id * 64 + fi) AS rep,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM fp GROUP BY dhash
),
fbands AS (
    SELECT rep, n, dhash, k AS bk,
           CASE k WHEN 0 THEN dhash // 4398046511104
                  WHEN 1 THEN (dhash // 268435456) % 16384
                  WHEN 2 THEN (dhash // 16384) % 16384
                  ELSE dhash % 16384 END AS bv
    FROM classes, UNNEST(range(0, 4)) t(k)
),
fcand AS (
    SELECT DISTINCT a.rep AS rep_a, b.rep AS rep_b,
           a.n AS n_a, b.n AS n_b,
           a.dhash AS da, b.dhash AS db
    FROM fbands a JOIN fbands b
      ON a.bk = b.bk AND a.bv = b.bv AND a.rep < b.rep
)
SELECT rep_a, rep_b,
       CAST(bit_count(xor(da, db)) AS BIGINT) AS hamming,
       CAST(n_a * n_b AS BIGINT) AS n_pairs
FROM fcand
WHERE bit_count(xor(da, db)) <= 3
UNION ALL
SELECT rep, rep, CAST(0 AS BIGINT), CAST(n * (n - 1) // 2 AS BIGINT)
FROM classes WHERE n >= 2
"""


def q_shot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot segmentation over REAL decoded GIF frames — the stage after
    scene-cut detection in a video training pipeline (sample per SHOT,
    not per frame): reuse the per-frame dHash fence
    (``multimodal.gif_frame_dhash``), mark frames whose Hamming delta
    from the previous frame exceeds 8 as shot starts (frame 0 starts
    shot 0), assign ``shot_id`` by a cumulative sum window, and emit
    per-shot stats — all segmentation logic NATIVE window/aggregate
    arithmetic; Python appears only in the decode+hash fence. The
    ``shot_hash_sum`` (Σ dhash56 over the shot, ≤4 frames × 2^56 —
    fits long) gives each shot an exact content signature the oracle
    re-derives pixel-up."""
    from pyspark.sql.window import Window

    fp = mm.gif_frame_dhash(_gif_payloads(spark, sf_dir))
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    cuts = fp.withColumn(
        "delta",
        F.bit_count(
            F.col("dhash56").bitwiseXOR(F.lag("dhash56").over(w))
        ),
    ).withColumn(
        "shot_id",
        F.sum(
            F.when(F.col("delta") > 8, 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return cuts.groupBy("media_id", "shot_id").agg(
        F.max("n_frames").cast("int").alias("n_frames"),
        F.count("*").cast("long").alias("n_shot_frames"),
        F.min("frame_idx").cast("int").alias("first_frame"),
        F.max("frame_idx").cast("int").alias("last_frame"),
        F.sum("dhash56").cast("long").alias("shot_hash_sum"),
    )


SQL_SHOT_SEGMENTS = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
fr AS (
    SELECT p.doc_id, p.w, p.h, p.nf, f.f AS fi
    FROM p, UNNEST(range(0, p.nf)) f(f)
),
cell AS (
    SELECT fr.doc_id, fr.nf, fr.fi,
           (y.y * 8) // fr.h AS ci, (x.x * 8) // fr.w AS cj,
           SUM((7 * x.x + 13 * y.y + 11 * fr.fi + fr.doc_id) % 256) AS s
    FROM fr, UNNEST(range(0, fr.h)) y(y), UNNEST(range(0, fr.w)) x(x)
    GROUP BY 1, 2, 3, 4, 5
),
fp AS (
    SELECT doc_id, nf, fi,
           COALESCE(SUM(CASE WHEN nxt > s
               THEN (CAST(1 AS BIGINT) << CAST(ci * 7 + cj AS INTEGER))
               ELSE 0 END), 0) AS dhash
    FROM (
        SELECT *, LEAD(s) OVER (
            PARTITION BY doc_id, fi, ci ORDER BY cj) AS nxt
        FROM cell)
    WHERE nxt IS NOT NULL
    GROUP BY doc_id, nf, fi
),
delta AS (
    SELECT doc_id, nf, fi, dhash,
           bit_count(CAST(xor(dhash,
               LAG(dhash) OVER (PARTITION BY doc_id ORDER BY fi)
           ) AS BIGINT)) AS d
    FROM fp
),
shots AS (
    SELECT doc_id, nf, fi, dhash,
           SUM(CASE WHEN d > 8 THEN 1 ELSE 0 END) OVER (
               PARTITION BY doc_id ORDER BY fi
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS shot_id
    FROM delta
)
SELECT doc_id AS media_id,
       CAST(shot_id AS BIGINT) AS shot_id,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_shot_frames,
       CAST(MIN(fi) AS INTEGER) AS first_frame,
       CAST(MAX(fi) AS INTEGER) AS last_frame,
       CAST(SUM(dhash) AS BIGINT) AS shot_hash_sum
FROM shots GROUP BY doc_id, shot_id, nf
"""


def q_audio_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio activity segmentation over REAL decoded PCM — the
    silence-trim / voice-activity stage of an audio curation pipeline:
    per-frame energies as ROWS (``multimodal.audio_frame_rows`` — the
    one Python fence), then everything NATIVE: a frame is ACTIVE when
    its energy exceeds the clip's mean frame energy (exact integers —
    ``energy · n_frames > Σ energy``, cross-multiplied so no division),
    activity RUNS found by the lag/cumsum run-length idiom, and a
    per-clip census (active frames, runs, longest run). Clips shorter
    than one analysis window emit no frame rows and drop out — the
    oracle mirrors the lattice. The same closed-form byte arithmetic
    as the energy census means every run boundary is SQL-checkable."""
    from pyspark.sql.window import Window

    frames = mm.audio_frame_rows(_wav_payloads(spark, sf_dir)).filter(
        F.col("frame_idx") >= 0
    )
    w_doc = Window.partitionBy("doc_id")
    w_ord = Window.partitionBy("doc_id").orderBy("frame_idx")
    flagged = frames.withColumn(
        "active",
        F.col("energy") * F.col("n_frames") > F.sum("energy").over(w_doc),
    )
    runs = flagged.withColumn(
        "run_start",
        F.col("active")
        & ~F.coalesce(F.lag("active").over(w_ord), F.lit(False)),
    ).withColumn(
        "run_id",
        F.sum(F.col("run_start").cast("int")).over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    # materialize the flagged/run-id frame once: census and the run
    # census both read it, and without the barrier each aggregation
    # branch would re-run the PCM decode fence (plan-gated below)
    runs = runs.localCheckpoint(eager=True)
    run_lengths = (
        runs.filter(F.col("active"))
        .groupBy("doc_id", "run_id")
        .agg(F.count("*").alias("run_len"))
    )
    per_run = run_lengths.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_run"),
    )
    census = runs.groupBy("doc_id").agg(
        F.max("n_frames").cast("long").alias("n_frames"),
        F.sum(F.col("active").cast("int")).cast("long").alias("n_active"),
    )
    return census.join(per_run, "doc_id", "left").select(
        "doc_id",
        "n_frames",
        "n_active",
        F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
        F.coalesce("longest_run", F.lit(0))
        .cast("long")
        .alias("longest_run"),
    )


SQL_AUDIO_ACTIVITY = """
WITH p AS (
    SELECT doc_id,
           CAST(1 + (doc_id % 2) AS BIGINT) AS ch,
           CAST(100 + (doc_id * 2654435761) % 1000 AS BIGINT) AS ns
    FROM documents
),
s AS (SELECT doc_id, ch * ns AS nss FROM p),
smp AS (
    SELECT doc_id, nss, k,
           ((2 * k * 7 + doc_id) % 256)
           + 256 * (((2 * k + 1) * 7 + doc_id) % 256) AS raw
    FROM s, UNNEST(range(0, nss)) t(k)
),
sq AS (
    SELECT doc_id, nss, k,
           CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
    FROM smp
),
fr AS (
    SELECT s.doc_id,
           CASE WHEN s.nss >= 400 THEN (s.nss - 400) // 160 + 1
                ELSE 0 END AS n_frames,
           f.f AS frame
    FROM s, UNNEST(range(0, CASE WHEN s.nss >= 400
                                 THEN (s.nss - 400) // 160 + 1
                                 ELSE 0 END)) f(f)
),
fe AS (
    SELECT fr.doc_id, fr.n_frames, fr.frame, SUM(sq.v * sq.v) AS e
    FROM fr JOIN sq
      ON sq.doc_id = fr.doc_id
     AND sq.k >= fr.frame * 160 AND sq.k < fr.frame * 160 + 400
    GROUP BY 1, 2, 3
),
flg AS (
    SELECT doc_id, n_frames, frame, e,
           (e * n_frames > SUM(e) OVER (PARTITION BY doc_id)) AS active
    FROM fe
),
starts AS (
    SELECT doc_id, n_frames, frame, active,
           CASE WHEN active AND NOT COALESCE(
                   LAG(active) OVER (PARTITION BY doc_id ORDER BY frame),
                   FALSE)
               THEN 1 ELSE 0 END AS run_start
    FROM flg
),
runs AS (
    SELECT doc_id, n_frames, frame, active,
           SUM(run_start) OVER (
               PARTITION BY doc_id ORDER BY frame
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS run_id
    FROM starts
),
run_lengths AS (
    SELECT doc_id, run_id, count(*) AS run_len
    FROM runs WHERE active GROUP BY 1, 2
),
per_run AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS longest_run
    FROM run_lengths GROUP BY 1
),
census AS (
    SELECT doc_id, CAST(MAX(n_frames) AS BIGINT) AS n_frames,
           CAST(SUM(CASE WHEN active THEN 1 ELSE 0 END) AS BIGINT)
               AS n_active
    FROM runs GROUP BY 1
)
SELECT c.doc_id, c.n_frames, c.n_active,
       CAST(COALESCE(pr.n_runs, 0) AS BIGINT) AS n_runs,
       CAST(COALESCE(pr.longest_run, 0) AS BIGINT) AS longest_run
FROM census c LEFT JOIN per_run pr USING (doc_id)
"""


def q_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-frame sampling over REAL decoded GIF frames
    (``multimodal.gif_sample_frames``, k=3): sampled indices are the
    exact lattice ``i·(nf-1)//2`` (deduplicated — 1-frame clips yield
    one row), and each sampled frame is reduced to an 8×8 block-sum
    thumbnail checksum. The oracle mirrors the lattice arithmetic and
    every block sum pixel-for-pixel, so sampling REAL frames (not byte
    slices) is what goes green — this retires the old
    ``multimodal_frame_sample_stub`` byte-slicing entry."""
    return mm.gif_sample_frames(_gif_payloads(spark, sf_dir), k=3)


SQL_GIF_FRAME_SAMPLE = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
picks AS (
    SELECT DISTINCT doc_id, w, h, nf,
           CASE WHEN nf = 1 THEN 0 ELSE (i.i * (nf - 1)) // 2 END AS fi
    FROM p, UNNEST(range(0, 3)) i(i)
    WHERE nf > 1 OR i.i = 0
),
px AS (
    SELECT pk.doc_id, pk.fi, pk.w, pk.h, pk.nf,
           (y.y // (pk.h // 8)) * 8 + (x.x // (pk.w // 8)) + 1 AS cellpos,
           (7 * x.x + 13 * y.y + 11 * pk.fi + pk.doc_id) % 256 AS v
    FROM picks pk, UNNEST(range(0, pk.h)) y(y), UNNEST(range(0, pk.w)) x(x)
)
SELECT doc_id AS media_id,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(SUM(v) AS BIGINT) AS pix_sum,
       CAST(SUM(v * cellpos) AS BIGINT) AS thumb_checksum,
       'gif' AS decoder
FROM px GROUP BY doc_id, nf, fi, w, h
"""


def q_gif_resize_thumb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor 8×8 thumbnail over the REAL decoded first GIF
    frame (``multimodal.gif_resize_nearest``): source pixel for thumb
    cell ``(tx, ty)`` is ``(tx·w//8, ty·h//8)`` — the index arithmetic
    of the retired synthetic-grid ``multimodal_resize_stub``, now
    gathering from pixels the LZW decoder actually produced. The
    oracle recomputes each gathered pixel from the synthesis formula."""
    return mm.gif_resize_nearest(_gif_payloads(spark, sf_dir), size=8)


SQL_GIF_RESIZE = """
WITH p AS (
    SELECT doc_id,
           8 * (1 + doc_id % 3) AS w,
           8 * (1 + (doc_id // 3) % 2) AS h,
           1 + doc_id % 4 AS nf
    FROM documents
),
t AS (
    SELECT p.doc_id, p.w, p.h, p.nf,
           ((7 * ((tx.tx * p.w) // 8) + 13 * ((ty.ty * p.h) // 8)
             + p.doc_id) % 256) * (ty.ty * 8 + tx.tx + 1) AS wv
    FROM p, UNNEST(range(0, 8)) ty(ty), UNNEST(range(0, 8)) tx(tx)
)
SELECT doc_id AS media_id,
       CAST(w AS INTEGER) AS src_width,
       CAST(h AS INTEGER) AS src_height,
       CAST(nf AS INTEGER) AS n_frames,
       CAST(SUM(wv) AS BIGINT) AS thumb_checksum,
       'gif' AS decoder
FROM t GROUP BY doc_id, w, h, nf
"""


def q_audio_haar_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-structure audio fingerprint over the same synthesized
    WAVs (:func:`_wav_payloads`): ``multimodal.audio_haar_bands`` runs
    an exact integer 6-level Haar cascade over the first 64 decoded
    PCM samples and emits per-octave detail energies — the chromaprint
    shape without libm (an FFT would not be bit-portable across
    engines; Haar adds/subs are). The oracle rebuilds the signed
    samples from the synthesis arithmetic and folds the same cascade
    level by level in SQL. Completes the audio leg: header decode →
    amplitude energy → frequency bands."""
    banded = mm.audio_haar_bands(_wav_payloads(spark, sf_dir))
    return banded.select(
        "doc_id",
        F.col("haar.n_stream_samples").alias("n_stream_samples"),
        F.col("haar.approx_sq").alias("approx_sq"),
        F.col("haar.band_1").alias("band_1"),
        F.col("haar.band_2").alias("band_2"),
        F.col("haar.band_3").alias("band_3"),
        F.col("haar.band_4").alias("band_4"),
        F.col("haar.band_5").alias("band_5"),
        F.col("haar.band_6").alias("band_6"),
        F.col("haar.decoder").alias("decoder"),
    )


def q_audio_decimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer decimation resample (factor 2) over the same synthesized
    WAVs (``multimodal.audio_decimate_stats``): pair floor-means of the
    REAL decoded PCM stream with an exact census. The oracle rebuilds
    the signed samples from the synthesis arithmetic and re-derives the
    floor-mean fold — floor (not truncate-toward-zero) division is the
    portability trap this entry pins: DuckDB's integer ``//`` truncates,
    so the oracle spells ``floor((a+b)/2.0)`` explicitly. Completes the
    audio leg: header → amplitude → frequency → resample."""
    decim = mm.audio_decimate_stats(_wav_payloads(spark, sf_dir), factor=2)
    return decim.select(
        "doc_id",
        F.col("decimated.n_stream_samples").alias("n_stream_samples"),
        F.col("decimated.n_out_samples").alias("n_out_samples"),
        F.col("decimated.sum_out").alias("sum_out"),
        F.col("decimated.checksum_out").alias("checksum_out"),
        F.col("decimated.decoder").alias("decoder"),
    )


# sample k = signed 16-bit of bytes (2k, 2k+1); y_j = floor((s_2j +
# s_2j+1)/2) — floats are exact here (|a+b| < 2^17 << 2^53), so the
# floor() spelling is bit-safe; checksum weights y_j by j+1.
SQL_AUDIO_DECIMATE = """
WITH p AS (
    SELECT doc_id,
           CAST(1 + (doc_id % 2) AS BIGINT) AS ch,
           CAST(100 + (doc_id * 2654435761) % 1000 AS BIGINT) AS ns
    FROM documents
),
s AS (SELECT doc_id, ch * ns AS nss FROM p),
smp AS (
    SELECT doc_id, nss, k,
           CASE WHEN ((2 * k * 7 + doc_id) % 256)
                     + 256 * (((2 * k + 1) * 7 + doc_id) % 256) >= 32768
                THEN ((2 * k * 7 + doc_id) % 256)
                     + 256 * (((2 * k + 1) * 7 + doc_id) % 256) - 65536
                ELSE ((2 * k * 7 + doc_id) % 256)
                     + 256 * (((2 * k + 1) * 7 + doc_id) % 256) END AS v
    FROM s, UNNEST(range(0, nss)) t(k)
),
dec AS (
    SELECT doc_id, nss, k // 2 AS j,
           CAST(floor(SUM(v) / 2.0) AS BIGINT) AS y
    FROM smp WHERE k < (nss // 2) * 2
    GROUP BY doc_id, nss, k // 2
)
SELECT doc_id,
       CAST(MAX(nss) AS BIGINT) AS n_stream_samples,
       CAST(count(*) AS BIGINT) AS n_out_samples,
       CAST(SUM(y) AS BIGINT) AS sum_out,
       CAST(SUM(y * (j + 1)) AS BIGINT) AS checksum_out,
       'wav' AS decoder
FROM dec GROUP BY doc_id
"""


# rebuilds the first 64 interleaved samples from the synthesis
# arithmetic (byte i = (i*7 + doc_id) % 256, 16-bit LE signed), then
# folds the unnormalized Haar cascade: per level s = a+b, d = a-b over
# adjacent pairs; band_L = SUM(d^2); approx_sq = (final s)^2. ns >= 100
# by construction so the 64-sample window always exists.
SQL_AUDIO_HAAR = """
WITH p AS (
    SELECT doc_id,
           CAST(1 + (doc_id % 2) AS BIGINT) AS ch,
           CAST(100 + (doc_id * 2654435761) % 1000 AS BIGINT) AS ns
    FROM documents
),
l0 AS (
    SELECT doc_id, k,
           CASE WHEN ((2 * k * 7 + doc_id) % 256)
                     + 256 * (((2 * k + 1) * 7 + doc_id) % 256) >= 32768
                THEN ((2 * k * 7 + doc_id) % 256)
                     + 256 * (((2 * k + 1) * 7 + doc_id) % 256) - 65536
                ELSE ((2 * k * 7 + doc_id) % 256)
                     + 256 * (((2 * k + 1) * 7 + doc_id) % 256) END AS v
    FROM p, UNNEST(range(0, 64)) t(k)
),
l1 AS (SELECT doc_id, k // 2 AS k, SUM(v) AS s,
              SUM(CASE WHEN k % 2 = 0 THEN v ELSE -v END) AS d
       FROM l0 GROUP BY doc_id, k // 2),
l2 AS (SELECT doc_id, k // 2 AS k, SUM(s) AS s,
              SUM(CASE WHEN k % 2 = 0 THEN s ELSE -s END) AS d
       FROM l1 GROUP BY doc_id, k // 2),
l3 AS (SELECT doc_id, k // 2 AS k, SUM(s) AS s,
              SUM(CASE WHEN k % 2 = 0 THEN s ELSE -s END) AS d
       FROM l2 GROUP BY doc_id, k // 2),
l4 AS (SELECT doc_id, k // 2 AS k, SUM(s) AS s,
              SUM(CASE WHEN k % 2 = 0 THEN s ELSE -s END) AS d
       FROM l3 GROUP BY doc_id, k // 2),
l5 AS (SELECT doc_id, k // 2 AS k, SUM(s) AS s,
              SUM(CASE WHEN k % 2 = 0 THEN s ELSE -s END) AS d
       FROM l4 GROUP BY doc_id, k // 2),
l6 AS (SELECT doc_id, k // 2 AS k, SUM(s) AS s,
              SUM(CASE WHEN k % 2 = 0 THEN s ELSE -s END) AS d
       FROM l5 GROUP BY doc_id, k // 2)
SELECT p.doc_id,
       CAST(p.ch * p.ns AS BIGINT) AS n_stream_samples,
       CAST(a.s * a.s AS BIGINT) AS approx_sq,
       CAST(b1.e AS BIGINT) AS band_1,
       CAST(b2.e AS BIGINT) AS band_2,
       CAST(b3.e AS BIGINT) AS band_3,
       CAST(b4.e AS BIGINT) AS band_4,
       CAST(b5.e AS BIGINT) AS band_5,
       CAST(b6.e AS BIGINT) AS band_6,
       'wav' AS decoder
FROM p
JOIN (SELECT doc_id, SUM(d * d) AS e FROM l1 GROUP BY 1) b1 USING (doc_id)
JOIN (SELECT doc_id, SUM(d * d) AS e FROM l2 GROUP BY 1) b2 USING (doc_id)
JOIN (SELECT doc_id, SUM(d * d) AS e FROM l3 GROUP BY 1) b3 USING (doc_id)
JOIN (SELECT doc_id, SUM(d * d) AS e FROM l4 GROUP BY 1) b4 USING (doc_id)
JOIN (SELECT doc_id, SUM(d * d) AS e FROM l5 GROUP BY 1) b5 USING (doc_id)
JOIN (SELECT doc_id, SUM(d * d) AS e FROM l6 GROUP BY 1) b6 USING (doc_id)
JOIN l6 a USING (doc_id)
"""


def _mixed_media_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared synth for the media-router entries: a corpus where every
    third doc is a real PNG, a real WAV, or junk bytes (type =
    doc_id % 3). Returns ``(doc_id, payload)``."""
    docs = (
        tbl(spark, sf_dir, "documents").select("doc_id").repartition(32)
    )

    synth_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )

    png_for = _make_png_encoder()
    wav_for = _make_wav_encoder()

    def synth_batches(batches):
        import pandas as _pd

        def payload_for(doc_id: int) -> bytes:
            kind = doc_id % 3
            if kind == 0:  # real grayscale PNG (phash synth shape)
                return png_for(doc_id)
            if kind == 1:  # real canonical-PCM WAV (audio synth shape)
                return wav_for(doc_id, odd_list=False)
            # junk: deterministic bytes that match no container magic
            return b"JUNK" + bytes(
                (i * 11 + doc_id) % 256 for i in range(64)
            )

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "payload": [payload_for(int(d)) for d in pdf["doc_id"]],
                }
            )

    return docs.mapInPandas(synth_batches, synth_schema)


def _media_type_col():
    """Native magic-byte sniff over the binary ``payload`` column — pure
    JVM substring-vs-binary-literal comparisons, codegen'd, no Python."""
    png_magic = F.lit(bytearray(b"\x89PNG\r\n\x1a\n"))
    return (
        F.when(F.substring("payload", 1, 8) == png_magic, F.lit("png"))
        .when(
            (F.substring("payload", 1, 4) == F.lit(bytearray(b"RIFF")))
            & (F.substring("payload", 9, 4) == F.lit(bytearray(b"WAVE"))),
            F.lit("wav"),
        )
        .otherwise(F.lit("unknown"))
    )


def _media_census(routed: DataFrame) -> DataFrame:
    return routed.groupBy("media_type").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        # byte totals only where a closed form exists for the oracle:
        # PNG's zlib-compressed size is not SQL-derivable, so the png
        # row carries NULL total_bytes on BOTH sides by contract
        F.sum(
            F.when(
                F.col("media_type") != "png", F.octet_length("payload")
            )
        ).cast("long").alias("total_bytes"),
    )


def q_media_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-media triage WITHOUT decoding — the first stage of any blob
    lake ingest: real PNG / real WAV / junk payloads (type = doc_id % 3,
    :func:`_mixed_media_payloads`) routed by MAGIC-BYTE sniffing with
    NATIVE binary expressions (:func:`_media_type_col` — pure JVM,
    codegen'd, no Python worker touches the payloads). At 100 TB the
    router is a projection over the first 12 bytes of each blob; only
    the routed subsets ever reach a decode stage. The oracle knows the
    synthesis plan, so the sniffer must classify every real container
    byte stream correctly to go green."""
    payloads = _mixed_media_payloads(spark, sf_dir)
    return _media_census(payloads.withColumn("media_type", _media_type_col()))


def q_streaming_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECODE-IN-STREAM blob ingest: the synthesized animated-GIF corpus
    arrives as a parquet file stream and the REAL codec
    (``multimodal.gif_frame_stats`` — container walk + LZW + palette,
    an Arrow ``mapInPandas`` stage INSIDE the stream) runs per
    micro-batch, feeding a complete-mode per-clip-length census. The
    oracle aggregates the same closed-form frame stats the batch entry
    pins, so streaming decode must be bit-identical to batch decode.
    Stateless decode + one bounded running aggregate (≤4 clip-length
    groups) — the shape of a production media-lake ingest where decode
    happens on arrival, not in a later batch sweep."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="gif_feed_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        _gif_payloads(spark, sf_dir).write.mode("overwrite").parquet(
            f"{src}/feed"
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        )
        stream = spark.readStream.format("parquet").schema(schema).load(
            f"{src}/feed"
        )
        frames = mm.gif_frame_stats(stream)
        census = frames.groupBy("n_frames").agg(
            F.count("*").cast("long").alias("n_frame_rows"),
            F.min("media_id").alias("min_doc_id"),
            F.max("media_id").alias("max_doc_id"),
            F.sum("pix_sum").cast("long").alias("total_pix"),
            F.sum("pix_checksum").cast("long").alias("total_checksum"),
        )
        name = f"stream_gif_{_uuid.uuid4().hex[:12]}"
        q = (
            census.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = _local_result(spark.table(name))
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
    return out


SQL_STREAMING_FRAME_DECODE = f"""
WITH frame_stats AS ({SQL_GIF_FRAME_DECODE})
SELECT CAST(n_frames AS INTEGER) AS n_frames,
       CAST(count(*) AS BIGINT) AS n_frame_rows,
       MIN(media_id) AS min_doc_id,
       MAX(media_id) AS max_doc_id,
       CAST(SUM(pix_sum) AS BIGINT) AS total_pix,
       CAST(SUM(pix_checksum) AS BIGINT) AS total_checksum
FROM frame_stats GROUP BY n_frames
"""


def q_streaming_media_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming blob-lake triage: the synthesized mixed-media corpus is
    written to a file feed, payloads ARRIVE as a parquet stream, and the
    SAME native magic-byte routing projection (:func:`_media_type_col`)
    runs per micro-batch into a complete-mode census — which must equal
    the batch router bit-for-bit (same oracle). Stateless streaming
    ingest over binary columns: route on arrival, decode later, no
    state beyond the running aggregate (bounded by n_media_types)."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="media_feed_")
    _mixed_media_payloads(spark, sf_dir).write.mode("overwrite").parquet(
        f"{src}/feed"
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    stream = spark.readStream.format("parquet").schema(schema).load(
        f"{src}/feed"
    )
    stats = _media_census(stream.withColumn("media_type", _media_type_col()))
    name = f"stream_router_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    # try/finally so a failed start()/awaitTermination() never leaks the
    # mkdtemp'd feed + checkpoint dirs (the _retry_stream_once retry
    # mkdtemps fresh ones, so leaked dirs would otherwise accumulate) —
    # same cleanup discipline as the other temp-state streaming entries.
    try:
        q = (
            stats.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = _local_result(spark.table(name))
        spark.catalog.dropTempView(name)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(src, ignore_errors=True)
    return out


# type = doc_id % 3 by synthesis plan; total_bytes is closed-form for wav
# (44-byte canonical header + ns*ch*2 sample bytes) and junk (4 magic +
# 64 = 68); the png row's total_bytes is NULL on both sides (zlib size
# has no closed form — documented contract, not an accident).
SQL_MEDIA_ROUTER = """
WITH t AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png'
                           WHEN 1 THEN 'wav'
                           ELSE 'unknown' END AS media_type,
           CASE doc_id % 3
                WHEN 1 THEN 44 + (100 + (doc_id * 2654435761) % 1000)
                             * (1 + (doc_id % 2)) * 2
                WHEN 2 THEN 68
                ELSE NULL END AS nb
    FROM documents
)
SELECT media_type, CAST(count(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
       CAST(SUM(nb) AS BIGINT) AS total_bytes
FROM t GROUP BY media_type
"""


def q_temporal_split_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged time-based train/test split audit (the leakage-safe split a
    temporal model needs — hash splits scatter each day across train AND
    test): orders at or before 1998-06-30 train, a 90-day purge gap is
    excluded, the rest test. Output = per-split census (row count, date
    span, exact-decimal revenue) proving the boundaries land exactly.
    Pure projection + one hash aggregate; with date-partitioned storage
    the split scans partition-prune at 100 TB."""
    from hiv_data_integration_spark.operators.sampling import (
        temporal_split_purged,
    )

    orders = tbl(spark, sf_dir, "orders").withColumn(
        "o_date", F.col("o_orderdate").cast("date")
    )
    split = temporal_split_purged(orders, "o_date", "1998-06-30", 90)
    return split.groupBy("split").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.min("o_date").alias("first_date"),
        F.max("o_date").alias("last_date"),
        dsum("o_totalprice", scale=2, prec=28).alias("sum_total"),
    )


SQL_TEMPORAL_SPLIT = """
WITH o AS (
    SELECT CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders
),
s AS (
    SELECT CASE WHEN d <= DATE '1998-06-30' THEN 'train'
                WHEN d <= DATE '1998-06-30' + INTERVAL 90 DAY THEN 'purged'
                ELSE 'test' END AS split,
           d, o_totalprice
    FROM o
)
SELECT split, CAST(count(*) AS BIGINT) AS n_orders,
       MIN(d) AS first_date, MAX(d) AS last_date,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_total
FROM s GROUP BY 1
"""


def q_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-gate funnel census per language — the curation
    accounting every corpus pipeline publishes (how many docs die at
    which gate, what survives): gate 1 min length (>=200 chars), gate 2
    min words (>=30, exact space-count words), gate 3 mean word length
    < 12 (cross-multiplied — no division), gate 4 uppercase ratio < 20%
    (ditto). Attribution is FIRST-failing-gate, so the counts sum to the
    total by construction. One codegen'd scan, one hash aggregate; all
    integer arithmetic."""
    docs = tbl(spark, sf_dir, "documents")
    chars = F.length("text")
    spaces = chars - F.length(F.regexp_replace(F.col("text"), " ", ""))
    words = spaces + F.lit(1)
    nonspace = chars - spaces
    upper = F.length(F.regexp_replace(F.col("text"), "[^A-Z]", ""))
    g1 = chars >= 200
    g2 = words >= 30
    g3 = nonspace < words * 12
    g4 = upper * 5 < chars
    lng = F.col("lang")
    b2l = lambda c: F.when(c, F.lit(1)).otherwise(F.lit(0)).cast("long")  # noqa: E731
    return docs.groupBy(lng.alias("lang")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(b2l(~g1)).alias("fail_minlen"),
        F.sum(b2l(g1 & ~g2)).alias("fail_words"),
        F.sum(b2l(g1 & g2 & ~g3)).alias("fail_wordlen"),
        F.sum(b2l(g1 & g2 & g3 & ~g4)).alias("fail_upper"),
        F.sum(b2l(g1 & g2 & g3 & g4)).alias("survivors"),
    )


SQL_GATE_FUNNEL = """
WITH d AS (
    SELECT lang,
           length(text) AS chars,
           length(text) - length(regexp_replace(text, ' ', '', 'g'))
               AS spaces,
           length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_n
    FROM documents
),
g AS (
    SELECT lang,
           chars >= 200 AS g1,
           spaces + 1 >= 30 AS g2,
           chars - spaces < (spaces + 1) * 12 AS g3,
           upper_n * 5 < chars AS g4
    FROM d
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_minlen,
       CAST(SUM(CASE WHEN g1 AND NOT g2 THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_words,
       CAST(SUM(CASE WHEN g1 AND g2 AND NOT g3 THEN 1 ELSE 0 END) AS BIGINT)
           AS fail_wordlen,
       CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND NOT g4 THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_upper,
       CAST(SUM(CASE WHEN g1 AND g2 AND g3 AND g4 THEN 1 ELSE 0 END)
            AS BIGINT) AS survivors
FROM g GROUP BY lang
"""


def q_stopword_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × stopword-set hit matrix: per document language, total
    hits of EACH language's stopword list (and the per-word rate) — the
    cross-diagnostic that catches both mislabeled languages and
    stopword-list gaps (a lang row whose max column is a different
    lang's list is a labeling bug). One codegen'd scan; exact BIGINT
    hits, one IEEE division per rate."""
    docs = _spread(tbl(spark, sf_dir, "documents"))
    t = F.lower(F.col("text"))
    per = docs.select(
        "lang",
        tx.token_count(F.col("text")).alias("_w"),
        *[
            tx.stopword_count(t, tx.STOPWORDS[lg]).alias(f"_h_{lg}")
            for lg in sorted(tx.STOPWORDS)
        ],
    )
    agg = per.groupBy("lang").agg(
        F.sum("_w").cast("long").alias("n_words"),
        *[
            F.sum(f"_h_{lg}").cast("long").alias(f"hits_{lg}")
            for lg in sorted(tx.STOPWORDS)
        ],
    )
    return agg.select(
        "lang",
        "n_words",
        *[F.col(f"hits_{lg}") for lg in sorted(tx.STOPWORDS)],
        *[
            (F.col(f"hits_{lg}").cast("double")
             / F.col("n_words").cast("double")).alias(f"rate_{lg}")
            for lg in sorted(tx.STOPWORDS)
        ],
    )


SQL_STOPWORD_MATRIX = f"""
WITH per AS (
    SELECT lang,
           CAST(len({_TOKS.replace("lower(text)", "text")}) AS BIGINT) AS w,
           {", ".join(
               f"CAST({_sw_count_sql(tx.STOPWORDS[lg])} AS BIGINT)"
               f" AS h_{lg}" for lg in sorted(tx.STOPWORDS))}
    FROM documents
)
SELECT lang, CAST(SUM(w) AS BIGINT) AS n_words,
       {", ".join(
           f"CAST(SUM(h_{lg}) AS BIGINT) AS hits_{lg}"
           for lg in sorted(tx.STOPWORDS))},
       {", ".join(
           f"CAST(SUM(h_{lg}) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)"
           f" AS rate_{lg}" for lg in sorted(tx.STOPWORDS))}
FROM per GROUP BY lang
"""


def q_streaming_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode semantics (the third sibling of the battery's
    append and complete entries): a running per-user aggregate emits a
    NEW ROW PER CHANGED KEY PER MICRO-BATCH, so with the events file
    delivered twice (maxFilesPerTrigger=1) every user appears exactly
    twice in the sink — the first row the single-delivery count, the
    last the doubled one. The census (n_updates, max = final state)
    hash-checks both the update cadence and the final values."""
    import shutil
    import tempfile
    import uuid as _uuid

    src = tempfile.mkdtemp(prefix="upd_feed_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery1.parquet")
        shutil.copy(f"{sf_dir}/events.parquet", f"{src}/delivery2.parquet")
        stream = read_events_stream(
            spark, src, f"{sf_dir}/events.parquet", max_files_per_trigger=1
        )
        agg = stream.groupBy("user_id").agg(
            F.count("*").cast("long").alias("n_events")
        )
        name = f"stream_upd_{_uuid.uuid4().hex[:12]}"
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        ssession = agg.sparkSession
        out = _local_result(
            ssession.table(name)
            .groupBy("user_id")
            .agg(
                F.count("*").cast("long").alias("n_updates"),
                F.max("n_events").cast("long").alias("final_count"),
                F.min("n_events").cast("long").alias("first_count"),
            )
        )
        ssession.catalog.dropTempView(name)
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


SQL_STREAMING_UPDATE_MODE = """
SELECT user_id,
       CAST(2 AS BIGINT) AS n_updates,
       CAST(2 * count(*) AS BIGINT) AS final_count,
       CAST(count(*) AS BIGINT) AS first_count
FROM events GROUP BY user_id
"""


def q_pivot_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with MULTIPLE aggregates per pivot value (sum + count per
    return flag) — the wide-rotation shape with a compound measure
    list; explicit pivot values keep the plan collect-free and the
    column names deterministic."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            # count(*) star-expansion is invalid inside a Pivot agg list
            F.count(F.lit(1)).alias("n"),
        )
    )


SQL_PIVOT_MULTI_AGG = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN l_returnflag = 'A'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
           AS A_sum_qty,
       count(*) FILTER (WHERE l_returnflag = 'A') AS A_n,
       CAST(SUM(CASE WHEN l_returnflag = 'N'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
           AS N_sum_qty,
       count(*) FILTER (WHERE l_returnflag = 'N') AS N_n,
       CAST(SUM(CASE WHEN l_returnflag = 'R'
                THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE)
           AS R_sum_qty,
       count(*) FILTER (WHERE l_returnflag = 'R') AS R_n
FROM lineitem GROUP BY l_linestatus
"""


def q_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP HLL distinct estimates (m=64 registers per event type)
    — the grouped form of the portable sketch: one register table keyed
    by (type, bucket) is the mergeable per-segment state, and every
    group's raw estimate + the exact truth come out of the same scan.
    Generalized rho constant (62 − bitlen(m)) exercised at a non-default
    m; estimate floats are the usual exact-int divisions."""
    from hiv_data_integration_spark.operators.aggregate import (
        hll_estimate_grouped,
        hll_registers_grouped,
    )

    ev = tbl(spark, sf_dir, "events")
    est = hll_estimate_grouped(
        hll_registers_grouped(ev, ["event_type"], "event_id", m=64),
        ["event_type"],
        m=64,
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("event_id").cast("long").alias("n_exact")
    )
    return est.join(exact, "event_type")


SQL_HLL_GROUPED = """
WITH h AS (
    SELECT event_type,
           CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM events
),
r AS (
    SELECT event_type, h % 64 AS bucket,
           MAX(CASE WHEN h // 64 = 0 THEN 55
                    ELSE 55 - length(bin(h // 64)) END) AS register
    FROM h GROUP BY 1, 2
),
a AS (
    SELECT event_type, CAST(MAX(register) AS BIGINT) AS max_register,
           CAST(COUNT(*) AS BIGINT) AS nonempty
    FROM r GROUP BY 1
),
np AS (
    SELECT r.event_type,
           CAST(SUM(CAST(pow(2.0, a.max_register - r.register) AS BIGINT))
                AS BIGINT) AS s
    FROM r JOIN a USING (event_type) GROUP BY 1
),
est AS (
    SELECT a.event_type, a.max_register,
           CAST(np.s + (64 - a.nonempty)
                * CAST(pow(2.0, a.max_register) AS BIGINT) AS BIGINT)
               AS harmonic_num
    FROM a JOIN np USING (event_type)
),
x AS (SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1)
SELECT est.event_type, max_register, harmonic_num,
       2905.460551022604 * pow(2.0, max_register)
           / CAST(harmonic_num AS DOUBLE) AS estimate,
       n_exact
FROM est JOIN x USING (event_type)
"""


def q_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact range-partition boundary synthesis over orders under the
    unique (o_totalprice, o_orderkey) total order, N=8 — reproducible
    repartitionByRange/sorted-write planning (boundary i = the exact
    order statistic at ceil(i·n/8), all-integer rank selection) instead
    of Spark's run-dependent sampled boundaries."""
    from hiv_data_integration_spark.operators.aggregate import (
        range_partition_boundaries,
    )

    o = tbl(spark, sf_dir, "orders")
    return range_partition_boundaries(o, ["o_totalprice", "o_orderkey"], 8)


SQL_RANGE_BOUNDARIES = """
WITH rk AS (
    SELECT o_totalprice, o_orderkey,
           row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rank
    FROM orders
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
idx AS (
    SELECT CAST(i AS BIGINT) AS boundary_idx,
           CAST((i * n + 7) // 8 AS BIGINT) AS rank
    FROM n, (VALUES (1), (2), (3), (4), (5), (6), (7)) v(i)
)
SELECT boundary_idx, idx.rank AS rank, o_totalprice, o_orderkey
FROM idx JOIN rk ON rk.rank = idx.rank
"""


def q_coverage_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-set census per order priority: how many distinct
    customers cover 80% of the priority's orders — the assortment/
    concentration planning census, decided by the all-integer
    ``cum·100 >= 80·total`` comparison over the ITEM census (never the
    fact)."""
    from hiv_data_integration_spark.operators.aggregate import (
        coverage_set_census,
    )

    o = tbl(spark, sf_dir, "orders")
    return coverage_set_census(o, "o_orderpriority", "o_custkey", 80, 100)


SQL_COVERAGE_SET = """
WITH items AS (
    SELECT o_orderpriority AS g, o_custkey AS it,
           CAST(count(*) AS BIGINT) AS c
    FROM orders GROUP BY 1, 2
),
r AS (
    SELECT g, c,
           CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS total,
           CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS ni,
           CAST(SUM(c) OVER (PARTITION BY g ORDER BY c DESC, it)
                AS BIGINT) AS cum,
           CAST(row_number() OVER (PARTITION BY g ORDER BY c DESC, it)
                AS BIGINT) AS rk
    FROM items
)
SELECT g AS o_orderpriority,
       CAST(MIN(ni) AS BIGINT) AS n_items,
       CAST(MIN(total) AS BIGINT) AS total_count,
       CAST(MIN(rk) AS BIGINT) AS k_for_pct,
       CAST(MIN(cum) AS BIGINT) AS head_count
FROM r WHERE cum * 100 >= 80 * total
GROUP BY 1
"""


def q_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship business-day latency per priority — weekday counting
    by closed-form integer arithmetic (``business_days_between``: epoch
    day aligned to Monday, weeks·5 + clamped remainder), no calendar UDF
    and no per-day explode, so the latency column costs the same as any
    arithmetic projection at 100 TB. Census: n lines, total/avg business
    days (avg = one IEEE division of exact BIGINTs)."""
    from hiv_data_integration_spark.functions import business_days_between

    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(
        F.broadcast(o), li["l_orderkey"] == o["o_orderkey"]
    ).select(
        "o_orderpriority",
        business_days_between(F.col("o_orderdate"), F.col("l_shipdate"))
        .alias("_bd"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("_bd").cast("long").alias("total_bdays"),
        (
            F.sum("_bd").cast("double") / F.count("*").cast("double")
        ).alias("avg_bdays"),
    )


SQL_BUSINESS_DAY_LATENCY = """
WITH f AS (
    SELECT o_orderpriority,
           ((m2 - m2 % 7) // 7 * 5 + LEAST(m2 % 7, 5))
         - ((m1 - m1 % 7) // 7 * 5 + LEAST(m1 % 7, 5)) AS bd
    FROM (
        SELECT o.o_orderpriority,
               datediff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                   + 3 AS m1,
               datediff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                   + 3 AS m2
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(SUM(bd) AS BIGINT) AS total_bdays,
       CAST(SUM(bd) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_bdays
FROM f GROUP BY 1
"""


def q_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / theta-family) sketch with SET EXPRESSIONS —
    the capability HLL registers lack: sketch the urgent-order and
    high-priority-order customer sets independently (k=64 smallest md5
    hashes each — mergeable segment state), merge the two sketches for
    the UNION estimate, and compare every estimate against the exact
    distinct counts with a 4-sigma (4/sqrt(k-1) ≈ 0.5) relative-error
    gate the oracle re-derives. The only float steps are IEEE divisions
    of exact integers, identical on both engines."""
    from hiv_data_integration_spark.operators.aggregate import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 64
    orders = tbl(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("v")
    )
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("v")
    )
    ska, skb = kmv_sketch(a, "v", k), kmv_sketch(b, "v", k)
    est_a = kmv_estimate(ska, k).select(
        F.col("n_kept").alias("kept_a"), F.col("estimate").alias("est_a")
    )
    est_b = kmv_estimate(skb, k).select(
        F.col("n_kept").alias("kept_b"), F.col("estimate").alias("est_b")
    )
    est_u = kmv_estimate(kmv_merge(ska, skb, k=k), k).select(
        F.col("estimate").alias("est_union")
    )
    exact = (
        a.agg(F.countDistinct("v").cast("long").alias("exact_a"))
        .crossJoin(
            F.broadcast(
                b.agg(F.countDistinct("v").cast("long").alias("exact_b"))
            )
        )
        .crossJoin(
            F.broadcast(
                a.unionByName(b).agg(
                    F.countDistinct("v").cast("long").alias("exact_union")
                )
            )
        )
    )
    bound = 4.0 / (k - 1) ** 0.5
    out = (
        est_a.crossJoin(F.broadcast(est_b))
        .crossJoin(F.broadcast(est_u))
        .crossJoin(F.broadcast(exact))
    )
    within = (
        F.abs(F.col("est_union") / F.col("exact_union").cast("double") - 1.0)
        <= bound
    )
    return out.select(
        F.lit(k).cast("long").alias("k"),
        "kept_a", "est_a", "exact_a",
        "kept_b", "est_b", "exact_b",
        "est_union", "exact_union",
        within.alias("union_within_4sigma"),
    )


_KMV_EST = (
    "CASE WHEN n < 64 THEN CAST(n AS DOUBLE) "
    "ELSE CAST(63 AS DOUBLE) * 1152921504606846976.0 "
    "/ CAST(kh AS DOUBLE) END"
)

SQL_KMV_SETOPS = f"""
WITH ha AS (
    SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM orders WHERE o_orderpriority = '1-URGENT'
),
hb AS (
    SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM orders WHERE o_orderpriority = '2-HIGH'
),
ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
ku AS (
    SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 64
),
sa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT) AS kh FROM ka),
sb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT) AS kh FROM kb),
su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT) AS kh FROM ku),
xa AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_a
       FROM orders WHERE o_orderpriority = '1-URGENT'),
xb AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_b
       FROM orders WHERE o_orderpriority = '2-HIGH'),
xu AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_union
       FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
SELECT CAST(64 AS BIGINT) AS k,
       sa.n AS kept_a, {_KMV_EST.replace("n ", "sa.n ").replace("kh", "sa.kh")} AS est_a, exact_a,
       sb.n AS kept_b, {_KMV_EST.replace("n ", "sb.n ").replace("kh", "sb.kh")} AS est_b, exact_b,
       {_KMV_EST.replace("n ", "su.n ").replace("kh", "su.kh")} AS est_union, exact_union,
       abs({_KMV_EST.replace("n ", "su.n ").replace("kh", "su.kh")}
           / CAST(exact_union AS DOUBLE) - 1.0) <= 0.5039526306789696
           AS union_within_4sigma
FROM sa, sb, su, xa, xb, xu
"""


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch INTERSECTION/Jaccard estimation — the second half of
    the theta-sketch set algebra: with A/B/merged sketches already in
    hand (the same mergeable state as sketch_kmv_setops), the Jaccard
    estimate is the match rate of the merged k-set against both input
    sets (ρ = |K(A∪B) ∩ A ∩ B| / |K(A∪B)|) and the intersection
    estimate is ρ · D̂(A∪B) — sub-linear set overlap from O(k) state,
    checked against the exact distinct-count truth. All counts exact
    BIGINTs; ratios fixed-order IEEE ops of exact ints."""
    from hiv_data_integration_spark.operators.aggregate import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    k = 64
    orders = tbl(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("v")
    )
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("v")
    )
    ska, skb = kmv_sketch(a, "v", k), kmv_sketch(b, "v", k)
    sku = kmv_merge(ska, skb, k=k)
    matched = (
        sku.join(ska, "h", "left_semi")
        .join(skb, "h", "left_semi")
        .agg(F.count("*").cast("long").alias("matched_k"))
    )
    stats = (
        sku.agg(F.count("*").cast("long").alias("n_union_kept"))
        .crossJoin(F.broadcast(matched))
        .crossJoin(F.broadcast(kmv_estimate(sku, k).select("estimate")))
    )
    exact = (
        a.join(b, "v", "left_semi")
        .agg(F.countDistinct("v").cast("long").alias("exact_inter"))
        .crossJoin(
            F.broadcast(
                a.unionByName(b).agg(
                    F.countDistinct("v").cast("long").alias("exact_union")
                )
            )
        )
    )
    jac = F.col("matched_k").cast("double") / F.col("n_union_kept").cast(
        "double"
    )
    return stats.crossJoin(F.broadcast(exact)).select(
        F.lit(k).cast("long").alias("k"),
        "n_union_kept",
        "matched_k",
        jac.alias("jaccard_est"),
        (jac * F.col("estimate")).alias("inter_est"),
        "exact_inter",
        "exact_union",
        (
            F.col("exact_inter").cast("double")
            / F.col("exact_union").cast("double")
        ).alias("exact_jaccard"),
    )


SQL_KMV_JACCARD = f"""
WITH ha AS (
    SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM orders WHERE o_orderpriority = '1-URGENT'
),
hb AS (
    SELECT DISTINCT CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
                AS BIGINT) AS h
    FROM orders WHERE o_orderpriority = '2-HIGH'
),
ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
ku AS (
    SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 64
),
su AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MAX(h) AS BIGINT) AS kh FROM ku),
mt AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS matched_k
    FROM ku WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)
),
xi AS (
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_inter
    FROM orders WHERE o_orderpriority = '1-URGENT'
      AND o_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '2-HIGH')
),
xu AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_union
       FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
SELECT CAST(64 AS BIGINT) AS k,
       su.n AS n_union_kept, matched_k,
       CAST(matched_k AS DOUBLE) / CAST(su.n AS DOUBLE) AS jaccard_est,
       CAST(matched_k AS DOUBLE) / CAST(su.n AS DOUBLE)
           * ({_KMV_EST.replace("n ", "su.n ").replace("kh", "su.kh")})
           AS inter_est,
       exact_inter, exact_union,
       CAST(exact_inter AS DOUBLE) / CAST(exact_union AS DOUBLE)
           AS exact_jaccard
FROM su, mt, xi, xu
"""


def q_stratified_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion stratified split census: per (lang, split), row
    count and id checksum — each language's train share is exact to the
    row (rank·den <= n·num all-integer membership over the deterministic
    md5 order), unlike hash-threshold splits whose rare-stratum shares
    wobble. The oracle replays the identical window program."""
    docs = tbl(spark, sf_dir, "documents")
    out = sp.stratified_exact_split(docs, "doc_id", "lang", 4, 5)
    return out.groupBy("lang", "split").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


SQL_STRATIFIED_EXACT_SPLIT = """
WITH r AS (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                        AS BIGINT), doc_id
           ) AS rk,
           count(*) OVER (PARTITION BY lang) AS ns
    FROM documents
)
SELECT lang,
       CASE WHEN rk * 5 <= ns * 4 THEN 'train' ELSE 'holdout' END AS split,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM r GROUP BY 1, 2
"""


def q_seasonal_index_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index table over the events daily revenue
    series — the decomposition seasonal factor, log/float-mean-free:
    index = dow_cents·n_days_total / (n_days_dow·total_cents), one IEEE
    division of exact BIGINT cross-products; weekday via epoch-days
    mod 7 (tz/week-numbering immune)."""
    events = tbl(spark, sf_dir, "events")
    from hiv_data_integration_spark.operators.aggregate import (
        seasonal_index_dow,
    )

    return seasonal_index_dow(events, "ts", "value")


SQL_SEASONAL_INDEX_DOW = """
WITH d AS (
    SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS dd,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
    FROM events
),
daily AS (SELECT dd, CAST(SUM(c) AS BIGINT) AS dc FROM d GROUP BY dd),
dow AS (
    SELECT CAST(dd % 7 AS BIGINT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(SUM(dc) AS BIGINT) AS dow_cents
    FROM daily GROUP BY 1
),
t AS (SELECT CAST(SUM(n_days) AS BIGINT) AS nt,
             CAST(SUM(dow_cents) AS BIGINT) AS tc FROM dow)
SELECT dow, n_days, dow_cents,
       CAST(dow_cents * nt AS DOUBLE) / CAST(n_days * tc AS DOUBLE)
           AS seasonal_index
FROM dow, t
"""


def q_heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth checkpoints over the documents
    corpus prefix (doc_id <= checkpoint): distinct vocab, token totals
    and type-token ratio from ONE corpus pass — first-seen(token) and
    per-doc counts answer every checkpoint via a broadcast range join
    against the 5-row checkpoint list."""
    docs = tbl(spark, sf_dir, "documents")
    # NB r12: _spread REGRESSES this entry (1.12 s -> 3.03 s focused)
    # - the first-seen/global-order pass gains nothing from scan
    # parallelism and pays the extra exchange; left unspread
    return tx.heaps_vocab_curve(
        docs, "doc_id", "text", [100, 200, 300, 400, 500]
    )


SQL_HEAPS_LAW_CURVE = f"""
WITH toks AS (
    SELECT CAST(doc_id AS BIGINT) AS id, unnest({_TOKS}) AS t
    FROM documents
),
fs AS (SELECT t, MIN(id) AS fid FROM toks GROUP BY t),
pd AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY id),
cp AS (SELECT CAST(checkpoint AS BIGINT) AS checkpoint
       FROM (VALUES (100), (200), (300), (400), (500)) AS v(checkpoint)),
vc AS (
    SELECT checkpoint, CAST(count(*) AS BIGINT) AS vocab_size
    FROM cp JOIN fs ON fs.fid <= cp.checkpoint GROUP BY 1
),
nt AS (
    SELECT checkpoint, CAST(SUM(n) AS BIGINT) AS n_tokens
    FROM cp JOIN pd ON pd.id <= cp.checkpoint GROUP BY 1
)
SELECT cp.checkpoint,
       CAST(COALESCE(nt.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(vc.vocab_size, 0) AS BIGINT) AS vocab_size,
       CASE WHEN COALESCE(nt.n_tokens, 0) > 0
            THEN CAST(vc.vocab_size AS DOUBLE) / CAST(nt.n_tokens AS DOUBLE)
       END AS type_token_ratio
FROM cp LEFT JOIN nt USING (checkpoint) LEFT JOIN vc USING (checkpoint)
"""


def q_key_candidate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key uniqueness audit over lineitem: the true composite
    key (orderkey, linenumber), a deliberately non-unique prefix
    (orderkey) and a plausible-but-false candidate (partkey, suppkey) —
    one hash aggregate each, exact group censuses, BIGINT verdicts."""
    li = tbl(spark, sf_dir, "lineitem")
    from hiv_data_integration_spark.operators.validation import (
        key_candidate_audit,
    )

    return key_candidate_audit(
        li,
        {
            "orderkey_linenumber": ["l_orderkey", "l_linenumber"],
            "orderkey": ["l_orderkey"],
            "partkey_suppkey": ["l_partkey", "l_suppkey"],
        },
    )


_KEY_AUDIT_BLOCK = """
SELECT '{name}' AS candidate,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(MAX(c) AS BIGINT) AS max_group_rows,
       CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
           AS dup_rows,
       count(*) = SUM(c) AS is_unique
FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY {cols})
"""

SQL_KEY_CANDIDATE_AUDIT = " UNION ALL ".join(
    _KEY_AUDIT_BLOCK.format(name=n, cols=c)
    for n, c in [
        ("orderkey_linenumber", "l_orderkey, l_linenumber"),
        ("orderkey", "l_orderkey"),
        ("partkey_suppkey", "l_partkey, l_suppkey"),
    ]
)


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-round k-core peeling (k=3, 3 peel rounds) over the same
    synthetic customer graph as the PageRank/LPA entries; output is the
    surviving-core degree census (degree, node count, node-id checksum).
    The oracle unrolls the three peel rounds — degree census, >= k
    survivor filter, edge restriction — as plain SQL stages."""
    cust = tbl(spark, sf_dir, "customer")
    n = cust.count()
    ck = F.col("c_custkey").cast("long")
    e1 = cust.select(
        ck.alias("src"), F.expr("c_custkey div 10").cast("long").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    e2 = cust.select(
        ck.alias("src"), ((ck * 7 + 3) % F.lit(n)).alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    core = dd.k_core_peel(e1.unionByName(e2), k=3, iters=3)
    return core.groupBy(F.col("degree")).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("node").cast("long").alias("node_checksum"),
    )


SQL_KCORE_PEEL = """WITH nn AS (SELECT count(*) AS cnt FROM customer),
edges0 AS (
    SELECT CAST(c_custkey AS BIGINT) AS src,
           CAST(c_custkey AS BIGINT) // 10 AS dst
    FROM customer WHERE CAST(c_custkey AS BIGINT) // 10 <> c_custkey
    UNION ALL
    SELECT CAST(c_custkey AS BIGINT),
           (c_custkey * 7 + 3) % (SELECT cnt FROM nn)
    FROM customer
    WHERE (c_custkey * 7 + 3) % (SELECT cnt FROM nn) <> c_custkey
),
sedges AS (
    SELECT DISTINCT u, v FROM (
        SELECT src AS u, dst AS v FROM edges0
        UNION ALL
        SELECT dst AS u, src AS v FROM edges0
    ) WHERE u <> v
),
d1 AS (SELECT u, count(*) AS d FROM sedges GROUP BY u),
s1 AS (SELECT u FROM d1 WHERE d >= 3),
e1 AS (SELECT u, v FROM sedges
       WHERE u IN (SELECT u FROM s1) AND v IN (SELECT u FROM s1)),
d2 AS (SELECT u, count(*) AS d FROM e1 GROUP BY u),
s2 AS (SELECT u FROM d2 WHERE d >= 3),
e2 AS (SELECT u, v FROM e1
       WHERE u IN (SELECT u FROM s2) AND v IN (SELECT u FROM s2)),
d3 AS (SELECT u, count(*) AS d FROM e2 GROUP BY u),
s3 AS (SELECT u FROM d3 WHERE d >= 3),
e3 AS (SELECT u, v FROM e2
       WHERE u IN (SELECT u FROM s3) AND v IN (SELECT u FROM s3)),
core AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
         FROM e3 GROUP BY u)
SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS node_checksum
FROM core GROUP BY degree
"""


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-scheme eval for the fuzzy/entity-resolution stack
    (reduction ratio / pairs completeness / pairs quality, Christen
    TKDE'12): customers blocked by MARKET SEGMENT (a deliberately
    entity-uncorrelated key) against nationkey ground-truth entities —
    the census quantifies exactly how much recall a bad blocking key
    costs (completeness ≈ 1/|segments|) next to its comparison-space
    savings, all from group-size censuses, no pair set ever
    materialized."""
    cust = tbl(spark, sf_dir, "customer")
    return fz.blocking_quality(
        cust,
        F.col("c_mktsegment"),
        F.col("c_nationkey").cast("long"),
    )


SQL_BLOCKING_QUALITY = """
WITH t AS (
    SELECT c_mktsegment AS b,
           CAST(c_nationkey AS BIGINT) AS tt
    FROM customer
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_records FROM t),
cand AS (
    SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT)
               AS candidate_pairs
    FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM t GROUP BY b)
),
tr AS (
    SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS truth_pairs
    FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tt)
),
cov AS (
    SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS covered_truth
    FROM (SELECT CAST(count(*) AS BIGINT) AS c FROM t GROUP BY tt, b)
)
SELECT n_records,
       CAST(n_records * (n_records - 1) // 2 AS BIGINT) AS total_pairs,
       candidate_pairs, truth_pairs, covered_truth,
       1.0 - CAST(candidate_pairs AS DOUBLE)
           / CAST(n_records * (n_records - 1) // 2 AS DOUBLE)
           AS reduction_ratio,
       CAST(covered_truth AS DOUBLE) / CAST(truth_pairs AS DOUBLE)
           AS pairs_completeness,
       CAST(covered_truth AS DOUBLE) / CAST(candidate_pairs AS DOUBLE)
           AS pairs_quality
FROM n, cand, tr, cov
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility census by language — exact per-lang character
    / whitespace-word / regex-pre-token sums plus tokens-per-word and
    chars-per-token ratios, the standard diagnostic for languages a
    tokenizer under-serves (their training cost per byte inflates by
    exactly the fertility ratio). One codegen'd regex pass per doc, one
    hash aggregate."""
    docs = tbl(spark, sf_dir, "documents")
    return tx.tokenizer_fertility(docs, "text", ["lang"])


SQL_TOKENIZER_FERTILITY = """
WITH per AS (
    SELECT lang,
           CAST(length(text) AS BIGINT) AS ch,
           CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x != '')) AS BIGINT) AS w,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
               AS tk
    FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(ch) AS BIGINT) AS n_chars,
       CAST(SUM(w) AS BIGINT) AS n_words,
       CAST(SUM(tk) AS BIGINT) AS n_tokens,
       CAST(SUM(tk) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS fertility,
       CAST(SUM(ch) AS DOUBLE) / CAST(SUM(tk) AS DOUBLE) AS chars_per_token
FROM per GROUP BY lang
"""


def _retry_stream_once(fn: QueryFn) -> QueryFn:
    """Retry a streaming battery entry ONCE on a transient state-store
    commit race. A long single-JVM drive that runs many sequential
    availableNow queries can hit CANNOT_WRITE_STATE_STORE /
    RejectedExecutionException: the HDFSBackedStateStore commit's
    background snapshot future lands on an executor pool a previous
    query's unloadOnCommit teardown already terminated (observed once
    in the round-8 302-query drive; the same entry is green in every
    suite run and driver window). Each entry mkdtemps fresh checkpoint
    and state dirs per call, so a clean retry is deterministic and
    idempotent — while a genuine failure still surfaces on the second
    attempt. Only the KNOWN transient commit-race signatures retry;
    any other StreamingQueryException re-raises immediately so a real
    intermittent bug can't be masked by a lucky second run."""
    import functools

    from pyspark.errors.exceptions.captured import StreamingQueryException

    _TRANSIENT_SIGNATURES = (
        "CANNOT_WRITE_STATE_STORE",
        "RejectedExecutionException",
    )

    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        try:
            return fn(spark, sf_dir)
        except StreamingQueryException as exc:
            msg = str(exc)
            if not any(sig in msg for sig in _TRANSIENT_SIGNATURES):
                raise
            return fn(spark, sf_dir)

    return run


# --------------------------------------------------------------------------
# web-crawl ingest tier (r12): WARC record parsing, HTML text extraction,
# robots-style longest-prefix policy join. The reference ingests REST/Excel
# (R1/utils.py:54-96, R1/extract_chu_data.py); a 100 TB LLM corpus ingests
# crawl archives — same source-tier role, re-expressed as native column
# expressions so the parse path stays in whole-stage codegen end to end.
# --------------------------------------------------------------------------

_CRLF = "\r\n"
_WARC_SEP = _CRLF + _CRLF


def q_warc_record_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC (Web ARChive, ISO 28500) record parsing, HASH-checked end to
    end: deterministic multi-record WARC shards are synthesized (one
    record per doc — versioned header block, `WARC-Type` /
    `WARC-Target-URI` / `WARC-Date` / `Content-Length` headers, CRLF
    framing, ~9% of records carry a deliberately WRONG Content-Length),
    records are concatenated into 8 shard blobs in doc order (the
    physical shape of a crawl archive: many records per file), and the
    OPERATOR under test splits each shard back into records, parses the
    header block, validates the declared Content-Length against the
    actual payload, and join-verifies the payload round-trip against the
    source corpus. Every step — record split (`split` on the version
    marker), header/payload framing (`split_part` on the blank line),
    header field extraction (`regexp_extract`), length + round-trip
    validation — is a native column expression; the only shuffle is the
    8-group shard build (the fixture, not the operator) and one
    broadcast join back to `documents`. At 100 TB the shards arrive
    pre-built (binaryFile/text scan, one blob per record batch) and the
    parse path is shuffle-free per partition. Oracle: DuckDB rebuilds
    the identical shards and re-parses them with `string_split` +
    `split_part` + RE2."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select(
        "doc_id", "text", "n_chars"
    )
    payload = F.substring(F.col("text"), 1, 80)
    pay_len = F.least(F.col("n_chars"), F.lit(80).cast("bigint"))
    declared = (
        pay_len
        + F.when(F.col("doc_id") % 11 == 0, F.lit(3)).otherwise(F.lit(0))
    )
    wtype = F.when(
        F.col("doc_id") % 7 == 0, F.lit("metadata")
    ).otherwise(F.lit("response"))
    uri = F.concat(
        F.lit("https://host-"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example/page/"),
        F.col("doc_id").cast("string"),
    )
    wdate = F.concat(
        F.lit("2026-01-"),
        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
        F.lit("T00:00:00Z"),
    )
    record = F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit("WARC-Type: "), wtype, F.lit(_CRLF),
        F.lit("WARC-Target-URI: "), uri, F.lit(_CRLF),
        F.lit("WARC-Date: "), wdate, F.lit(_CRLF),
        F.lit("Content-Length: "), declared.cast("string"),
        F.lit(_WARC_SEP),
        payload,
        F.lit(_WARC_SEP),
    )
    shards = (
        docs.select(
            (F.col("doc_id") % 8).alias("shard_id"),
            F.struct("doc_id", record.alias("rec")).alias("sr"),
        )
        .groupBy("shard_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("sr")), lambda s: s["rec"]
                ),
                "",
            ).alias("shard_text")
        )
    )
    pieces = shards.select(
        "shard_id",
        F.posexplode(F.split(F.col("shard_text"), "WARC/1\\.0\r\n")).alias(
            "rec_pos", "piece"
        ),
    ).where(F.col("piece") != "")
    parsed = pieces.select(
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("rec_pos").cast("bigint").alias("rec_pos"),
        F.split_part(F.col("piece"), F.lit(_WARC_SEP), F.lit(1)).alias(
            "headers"
        ),
        F.split_part(F.col("piece"), F.lit(_WARC_SEP), F.lit(2)).alias(
            "payload"
        ),
    ).select(
        "shard_id",
        "rec_pos",
        F.regexp_extract(
            F.col("headers"), r"WARC-Type: ([^\r]+)", 1
        ).alias("warc_type"),
        F.regexp_extract(
            F.col("headers"), r"WARC-Target-URI: ([^\r]+)", 1
        ).alias("uri"),
        F.regexp_extract(F.col("headers"), r"Content-Length: ([0-9]+)", 1)
        .cast("bigint")
        .alias("declared_len"),
        F.length("payload").cast("bigint").alias("payload_len"),
        F.col("payload"),
    )
    back = parsed.withColumn(
        "parsed_doc_id",
        F.regexp_extract(F.col("uri"), r"page/([0-9]+)$", 1).cast("bigint"),
    ).join(
        F.broadcast(docs.select("doc_id", "text")),
        F.col("parsed_doc_id") == F.col("doc_id"),
        "left",
    )
    return back.select(
        "shard_id",
        "rec_pos",
        "warc_type",
        "uri",
        "declared_len",
        "payload_len",
        (F.col("payload_len") == F.col("declared_len")).alias("length_ok"),
        (
            F.col("payload") == F.substring(F.col("text"), 1, 80)
        ).alias("roundtrip_ok"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )


SQL_WARC_RECORD_PARSE = """
WITH recs AS (
    SELECT doc_id,
           doc_id % 8 AS shard_id,
           'WARC/1.0' || chr(13) || chr(10)
           || 'WARC-Type: '
           || (CASE WHEN doc_id % 7 = 0 THEN 'metadata' ELSE 'response' END)
           || chr(13) || chr(10)
           || 'WARC-Target-URI: https://host-' || CAST(doc_id % 5 AS VARCHAR)
           || '.example/page/' || CAST(doc_id AS VARCHAR)
           || chr(13) || chr(10)
           || 'WARC-Date: 2026-01-'
           || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || 'T00:00:00Z'
           || chr(13) || chr(10)
           || 'Content-Length: '
           || CAST(least(n_chars, 80)
                   + (CASE WHEN doc_id % 11 = 0 THEN 3 ELSE 0 END)
                   AS VARCHAR)
           || chr(13) || chr(10) || chr(13) || chr(10)
           || substr(text, 1, 80)
           || chr(13) || chr(10) || chr(13) || chr(10) AS rec
    FROM documents
),
shards AS (
    SELECT shard_id, string_agg(rec, '' ORDER BY doc_id) AS shard_text
    FROM recs GROUP BY shard_id
),
pieces AS (
    SELECT shard_id,
           string_split(shard_text,
                        'WARC/1.0' || chr(13) || chr(10)) AS ps
    FROM shards
),
exploded AS (
    SELECT shard_id, CAST(i - 1 AS BIGINT) AS rec_pos, ps[i] AS piece
    FROM pieces, UNNEST(range(1, len(ps) + 1)) t(i)
    WHERE ps[i] <> ''
),
parsed AS (
    SELECT CAST(shard_id AS BIGINT) AS shard_id, rec_pos,
           split_part(piece, chr(13) || chr(10) || chr(13) || chr(10), 1)
               AS headers,
           split_part(piece, chr(13) || chr(10) || chr(13) || chr(10), 2)
               AS payload
    FROM exploded
),
fields AS (
    SELECT shard_id, rec_pos,
           regexp_extract(headers, 'WARC-Type: ([^\r]+)', 1) AS warc_type,
           regexp_extract(headers, 'WARC-Target-URI: ([^\r]+)', 1) AS uri,
           CAST(regexp_extract(headers, 'Content-Length: ([0-9]+)', 1)
                AS BIGINT) AS declared_len,
           CAST(length(payload) AS BIGINT) AS payload_len,
           payload
    FROM parsed
)
SELECT f.shard_id, f.rec_pos, f.warc_type, f.uri, f.declared_len,
       f.payload_len,
       f.payload_len = f.declared_len AS length_ok,
       f.payload = substr(d.text, 1, 80) AS roundtrip_ok,
       md5(f.payload) AS payload_md5
FROM fields f
LEFT JOIN documents d
  ON CAST(regexp_extract(f.uri, 'page/([0-9]+)$', 1) AS BIGINT) = d.doc_id
"""


def q_html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML visible-text extraction (the crawl-to-corpus step every web
    dataset pipeline runs: trafilatura/jusText's job, reduced to its
    regex-expressible core), HASH-checked: deterministic single-line
    HTML pages are synthesized per doc (title, a script block and a
    style block that MUST be dropped with their contents, an HTML
    comment, headline, body paragraph from the doc text, 1-2 anchor
    tags), and the operator strips script/style/comment blocks
    (non-greedy alternation — supported by both Java regex and RE2),
    counts outbound links (`regexp_extract_all` on href), strips the
    remaining tags, and collapses whitespace. Output pins title, link
    count, visible-text length, prefix, and the full-text md5 — so a
    single mis-stripped character anywhere fails the hash. All native
    expressions; zero shuffles (per-row map, scan-partitioned at any
    scale)."""
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    nxt = ((F.col("doc_id") + 1) % 500).cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">var x = '),
        F.col("doc_id").cast("string"),
        F.lit(";</script><style>p {color: red}</style></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.substring(F.col("text"), 1, 100),
        F.lit('</p><a href="https://host-'),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example/page/"),
        nxt,
        F.lit('">next</a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<a href="https://ref.example/cite/'),
                (F.col("doc_id") % 17).cast("string"),
                F.lit('">ref</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("<!-- crawler: "),
        F.col("source"),
        F.lit(" --></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    deblocked = F.regexp_replace(
        F.col("html"),
        "<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->",
        " ",
    )
    visible = F.trim(
        F.regexp_replace(
            F.regexp_replace(deblocked, "<[^>]+>", " "), " +", " "
        )
    )
    return pages.select(
        "doc_id",
        F.regexp_extract(F.col("html"), "<title>([^<]*)</title>", 1).alias(
            "title"
        ),
        F.size(
            F.regexp_extract_all(F.col("html"), F.lit('href="([^"]+)"'), 1)
        )
        .cast("bigint")
        .alias("n_links"),
        F.length(visible).cast("bigint").alias("text_len"),
        F.substring(visible, 1, 60).alias("visible_prefix"),
        F.md5(visible).alias("visible_md5"),
    )


SQL_HTML_TEXT_EXTRACT = """
WITH pages AS (
    SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
           || '</title><script type="text/javascript">var x = '
           || CAST(doc_id AS VARCHAR)
           || ';</script><style>p {color: red}</style></head><body><h1>Doc '
           || CAST(doc_id AS VARCHAR) || '</h1><p>'
           || substr(text, 1, 100)
           || '</p><a href="https://host-' || CAST(doc_id % 5 AS VARCHAR)
           || '.example/page/' || CAST((doc_id + 1) % 500 AS VARCHAR)
           || '">next</a>'
           || (CASE WHEN doc_id % 3 = 0
                    THEN '<a href="https://ref.example/cite/'
                         || CAST(doc_id % 17 AS VARCHAR) || '">ref</a>'
                    ELSE '' END)
           || '<!-- crawler: ' || source || ' --></body></html>' AS html
    FROM documents
),
stripped AS (
    SELECT doc_id, html,
           trim(regexp_replace(
               regexp_replace(
                   regexp_replace(
                       html,
                       '<script[^>]*>.*?</script>|<style[^>]*>.*?</style>|<!--.*?-->',
                       ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
               ' +', ' ', 'g')) AS visible
    FROM pages
)
SELECT doc_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       CAST(len(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS BIGINT)
           AS n_links,
       CAST(length(visible) AS BIGINT) AS text_len,
       substr(visible, 1, 60) AS visible_prefix,
       md5(visible) AS visible_md5
FROM stripped
"""


def q_robots_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt-style longest-prefix policy join (crawl politeness —
    the allow/deny step between frontier and fetch; same operator shape
    as IP longest-prefix routing), HASH-checked: deterministic crawl
    URLs are synthesized per doc over 5 hosts x 6 path families, a
    6-rule literal policy table mixes wildcard-host and host-specific
    rules (`/private` blocked but `/private/pub` re-allowed — the
    nesting that makes naive first-match wrong), each URL joins every
    applicable rule (host match or wildcard) via a BROADCAST
    nested-loop join (the rule table is dimension-sized at any corpus
    scale — robots corpora are ~1e6 rows against 1e12 URLs), keeps
    prefix matches, and a per-URL window picks the LONGEST matching
    prefix (allow wins exact ties, per the Google robots.txt spec;
    rule_id breaks the remaining tie deterministically). Output is the
    per-host admission census plus min/max blocked paths, so a single
    URL routed through the wrong rule flips the hash."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    sel = F.col("doc_id") % 6
    tail = (F.col("doc_id") % 40).cast("string")
    path = (
        F.when(sel == 0, F.concat(F.lit("/articles/"), tail))
        .when(sel == 1, F.concat(F.lit("/private/data/"), tail))
        .when(sel == 2, F.concat(F.lit("/private/pub/notes/"), tail))
        .when(sel == 3, F.concat(F.lit("/tmp/cache/"), tail))
        .when(sel == 4, F.lit("/"))
        .otherwise(F.concat(F.lit("/articles/archive/"), tail))
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("host-"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example"),
        ).alias("host"),
        path.alias("path"),
    )
    rule_rows = [
        (1, "*", "/", True),
        (2, "*", "/private", False),
        (3, "*", "/private/pub", True),
        (4, "*", "/tmp", False),
        (5, "host-0.example", "/articles/archive", False),
        (6, "host-1.example", "/articles", False),
    ]
    rules = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(rid).alias("rule_id"),
                    F.lit(hp).alias("host_pattern"),
                    F.lit(pre).alias("prefix"),
                    F.lit(allow).alias("allow"),
                )
                for rid, hp, pre, allow in rule_rows
            ]
        )
    )
    rules_df = spark.range(1).select(rules.alias("r")).select("r.*")
    from pyspark.sql.window import Window

    cand = urls.join(
        F.broadcast(rules_df),
        (
            (F.col("host_pattern") == F.lit("*"))
            | (F.col("host_pattern") == F.col("host"))
        )
        & F.col("path").startswith(F.col("prefix")),
        "inner",
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.length("prefix").desc(), F.col("allow").desc(), F.col("rule_id")
    )
    best = (
        cand.withColumn("rn", F.row_number().over(win))
        .where(F.col("rn") == 1)
        .select("doc_id", "host", "path", "allow", "rule_id")
    )
    return best.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum(F.when(F.col("allow"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_allowed"),
        F.sum(F.when(~F.col("allow"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_blocked"),
        F.min(F.when(~F.col("allow"), F.col("path"))).alias(
            "min_blocked_path"
        ),
        F.max(F.when(~F.col("allow"), F.col("path"))).alias(
            "max_blocked_path"
        ),
    )


SQL_ROBOTS_PREFIX_FILTER = """
WITH urls AS (
    SELECT doc_id,
           'host-' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS host,
           CASE CAST(doc_id % 6 AS INT)
             WHEN 0 THEN '/articles/' || CAST(doc_id % 40 AS VARCHAR)
             WHEN 1 THEN '/private/data/' || CAST(doc_id % 40 AS VARCHAR)
             WHEN 2 THEN '/private/pub/notes/' || CAST(doc_id % 40 AS VARCHAR)
             WHEN 3 THEN '/tmp/cache/' || CAST(doc_id % 40 AS VARCHAR)
             WHEN 4 THEN '/'
             ELSE '/articles/archive/' || CAST(doc_id % 40 AS VARCHAR)
           END AS path
    FROM documents
),
rules(rule_id, host_pattern, prefix, allow) AS (
    VALUES (1, '*', '/', TRUE),
           (2, '*', '/private', FALSE),
           (3, '*', '/private/pub', TRUE),
           (4, '*', '/tmp', FALSE),
           (5, 'host-0.example', '/articles/archive', FALSE),
           (6, 'host-1.example', '/articles', FALSE)
),
cand AS (
    SELECT u.doc_id, u.host, u.path, r.allow, r.rule_id, r.prefix,
           row_number() OVER (
               PARTITION BY u.doc_id
               ORDER BY length(r.prefix) DESC, r.allow DESC, r.rule_id
           ) AS rn
    FROM urls u
    JOIN rules r
      ON (r.host_pattern = '*' OR r.host_pattern = u.host)
     AND starts_with(u.path, r.prefix)
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN allow THEN 1 ELSE 0 END) AS BIGINT) AS n_allowed,
       CAST(sum(CASE WHEN allow THEN 0 ELSE 1 END) AS BIGINT) AS n_blocked,
       min(CASE WHEN NOT allow THEN path END) AS min_blocked_path,
       max(CASE WHEN NOT allow THEN path END) AS max_blocked_path
FROM cand
WHERE rn = 1
GROUP BY host
"""


def q_quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier, reduced to its
    integer-exact core (the model-based doc filter CCNet/RefinedWeb run
    after the heuristic gates): tokens hash into 4,096 buckets via the
    engine's md5-prefix hashing trick (same idiom as
    `sampling.feature_hash`), each bucket carries a DETERMINISTIC
    integer weight in [-500, 500] (a Knuth multiplicative mix of the
    bucket id — a stand-in for trained weights, which would arrive as a
    broadcast table in production), and the per-doc margin is the exact
    integer SUM of token weights. No sigmoid — the margin ordering IS
    the score ordering, and keeping it integer sidesteps cross-engine
    libm drift entirely (the BASELINE.md oracle discipline). Plan: one
    explode + one map-side-combinable (doc, bucket-weight) aggregate;
    zero Python, no vocabulary state, no broadcast needed at any corpus
    scale."""
    docs = _spread(tbl(spark, sf_dir, "documents")).select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ql:"), F.col("tok"))), 1, 13),
            16,
            10,
        ).cast("long"),
        F.lit(4096),
    )
    weight = F.pmod(bucket * F.lit(2654435761), F.lit(1001)) - F.lit(500)
    per_doc = toks.select("doc_id", weight.alias("w")).groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("w").cast("bigint").alias("margin_sum"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "margin_sum",
        (F.col("margin_sum") > 0).alias("accept"),
    )


SQL_QUALITY_LINEAR_CLASSIFIER = """
WITH toks AS (
    SELECT doc_id, t.tok
    FROM documents, UNNEST(string_split(text, ' ')) t(tok)
    WHERE t.tok <> ''
),
weighted AS (
    SELECT doc_id,
           (CAST('0x' || substr(md5('ql:' || tok), 1, 13) AS BIGINT) % 4096)
               * 2654435761 % 1001 - 500 AS w
    FROM toks
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w) AS BIGINT) AS margin_sum,
       sum(w) > 0 AS accept
FROM weighted GROUP BY doc_id
"""


def q_crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier politeness scheduling (the step after the robots
    gate: one connection per host, a per-host minimum delay, highest-
    priority URLs first): URLs are synthesized per doc over 5 hosts
    with a priority class, each host's queue is ordered by (priority
    DESC, doc_id) with `row_number`, the k-th fetch from a host fires
    at `k * delay_host` (delays differ per host), and the output is
    the host x 1-second-window traffic matrix plus per-window priority
    census — the shape a crawl coordinator monitors for politeness
    compliance. Pure window arithmetic + one two-key aggregate; the
    per-host sequential constraint is expressed declaratively
    (row_number), not simulated."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id",
        (F.col("doc_id") % 5).alias("host_idx"),
        (F.col("doc_id") % 3).alias("priority"),
    )
    from pyspark.sql.window import Window

    delay_ms = F.lit(500) + F.col("host_idx") * F.lit(250)
    qpos = F.row_number().over(
        Window.partitionBy("host_idx").orderBy(
            F.col("priority").desc(), F.col("doc_id")
        )
    )
    sched = urls.select(
        "host_idx",
        "priority",
        ((qpos - 1) * delay_ms).alias("fetch_ms"),
    )
    return (
        sched.select(
            "host_idx",
            "priority",
            # floor, not cast: DuckDB CAST(double AS BIGINT) rounds while
            # Spark's cast truncates — integer floor agrees on both.
            F.floor(F.col("fetch_ms") / 1000).cast("bigint").alias(
                "window_s"
            ),
        )
        .groupBy("host_idx", "window_s")
        .agg(
            F.count("*").cast("bigint").alias("n_fetches"),
            F.sum(F.when(F.col("priority") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_high_priority"),
        )
    )


SQL_CRAWL_FRONTIER_SCHEDULE = """
WITH urls AS (
    SELECT doc_id,
           doc_id % 5 AS host_idx,
           doc_id % 3 AS priority
    FROM documents
),
sched AS (
    SELECT host_idx, priority,
           (row_number() OVER (
                PARTITION BY host_idx
                ORDER BY priority DESC, doc_id
            ) - 1) * (500 + host_idx * 250) AS fetch_ms
    FROM urls
)
SELECT host_idx,
       CAST(fetch_ms // 1000 AS BIGINT) AS window_s,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(sum(CASE WHEN priority = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_high_priority
FROM sched
GROUP BY 1, 2
"""


def q_url_pld_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pay-level-domain (registered domain) extraction + per-domain
    document caps (the C4/RefinedWeb host-cap step — without it a
    handful of mega-hosts dominate the corpus): hostnames are
    synthesized over 7 shapes including multi-part public suffixes
    (`co.uk`, `com.au`, `gov.uk`) and deep subdomains, the PLD is
    extracted publicsuffix-style — suffix + one label, where the
    suffix is 2 labels when the last two are on the (literal,
    broadcastable) multi-part list and 1 label otherwise — via native
    array ops over `split(host, '.')` (negative `element_at` indexes,
    no UDF), and each PLD keeps at most 10 docs by (priority DESC,
    doc_id) with the quota census reported per PLD. The suffix list is
    dimension data (~10k rows in production — broadcast); the quota
    pick is the same WindowGroupLimit shape Spark optimizes for
    rn<=k."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    sub = F.concat(F.lit("site"), (F.col("doc_id") % 9).cast("string"))
    shape = F.col("doc_id") % 7
    host = (
        F.when(shape == 0, F.concat(sub, F.lit(".example.com")))
        .when(shape == 1, F.concat(sub, F.lit(".news.co.uk")))
        .when(shape == 2, F.concat(sub, F.lit(".blog.com.au")))
        .when(shape == 3, F.concat(sub, F.lit(".gov.uk")))
        .when(shape == 4, F.lit("archive.org"))
        .when(shape == 5, F.concat(sub, F.lit(".cdn.example.com")))
        .otherwise(F.concat(F.lit("deep."), sub, F.lit(".news.co.uk")))
    )
    urls = docs.select(
        "doc_id",
        host.alias("host"),
        (F.col("doc_id") % 13).alias("priority"),
    )
    labels = F.split(F.col("host"), "\\.")
    last2 = F.concat_ws(
        ".", F.element_at(labels, -2), F.element_at(labels, -1)
    )
    multi_suffix = F.array(
        F.lit("co.uk"), F.lit("com.au"), F.lit("gov.uk")
    )
    pld = F.when(
        F.array_contains(multi_suffix, last2)
        & (F.size(labels) >= 3),
        F.concat_ws(".", F.element_at(labels, -3), last2),
    ).otherwise(last2)
    from pyspark.sql.window import Window

    ranked = urls.select(
        "doc_id", "priority", pld.alias("pld")
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("pld").orderBy(
                F.col("priority").desc(), F.col("doc_id")
            )
        ),
    )
    return ranked.groupBy("pld").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.sum(F.when(F.col("rn") <= 10, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("rn") > 10, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.min(F.when(F.col("rn") <= 10, F.col("doc_id")))
        .cast("bigint")
        .alias("min_kept_doc"),
        F.max(F.when(F.col("rn") <= 10, F.col("doc_id")))
        .cast("bigint")
        .alias("max_kept_doc"),
    )


SQL_URL_PLD_QUOTA = """
WITH urls AS (
    SELECT doc_id,
           doc_id % 13 AS priority,
           CASE CAST(doc_id % 7 AS INT)
             WHEN 0 THEN 'site' || CAST(doc_id % 9 AS VARCHAR)
                         || '.example.com'
             WHEN 1 THEN 'site' || CAST(doc_id % 9 AS VARCHAR)
                         || '.news.co.uk'
             WHEN 2 THEN 'site' || CAST(doc_id % 9 AS VARCHAR)
                         || '.blog.com.au'
             WHEN 3 THEN 'site' || CAST(doc_id % 9 AS VARCHAR) || '.gov.uk'
             WHEN 4 THEN 'archive.org'
             WHEN 5 THEN 'site' || CAST(doc_id % 9 AS VARCHAR)
                         || '.cdn.example.com'
             ELSE 'deep.site' || CAST(doc_id % 9 AS VARCHAR)
                  || '.news.co.uk'
           END AS host
    FROM documents
),
plds AS (
    SELECT doc_id, priority,
           CASE WHEN (labels[-2] || '.' || labels[-1])
                     IN ('co.uk', 'com.au', 'gov.uk')
                 AND len(labels) >= 3
                THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                ELSE labels[-2] || '.' || labels[-1]
           END AS pld
    FROM (SELECT doc_id, priority, string_split(host, '.') AS labels
          FROM urls)
),
ranked AS (
    SELECT doc_id, priority, pld,
           row_number() OVER (
               PARTITION BY pld ORDER BY priority DESC, doc_id
           ) AS rn
    FROM plds
)
SELECT pld,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dropped,
       CAST(min(CASE WHEN rn <= 10 THEN doc_id END) AS BIGINT)
           AS min_kept_doc,
       CAST(max(CASE WHEN rn <= 10 THEN doc_id END) AS BIGINT)
           AS max_kept_doc
FROM ranked GROUP BY pld
"""


def q_streaming_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WARC ingest (the crawl tier's arrival path: archives
    land as whole files, records are parsed on arrival, the admission
    census updates per micro-batch): the 8 deterministic WARC shards
    from `warc_record_parse`'s fixture are written as one `.warc` TEXT
    FILE each (driver-side fixture write — 8 strings, bounded by shard
    count, not corpus size), a `text` file stream with `wholetext=true`
    delivers one shard per row, the SAME native record-split/header-
    parse expressions as the batch entry run per micro-batch (stateless
    projection — streaming-safe by construction), and a complete-mode
    census over (warc_type, length_ok) must equal the closed-form batch
    truth. This is the streaming twin of `warc_record_parse` the way
    `streaming_media_router` twins the batch router; the oracle
    computes the census closed-form from `documents` (no parse), so the
    stream's parse path is verified against independent arithmetic."""
    import shutil
    import tempfile
    import uuid as _uuid

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    payload = F.substring(F.col("text"), 1, 80)
    pay_len = F.least(F.col("n_chars"), F.lit(80).cast("bigint"))
    declared = (
        pay_len
        + F.when(F.col("doc_id") % 11 == 0, F.lit(3)).otherwise(F.lit(0))
    )
    wtype = F.when(
        F.col("doc_id") % 7 == 0, F.lit("metadata")
    ).otherwise(F.lit("response"))
    uri = F.concat(
        F.lit("https://host-"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".example/page/"),
        F.col("doc_id").cast("string"),
    )
    record = F.concat(
        F.lit("WARC/1.0" + _CRLF),
        F.lit("WARC-Type: "), wtype, F.lit(_CRLF),
        F.lit("WARC-Target-URI: "), uri, F.lit(_CRLF),
        F.lit("Content-Length: "), declared.cast("string"),
        F.lit(_WARC_SEP),
        payload,
        F.lit(_WARC_SEP),
    )
    shard_rows = (
        docs.select(
            (F.col("doc_id") % 8).alias("shard_id"),
            F.struct("doc_id", record.alias("rec")).alias("sr"),
        )
        .groupBy("shard_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("sr")), lambda s: s["rec"]
                ),
                "",
            ).alias("shard_text")
        )
        .collect()
    )
    src = tempfile.mkdtemp(prefix="warc_feed_")
    for r in shard_rows:
        with open(f"{src}/shard_{r.shard_id}.warc", "w") as f:
            f.write(r.shard_text)
    stream = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(src)
    )
    pieces = stream.select(
        F.explode(F.split(F.col("value"), "WARC/1\\.0\r\n")).alias("piece")
    ).where(F.col("piece") != "")
    parsed = pieces.select(
        F.regexp_extract(
            F.split_part(F.col("piece"), F.lit(_WARC_SEP), F.lit(1)),
            r"WARC-Type: ([^\r]+)",
            1,
        ).alias("warc_type"),
        F.regexp_extract(
            F.split_part(F.col("piece"), F.lit(_WARC_SEP), F.lit(1)),
            r"Content-Length: ([0-9]+)",
            1,
        )
        .cast("bigint")
        .alias("declared_len"),
        F.length(
            F.split_part(F.col("piece"), F.lit(_WARC_SEP), F.lit(2))
        )
        .cast("bigint")
        .alias("payload_len"),
    )
    census = (
        parsed.withColumn(
            "length_ok", F.col("payload_len") == F.col("declared_len")
        )
        .groupBy("warc_type", "length_ok")
        .agg(
            F.count("*").cast("bigint").alias("n_records"),
            F.sum("payload_len").cast("bigint").alias("total_payload"),
        )
    )
    name = f"warc_census_{_uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    q = (
        census.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = _local_result(spark.table(name))
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(src, ignore_errors=True)
    return out


SQL_STREAMING_WARC_INGEST = """
WITH recs AS (
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'metadata' ELSE 'response' END
               AS warc_type,
           least(n_chars, 80) AS payload_len,
           least(n_chars, 80)
           + (CASE WHEN doc_id % 11 = 0 THEN 3 ELSE 0 END) AS declared_len
    FROM documents
)
SELECT warc_type,
       payload_len = declared_len AS length_ok,
       CAST(count(*) AS BIGINT) AS n_records,
       CAST(sum(payload_len) AS BIGINT) AS total_payload
FROM recs GROUP BY 1, 2
"""


def q_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (the Splink shape —
    the statistical upgrade of the reference's fuzzy matching,
    `R1/utils.py:120-156`): candidate pairs come from a BLOCKED
    self-join over customers (block key = nation — the standard
    quadratic-taming move; at any scale the join shuffles once on the
    block key and each block's pair count is bounded by the block-size
    cap discipline), each pair is compared on three fields (market
    segment, account-balance bucket, customer-name suffix), and each
    agreement contributes its integer log-odds weight (agree:
    +24/+13/+31, disagree: -8/-5/-11 — deterministic stand-ins for
    EM-estimated weights, which would arrive as a 6-value broadcast)
    summed into the pair's match score; pairs at score >= 30 are
    links. Integer weights keep the oracle bit-exact (no libm). Output
    is the per-nation linkage census — pair/link counts, score
    extrema, and total linked mass."""
    cust = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    side = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_bucket"),
        F.expr("right(c_name, 2)").alias("name_sfx"),
    )
    a, b = side.alias("a"), side.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation"))
        & (F.col("a.k") < F.col("b.k")),
    )
    w_seg = F.when(
        F.col("a.seg") == F.col("b.seg"), F.lit(24)
    ).otherwise(F.lit(-8))
    w_bal = F.when(
        F.col("a.bal_bucket") == F.col("b.bal_bucket"), F.lit(13)
    ).otherwise(F.lit(-5))
    w_sfx = F.when(
        F.col("a.name_sfx") == F.col("b.name_sfx"), F.lit(31)
    ).otherwise(F.lit(-11))
    scored = pairs.select(
        F.col("a.nation").alias("nation"),
        (w_seg + w_bal + w_sfx).alias("score"),
    )
    return scored.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("score") >= 30, 1).otherwise(0))
        .cast("bigint")
        .alias("n_links"),
        F.min("score").cast("bigint").alias("min_score"),
        F.max("score").cast("bigint").alias("max_score"),
        F.sum("score").cast("bigint").alias("score_mass"),
    )


SQL_RECORD_LINKAGE_FS = """
WITH side AS (
    SELECT c_custkey AS k, c_nationkey AS nation, c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           right(c_name, 2) AS name_sfx
    FROM customer
),
scored AS (
    SELECT a.nation,
           (CASE WHEN a.seg = b.seg THEN 24 ELSE -8 END)
           + (CASE WHEN a.bal_bucket = b.bal_bucket THEN 13 ELSE -5 END)
           + (CASE WHEN a.name_sfx = b.name_sfx THEN 31 ELSE -11 END)
               AS score
    FROM side a JOIN side b
      ON a.nation = b.nation AND a.k < b.k
)
SELECT nation,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN score >= 30 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_links,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score,
       CAST(sum(score) AS BIGINT) AS score_mass
FROM scored GROUP BY nation
"""


def q_record_linkage_fs_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Block-size-CAPPED Fellegi-Sunter linkage — the 100 TB path for
    `q_record_linkage_fs`, whose all-pairs-per-block census is
    Ω(Σ block²) BY CONTRACT (measured 74x wall at 10x customers,
    SCALE.md §14). The standard mitigation (Splink's guidance: keep
    block sizes bounded, account for what the cap drops) applied
    in-plan: each block keeps its first 50 members by custkey
    (`row_number` — WindowGroupLimit prunes the rest before the join),
    pairs are scored ONLY among kept members with the same integer
    log-odds weights, and the census carries the dropped-row count per
    nation so the recall loss is visible in the result, not a
    footnote. Pairs per block are bounded by 50·49/2 at ANY scale —
    the 10x slice measures FLAT."""
    cust = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    from pyspark.sql.window import Window

    ranked = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_bucket"),
        F.expr("right(c_name, 2)").alias("name_sfx"),
        F.row_number()
        .over(
            Window.partitionBy("c_nationkey").orderBy("c_custkey")
        )
        .alias("rn"),
    )
    kept = ranked.where(F.col("rn") <= 50).drop("rn")
    dropped = (
        ranked.where(F.col("rn") > 50)
        .groupBy("nation")
        .agg(F.count("*").cast("bigint").alias("n_dropped"))
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = a.join(
        b,
        (F.col("a.nation") == F.col("b.nation"))
        & (F.col("a.k") < F.col("b.k")),
    )
    score = (
        F.when(F.col("a.seg") == F.col("b.seg"), F.lit(24)).otherwise(
            F.lit(-8)
        )
        + F.when(
            F.col("a.bal_bucket") == F.col("b.bal_bucket"), F.lit(13)
        ).otherwise(F.lit(-5))
        + F.when(
            F.col("a.name_sfx") == F.col("b.name_sfx"), F.lit(31)
        ).otherwise(F.lit(-11))
    )
    census = (
        pairs.select(F.col("a.nation").alias("nation"), score.alias("s"))
        .groupBy("nation")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.when(F.col("s") >= 30, 1).otherwise(0))
            .cast("bigint")
            .alias("n_links"),
        )
    )
    return (
        census.join(dropped, "nation", "left")
        .select(
            "nation",
            "n_pairs",
            "n_links",
            F.coalesce(F.col("n_dropped"), F.lit(0).cast("bigint")).alias(
                "n_dropped"
            ),
        )
    )


SQL_RECORD_LINKAGE_FS_CAPPED = """
WITH ranked AS (
    SELECT c_custkey AS k, c_nationkey AS nation, c_mktsegment AS seg,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
           right(c_name, 2) AS name_sfx,
           row_number() OVER (
               PARTITION BY c_nationkey ORDER BY c_custkey
           ) AS rn
    FROM customer
),
kept AS (SELECT * FROM ranked WHERE rn <= 50),
dropped AS (
    SELECT nation, CAST(count(*) AS BIGINT) AS n_dropped
    FROM ranked WHERE rn > 50 GROUP BY nation
),
census AS (
    SELECT a.nation,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN
               (CASE WHEN a.seg = b.seg THEN 24 ELSE -8 END)
               + (CASE WHEN a.bal_bucket = b.bal_bucket
                       THEN 13 ELSE -5 END)
               + (CASE WHEN a.name_sfx = b.name_sfx
                       THEN 31 ELSE -11 END) >= 30
               THEN 1 ELSE 0 END) AS BIGINT) AS n_links
    FROM kept a JOIN kept b ON a.nation = b.nation AND a.k < b.k
    GROUP BY a.nation
)
SELECT c.nation, c.n_pairs, c.n_links,
       coalesce(d.n_dropped, 0) AS n_dropped
FROM census c LEFT JOIN dropped d ON c.nation = d.nation
"""


def q_crawl_link_hostgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level link-graph construction (the step between HTML
    extraction and PageRank: hrefs become host->host edges): the same
    anchor-tag shape as `q_html_text_extract`'s fixture, with the
    `next` link pointing at the SUCCESSOR host — cross-host ring edges
    plus a shared citation hub, a graph with real in/out asymmetry —
    every href pulled with `regexp_extract_all` + explode, target host
    parsed from the URL, and the (src_host, dst_host) edge census
    aggregated with in/out-degree style rollups (n_links, n_pages,
    self-link count).
    Per-row extract + one map-side-combinable aggregate; the edge list
    partitions on src_host at scale (the natural crawl key, same as the
    frontier's)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "source")
    nxt = ((F.col("doc_id") + 1) % 500).cast("string")
    html = F.concat(
        F.lit('<a href="https://host-'),
        ((F.col("doc_id") + 1) % 5).cast("string"),
        F.lit(".example/page/"),
        nxt,
        F.lit('">next</a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<a href="https://ref.example/cite/'),
                (F.col("doc_id") % 17).cast("string"),
                F.lit('">ref</a>'),
            ),
        ).otherwise(F.lit("")),
    )
    links = docs.select(
        "doc_id",
        F.concat(
            F.lit("host-"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".example"),
        ).alias("src_host"),
        F.explode(
            F.regexp_extract_all(html, F.lit('href="([^"]+)"'), 1)
        ).alias("href"),
    )
    edges = links.select(
        "doc_id",
        "src_host",
        F.regexp_extract(F.col("href"), "https://([^/]+)/", 1).alias(
            "dst_host"
        ),
    )
    return edges.groupBy("src_host", "dst_host").agg(
        F.count("*").cast("bigint").alias("n_links"),
        F.count_distinct("doc_id").cast("bigint").alias("n_pages"),
        F.sum(
            F.when(F.col("src_host") == F.col("dst_host"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_self"),
    )


SQL_CRAWL_LINK_HOSTGRAPH = """
WITH links AS (
    SELECT doc_id,
           'host-' || CAST(doc_id % 5 AS VARCHAR) || '.example' AS src_host,
           t.href
    FROM documents,
         UNNEST(regexp_extract_all(
             '<a href="https://host-' || CAST((doc_id + 1) % 5 AS VARCHAR)
             || '.example/page/' || CAST((doc_id + 1) % 500 AS VARCHAR)
             || '">next</a>'
             || (CASE WHEN doc_id % 3 = 0
                      THEN '<a href="https://ref.example/cite/'
                           || CAST(doc_id % 17 AS VARCHAR) || '">ref</a>'
                      ELSE '' END),
             'href="([^"]+)"', 1)) t(href)
)
SELECT src_host,
       regexp_extract(href, 'https://([^/]+)/', 1) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages,
       CAST(sum(CASE WHEN src_host =
                          regexp_extract(href, 'https://([^/]+)/', 1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_self
FROM links GROUP BY 1, 2
"""


# streaming result == batch tumbling aggregation over the same file
SQL_STREAMING_TUMBLING_COUNTS = """
SELECT event_type, date_trunc('hour', ts) AS window_start,
       count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


ENTRIES: list[Entry] = [
    ("streaming_outer_join_expiry",
     _retry_stream_once(q_streaming_outer_join_expiry), SQL_STREAMING_OUTER_JOIN),
    ("streaming_chained_windows",
     _retry_stream_once(q_streaming_chained_windows), SQL_STREAMING_CHAINED_WINDOWS),
    ("business_day_latency", q_business_day_latency, SQL_BUSINESS_DAY_LATENCY),
    ("sketch_hll_grouped", q_hll_grouped, SQL_HLL_GROUPED),
    ("layout_range_boundaries", q_range_boundaries, SQL_RANGE_BOUNDARIES),
    ("coverage_set_orders", q_coverage_set, SQL_COVERAGE_SET),
    ("seasonality_heatmap_events", q_seasonality_heatmap, SQL_SEASONALITY_HEATMAP),
    ("nearest_event_probe", q_nearest_event_probe, SQL_NEAREST_EVENT_PROBE),
    ("freshness_audit_events", q_freshness_audit, SQL_FRESHNESS_AUDIT),
    ("multimodal_audio_framing_stub", q_audio_framing_stub, SQL_AUDIO_FRAMING_STUB),
    ("multimodal_audio_decode", q_audio_decode, SQL_AUDIO_DECODE),
    ("multimodal_audio_energy", q_audio_energy, SQL_AUDIO_ENERGY),
    ("multimodal_image_phash", q_image_phash, SQL_IMAGE_PHASH),
    ("multimodal_image_dhash", q_image_dhash, SQL_IMAGE_DHASH),
    ("multimodal_phash_near_pairs", q_phash_near_pairs, SQL_PHASH_NEAR_PAIRS),
    ("multimodal_phash_class_pairs", q_phash_class_pairs, SQL_PHASH_CLASS_PAIRS),
    ("multimodal_crossmodal_neardup", q_crossmodal_neardup, SQL_CROSSMODAL_NEARDUP),
    ("multimodal_crossmodal_clusters", q_crossmodal_clusters, SQL_CROSSMODAL_CLUSTERS),
    ("multimodal_frame_class_pairs", q_frame_class_pairs, SQL_FRAME_CLASS_PAIRS),
    ("warc_record_parse", q_warc_record_parse, SQL_WARC_RECORD_PARSE),
    ("html_text_extract", q_html_text_extract, SQL_HTML_TEXT_EXTRACT),
    ("robots_prefix_filter", q_robots_prefix_filter, SQL_ROBOTS_PREFIX_FILTER),
    ("quality_linear_classifier",
     q_quality_linear_classifier, SQL_QUALITY_LINEAR_CLASSIFIER),
    ("crawl_frontier_schedule", q_crawl_frontier_schedule, SQL_CRAWL_FRONTIER_SCHEDULE),
    ("url_pld_quota", q_url_pld_quota, SQL_URL_PLD_QUOTA),
    ("streaming_warc_ingest",
     _retry_stream_once(q_streaming_warc_ingest), SQL_STREAMING_WARC_INGEST),
    ("record_linkage_fs", q_record_linkage_fs, SQL_RECORD_LINKAGE_FS),
    ("record_linkage_fs_capped",
     q_record_linkage_fs_capped, SQL_RECORD_LINKAGE_FS_CAPPED),
    ("crawl_link_hostgraph", q_crawl_link_hostgraph, SQL_CRAWL_LINK_HOSTGRAPH),
    ("multimodal_phash_clusters", q_phash_clusters, SQL_PHASH_CLUSTERS),
    ("multimodal_media_router", q_media_router, SQL_MEDIA_ROUTER),
    ("streaming_media_router",
     _retry_stream_once(q_streaming_media_router), SQL_MEDIA_ROUTER),
    ("streaming_frame_decode",
     _retry_stream_once(q_streaming_frame_decode), SQL_STREAMING_FRAME_DECODE),
    ("data_temporal_split_purged", q_temporal_split_purged, SQL_TEMPORAL_SPLIT),
    ("corpus_gate_funnel", q_gate_funnel, SQL_GATE_FUNNEL),
    ("text_stopword_matrix", q_stopword_matrix, SQL_STOPWORD_MATRIX),
    ("streaming_update_mode_counts",
     _retry_stream_once(q_streaming_update_mode), SQL_STREAMING_UPDATE_MODE),
    ("pivot_multi_agg", q_pivot_multi_agg, SQL_PIVOT_MULTI_AGG),
    ("sketch_kmv_setops", q_kmv_setops, SQL_KMV_SETOPS),
    ("sketch_kmv_jaccard", q_kmv_jaccard, SQL_KMV_JACCARD),
    ("data_stratified_exact_split",
     q_stratified_exact_split, SQL_STRATIFIED_EXACT_SPLIT),
    ("seasonal_index_dow", q_seasonal_index_dow, SQL_SEASONAL_INDEX_DOW),
    ("text_heaps_law_curve", q_heaps_law_curve, SQL_HEAPS_LAW_CURVE),
    ("key_candidate_audit", q_key_candidate_audit, SQL_KEY_CANDIDATE_AUDIT),
    ("graph_kcore_peel", q_kcore_peel, SQL_KCORE_PEEL),
    ("fuzzy_blocking_quality", q_blocking_quality, SQL_BLOCKING_QUALITY),
    ("text_tokenizer_fertility", q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    ("streaming_hll_distinct",
     _retry_stream_once(q_streaming_hll_distinct), SQL_STREAMING_HLL),
    ("sketch_histogram_quantiles", q_hist_quantile_sketch, SQL_HIST_QUANTILE),
    ("sketch_hll_distinct", q_hll_distinct, SQL_HLL_DISTINCT),
    ("graph_label_propagation", q_label_propagation, SQL_LABEL_PROPAGATION),
    ("padding_waste_audit", q_padding_waste_audit, SQL_PADDING_WASTE),
    ("temperature_mixture_alloc", q_temperature_mixture, SQL_TEMPERATURE_MIXTURE),
    ("multimodal_resize_thumb", q_gif_resize_thumb, SQL_GIF_RESIZE),
    ("bpe_encoded_symbols", q_bpe_encoded_symbols, SQL_BPE_ENCODED_SYMBOLS),
    ("bpe_learn_merges", q_bpe_learn_merges, SQL_BPE_LEARN_MERGES),
    ("dedup_minhash_eval", q_minhash_eval, SQL_MINHASH_EVAL),
    ("split_leakage_audit", q_split_leakage_audit, SQL_SPLIT_LEAKAGE_AUDIT),
    ("corpus_budget_select", q_corpus_budget_select, SQL_CORPUS_BUDGET_SELECT),
    ("pii_risk_triage", q_pii_risk_triage, SQL_PII_RISK_TRIAGE),
    ("vocab_coverage_curve", q_vocab_coverage_curve, SQL_VOCAB_COVERAGE_CURVE),
    ("weighted_median_price", q_weighted_median, SQL_WEIGHTED_MEDIAN),
    ("user_rfm_features", q_rfm_features, SQL_RFM),
    ("event_linear_attribution", q_linear_attribution, SQL_LINEAR_ATTRIBUTION),
    ("benford_price_profile", q_benford_profile, SQL_BENFORD),
    ("text_ngram_containment", q_ngram_containment, SQL_NGRAM_CONTAINMENT),
    ("join_key_skew_profile", q_key_skew_profile, SQL_KEY_SKEW),
    ("embed_rrf_fusion", q_rrf_fusion, SQL_RRF_FUSION),
    ("source_quantile_norm", q_rank_quantile_norm, SQL_RANK_QUANTILE_NORM),
    ("corpus_curriculum_interleave",
     q_curriculum_interleave, SQL_CURRICULUM_INTERLEAVE),
    ("quality_length_rank_corr", q_rank_correlation, SQL_RANK_CORRELATION),
    ("expectations_suite_lineitem", q_expectations_suite, SQL_EXPECTATIONS_SUITE),
    ("fk_orphan_profile", q_fk_orphan_profile, SQL_FK_ORPHAN_PROFILE),
    ("event_pattern_match", q_event_pattern_match, SQL_EVENT_PATTERN_MATCH),
    ("grouped_ols_trend", q_grouped_ols, SQL_GROUPED_OLS),
    ("contingency_chi2_profile", q_contingency_profile, SQL_CONTINGENCY),
    ("conversion_latency_deciles", q_conversion_latency, SQL_CONVERSION_LATENCY),
    ("event_cooccurrence_lift", q_cooccurrence_lift, SQL_COOCCURRENCE_LIFT),
    ("incremental_agg_maintenance", q_incremental_agg, SQL_INCREMENTAL_AGG),
    ("dynamic_partition_overwrite",
     q_dynamic_partition_overwrite, SQL_DYNAMIC_PARTITION_OVERWRITE),
    ("python_udtf_sentences", q_udtf_sentences, SQL_UDTF_SENTENCES),
    ("pit_join_scd2_orders", q_pit_join, SQL_PIT_JOIN),
    ("discount_share_wilson_ci", q_proportion_ci, SQL_PROPORTION_CI),
    ("bpe_pair_topk", q_bpe_pairs, SQL_BPE_PAIRS),
    ("streaming_windowed_topk",
     _retry_stream_once(q_streaming_windowed_topk), SQL_STREAMING_WINDOWED_TOPK),
    ("largest_remainder_proration", q_largest_remainder, SQL_LARGEST_REMAINDER),
    ("k_anonymity_audit", q_k_anonymity, SQL_K_ANONYMITY),
    ("interval_union_engagement", q_interval_union, SQL_INTERVAL_UNION),
    ("rolling_wau_exact", q_rolling_wau, SQL_ROLLING_WAU),
    ("group_median_impute", q_median_impute, SQL_MEDIAN_IMPUTE),
    ("null_safe_join_histograms", q_null_safe_join, SQL_NULL_SAFE_JOIN),
    ("collated_group_counts", q_collated_groups, SQL_COLLATED_GROUPS),
    ("stable_global_row_ids", q_stable_row_ids, SQL_STABLE_ROW_IDS),
    ("user_value_trailing_ema", q_trailing_ema, SQL_TRAILING_EMA),
    ("churn_label_generation", q_churn_labels, SQL_CHURN_LABELS),
    ("loo_target_encoding", q_loo_target_encoding, SQL_LOO_TARGET_ENCODING),
    ("cdc_chunk_dedup", q_cdc_chunk_dedup, SQL_CDC_CHUNK_DEDUP),
    ("ab_test_ztest_purchase", q_ab_test_ztest, SQL_AB_TEST_ZTEST),
    ("class_balance_weights", q_class_balance_weights, SQL_CLASS_BALANCE),
    ("interval_overlap_join", q_interval_overlap_join, SQL_INTERVAL_OVERLAP_JOIN),
    ("sequence_bigram_support", q_sequence_bigram_support, SQL_SEQUENCE_BIGRAM_SUPPORT),
    ("calibration_bins", q_calibration_bins, SQL_CALIBRATION_BINS),
    ("dedup_sorted_neighborhood", q_sorted_neighborhood, SQL_SORTED_NEIGHBORHOOD),
    ("ohlc_value_bars", q_ohlc_value_bars, SQL_OHLC_VALUE_BARS),
    ("grouped_mode_event", q_grouped_mode_event, SQL_GROUPED_MODE_EVENT),
    ("twap_user_day", q_twap_user_day, SQL_TWAP_USER_DAY),
    ("segmented_running_total", q_segmented_running_total, SQL_SEGMENTED_RUNNING_TOTAL),
    ("weighted_priority_sample",
     q_weighted_priority_sample, SQL_WEIGHTED_PRIORITY_SAMPLE),
    ("l_diversity_customers", q_l_diversity_customers, SQL_L_DIVERSITY_CUSTOMERS),
    ("link_prediction_suppliers",
     q_link_prediction_suppliers, SQL_LINK_PREDICTION_SUPPLIERS),
    ("fifo_match_returns", q_fifo_match_returns, SQL_FIFO_MATCH_RETURNS),
    ("gini_profile_orders", q_gini_profile_orders, SQL_GINI_PROFILE_ORDERS),
    ("roc_auc_value_purchase", q_roc_auc_value_purchase, SQL_ROC_AUC_VALUE_PURCHASE),
    ("zscore_outliers_dow", q_zscore_outliers_dow, SQL_ZSCORE_OUTLIERS_DOW),
    ("feature_hash_customers", q_feature_hash_customers, SQL_FEATURE_HASH_CUSTOMERS),
    ("km_signup_to_purchase", q_km_signup_to_purchase, SQL_KM_SIGNUP_TO_PURCHASE),
    ("mann_kendall_daily", q_mann_kendall_daily, SQL_MANN_KENDALL_DAILY),
    ("cusum_change_daily", q_cusum_change_daily, SQL_CUSUM_CHANGE_DAILY),
    ("theil_sen_daily", q_theil_sen_daily, SQL_THEIL_SEN_DAILY),
    ("abc_parts_by_brand", q_abc_parts_by_brand, SQL_ABC_PARTS_BY_BRAND),
    ("rolling_band_daily", q_rolling_band_daily, SQL_ROLLING_BAND_DAILY),
    ("top_session_paths", q_top_session_paths, SQL_TOP_SESSION_PATHS),
    ("golden_record_users", q_golden_record_users, SQL_GOLDEN_RECORD_USERS),
    ("cohort_ltv_events", q_cohort_ltv_events, SQL_COHORT_LTV_EVENTS),
    ("seasonal_naive_mdape", q_seasonal_naive_mdape, SQL_SEASONAL_NAIVE_MDAPE),
    ("audience_overlap_events", q_audience_overlap_events, SQL_AUDIENCE_OVERLAP_EVENTS),
    ("attribution_position_based",
     q_attribution_position_based, SQL_ATTRIBUTION_POSITION_BASED),
    ("debounce_clicks", q_debounce_clicks, SQL_DEBOUNCE_CLICKS),
    ("gap_fill_interp_daily", q_gap_fill_interp_daily, SQL_GAP_FILL_INTERP_DAILY),
    ("dataset_fingerprints", q_dataset_fingerprints, SQL_DATASET_FINGERPRINTS),
    ("ks_value_user_parity", q_ks_value_user_parity, SQL_KS_VALUE_USER_PARITY),
    ("tv_drift_user_parity", q_tv_drift_user_parity, SQL_TV_DRIFT_USER_PARITY),
    ("pvm_brand_yoy", q_pvm_brand_yoy, SQL_PVM_BRAND_YOY),
    ("lump_rare_part_types", q_lump_rare_part_types, SQL_LUMP_RARE_PART_TYPES),
    ("embed_prefix_rerank_topk", q_embed_prefix_rerank, SQL_EMBED_PREFIX_RERANK),
    ("embed_centroid_confusion",
     q_embed_centroid_confusion, SQL_EMBED_CENTROID_CONFUSION),
    ("rake_keyphrases_docs", q_rake_keyphrases_docs, SQL_RAKE_KEYPHRASES_DOCS),
    ("bigram_next_token_acc", q_bigram_next_token_acc, SQL_BIGRAM_NEXT_TOKEN_ACC),
    ("share_of_parent_revenue", q_share_of_parent_revenue, SQL_SHARE_OF_PARENT_REVENUE),
    ("price_band_clusters", q_price_band_clusters, SQL_PRICE_BAND_CLUSTERS),
    ("fd_audit_lineitem", q_fd_audit_lineitem, SQL_FD_AUDIT_LINEITEM),
    ("trending_event_types", q_trending_event_types, SQL_TRENDING_EVENT_TYPES),
    ("trimmed_mean_value", q_trimmed_mean_value, SQL_TRIMMED_MEAN_VALUE),
    ("conformal_naive_width", q_conformal_naive_width, SQL_CONFORMAL_NAIVE_WIDTH),
    ("ma_crossover_daily", q_ma_crossover_daily, SQL_MA_CROSSOVER_DAILY),
    ("weighted_jaccard_sources",
     q_weighted_jaccard_sources, SQL_WEIGHTED_JACCARD_SOURCES),
    ("corr_qty_revenue", q_corr_qty_revenue, SQL_CORR_QTY_REVENUE),
    ("autocorr_lag7_daily", q_autocorr_lag7_daily, SQL_AUTOCORR_LAG7_DAILY),
    ("cross_source_dups", q_cross_source_dups, SQL_CROSS_SOURCE_DUPS),
    ("ess_doc_weights", q_ess_doc_weights, SQL_ESS_DOC_WEIGHTS),
    ("behavior_segments", q_behavior_segments, SQL_BEHAVIOR_SEGMENTS),
    ("peak_concurrency_sessions",
     q_peak_concurrency_sessions, SQL_PEAK_CONCURRENCY_SESSIONS),
    ("abc_xyz_matrix", q_abc_xyz_matrix, SQL_ABC_XYZ_MATRIX),
    ("sla_p95_ship_delay", q_sla_p95_ship_delay, SQL_SLA_P95_SHIP_DELAY),
    ("top_decile_revenue_share",
     q_top_decile_revenue_share, SQL_TOP_DECILE_REVENUE_SHARE),
    ("xlsx_report_roundtrip", q_xlsx_report_roundtrip, SQL_XLSX_ROUNDTRIP),
    ("csv_per_period_export", q_csv_per_period_export, SQL_CSV_PER_PERIOD),
    ("json_dict_scan", q_json_dict_scan, SQL_JSON_DICT_SCAN),
    ("registry_upsert_state", q_registry_upsert_state, SQL_REGISTRY_UPSERT),
    ("corpus_token_packing", q_token_packing, SQL_TOKEN_PACKING),
    ("corpus_unigram_logprob", q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    ("corpus_dsir_resample", q_dsir_resample, SQL_DSIR_RESAMPLE),
    ("quality_decile_stats", q_quality_deciles, SQL_QUALITY_DECILES),
    ("source_quota_cap", q_source_quota, SQL_SOURCE_QUOTA),
    ("funnel_events", q_funnel, SQL_FUNNEL),
    ("windowed_funnel_events", q_windowed_funnel, SQL_WINDOWED_FUNNEL),
    ("variant_json_extract", q_variant_json_extract, SQL_VARIANT_JSON_EXTRACT),
    ("cohort_retention_events", q_cohort_retention, SQL_COHORT_RETENTION),
    ("text_token_counts", q_token_counts, SQL_TOKEN_COUNTS),
    ("text_quality_scores", q_quality_scores, SQL_QUALITY_SCORES),
    ("text_lang_id", q_lang_id, SQL_LANG_ID),
    ("doc_fingerprint", q_fingerprint, SQL_FINGERPRINT),
    ("dedup_exact_docs", q_dedup_exact, SQL_DEDUP_EXACT),
    ("dedup_minhash_lsh_pairs", q_minhash_pairs, SQL_MINHASH_PAIRS),
    ("dedup_ngram_jaccard_pairs", q_ngram_jaccard, SQL_NGRAM_JACCARD),
    ("dedup_ngram_prefix_filter", q_ngram_prefix_filter, SQL_NGRAM_JACCARD),
    ("dedup_ngram_dfcap_pairs", q_ngram_dfcap, SQL_NGRAM_DFCAP),
    ("dedup_simhash_fingerprints", q_simhash, SQL_SIMHASH),
    ("dedup_embedding_cosine_pairs", q_embedding_cosine_dedup, SQL_EMBED_COSINE_DEDUP),
    ("dedup_connected_components", q_connected_components,
     SQL_CONNECTED_COMPONENTS.format(minhash_sql=SQL_MINHASH_PAIRS)),
    ("graph_pagerank_fixed_point", q_pagerank_fixed_point, SQL_PAGERANK_FIXED_POINT),
    ("dedup_canonical_corpus", q_canonical_corpus,
     SQL_CANONICAL_CORPUS.format(minhash_sql=SQL_MINHASH_PAIRS,
                                 dup_corpus_sql=_DUP_CORPUS_SQL)),
    ("text_rolling_fingerprint", q_rolling_fingerprint, SQL_ROLLING_FINGERPRINT),
    ("text_chunking", q_text_chunking, SQL_TEXT_CHUNKING),
    ("text_pii_redaction", q_pii_redaction, SQL_PII_REDACTION),
    ("text_vocab_topk", q_vocab_topk, SQL_VOCAB_TOPK),
    ("text_winnow_fingerprints", q_winnow_fingerprints, SQL_WINNOW_FINGERPRINTS),
    ("text_winnow_overlap_pairs", q_winnow_overlap_pairs, SQL_WINNOW_OVERLAP),
    ("text_repetition_filter", q_repetition_filter, SQL_REPETITION_FILTER),
    ("text_contamination_check", q_contamination_check, SQL_CONTAMINATION),
    ("text_tfidf_topk", q_tfidf_topk, SQL_TFIDF_TOPK),
    ("data_split_sample", q_split_sample, SQL_SPLIT_SAMPLE),
    ("group_split_no_leakage", q_group_split, SQL_GROUP_SPLIT),
    ("jsonl_corpus_roundtrip", q_jsonl_roundtrip, SQL_JSONL_ROUNDTRIP),
    ("scd2_customer_history", q_scd2_history, SQL_SCD2_HISTORY),
    ("embed_quantize_int8", q_embed_quantize, SQL_EMBED_QUANTIZE),
    ("embed_quantized_rerank_topk", q_quantized_rerank, SQL_QUANTIZED_RERANK),
    ("streaming_pii_redaction", _retry_stream_once(q_streaming_pii),
     SQL_STREAMING_PII.format(**tx.PII_PATTERNS)),
    ("corpus_dataset_card", q_dataset_card,
     SQL_DATASET_CARD.format(repetition_sql=SQL_REPETITION_FILTER)),
    ("embed_cosine_topk", q_cosine_topk, SQL_COSINE_TOPK),
    ("embed_ivf_topk_label", q_ivf_topk, SQL_IVF_TOPK),
    ("embed_lsh_ann_topk", q_lsh_topk, SQL_LSH_TOPK),
    ("embed_ivf_kmeans_topk", q_kmeans_ivf_topk, SQL_KMEANS_IVF_TOPK),
    ("embed_pq_adc_topk", q_pq_adc_topk, SQL_PQ_ADC_TOPK),
    ("embed_ann_recall", q_ann_recall, SQL_ANN_RECALL),
    ("multimodal_payload_meta", q_payload_meta, SQL_PAYLOAD_META),
    ("multimodal_decode_stub", q_decode_media_stub, SQL_DECODE_STUB),
    ("python_datasource_scan", q_python_datasource, SQL_PYTHON_DATASOURCE),
    ("python_datasource_stream",
     _retry_stream_once(q_python_datasource_stream), SQL_PYTHON_DATASOURCE_STREAM),
    ("python_datasource_pstream",
     _retry_stream_once(q_python_datasource_pstream), SQL_PYTHON_DATASOURCE_STREAM),
    ("multimodal_frame_decode", q_gif_frame_decode, SQL_GIF_FRAME_DECODE),
    ("multimodal_gif_interlaced", q_gif_interlaced, SQL_GIF_INTERLACED),
    ("multimodal_scene_cuts", q_scene_cuts, SQL_SCENE_CUTS),
    ("multimodal_shot_segments", q_shot_segments, SQL_SHOT_SEGMENTS),
    ("multimodal_audio_activity", q_audio_activity, SQL_AUDIO_ACTIVITY),
    ("multimodal_frame_sample", q_gif_frame_sample, SQL_GIF_FRAME_SAMPLE),
    ("multimodal_audio_haar_bands", q_audio_haar_bands, SQL_AUDIO_HAAR),
    ("multimodal_audio_decimate", q_audio_decimate, SQL_AUDIO_DECIMATE),
    ("fuzzy_normalize_fold", q_normalize_fold, SQL_NORMALIZE_FOLD),
    # the typo-mangle makes the difflib winner + score provable (see
    # q_fuzzy_resolve docstring)
    ("fuzzy_resolve_suppliers", q_fuzzy_resolve, SQL_FUZZY_RESOLVE_SUPPLIERS),
    ("fuzzy_resolve_blocked", q_fuzzy_resolve_blocked, SQL_FUZZY_RESOLVE_BLOCKED),
    ("org_uuid5_ids", q_uuid5_ids, SQL_UUID5_IDS),
    ("rest_fanout_analytics", q_rest_fanout_analytics, SQL_REST_FANOUT),
    ("rest_naomi_json_flatten", q_rest_naomi_flatten, SQL_NAOMI_FLATTEN),
    ("salted_skew_join", q_salted_join, SQL_SALTED_JOIN),
    ("bucketed_colocated_join", q_bucketed_join, SQL_BUCKETED_JOIN),
    ("llm_corpus_prep", q_corpus_prep, SQL_CORPUS_PREP),
    ("spectrum_csv_scan", q_spectrum_csv, SQL_SPECTRUM_CSV),
    ("partitioned_parquet_pruning", q_partition_pruning, SQL_PARTITION_PRUNING),
    ("zorder_clustered_scan", q_zorder_scan, SQL_ZORDER_SCAN),
    ("dedup_semantic_clusters", q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    ("dedup_semantic_sampled_trainer",
     q_semantic_dedup_sampled, SQL_SEMANTIC_DEDUP_SAMPLED),
    ("text_line_dedup", q_line_dedup, SQL_LINE_DEDUP),
    ("text_url_canonicalize", q_url_canonicalize, SQL_URL_CANONICALIZE),
    ("text_duplicate_ngram_spans", q_duplicate_ngram_spans, SQL_DUP_NGRAM_SPANS),
    ("sketch_countmin_tokens", q_countmin_tokens, SQL_COUNTMIN_TOKENS),
    ("graph_triangle_count_parts", q_triangle_count, SQL_TRIANGLE_COUNT),
    ("data_kfold_assignment", q_kfold_assignment, SQL_KFOLD_ASSIGNMENT),
    ("text_bm25_topk", q_bm25_topk, SQL_BM25_TOPK),
    ("sketch_bloom_membership", q_bloom_membership, SQL_BLOOM_MEMBERSHIP),
    ("profile_winsorized_stats", q_winsorized_stats, SQL_WINSORIZED_STATS),
    ("profile_robust_outliers", q_robust_outliers, SQL_ROBUST_OUTLIERS),
    ("sliding_window_events", q_sliding_window, SQL_SLIDING_WINDOW),
    ("event_transition_matrix", q_event_transitions, SQL_EVENT_TRANSITIONS),
    ("text_token_diversity", q_token_diversity, SQL_TOKEN_DIVERSITY),
    ("dedup_incremental_batch", q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    ("corpus_shuffle_shards", q_shuffle_shards, SQL_SHUFFLE_SHARDS),
    ("orc_source_roundtrip", q_orc_roundtrip, SQL_ORC_ROUNDTRIP),
    ("xml_source_roundtrip", q_xml_roundtrip, SQL_XML_ROUNDTRIP),
    ("binaryfile_blob_ingest", q_binaryfile_ingest, SQL_BINARYFILE_INGEST),
    ("sql_ddl_managed_table", q_sql_ddl_managed_table, SQL_DDL_MANAGED_TABLE),
    ("dataset_diff_audit", q_dataset_diff, SQL_DATASET_DIFF),
    ("compaction_plan_bins", q_compaction_plan, SQL_COMPACTION_PLAN),
    ("text_clean_corpus", q_clean_corpus_text, SQL_CLEAN_CORPUS_TEXT),
    ("user_event_sequences", q_user_event_sequences, SQL_USER_EVENT_SEQUENCES),
    ("trailing_window_features", q_trailing_window_features, SQL_TRAILING_WINDOW),
    ("corpus_mixture_sample", q_mixture_sample, SQL_MIXTURE_SAMPLE),
    ("asof_join_two_table", q_asof_join_orders, SQL_ASOF_JOIN_ORDERS),
    ("embed_mean_pool", q_mean_pool, SQL_MEAN_POOL),
    ("profile_numeric_histogram", q_numeric_histogram, SQL_NUMERIC_HISTOGRAM),
    ("profile_completeness", q_completeness_profile, SQL_COMPLETENESS_PROFILE),
    ("approx_sketches_events", q_approx_sketches, SQL_APPROX_SKETCHES),
    ("streaming_tumbling_counts",
     _retry_stream_once(q_streaming_tumbling), SQL_STREAMING_TUMBLING_COUNTS),
    ("streaming_exactly_once_dedup",
     _retry_stream_once(q_streaming_dedup), SQL_STREAMING_DEDUP),
    ("streaming_dedup_within_watermark",
     _retry_stream_once(q_streaming_dedup_within_watermark), SQL_STREAMING_DEDUP),
    ("streaming_foreach_batch_upsert",
     _retry_stream_once(q_streaming_foreach_batch_upsert), SQL_STREAMING_FOREACH_BATCH),
    ("streaming_corpus_chunking",
     _retry_stream_once(q_streaming_chunking), SQL_STREAMING_CHUNKING),
    ("streaming_interval_join",
     _retry_stream_once(q_streaming_interval_join), SQL_STREAMING_INTERVAL_JOIN),
    ("streaming_session_windows",
     _retry_stream_once(q_streaming_session_windows), SQL_STREAMING_SESSION_WINDOWS),
    ("streaming_stateful_totals",
     _retry_stream_once(q_streaming_stateful_totals), SQL_STREAMING_STATEFUL_TOTALS),
    ("streaming_static_enrich",
     _retry_stream_once(q_streaming_static_enrich), SQL_STREAMING_STATIC_ENRICH),
    ("gap_fill_locf_hourly", q_gap_fill_locf, SQL_GAP_FILL_LOCF),
]
