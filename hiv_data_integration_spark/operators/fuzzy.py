"""Fuzzy entity resolution: text normalization, token-set scoring, best-match
against broadcast candidate lists, deterministic uuid5 ids, registry upsert.

Reference semantics (cited for parity, re-expressed Spark-first):

- ``normalize_text`` — NFD accent folding, punctuation stripping, noise-word
  removal, lowercasing (``update_pnls_report/utils.py:543-558``).
- ``find_best_match`` — exact lookup first, else token-set fuzzy score with
  a >= 95 acceptance threshold (``update_pnls_report/utils.py:434-459``).
- ``match_org_unit`` — normalized fuzzy match >= 90 returning the matched
  candidate's payload (``update_pnls_report/utils.py:462-514``, applied at
  ``update_pnls_report/extract_chu_data.py:299-336``).
- ``uuid5_id`` — ``uuid5(NAMESPACE_DNS, name)`` with hyphens stripped
  (``update_pnls_report/utils.py:420-431``).
- ``upsert_parquet_state`` — read-modify-write registry/history parquet
  (``update_pnls_report/extract_chu_data.py:288,378-381,492-502``).

Scale design:

- Every step runs where its input lives. The candidate dim (the
  reference's registries are < 10^4 rows) is collected once and
  normalized on the driver. A query frame whose scoring work fits
  ``MAX_DRIVER_WORK`` is scored on the driver too, by the very function
  the scoring pandas_udf runs, and joined back as a broadcast lookup: no
  Python worker is forked for it.
- Above that budget the fact side streams through the scoring pandas_udf
  in Arrow batches, against the same captured candidates — no shuffle
  unless ``partitions`` asks for one, no crossJoin. The udf normalizes
  its raw inputs with the same Python normalizer the driver uses.
  O(rows x candidates) Python work is bounded by optional blocking keys
  (the reference blocks by district the same way).
- ``uuid5_id`` is native: one SHA-1 plus two nibble rewrites.
- The scorer is a pure-Python token_set_ratio (difflib SequenceMatcher
  core) because no fuzzy library ships in this container; the algorithm
  is the public fuzzywuzzy/rapidfuzz token_set construction.
- ``upsert_parquet_state`` stages to a temp dir then atomically swaps —
  Spark cannot overwrite a path that feeds the very plan being executed.
"""

from __future__ import annotations

import re
import unicodedata
import uuid
from difflib import SequenceMatcher

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

__all__ = [
    "strip_accents",
    "nfd_fold",
    "normalize_text",
    "normalize_text_col",
    "token_set_ratio",
    "best_match_udf",
    "collect_candidates",
    "resolve_entities",
    "uuid5_id",
    "upsert_parquet_state",
]

# reference CLEAN_PATTERN (update_pnls_report/utils.py:541): delete anything
# that is not a word char, whitespace, or hyphen. Java/RE2 '\w' is ASCII-only
# (Python re is unicode unless re.ASCII, which normalize_text passes) —
# identical here because accent folding runs first;
# only non-decomposable letters (œ, ø...) diverge, and both engines (Spark +
# DuckDB oracle) agree with each other.
_CLEAN_RE = r"[^\w\s-]"


def strip_accents(s: str) -> str:
    """NFD-decompose then drop combining marks (driver/worker-side)."""
    return "".join(
        ch for ch in unicodedata.normalize("NFD", s) if not unicodedata.combining(ch)
    )


def _nfd_fold_udf():
    """Factory: Arrow-vectorized accent folding — the only normalization
    step with no Catalyst built-in. Built as a nested function so
    cloudpickle ships it by value (workers need not import this package —
    see session.py PYTHONPATH note)."""

    @pandas_udf(T.StringType())
    def fold_udf(s: pd.Series) -> pd.Series:
        import unicodedata as _ud

        def fold(x):
            if x is None:
                return None
            return "".join(
                ch
                for ch in _ud.normalize("NFD", x)
                if not _ud.combining(ch)
            )

        return s.map(fold)

    return fold_udf


def nfd_fold(col: Column) -> Column:
    """Accent-fold a column (fresh by-value pandas_udf per call site)."""
    return _nfd_fold_udf()(col)


def normalize_text_col(col: Column, fold_accents: bool = True) -> Column:
    """Canonical text key mirroring the reference's ``normalize_text``
    (update_pnls_report/utils.py:543-558) operation ORDER exactly:

    1. NFD accent fold;
    2. DELETE punctuation (no replacement space) except hyphen;
    3. trim;
    4. remove the case-sensitive substring ``"public"`` (pre-lowercase, so
       ``"Public"`` survives — reference behavior);
    5. hyphen -> space;
    6. lowercase.

    So ``"St.Jean"`` -> ``"stjean"`` (not ``"st jean"``) and internal
    whitespace is NOT collapsed. Everything except the NFD fold is native
    (whole-stage codegen); ``fold_accents=False`` keeps the expression 100%
    JVM-side for inputs known to be ASCII.
    """
    c = nfd_fold(col) if fold_accents else col
    c = F.regexp_replace(c, _CLEAN_RE, "")
    c = F.trim(c)
    c = F.replace(c, F.lit("public"), F.lit(""))
    c = F.replace(c, F.lit("-"), F.lit(" "))
    return F.lower(c)


_BLOCK_SEP = "\x1f"


def _normalizers(fold_accents: bool):
    """``(norm, block_key)``, the one Python text normalization: candidate
    collection, the driver path and the scoring udf all use it.

    ``norm`` is the twin of :func:`normalize_text_col`: the same six steps
    in the same order. ``re.ASCII`` gives Python the ASCII-only ``\\w`` and
    ``\\s`` of Java regexes, ``strip(" ")`` matches Spark's ``trim`` (U+0020
    only), and after the clean step the string is pure ASCII, so the two
    lowercasings agree. ``block_key`` joins the normalized non-null parts
    of a row's ``cast("string")`` block values with a non-printing
    separator. Both are nested so cloudpickle ships them by value inside
    the udf: its workers need not import this package."""

    def norm(s):
        if s is None:
            return None
        if fold_accents:
            s = "".join(
                ch
                for ch in unicodedata.normalize("NFD", s)
                if not unicodedata.combining(ch)
            )
        s = re.sub(_CLEAN_RE, "", s, flags=re.ASCII).strip(" ")
        return s.replace("public", "").replace("-", " ").lower()

    def block_key(parts):
        return _BLOCK_SEP.join(norm(p) for p in parts if p is not None)

    return norm, block_key


def normalize_text(s: str | None, fold_accents: bool = True) -> str | None:
    """Python twin of :func:`normalize_text_col` (see :func:`_normalizers`)."""
    return _normalizers(fold_accents)[0](s)


def _ratio(a: str, b: str) -> float:
    """difflib similarity scaled to 0-100 (fuzzywuzzy's pure-python core)."""
    if not a and not b:
        return 100.0
    return 100.0 * SequenceMatcher(None, a, b).ratio()


def token_set_ratio(a: str, b: str) -> float:
    """Public token_set_ratio construction: compare sorted intersection
    against each side's intersection+remainder, take the max pairwise
    similarity. Order- and duplicate-insensitive."""
    ta, tb = set(a.split()), set(b.split())
    inter = " ".join(sorted(ta & tb))
    sa = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sb = (inter + " " + " ".join(sorted(tb - ta))).strip()
    return max(_ratio(inter, sa), _ratio(inter, sb), _ratio(sa, sb))


#: Unblocked scoring is O(rows × ALL candidates) of Python
#: SequenceMatcher work — fine for the reference's dimension-sized
#: registries (< 10^4 rows), quadratic poison beyond. Above this many
#: unblocked candidates, best_match_udf refuses and points at the
#: dict-blocked shape (the kmeans max_train_rows guard pattern).
#: Pipeline C (run_pipeline_c) scores its level-4 and level-3 tiers as
#: blocks of one blocked pass, so this guard no longer applies to them;
#: collect_candidates' 500k max_candidates cap still does.
MAX_UNBLOCKED_CANDIDATES = 20_000


def best_match_udf(
    candidates: list[tuple[str, str]] | dict[str, list[tuple[str, str]]],
    threshold: float = 90.0,
    max_unblocked_candidates: int = MAX_UNBLOCKED_CANDIDATES,
    fold_accents: bool = True,
):
    """Build a pandas_udf scoring each input against a broadcast-style
    captured candidate list ``[(normalized_name, payload), ...]``.

    Inputs are raw strings: the udf normalizes each name (and block
    values) with :func:`_normalizers`, the normalization
    :func:`collect_candidates` applied to the candidates. Two shapes:

    - ``list`` → unblocked: ``udf(name_col)`` scores against ALL candidates.
    - ``dict[block_key, list]`` → **blocked** (the reference's
      district-blocking, update_pnls_report/extract_chu_data.py:337-360):
      ``udf(array(block_cols...), name_col)`` scores each row against only
      its block's candidates — O(rows × block size) instead of O(rows ×
      all candidates), the 100-TB-safe shape when the candidate dim is
      large.

    Returns struct(matched:payload or NULL, score:double or NULL — score
    is reported only for accepted matches, which lets the scorer prune).
    Fast paths, in order: exact dict hit; token-subset (token_set_ratio is
    100 by construction when one token set contains the other);
    length-bound pruning (``real_quick_ratio``-style upper bound) before
    any SequenceMatcher work; early exit at 100.
    """
    blocked = isinstance(candidates, dict)
    if not blocked and len(candidates) > max_unblocked_candidates:
        raise ValueError(
            f"best_match_udf: {len(candidates)} unblocked candidates "
            f"exceeds max_unblocked_candidates="
            f"{max_unblocked_candidates} — every input row would score "
            f"against ALL of them (O(rows × candidates) Python work). "
            f"Pass dict-blocked candidates ({{block_key: [(name, "
            f"payload), ...]}} via collect_candidates(block_cols=...)) "
            f"to bound per-row work, or raise "
            f"max_unblocked_candidates explicitly if the cost is truly "
            f"intended"
        )
    # normalize to {block_key or None: [(name, payload), ...]}
    cand_map: dict = (
        {k: list(v) for k, v in candidates.items()}
        if blocked
        else {None: list(candidates)}
    )

    schema = T.StructType(
        [
            T.StructField("matched", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )

    norm, block_key = _normalizers(fold_accents)

    def _match_series(cols):
        from collections import Counter
        from difflib import SequenceMatcher as SM

        # per-worker lazy prep: block -> (exact_dict, prepped candidates)
        # (token sets, sorted-token string length, and its char multiset;
        # len(" ".join(tokens)) is order-independent: sum(len) + n - 1, and
        # the char multiset of sb = inter + (ct - qt) equals the multiset of
        # " ".join(sorted(ct)) for ANY query — so it is precomputable)
        prep_cache: dict = {}

        def get_block(block):
            ent = prep_cache.get(block)
            if ent is None:
                cl = cand_map.get(block, ())
                exact = {name: payload for name, payload in cl}
                prep = []
                for name, payload in cl:
                    ct = frozenset(name.split())
                    sorted_b = " ".join(sorted(ct))
                    prep.append(
                        (name, payload, ct, len(sorted_b), Counter(sorted_b))
                    )
                ent = (exact, prep)
                prep_cache[block] = ent
            return ent

        def ratio(a, b):
            if not a and not b:
                return 100.0
            return 100.0 * SM(None, a, b).ratio()

        def tsr(qt, ct):
            inter = " ".join(sorted(qt & ct))
            sa = (inter + " " + " ".join(sorted(qt - ct))).strip()
            sb = (inter + " " + " ".join(sorted(ct - qt))).strip()
            if not inter:
                # ratio("", x) is 0 for non-empty x and 100 for empty x, so
                # the three-way max collapses: either side empty -> 100,
                # else just ratio(sa, sb). Skips 2 of 3 SequenceMatcher
                # constructions on disjoint token sets (the common case).
                if not sa or not sb:
                    return 100.0
                return ratio(sa, sb)
            return max(ratio(inter, sa), ratio(inter, sb), ratio(sa, sb))

        def best_for(q, exact, prep):
            """Winner = lowest-index candidate among argmax(token_set_ratio)
            with score >= threshold — identical to a full list-order scan
            with strict displacement, but evaluated in descending order of
            an EXACT per-candidate upper bound so the SequenceMatcher loop
            terminates as soon as the bound drops below the best found
            score. The bound never under-estimates, so no candidate that
            could win (or tie at a lower index) is skipped.

            Exact upper bound on all three token_set ratios: with
            ratio(x, y) = 200*M/(len x + len y) and M = total matched
            chars, M <= |char-multiset intersection|; inter is a prefix of
            both sa and sb with len(sa) = la, len(sb) = lb, and sb's char
            multiset equals that of " ".join(sorted(ct)) independent of
            the query, so per candidate:
              ratio(inter, sa) <= 200*li/(li+la)
              ratio(inter, sb) <= 200*li/(li+lb)
              ratio(sa,   sb) <= 200*mi/(la+lb), mi = multiset overlap
            """
            hit = exact.get(q)
            if hit is not None:
                return hit, 100.0
            qt = frozenset(q.split())
            sorted_a = " ".join(sorted(qt))
            la = len(sorted_a)
            qc = Counter(sorted_a)
            q_items = list(qc.items())

            bounds = []
            for idx, (name, payload, ct, lb, cc) in enumerate(prep):
                inter_t = qt & ct
                li = (
                    sum(len(t) for t in inter_t) + len(inter_t) - 1
                    if inter_t
                    else 0
                )
                denom_a, denom_b, denom_ab = li + la, li + lb, la + lb
                if la == 0 or lb == 0:
                    # either side's sorted-token string is empty: inter is
                    # then empty too and tsr's empty-side rule scores the
                    # pair 100 exactly (ratio("","") = 100), so the bound
                    # must be 100 — a char-overlap bound of 0 would prune
                    # a certain match
                    ub = 100.0
                else:
                    mi = 0
                    for ch, n in q_items:
                        m = cc.get(ch)
                        if m:
                            mi += n if n < m else m
                    ub = 200.0 * mi / denom_ab
                    if denom_a:
                        ub = max(ub, 200.0 * li / denom_a)
                    if denom_b:
                        ub = max(ub, 200.0 * li / denom_b)
                if ub >= threshold - 1e-9:
                    bounds.append((ub, idx))
            # descending bound, ascending index within equal bounds
            bounds.sort(key=lambda t: (-t[0], t[1]))

            best_p, best_s, best_i = None, threshold, -1
            found = False
            for ub, idx in bounds:
                # sorted => every remaining bound is lower: nothing past
                # this point can beat (or tie at a lower index than) best
                if ub < best_s - 1e-9:
                    break
                name, payload, ct, lb, cc = prep[idx]
                if qt and ct and (qt <= ct or ct <= qt):
                    sc = 100.0  # subset => token_set_ratio is 100 exactly
                else:
                    sc = tsr(qt, ct)
                if sc >= threshold and (
                    sc > best_s
                    or (sc == best_s and (not found or idx < best_i))
                ):
                    best_p, best_s, best_i, found = payload, sc, idx, True
            return (best_p, best_s) if found else (None, None)

        if len(cols) == 2:
            blocks_s, names_s = cols
        else:
            (names_s,) = cols
            blocks_s = None
        memo: dict = {}
        matched, scores = [], []
        for i, q in enumerate(names_s):
            if q is None:
                matched.append(None)
                scores.append(None)
                continue
            parts = tuple(blocks_s.iloc[i]) if blocks_s is not None else None
            r = memo.get((parts, q))
            if r is None:
                exact, prep = get_block(
                    block_key(parts) if parts is not None else None
                )
                r = best_for(norm(q), exact, prep)
                memo[(parts, q)] = r
            matched.append(r[0])
            scores.append(r[1])
        return pd.DataFrame({"matched": matched, "score": scores})

    if blocked:

        @pandas_udf(schema)
        def match(block_s: pd.Series, s: pd.Series) -> pd.DataFrame:
            return _match_series((block_s, s))

    else:

        @pandas_udf(schema)
        def match(s: pd.Series) -> pd.DataFrame:
            return _match_series((s,))

    # The scorer IS deterministic, but marking it nondeterministic stops
    # Catalyst from (a) pushing filters on its output below the repartition
    # — which re-evaluates the whole candidate scan serially on the
    # pre-shuffle partitioning — and (b) duplicating it across collapsed
    # projections. One evaluation, after the exchange, always.
    return match.asNondeterministic()


#: Scoring work, in candidate comparisons, up to which ``resolve_entities``
#: scores on the driver instead of in pandas_udf workers. A query row is
#: charged the candidates of the widest block plus ``_ROW_COST``, its own
#: collect, normalization and lookup-row overhead in the same unit.
#: Measured on a 4-vCPU box at local[4] (unblocked supplier-style names;
#: driver path vs udf path, seconds): 1,000 x 1,000 candidates 2.3-4.6 vs
#: 1.4-1.5 warm / 5.8-6.3 in a process whose first udf forks the workers;
#: 3,000 x 1,000 9.0-13.5 vs 3.2-4.0 / 8.6-9.2; 100,000 x 10 5.9-9.4 vs
#: 2.2-3.0 / 7.3. The first and last driver runs price a row at about 17
#: candidates, hence ``_ROW_COST``. The driver path wins below about 10^5
#: of this work against warm workers and below about 2 x 10^6 against a
#: cold fork; the budget sits between, where either choice costs at most
#: about 2 s.
MAX_DRIVER_WORK = 1_000_000
_ROW_COST = 20


def collect_candidates(
    candidates_df: DataFrame,
    cand_name_col: str,
    cand_payload_col: str,
    fold_accents: bool = True,
    block_cols: list[str] | None = None,
    max_candidates: int = 500_000,
) -> list[tuple[str, str]] | dict[str, list[tuple[str, str]]]:
    """Collect the candidate dim and normalize it on the driver.

    Without ``block_cols``: ``[(normalized_name, payload), ...]``.
    With ``block_cols``: ``{block_key: [(normalized_name, payload), ...]}``
    where the block key is the normalized block values joined with a
    non-printing separator — candidates are partitioned so the scorer only
    ever sees its own block (reference district-blocking,
    update_pnls_report/extract_chu_data.py:337-360). Candidates with a
    null name are dropped; list order is the frame's collect order, which
    breaks score ties.

    ``max_candidates`` is the driver-memory scale guard: the candidate dim
    is held by the driver and shipped inside the scoring udf, which is
    only sane for dimension-sized inputs (the reference registries are
    < 10^4 rows). One bounded collect of raw name, payload and block
    values brings at most ``max_candidates + 1`` rows to the driver; one
    more than the cap fails loudly instead of OOMing on a fact-sized frame
    passed by mistake.
    """
    rows = (
        candidates_df.select(
            F.col(cand_name_col).cast("string"),
            F.col(cand_payload_col),
            *[F.col(b).cast("string") for b in block_cols or ()],
        )
        .limit(max_candidates + 1)
        .collect()
    )
    if len(rows) > max_candidates:
        raise ValueError(
            f"collect_candidates: candidate frame exceeds {max_candidates} "
            f"rows — this operator broadcasts candidates to every scoring "
            f"task and is meant for dimension-sized registries. Block the "
            f"candidates (block_cols) to bound per-row work, pre-aggregate "
            f"them, or raise max_candidates explicitly if the memory is "
            f"truly available"
        )
    norm, block_key = _normalizers(fold_accents)
    if not block_cols:
        return [(norm(name), payload) for name, payload in rows if name is not None]
    out: dict[str, list[tuple[str, str]]] = {}
    for name, payload, *parts in rows:
        if name is not None:
            out.setdefault(block_key(parts), []).append((norm(name), payload))
    return out


def resolve_entities(
    df: DataFrame,
    name_col: str,
    candidates_df: DataFrame,
    cand_name_col: str,
    cand_payload_col: str,
    threshold: float = 90.0,
    fold_accents: bool = True,
    partitions: int | None = None,
    block_cols: list[str] | None = None,
    cand_block_cols: list[str] | None = None,
    max_candidates: int = 500_000,
) -> DataFrame:
    """Resolve each row's entity name against a small candidate dim.

    The candidate dim is collected once on the driver (it is a broadcast-
    scale dimension — the reference's registries are < 10^4 rows). Output
    is ``df``'s columns plus ``matched`` (candidate payload or null) and
    ``match_score``.

    Scoring runs where the work is small. Every query row costs at most
    the widest candidate block plus a fixed overhead, so ``MAX_DRIVER_WORK``
    caps the rows the driver may score; a probe collects at most one row
    more than that cap (a short partial scan, not a pass over ``df``):

    - within the cap, the distinct (name, block...) keys are scored on the
      driver by the scoring udf's own function, and the result is
      broadcast-left-joined back on null-safe equality of the raw keys —
      the plan holds no Python UDF and no worker is forked. ``df`` is
      evaluated twice, by the probe and by the join;
    - above it, every row streams through the scoring pandas_udf on the
      executors; ``partitions`` repartitions the fact side first and
      applies only on this path.

    ``block_cols`` (fact side) / ``cand_block_cols`` (candidate side,
    defaults to ``block_cols``) bound the scoring: each row is scored only
    against candidates whose normalized block key equals the row's — the
    reference's district-blocking (extract_chu_data.py:337-360). This drops
    per-row cost from O(all candidates) to O(block size) and is the scale
    path when the candidate dim grows beyond broadcast-comfortable size.
    """
    # blocked-ness is ONE decision for both sides: a dict of candidates
    # with an unblocked fact side (or vice versa) would call the pandas_udf
    # with the wrong arity — fail fast instead
    if bool(block_cols) != bool(
        cand_block_cols if cand_block_cols is not None else block_cols
    ):
        raise ValueError(
            "blocked resolution needs BOTH sides: pass block_cols (fact "
            "side) and optionally cand_block_cols (candidate side); "
            "cand_block_cols alone is not valid"
        )
    cands = collect_candidates(
        candidates_df,
        cand_name_col,
        cand_payload_col,
        fold_accents,
        cand_block_cols if cand_block_cols is not None else block_cols,
        max_candidates=max_candidates,
    )
    udf = best_match_udf(cands, threshold, fold_accents=fold_accents)
    raw_keys = [F.col(c).cast("string") for c in [name_col, *(block_cols or ())]]
    blocks = cands.values() if isinstance(cands, dict) else [cands]
    cap = MAX_DRIVER_WORK // (max(map(len, blocks), default=0) + _ROW_COST)
    rows = df.select(*raw_keys).limit(cap + 1).collect()
    if len(rows) <= cap:
        return _join_driver_matches(df, raw_keys, list(dict.fromkeys(rows)), udf)
    if partitions:
        # the scoring stage is Python-CPU-bound: one repartition shuffle
        # buys task parallelism across all cores/executors (a single-file
        # parquet dim would otherwise score serially in one task)
        df = df.repartition(partitions)
    if block_cols:
        scored = udf(F.array(*raw_keys[1:]), raw_keys[0])
    else:
        scored = udf(raw_keys[0])
    return df.withColumn("_m", scored).select(
        "*", F.col("_m.matched").alias("matched"), F.col("_m.score").alias("match_score")
    ).drop("_m")


def _join_driver_matches(
    df: DataFrame, raw_keys: list[Column], keys: list, udf
) -> DataFrame:
    """Score the distinct raw ``keys`` (name first, then block values) on
    the driver with the function ``udf`` runs on executors, then
    broadcast-left-join the matches back onto ``df``."""
    import pyarrow as pa

    names = pd.Series([k[0] for k in keys], dtype=object)
    if len(raw_keys) > 1:
        scored = udf.func(pd.Series([k[1:] for k in keys], dtype=object), names)
    else:
        scored = udf.func(names)
    key_names = [f"_fz_key{i}" for i in range(len(raw_keys))]
    # a pyarrow Table goes through Arrow even when the session's Arrow
    # conf is off; a list or pandas frame would fork Python workers
    lookup = df.sparkSession.createDataFrame(
        pa.table(
            {
                **{
                    n: pa.array([k[i] for k in keys], pa.string())
                    for i, n in enumerate(key_names)
                },
                "matched": pa.Array.from_pandas(scored["matched"], type=pa.string()),
                # from_pandas reads NaN as null, as the pandas_udf return does
                "match_score": pa.Array.from_pandas(scored["score"], type=pa.float64()),
            }
        )
    )
    on = [k.eqNullSafe(F.col(n)) for k, n in zip(raw_keys, key_names)]
    return df.join(F.broadcast(lookup), on, "left").drop(*key_names)


def uuid5_id(col: Column) -> Column:
    """Deterministic namespaced id: uuid5(NAMESPACE_DNS, name), hyphens
    stripped — byte-identical to the reference's synthesized org ids.
    Native (RFC 4122 §4.3): the first 32 hex digits of SHA-1(namespace
    bytes || UTF-8 name), with digit 13 set to the version ``5`` and digit
    17 to the variant ``(x & 3) | 8``. A null name gives null."""
    h = F.sha1(F.concat(F.unhex(F.lit(uuid.NAMESPACE_DNS.hex)), F.encode(col, "UTF-8")))
    return F.concat(
        h.substr(1, 12),
        F.lit("5"),
        h.substr(14, 3),
        F.translate(h.substr(17, 1), "0123456789abcdef", "89ab89ab89ab89ab"),
        h.substr(18, 15),
    )


def uuid5_py(name: str) -> str:
    """Driver-side oracle twin of :func:`uuid5_id` (for tests)."""
    return str(uuid.uuid5(uuid.NAMESPACE_DNS, name)).replace("-", "")


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path-class, Path) for ``path`` via the JVM gateway —
    storage-agnostic: local, HDFS, or any object store whose Hadoop
    connector is on the classpath. Raises a clear error when the scheme
    has no configured filesystem (e.g. ``s3a://`` without hadoop-aws)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath_cls = jvm.org.apache.hadoop.fs.Path
    jpath = hpath_cls(path)
    try:
        fs = jpath.getFileSystem(hconf)
    except Exception as e:  # Py4JJavaError for unknown schemes
        raise RuntimeError(
            f"upsert_parquet_state: no Hadoop filesystem is configured for "
            f"{path!r} — the scheme's connector (e.g. hadoop-aws for s3a://) "
            f"must be on the Spark classpath"
        ) from e
    return fs, hpath_cls, jpath


def _swap_state_dirs(fs, hpath_cls, path: str, staging: str, backup: str) -> None:
    """Commit ``staging`` over ``path`` via FileSystem renames, with
    rollback: if promoting staging fails after the current dir was moved
    aside, the backup is restored before re-raising. Rename is atomic on
    HDFS/local; on object stores it is copy+delete (not atomic, but the
    backup still guarantees no data loss)."""
    jpath, jstag, jback = hpath_cls(path), hpath_cls(staging), hpath_cls(backup)
    if fs.exists(jback):
        fs.delete(jback, True)
    moved_aside = False
    if fs.exists(jpath):
        if not fs.rename(jpath, jback):
            raise IOError(f"state swap: rename {path} -> {backup} failed")
        moved_aside = True
    try:
        if not fs.rename(jstag, jpath):
            raise IOError(f"state swap: rename {staging} -> {path} failed")
    except Exception:
        if moved_aside:
            fs.rename(jback, jpath)  # rollback: restore the previous state
        raise
    if fs.exists(jback):
        fs.delete(jback, True)


def upsert_parquet_state(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    dedupe_keys: list[str],
) -> DataFrame:
    """Read-modify-write a mutable parquet dataset (registry / history).

    Spark cannot overwrite a path its own lazy plan is still reading, so:
    read -> unionByName(new, allowMissingColumns) -> keep one row per key
    -> write to ``<path>.__staging__`` -> FileSystem-rename swap (storage-
    agnostic via the Hadoop FileSystem API; atomic on HDFS/local, backed-up
    copy+delete on object stores). Returns the post-upsert DataFrame
    (re-read from the final path).

    On a key collision the NEW row wins, deterministically: a re-submitted
    quarter must replace the stale history row, and ``dropDuplicates``
    keeps an arbitrary winner (whichever partial aggregate lands first) —
    upsert semantics demand new-over-current precedence.
    """
    from pyspark.sql.window import Window

    fs, hpath_cls, jpath = _hadoop_fs(spark, path)

    prio = "_upsert_prio"
    tagged_new = new_rows.withColumn(prio, F.lit(0))
    if fs.exists(jpath):
        current = spark.read.parquet(path).withColumn(prio, F.lit(1))
        merged = tagged_new.unionByName(current, allowMissingColumns=True)
    else:
        merged = tagged_new
    w = Window.partitionBy(*dedupe_keys).orderBy(prio)
    merged = (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop(prio, "_rn")
    )

    staging = path.rstrip("/") + ".__staging__"
    backup = path.rstrip("/") + ".__old__"
    merged.write.mode("overwrite").parquet(staging)
    _swap_state_dirs(fs, hpath_cls, path, staging, backup)
    return spark.read.parquet(path)


def blocking_quality(
    df: DataFrame,
    block_col: Column | str,
    truth_col: Column | str,
) -> DataFrame:
    """Blocking-scheme quality metrics for entity resolution
    (Christen, "A Survey of Indexing Techniques for Scalable Record
    Linkage", TKDE'12): given a candidate-generation BLOCKING key and a
    ground-truth entity key, report

    - ``reduction_ratio``  = 1 − candidate_pairs / total_pairs — how much
      of the quadratic comparison space the blocking removes;
    - ``pairs_completeness`` = covered_truth / truth_pairs — recall: the
      fraction of true-match pairs that share a block (a blocked matcher
      can never find an uncovered pair);
    - ``pairs_quality``    = covered_truth / candidate_pairs — precision
      proxy: the fraction of generated candidates that are true matches.

    Everything is computed from GROUP-SIZE CENSUSES — candidate pairs
    Σ nb·(nb−1)/2 over blocks, truth pairs over truth groups, covered
    pairs over (truth, block) cells — so NO pair set is ever
    materialized: three O(n) hash aggregates and exact BIGINT pair
    counts, the only way an eval like this runs on a 100 TB corpus.
    The ratios are single IEEE divisions of exact integers.

    Output 1 row: ``(n_records, total_pairs, candidate_pairs,
    truth_pairs, covered_truth, reduction_ratio, pairs_completeness,
    pairs_quality)``.
    """
    b = F.col(block_col) if isinstance(block_col, str) else block_col
    t = F.col(truth_col) if isinstance(truth_col, str) else truth_col
    tagged = df.select(b.alias("_b"), t.alias("_t"))

    def _pairs(counts: DataFrame, alias: str) -> DataFrame:
        # n·(n−1) is even, so >>1 is the exact halved BIGINT — `/ 2`
        # would be IEEE double division and lose bits past 2^53
        c = F.col("_c").cast("long")
        return counts.agg(
            F.coalesce(
                F.sum(F.shiftright(c * (c - F.lit(1)), 1)).cast("long"),
                F.lit(0).cast("long"),
            ).alias(alias)
        )

    n = tagged.agg(F.count("*").cast("long").alias("n_records"))
    cand = _pairs(
        tagged.groupBy("_b").agg(F.count("*").alias("_c")), "candidate_pairs"
    )
    truth = _pairs(
        tagged.groupBy("_t").agg(F.count("*").alias("_c")), "truth_pairs"
    )
    covered = _pairs(
        tagged.groupBy("_t", "_b").agg(F.count("*").alias("_c")),
        "covered_truth",
    )
    out = (
        n.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(covered))
        .withColumn(
            "total_pairs",
            F.shiftright(
                F.col("n_records") * (F.col("n_records") - F.lit(1)), 1
            ),
        )
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    return out.select(
        "n_records",
        "total_pairs",
        "candidate_pairs",
        "truth_pairs",
        "covered_truth",
        (F.lit(1.0) - dbl("candidate_pairs") / dbl("total_pairs")).alias(
            "reduction_ratio"
        ),
        (dbl("covered_truth") / dbl("truth_pairs")).alias(
            "pairs_completeness"
        ),
        (dbl("covered_truth") / dbl("candidate_pairs")).alias(
            "pairs_quality"
        ),
    )
