"""Fuzzy entity-resolution tests: normalization parity, token-set scoring
vs the pure-Python twin, uuid5 byte parity, and the stateful registry
upsert (read-modify-write with atomic swap)."""

from __future__ import annotations

import uuid

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from hiv_data_integration_spark.operators import fuzzy as fz


def test_normalize_text_col_accents_punct_noise(spark):
    """Mirrors the reference normalize_text operation order
    (update_pnls_report/utils.py:543-558): punctuation DELETED (no space),
    case-sensitive 'public' substring removal BEFORE lowercasing, hyphen →
    space, no whitespace collapsing."""
    rows = [
        ("Hôpital-Public (CHU) de Cocody!",),
        ("  CSU   Abobo—Nord ",),
        ("Clinique Sainte Thérèse",),
        ("Hopital public de Dabou",),
        ("St.Jean",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "s string")
    got = [r.n for r in df.select(fz.normalize_text_col(F.col("s")).alias("n")).collect()]
    # 'Public' (capital P) survives: the reference removes the lowercase
    # substring BEFORE lowering; hyphen becomes a space
    assert got[0] == "hopital public chu de cocody"
    # em-dash deleted (not \w, \s, or '-'); inner whitespace preserved
    assert got[1] == "csu   abobonord"
    assert got[2] == "clinique sainte therese"
    # lowercase 'public' IS removed (substring, not word-bounded)
    assert got[3] == "hopital  de dabou"
    # punctuation deleted without a space: tokens merge like the reference
    assert got[4] == "stjean"
    assert got[5] is None


def test_token_set_ratio_properties():
    # order- and duplicate-insensitive
    assert fz.token_set_ratio("abobo nord csu", "csu abobo nord") == 100.0
    assert fz.token_set_ratio("a b", "b a a b") == 100.0
    # subset scores 100 by token_set construction
    assert fz.token_set_ratio("chu cocody", "chu cocody annexe") == 100.0
    # disjoint strings score low
    assert fz.token_set_ratio("xyzzy", "qwerty") < 50.0


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet="abc ", min_size=0, max_size=20))
def test_token_set_ratio_reflexive(s):
    norm = " ".join(s.split())
    assert fz.token_set_ratio(norm, norm) == 100.0


def test_resolve_entities_exact_fuzzy_and_miss(spark):
    cands = spark.createDataFrame(
        [
            ("CSU Abobo Nord", "/path/abobo"),
            ("CHU de Cocody", "/path/cocody"),
            ("Hôpital Général de Bassam", "/path/bassam"),
        ],
        "name string, path string",
    )
    queries = spark.createDataFrame(
        [
            ("csu abobo nord", "exact-after-normalize"),
            ("CHU Cocody", "fuzzy-subset"),
            ("Hopital General Bassam!", "fuzzy-accent-dropped"),
            ("Pharmacie du Plateau", "no-match"),
        ],
        "q string, case string",
    )
    out = {
        r.case: (r.matched, r.match_score)
        for r in fz.resolve_entities(
            queries, "q", cands, "name", "path", threshold=90.0
        ).collect()
    }
    assert out["exact-after-normalize"] == ("/path/abobo", 100.0)
    assert out["fuzzy-subset"][0] == "/path/cocody"
    assert out["fuzzy-accent-dropped"][0] == "/path/bassam"
    assert out["no-match"][0] is None


def test_resolve_entities_blocked_by_district(spark):
    """Reference district-blocking (extract_chu_data.py:337-360): a row is
    scored only against candidates in its own block."""
    cands = spark.createDataFrame(
        [
            ("Cocody", "CSU Centre", "/cocody/centre"),
            ("Abobo", "CSU Centre", "/abobo/centre"),
            ("Abobo", "CSU Nord", "/abobo/nord"),
        ],
        "district string, name string, path string",
    )
    q = spark.createDataFrame(
        [
            ("Abobo", "CSU Centre!", "in-block"),
            ("Cocody", "CSU Nord", "wrong-block"),
            (None, "CSU Centre", "null-block"),
        ],
        "district string, q string, case string",
    )
    out = {
        r.case: r.matched
        for r in fz.resolve_entities(
            q, "q", cands, "name", "path", threshold=90.0,
            block_cols=["district"],
        ).collect()
    }
    # ambiguous name resolves to the SAME-district payload
    assert out["in-block"] == "/abobo/centre"
    # CSU Nord exists only in Abobo; blocking prevents cross-district match
    assert out["wrong-block"] is None
    # a null block key matches no candidate block
    assert out["null-block"] is None


def test_blocking_shrinks_candidate_sets(spark):
    cands = spark.createDataFrame(
        [(f"d{i % 4}", f"facility {i}", f"/p/{i}") for i in range(40)],
        "district string, name string, path string",
    )
    full = fz.collect_candidates(cands, "name", "path")
    blocked = fz.collect_candidates(cands, "name", "path", block_cols=["district"])
    assert len(full) == 40
    # partition: same total, every per-block set strictly smaller
    assert sum(len(v) for v in blocked.values()) == 40
    assert all(len(v) == 10 for v in blocked.values())


def test_blocked_agrees_with_unblocked_when_names_unique(spark):
    """With globally-unique names, blocking only prunes — results match."""
    cands = spark.createDataFrame(
        [
            ("d1", "CHU de Cocody", "/p/1"),
            ("d1", "CSU Abobo Nord", "/p/2"),
            ("d2", "Hôpital Général de Bassam", "/p/3"),
        ],
        "district string, name string, path string",
    )
    q = spark.createDataFrame(
        [("d1", "CHU Cocody"), ("d2", "Hopital General de Bassam!")],
        "district string, q string",
    )
    unblocked = {
        r.q: r.matched
        for r in fz.resolve_entities(q, "q", cands, "name", "path").collect()
    }
    blocked = {
        r.q: r.matched
        for r in fz.resolve_entities(
            q, "q", cands, "name", "path", block_cols=["district"]
        ).collect()
    }
    assert unblocked == blocked
    assert blocked["CHU Cocody"] == "/p/1"


def test_uuid5_byte_parity(spark):
    names = ["CSU Abobo", "Côte d'Ivoire", "x", "", "astral \U0001d49c \U0001f600"]
    df = spark.createDataFrame([(n,) for n in names + [None]], "name string")
    got = {
        r.name: r.uid
        for r in df.select("name", fz.uuid5_id(F.col("name")).alias("uid")).collect()
    }
    for n in names:
        assert got[n] == str(uuid.uuid5(uuid.NAMESPACE_DNS, n)).replace("-", "")
        assert "-" not in got[n]
    assert got[None] is None


# text the two normalizers could read differently: accents, compatibility
# characters, punctuation, the case-sensitive noise word, hyphens, the
# whitespace Spark's trim keeps (tab, vertical tab, NBSP) and astral
# characters
_TWIN_PIECES = [
    "Hôpital", "Général", "Thérèse", "ÉCOLE", "Côte d'Ivoire", "ﬁ", "œ", "ß",
    "²", "Ⅻ", "Ａ", "İ", "ǅ", "public", "Public", "PUBLIC", "-", "--", " ",
    "  ", "\t", "\x0b", "\xa0", "\n", "!", "#", ".", "(", "—", "_", "9",
    "\U0001d49c", "\U0001f600", "e\u0301", "csu", "Abobo",
]
_twin_text = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_TWIN_PIECES), max_size=8).map("".join),
    st.text(max_size=12),
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_twin_text, min_size=1, max_size=40))
def test_normalize_text_twin_matches_column(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = df.select(
        "s",
        fz.normalize_text_col(F.col("s"), True).alias("f"),
        fz.normalize_text_col(F.col("s"), False).alias("nf"),
    ).collect()
    for r in got:
        assert fz.normalize_text(r.s, True) == r.f, repr(r.s)
        assert fz.normalize_text(r.s, False) == r.nf, repr(r.s)


_PARITY_CANDS = [
    ("Abobo", "CSU Centre", "/abobo/centre"),
    ("Cocody", "CSU Centre", "/cocody/centre"),
    ("Abobo", "Hôpital Général", "/abobo/hg"),
    (None, "Clinique Sainte Thérèse", "/none/cst"),
    ("Cocody", None, "/cocody/unnamed"),
]
_PARITY_QUERIES = {
    "unblocked": (
        [("CSU Centre!", "Abobo"), ("hopital general", "Abobo"),
         ("Pharmacie", "Cocody"), ("Clinique Ste Therese", None)],
        False,
    ),
    "blocked": (
        [("CSU Centre!", "Abobo"), ("CSU-Centre", "Cocody"),
         ("hopital general", "Cocody"), ("Pharmacie", "Cocody")],
        True,
    ),
    "null_names": ([(None, "Abobo"), (None, None), ("CSU Centre", "Abobo")], True),
    "null_blocks": (
        [("Clinique Sainte Therese", None), ("CSU Centre", None)], True,
    ),
    "empty": ([], True),
    "duplicates": ([("CSU Centre", "Abobo")] * 3 + [(None, None)] * 2, False),
}


@pytest.mark.parametrize("case", sorted(_PARITY_QUERIES))
def test_driver_path_matches_udf_path(
    spark, monkeypatch, python_eval_nodes, case
):
    """The driver path (distinct keys scored on the driver, joined back)
    and the pandas_udf path (forced by a negative budget) give the same
    rows; timestamp, decimal and array fact columns pass through."""
    import datetime
    from decimal import Decimal

    queries, blocked = _PARITY_QUERIES[case]
    q = spark.createDataFrame(
        [
            (name, district, datetime.datetime(2024, 1, 1 + i % 28, 8, 30),
             Decimal(f"{i}.25"), [name, district])
            for i, (name, district) in enumerate(queries)
        ],
        "q string, district string, ts timestamp, amount decimal(12,2), "
        "tags array<string>",
    )
    cands = spark.createDataFrame(
        _PARITY_CANDS, "district string, name string, path string"
    )
    blocking = {"block_cols": ["district"]} if blocked else {}

    def run():
        out = fz.resolve_entities(
            q, "q", cands, "name", "path", threshold=80.0, **blocking
        )
        return out, out.columns, sorted(map(repr, out.collect()))

    driver, driver_cols, driver_rows = run()
    # -1, not 0: the empty frame's zero rows fit a budget of 0
    monkeypatch.setattr(fz, "MAX_DRIVER_WORK", -1)
    udf, udf_cols, udf_rows = run()
    assert python_eval_nodes(driver) == []
    assert python_eval_nodes(udf) == ["ArrowEvalPython"]
    assert driver_cols == udf_cols == q.columns + ["matched", "match_score"]
    assert driver_rows == udf_rows
    assert len(driver_rows) == len(queries)
    # every non-empty case resolves at least one row
    assert any("matched='/" in r for r in driver_rows) == bool(queries)


def test_driver_budget_charges_widest_block(spark, monkeypatch, python_eval_nodes):
    """Each query row is charged the widest candidate block plus the row
    overhead: the same rows fit the budget blocked (widest block 3) and
    exceed it unblocked (all 5 candidates)."""
    q = spark.createDataFrame(
        [("CSU Centre", "Abobo"), ("Pharmacie", "Cocody"), ("Hopital", "Abobo")],
        "q string, district string",
    )
    cands = spark.createDataFrame(
        [("Abobo", "CSU Centre", "/a/1"), ("Abobo", "Hôpital", "/a/2"),
         ("Abobo", "Clinique", "/a/3"), ("Cocody", "Pharmacie", "/c/1"),
         ("Cocody", "Clinique Centre", "/c/2")],
        "district string, name string, path string",
    )
    monkeypatch.setattr(fz, "MAX_DRIVER_WORK", 3 * (3 + fz._ROW_COST))
    blocked = fz.resolve_entities(
        q, "q", cands, "name", "path", block_cols=["district"]
    )
    unblocked = fz.resolve_entities(q, "q", cands, "name", "path")
    assert python_eval_nodes(blocked) == []
    assert python_eval_nodes(unblocked) == ["ArrowEvalPython"]
    assert {r.q: r.matched for r in blocked.collect()} == {
        r.q: r.matched for r in unblocked.collect()
    } == {"CSU Centre": "/a/1", "Pharmacie": "/c/1", "Hopital": "/a/2"}


def test_scoring_udf_runs_without_this_package(tmp_path):
    """The scoring function and its normalizer pickle by value, so udf
    workers of a session this package did not build (no PYTHONPATH to
    the repo) can still run it."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    udf = fz.best_match_udf({"abobo": [("hopital general", "/a/hg")]}, 90.0)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = (
        "import importlib.util, pickle, sys, pandas as pd\n"
        "assert importlib.util.find_spec('hiv_data_integration_spark') is None\n"
        "f = pickle.loads(sys.stdin.buffer.read())\n"
        "out = f(pd.Series([('ABOBO',), (None,)]), pd.Series(['Hôpital-Général!', 'x']))\n"
        "print(out.to_json(orient='records'))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code], input=cloudpickle.dumps(udf.func),
        cwd=tmp_path, env=env, capture_output=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()[-2000:]
    assert res.stdout.decode().strip() == (
        '[{"matched":"\\/a\\/hg","score":100.0},{"matched":null,"score":null}]'
    )


def test_upsert_parquet_state_roundtrip(spark, tmp_path):
    path = str(tmp_path / "registry.parquet")
    first = spark.createDataFrame(
        [Row(key="a", v=1), Row(key="b", v=2)]
    )
    out1 = fz.upsert_parquet_state(spark, path, first, ["key"])
    assert out1.count() == 2

    # second upsert: one duplicate key (dropped), one new, reading the SAME
    # path being replaced — the staging swap must not corrupt it
    second = spark.createDataFrame([Row(key="b", v=99), Row(key="c", v=3)])
    out2 = fz.upsert_parquet_state(spark, path, second, ["key"])
    got = {r.key for r in out2.collect()}
    assert got == {"a", "b", "c"}
    # re-read from disk to prove the swap landed
    assert {r.key for r in spark.read.parquet(path).collect()} == {"a", "b", "c"}


def test_upsert_relaxes_schema(spark, tmp_path):
    path = str(tmp_path / "hist.parquet")
    fz.upsert_parquet_state(
        spark, path, spark.createDataFrame([Row(key="a", v=1)]), ["key"]
    )
    widened = spark.createDataFrame([Row(key="d", v=4, extra="new-col")])
    out = fz.upsert_parquet_state(spark, path, widened, ["key"])
    assert set(out.columns) == {"key", "v", "extra"}
    by_key = {r.key: r for r in out.collect()}
    assert by_key["a"].extra is None and by_key["d"].extra == "new-col"


def test_upsert_new_rows_win_on_key_collision(spark, tmp_path):
    """A re-submitted key must replace the stored row deterministically —
    dropDuplicates kept an arbitrary winner."""
    from hiv_data_integration_spark.operators.fuzzy import upsert_parquet_state

    path = str(tmp_path / "state.parquet")
    first = spark.createDataFrame([("k1", 10), ("k2", 20)], "k string, v int")
    upsert_parquet_state(spark, path, first, ["k"])
    corrected = spark.createDataFrame([("k1", 99)], "k string, v int")
    after = upsert_parquet_state(spark, path, corrected, ["k"])
    got = {r["k"]: r["v"] for r in after.collect()}
    assert got == {"k1": 99, "k2": 20}


class _FakeFS:
    """Duck-typed Hadoop FileSystem for exercising the swap protocol."""

    def __init__(self, dirs, fail_rename_to=None):
        self.dirs = set(dirs)
        self.fail_rename_to = fail_rename_to
        self.calls = []

    def exists(self, p):
        return p in self.dirs

    def rename(self, a, b):
        self.calls.append(("rename", a, b))
        if b == self.fail_rename_to:
            self.fail_rename_to = None  # fail once; rollback rename succeeds
            return False
        if a not in self.dirs:
            return False
        self.dirs.remove(a)
        self.dirs.add(b)
        return True

    def delete(self, p, recursive):
        self.calls.append(("delete", p))
        self.dirs.discard(p)
        return True


def test_swap_rollback_on_failed_promote():
    """If promoting staging fails after the live dir was moved aside, the
    backup must be restored (no data loss) and the error re-raised."""
    fs = _FakeFS({"path", "staging"}, fail_rename_to="path")
    with pytest.raises(IOError, match="staging"):
        fz._swap_state_dirs(fs, str, "path", "staging", "backup")
    # rollback restored the original; staging left for inspection
    assert "path" in fs.dirs and "staging" in fs.dirs
    assert ("rename", "backup", "path") in fs.calls


def test_swap_happy_path_cleans_backup():
    fs = _FakeFS({"path", "staging"})
    fz._swap_state_dirs(fs, str, "path", "staging", "backup")
    assert fs.dirs == {"path"}


def test_upsert_clear_error_on_unconfigured_scheme(spark):
    df = spark.createDataFrame([Row(key="a", v=1)])
    with pytest.raises(RuntimeError, match="no Hadoop filesystem"):
        fz.upsert_parquet_state(spark, "s3a://bucket/state.parquet", df, ["key"])


def test_collect_candidates_scale_guard(spark):
    """A fact-sized candidate frame must fail loudly BEFORE the driver
    collect, with blocking advice — not OOM mid-collect."""
    import pytest

    from hiv_data_integration_spark.operators.fuzzy import collect_candidates

    big = spark.range(50).selectExpr(
        "cast(id as string) AS name", "cast(id as string) AS payload"
    )
    with pytest.raises(ValueError, match="block"):
        collect_candidates(big, "name", "payload", max_candidates=10)
    # at or under the cap: collects normally
    assert len(collect_candidates(big, "name", "payload", max_candidates=50)) == 50


def test_best_match_udf_unblocked_candidate_guard():
    """An oversized UNBLOCKED candidate list must fail loudly with
    dict-blocking advice — every row would otherwise score against all
    of them in Python. Blocked dicts and explicit overrides still work."""
    import pytest

    from hiv_data_integration_spark.operators.fuzzy import best_match_udf

    big = [(f"name {i}", f"p{i}") for i in range(50)]
    with pytest.raises(ValueError, match="dict-blocked"):
        best_match_udf(big, max_unblocked_candidates=10)
    # explicit override: caller states the cost is intended
    assert best_match_udf(big, max_unblocked_candidates=50) is not None
    # blocked shape is exempt — per-row work is bounded by block size
    blocked = {"b1": big, "b2": big}
    assert best_match_udf(blocked, max_unblocked_candidates=10) is not None


def test_pruned_scorer_matches_bruteforce_list_scan(spark):
    """The bound-sorted early-terminating scorer must reproduce a full
    list-order scan exactly: winner = lowest-index candidate among
    argmax(token_set_ratio) with score >= threshold. Adversarial domain:
    near-ties, shared char multisets (anagram-like names), subset pairs,
    single-char edits, and disjoint strings around the threshold."""
    import random

    rng = random.Random(20260814)
    vocab = ["centre", "sante", "urbain", "abobo", "nord", "sud", "est",
             "hopital", "general", "chu", "csu", "clinique", "plateau",
             "cocody", "bassam", "koumassi", "annexe", "ii", "iii"]
    cand_names = []
    for i in range(60):
        k = rng.randint(1, 4)
        cand_names.append(" ".join(rng.choice(vocab) for _ in range(k)))
    # planted structure: duplicates (tie on 100), subsets, anagram-ish noise
    cand_names += ["csu abobo nord", "csu abobo nord", "abobo csu",
                   "centre sante abobo", "drons uboab"]
    queries = []
    for i in range(40):
        base = rng.choice(cand_names)
        toks = base.split()
        mode = rng.randint(0, 3)
        if mode == 0:  # token dropped
            q = " ".join(toks[:-1]) if len(toks) > 1 else toks[0]
        elif mode == 1:  # char typo
            q = base.replace("a", "e", 1)
        elif mode == 2:  # extra token
            q = base + " " + rng.choice(vocab)
        else:  # shuffled (token_set_ratio is order-insensitive)
            rng.shuffle(toks)
            q = " ".join(toks)
        queries.append(q)
    # miss + subset-of-many + a query that NORMALIZES TO EMPTY ('##' loses
    # all chars): tsr('', cand) is 100 by the empty-side rule, so the
    # pruning bound must not drop these pairs
    queries += ["zzz qqq xxx", "csu", "##"]
    cand_names += ["!!!"]  # candidate normalizing to empty: scores 100 vs all

    threshold = 55.0

    def brute(qn, cands):
        # exact-hit fast path mirrors the scorer: normalized exact match
        # beats any fuzzy 100, and among duplicate names the LAST payload
        # wins (dict construction order)
        exact = {name: payload for name, payload in cands}
        hit = exact.get(qn)
        if hit is not None:
            return hit, 100.0
        best_p, best_s, found = None, threshold, False
        for name, payload in cands:
            sc = fz.token_set_ratio(qn, name)
            if sc >= threshold and (sc > best_s or (sc == best_s and not found)):
                best_p, best_s, found = payload, sc, True
        return (best_p, best_s) if found else (None, None)

    cands = [(n, f"p{i}") for i, n in enumerate(cand_names)]
    cand_df = spark.createDataFrame(cands, "name string, payload string")
    q_df = spark.createDataFrame([(q,) for q in queries], "q string")
    out = {
        r.q: (r.matched, r.match_score)
        for r in fz.resolve_entities(
            q_df.dropDuplicates(["q"]), "q", cand_df, "name", "payload",
            threshold=threshold, fold_accents=False,
        ).collect()
    }
    # brute force runs on NORMALIZED names exactly like the scorer does
    from pyspark.sql import functions as F  # noqa: F811
    norm_c = [
        (r[0], r[1]) for r in cand_df.select(
            fz.normalize_text_col(F.col("name"), False), "payload"
        ).collect()
    ]
    norm_q = {
        r[0]: r[1] for r in q_df.dropDuplicates(["q"]).select(
            "q", fz.normalize_text_col(F.col("q"), False)
        ).collect()
    }
    for q in out:
        assert out[q] == brute(norm_q[q], norm_c), (
            f"pruned scorer diverges from list-order brute force on {q!r}"
        )
