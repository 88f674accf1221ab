"""Driver-contract invariants.

Two things break the driver's correctness gate silently:

1. the verification-window ordering in __spark_entry__ (only the first 50
   ``queries()`` entries are hash-checked per round; the order is derived
   from the CORRECTNESS_r*.json ledger), and
2. oracle SQL output typing — DuckDB renders HUGEINT (its int128 result
   type for ``sum()`` over integers) differently from Spark's BIGINT in
   the driver's value hash even when the values are identical (root cause
   of all 9 round-3 hash fails). Every integer aggregate in oracle SQL
   must be CAST to BIGINT; this suite DESCRIBEs every oracle to enforce
   it, and greps for bare ``ln(``/``log(`` (libm-dependent, not
   bit-portable across engines — keep them out of hashed projections).
"""

from __future__ import annotations

import json
import os
import re
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_registry_complete_and_oracled():
    q = contract.queries()
    o = contract.oracle_sql()
    assert len(q) >= 99
    # every registered query now carries a DuckDB oracle — the last
    # rows-only entry (fuzzy_resolve_suppliers) got a provable typo-mangle
    # construction in round 4
    missing = [k for k in q if k not in o]
    assert missing == []
    assert set(o) <= set(q)


def test_merge_rejects_a_repeated_name():
    """``{**a, **b}`` keeps one of two rows silently; the merge raises,
    whether the name repeats within one table or across two."""
    row = ("a", lambda spark, sf_dir: None, "SELECT 1")
    with pytest.raises(ValueError, match="'a'"):
        contract.merge_entries([row, ("b", *row[1:]), row])
    with pytest.raises(ValueError, match="'a'"):
        contract.merge_entries([row], [("b", *row[1:])], [row])


_GREEN = {"hash_match": True, "err": None}
_MISMATCH = {"hash_match": False, "err": None}
_ERRORED = {"hash_match": None, "err": "no_oracle"}


@pytest.mark.parametrize(
    "ledgers, names, expected",
    [
        pytest.param(
            {1: {"a": _GREEN, "b": _GREEN, "c": _GREEN},
             2: {"b": _MISMATCH, "c": _ERRORED}},
            ["a", "b", "c"], ["b", "c", "a"], id="failed_last_first",
        ),
        pytest.param(
            {1: {"a": _GREEN, "b": _GREEN}},
            ["a", "b", "new"], ["new", "a", "b"], id="never_seen_first",
        ),
        pytest.param(
            {1: {"a": _GREEN, "c": _GREEN}, 2: {"b": _GREEN, "c": _MISMATCH},
             3: {"c": _GREEN}},
            ["c", "b", "a"], ["a", "b", "c"], id="oldest_last_green_first",
        ),
        pytest.param(
            {1: {"a": _GREEN, "b": _GREEN, "c": _GREEN}},
            ["c", "a", "b"], ["c", "a", "b"], id="ties_keep_registration",
        ),
        pytest.param(
            {1: {"retired": _MISMATCH, "b": _GREEN}, 2: {"a": _GREEN}},
            ["a", "b"], ["b", "a"], id="retired_name_ignored",
        ),
        pytest.param(
            {13: {"a": _MISMATCH}, 50: {"b": _GREEN}, 100: {"a": _GREEN}},
            ["a", "b"], ["b", "a"], id="r100_after_r13",
        ),
        pytest.param({}, ["c", "a", "b"], ["c", "a", "b"], id="no_ledger"),
        pytest.param(
            {1: "{not json"}, ["a"], json.JSONDecodeError, id="corrupt_raises",
        ),
    ],
)
def test_verification_order_policy(tmp_path, ledgers, names, expected):
    for rnd, rows in ledgers.items():
        text = rows if isinstance(rows, str) else json.dumps(rows)
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(text)
    if isinstance(expected, type):
        with pytest.raises(expected):
            contract.verification_order(names, tmp_path)
    else:
        assert contract.verification_order(names, tmp_path) == expected


def test_window_rotates_past_the_last_ledger_round(tmp_path, monkeypatch):
    """On the committed ledger, the next window shares no green entry
    with the newest round, and no entry inside it was green more
    recently than any entry left outside it. The ledger is found next to
    the module, whatever the working directory."""
    monkeypatch.chdir(tmp_path)
    names = list(contract.queries())
    ledger = contract._last_green(contract._LEDGER_DIR)
    last = {n: ledger.get(n) or 0 for n in names}
    newest = max(r for r in ledger.values() if r)
    window, rest = names[:50], names[50:]
    assert not [n for n in window if last[n] == newest]
    assert max(last[n] for n in window) <= min(last[n] for n in rest)
    assert sorted(names) == sorted(contract.REGISTRY)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    from hiv_data_integration_spark.battery import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


# types whose driver-hash rendering differs from the Spark schema the
# paired query produces: HUGEINT is DuckDB's int128 sum() result (no Spark
# twin); UTINYINT..UBIGINT can sneak in via positional arithmetic
_FORBIDDEN_DUCK_TYPES = re.compile(r"HUGEINT|UTINYINT|USMALLINT|UINTEGER|UBIGINT")


@pytest.mark.parametrize("name", sorted(contract.oracle_sql()))
def test_oracle_output_types_are_hash_portable(name, duck):
    sql = contract.oracle_sql()[name]
    cols = duck.execute(f"DESCRIBE {sql}").fetchall()
    bad = [
        (c[0], c[1]) for c in cols if _FORBIDDEN_DUCK_TYPES.search(c[1] or "")
    ]
    assert not bad, (
        f"{name}: oracle output columns {bad} have driver-hash-unportable "
        f"DuckDB types — CAST integer aggregates to BIGINT"
    )


def test_array_output_guard_catches_unhashable_schemas():
    """The round-4 lesson, generalized (like the HUGEINT guard): the
    driver's pandas canonicalizer cannot hash ArrayType/MapType output
    columns — ``factorize`` raises ``TypeError: unhashable type: 'list'``
    before any comparison happens, so such a query can NEVER go green.
    ``driver_hashable_violations`` must flag exactly those schemas; the
    battery-wide application runs in tests/test_oracle_parity.py against
    every ``queries()`` entry's actual result schema."""
    from pyspark.sql import types as T

    from hiv_data_integration_spark.battery import driver_hashable_violations

    bad = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("sequence", T.ArrayType(T.StringType())),
            T.StructField("attrs", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    viols = driver_hashable_violations(bad)
    assert viols == [
        "sequence: array<string>",
        "attrs: map<string,bigint>",
    ]

    good = T.StructType(
        [
            T.StructField("user", T.LongType()),
            T.StructField("sequence", T.StringType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    assert driver_hashable_violations(good) == []


def test_no_libm_functions_in_oracles():
    # ln/log results are libm-dependent and differ across engines at the
    # last ulp — hashed projections must stay integer/IEEE-exact (the
    # float-score twins are verified by same-engine pytests instead)
    bare_log = re.compile(r"(?<![\w.])(ln|log|log2|log10|exp)\s*\(", re.I)
    offenders = {
        name: bare_log.findall(sql)
        for name, sql in contract.oracle_sql().items()
        if bare_log.search(sql)
    }
    assert not offenders, f"libm-dependent fns in hashed oracles: {offenders}"
