"""Driver-contract invariants.

Two things break the driver's correctness gate silently:

1. the verification-window ordering in __spark_entry__ (only the first 50
   ``queries()`` entries are hash-checked per round), and
2. oracle SQL output typing — DuckDB renders HUGEINT (its int128 result
   type for ``sum()`` over integers) differently from Spark's BIGINT in
   the driver's value hash even when the values are identical (root cause
   of all 9 round-3 hash fails). Every integer aggregate in oracle SQL
   must be CAST to BIGINT; this suite DESCRIBEs every oracle to enforce
   it, and greps for bare ``ln(``/``log(`` (libm-dependent, not
   bit-portable across engines — keep them out of hashed projections).
"""

from __future__ import annotations

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


def test_window_prioritizes_unverified_entries():
    names = list(contract.queries())
    window = names[:50]
    pending = [k for k in contract._PENDING_NEVER_VERIFIED if k in names]
    # the pinned never-driver-verified backlog verifies FIRST, in its
    # original registration order — oldest unverified signal first
    assert names[: len(pending)] == pending
    # once the backlog drops below 50 the window legitimately spills into
    # newer/green tiers, so only assert the prefix relationship
    assert window[: min(50, len(pending))] == pending[:50]
    # brand-new entries (no tier row yet) come directly after the
    # pending backlog, still ahead of every previously-green entry
    green_tiers = [
        contract._R2_GREEN_STALE, contract._R3_GREEN, contract._R4_GREEN,
        contract._R5_GREEN, contract._R6_GREEN, contract._R7_GREEN,
        contract._R8_GREEN, contract._R9_GREEN, contract._R10_GREEN,
        contract._R11_GREEN,
    ]
    tiered = set(contract._PENDING_NEVER_VERIFIED).union(*map(set, green_tiers))
    new_this_round = [k for k in names if k not in tiered]
    n_unverified = len(pending) + len(new_this_round)
    assert names[len(pending): n_unverified] == new_this_round
    # no previously-green entry may displace a never-driver-verified one
    greens = set().union(*map(set, green_tiers))
    assert not greens & set(names[:n_unverified])
    # steady-state re-verification policy: previously-green tiers appear
    # oldest-signal-first (r2 before r3 before r4 …), so once the backlog
    # drains the window automatically rotates over the stalest greens
    # (fully-recycled tiers — e.g. _R2_GREEN_STALE after round 9 — are
    # empty and skipped)
    pos = {k: i for i, k in enumerate(names)}
    nonempty = [t for t in green_tiers if any(k in pos for k in t)]
    for older, newer in zip(nonempty, nonempty[1:]):
        older_max = max(pos[k] for k in older if k in pos)
        newer_min = min(pos[k] for k in newer if k in pos)
        assert older_max < newer_min, (
            "green tiers must stay oldest-signal-first in queries() order"
        )
    # a name may live in exactly ONE tier — duplicates would let an old
    # tier's position shadow the rotation (the ordering loop dedups, so
    # this is the only place a double-listing would surface)
    from collections import Counter

    all_tier_names = contract._PENDING_NEVER_VERIFIED + sum(green_tiers, [])
    dupes = [k for k, c in Counter(all_tier_names).items() if c > 1]
    assert dupes == [], f"names listed in more than one tier: {dupes}"
    # nothing is dropped or duplicated by the ordering
    assert len(names) == len(set(names))
    merged = set(contract.QUERIES) | set(contract.EXT_QUERIES) | set(
        contract.SQL2_QUERIES
    )
    assert set(names) == merged


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
