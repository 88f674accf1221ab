"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The implementations and their oracles live in the ``ENTRIES`` tables of
``hiv_data_integration_spark.battery``, ``battery_ext`` and
``battery_sql``; this file merges them into ``REGISTRY`` and is the
stable driver-facing façade.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from hiv_data_integration_spark import battery, battery_ext, battery_sql
from hiv_data_integration_spark.battery import Entry, QueryFn, q_flagship

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship (SURVEY.md §7.5) exercises the spine every reference
    extract repeats: scan → broadcast dim joins → derived column-name
    synthesis → explicit-values pivot → grouped null-preserving re-sum →
    wide→long stack → rounding → sort.
    """
    return q_flagship(spark, SMOKE_SF_DIR)


# The driver hash-verifies only the FIRST 50 ``queries()`` entries a
# round and records them in CORRECTNESS_r{N}.json next to this file, so
# the order is the verification budget, derived from that ledger.
_LEDGER_DIR = Path(__file__).resolve().parent


def _last_green(ledger_dir: Path) -> dict[str, int | None]:
    """name -> last round its ledger row was green (hash match, no
    error), or None when its latest row is not green."""
    rounds = {
        int(re.search(r"r(\d+)", p.name).group(1)): p
        for p in ledger_dir.glob("CORRECTNESS_r*.json")
    }
    last: dict[str, int | None] = {}
    for rnd in sorted(rounds):
        for name, row in json.loads(rounds[rnd].read_text()).items():
            ok = row.get("hash_match") is True and row.get("err") is None
            last[name] = rnd if ok else None
    return last


def verification_order(
    names: Iterable[str], ledger_dir: Path = _LEDGER_DIR
) -> list[str]:
    """``names`` reordered for the driver's window: never-green and
    failed-last entries first, then oldest last green; ties keep the
    given order (``sorted`` is stable). A corrupt ledger file raises."""
    last = _last_green(ledger_dir)
    return sorted(names, key=lambda n: last.get(n) or 0)


def merge_entries(*tables: Iterable[Entry]) -> dict[str, tuple[QueryFn, str]]:
    """name -> (query, oracle SQL) over ``tables`` in order; a name
    registered twice, within one table or across two, raises."""
    merged: dict[str, tuple[QueryFn, str]] = {}
    for table in tables:
        for name, fn, sql in table:
            if name in merged:
                raise ValueError(f"battery entry {name!r} is registered twice")
            merged[name] = (fn, sql)
    return merged


# Every battery entry, in registration order: the one place the tables meet.
REGISTRY = merge_entries(battery.ENTRIES, battery_ext.ENTRIES, battery_sql.ENTRIES)


def queries() -> dict[str, QueryFn]:
    """One entry per implemented operator from SURVEY.md §2 (+ §2.14
    extensions: dedup / similarity / text analysis / multimodal), in
    ``verification_order``."""
    return {k: REGISTRY[k][0] for k in verification_order(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each query (same column names);
    a table row cannot register a query without one."""
    return {k: sql for k, (_, sql) in REGISTRY.items()}
