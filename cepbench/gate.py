"""Correctness gate: engine outputs against the DuckDB oracles.

The comparison is ``tests/oracle_harness.compare`` itself (exact mode:
floats by bit pattern, ints apart from floats, rows as sorted
multisets). Only its connection helper is replaced, because the
benchmark writes just the tables its workload reads and the helper
expects every synthetic table to exist.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from tests import oracle_harness


def _present_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM '{sf_dir}/{f}'")
    return con


oracle_harness.duckdb_connection = _present_tables


class Collected:
    """Rows already collected from a DataFrame, in the shape ``compare``
    reads (``columns`` and ``collect()``), so the gate can check the
    warm-up results without running the query again."""

    def __init__(self, df) -> None:
        self.columns = list(df.columns)
        self.rows = df.collect()

    def collect(self):
        return self.rows


def check_oracle(name: str, got: Collected, sf_dir: str) -> tuple[bool, str]:
    from flink_cep_examples_spark.queries import ORACLES

    return oracle_harness.compare(got, ORACLES[name], sf_dir)


def oracle_rows(sql: str, sf_dir: str) -> list[tuple]:
    con = _present_tables(sf_dir)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def alert_set(rows, with_tag: bool = True) -> Counter:
    """Multiset of ``(id, alarmTriggerDatetime, topupDatetime[, tag])``."""
    return Counter(
        (r["id"], r["alarmTriggerDatetime"], r["topupDatetime"])
        + ((r["tag"],) if with_tag else ())
        for r in rows
    )


def cross_check_tiers(fast: Collected, nfa: Collected, mr: Collected) -> list[str]:
    """The reference pattern through the fast kernel, the NFA and
    MATCH_RECOGNIZE must give the same alerts. Returns the mismatches."""
    errors = []
    f = alert_set(fast.rows)
    if f != alert_set(nfa.rows):
        errors.append("fast kernel vs NFA: alerts differ")
    matches = Counter(
        {k[:3]: n for k, n in f.items() if k[3] == "match"}
    )
    if matches != alert_set(mr.rows, with_tag=False):
        errors.append("fast kernel vs MATCH_RECOGNIZE: matches differ")
    return errors
