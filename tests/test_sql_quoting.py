"""Quoting in the SQL text the CEP kernels are built from.

The closed-form kernels and the NFA tier's input projection splice
column names, measure names and literal values into SQL text. These
tests run both tiers over columns whose names need quoting and values
that need escaping, and require identical rows and schemas — a name or
literal spliced in raw would fail to parse, resolve another column, or
change a value."""

from __future__ import annotations

import datetime as dt
import decimal
import random

import pytest
from pyspark.sql import types as T

from flink_cep_examples_spark.operators.cep_batch import (
    match_pattern,
    match_pattern_all_rows,
)
from flink_cep_examples_spark.operators.fast_path import (
    match_pattern_fast_abc,
    match_pattern_fast_abc_all_rows,
    match_pattern_fast_absence,
)
from flink_cep_examples_spark.plans.pattern import NO_SKIP, Measure, Pattern
from flink_cep_examples_spark.sqltext import ident, lit, type_sql

KEY = "user `key` id"
BEFORE = "bal before"
AFTER = "bal `after`"
WHEN = "the `dt`"
AMOUNT = "amount $"
DEFAULT = "it's 'none' \\ yet"

SCHEMA = T.StructType(
    [
        T.StructField(KEY, T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField(BEFORE, T.LongType()),
        T.StructField(AFTER, T.LongType()),
        T.StructField(WHEN, T.StringType()),
        T.StructField(AMOUNT, T.DecimalType(10, 2)),
    ]
)

A_PRED = f"{ident(BEFORE)} >= 10 AND {ident(AFTER)} < 10"
B_PRED = f"{ident(BEFORE)} >= {ident(AFTER)}"
C_PRED = f"{ident(BEFORE)} < {ident(AFTER)}"


@pytest.fixture(scope="module")
def events(spark):
    """Balance walks over keys that need quoting: alarms, non-increasing
    runs, top-ups and gaps long enough to time matches out."""
    rng = random.Random(11)
    t0 = dt.datetime(2024, 1, 1)
    rows, seq = [], 0
    for key in ("a `1`", "b 2", "c'3"):
        bal, t = 30, t0
        for _ in range(60):
            before = bal
            up = rng.random() < (0.4 if bal < 10 else 0.1)
            bal = bal + rng.randint(8, 20) if up else max(0, bal - rng.randint(0, 6))
            t += dt.timedelta(minutes=rng.choice((5, 20, 70)))
            rows.append(
                (
                    key,
                    t,
                    seq,
                    before,
                    bal,
                    t.strftime("%Y-%m-%d %H:%M:%S"),
                    decimal.Decimal(before) / 4,
                )
            )
            seq += 1
    return spark.createDataFrame(rows, SCHEMA)


def _abc(measures, emit_timeouts=False):
    return (
        Pattern.begin("A")
        .where(A_PRED)
        .next("B")
        .one_or_more()
        .optional()
        .where(B_PRED)
        .next("C")
        .where(C_PRED)
        .within("1 hour")
        .build(
            key_cols=(KEY,),
            measures=measures,
            emit_timeouts=emit_timeouts,
        )
    )


def _same(fast, nfa):
    # names and types; nullability is not part of the tiers' contract
    assert [(f.name, f.dataType) for f in fast.schema] == [
        (f.name, f.dataType) for f in nfa.schema
    ]
    rows = sorted(map(tuple, fast.collect()), key=repr)
    assert rows == sorted(map(tuple, nfa.collect()), key=repr)
    return rows


def test_abc_with_timeouts_quoted_names_and_literals(events):
    """Key and measure names with spaces and backticks, a string
    measure default with quotes and a backslash (the timeout rows carry
    it), and DECIMAL measures (the CAST type text of the final
    projection)."""
    spec = _abc(
        (
            Measure("alarm `at` time", "A", WHEN, "first"),
            Measure("top up `dt`", "C", WHEN, "first", default=DEFAULT),
            Measure("alarm amount", "A", AMOUNT, "first"),
            Measure("top-up amount", "C", AMOUNT, "last"),
        ),
        emit_timeouts=True,
    )
    fast = match_pattern_fast_abc(events, spec)
    rows = _same(fast, match_pattern(events, spec))
    assert {r[-1] for r in rows} == {"match", "timeout"}
    assert {r[2] for r in rows if r[-1] == "timeout"} == {DEFAULT}
    assert fast.schema["alarm amount"].dataType == T.DecimalType(10, 2)


def test_abc_aggregates_over_quoted_decimal(events):
    spec = _abc(
        (
            Measure("sum `b` amount", "B", AMOUNT, "sum"),
            Measure("max b amount", "B", AMOUNT, "max"),
            Measure("n b's", "B", AMOUNT, "count"),
            Measure("match #", "", "", "match_number"),
        )
    )
    rows = _same(match_pattern_fast_abc(events, spec), match_pattern(events, spec))
    assert rows


def test_abc_all_rows_carries_quoted_columns(events):
    spec = _abc(
        (
            Measure("alarm `at` time", "A", WHEN, "first"),
            Measure("top-up amount", "C", AMOUNT, "first"),
        )
    )
    rows = _same(
        match_pattern_fast_abc_all_rows(events, spec),
        match_pattern_all_rows(events, spec),
    )
    assert rows


def test_absence_quoted_names(events):
    spec = (
        Pattern.begin("A", skip=NO_SKIP)
        .where(A_PRED)
        .not_followed_by("N")
        .where(C_PRED)
        .within("1 hour")
        .build(
            key_cols=(KEY,),
            measures=(Measure("alarm `amount`", "A", AMOUNT, "first"),),
        )
    )
    rows = _same(
        match_pattern_fast_absence(events, spec), match_pattern(events, spec)
    )
    assert rows


def test_literal_and_identifier_text(spark):
    """Each literal reads back as the value it was made from, whatever
    the parser's escape setting."""
    values = [DEFAULT, "", "plain", 3, 2**40, -1.5, True, None, decimal.Decimal("-12.50")]
    for escaped in ("false", "true"):
        spark.conf.set("spark.sql.parser.escapedStringLiterals", escaped)
        try:
            got = spark.range(1).selectExpr(
                *[f"{lit(v)} AS {ident(f'c `{i}`')}" for i, v in enumerate(values)]
            ).first()
        finally:
            spark.conf.unset("spark.sql.parser.escapedStringLiterals")
        assert list(got) == values
    assert type_sql(T.TimestampType()) == "TIMESTAMP_LTZ"
    assert type_sql(T.DecimalType(10, 2)) == "DECIMAL(10,2)"
    assert (
        type_sql(T.StructType([T.StructField("a `b", T.ArrayType(T.LongType()))]))
        == "STRUCT<`a ``b`: ARRAY<BIGINT>>"
    )
