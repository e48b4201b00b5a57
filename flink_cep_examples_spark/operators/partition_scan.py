"""Grouped partition scan: per-key processing with one Python crossing
per PARTITION instead of one per key group.

``groupBy(key).applyInPandas(fn)`` invokes Python once per key — with
millions of small keys the fixed per-invocation cost (Arrow batch,
pandas construction) dominates. This helper gets identical semantics
from ``repartition(key) + sortWithinPartitions(key, order) +
mapInPandas``: every key's rows are contiguous and sorted inside one
partition, so a single Python call scans thousands of key groups.

The one subtlety is Arrow batch boundaries: ``mapInPandas`` feeds a
partition as a SEQUENCE of pandas batches (default 10k rows), and a
key's rows may straddle two batches — the scanner carries the last
(possibly incomplete) key of each batch into the next.

At 100 TB this is also the shape you want: the shuffle is identical to
groupBy's (hash on key), but the Python boundary amortizes across the
whole partition.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def grouped_partition_scan(
    df: DataFrame,
    key_cols: list[str],
    sort_cols: list[str],
    process_group: Callable[[pd.DataFrame], pd.DataFrame],
    output_schema: T.StructType,
) -> DataFrame:
    """Apply ``process_group`` to each key group (rows pre-sorted by
    ``sort_cols``), executing one Python scan per partition.
    Equivalent to ``df.groupBy(*key_cols).applyInPandas(...)`` where
    the function sorts by ``sort_cols`` itself."""
    # No explicit partition count: repartition(*cols) sizes the exchange
    # from spark.sql.shuffle.partitions, and AQE is free to coalesce —
    # at 100 TB the shuffle width must come from config/AQE, not from
    # the driver's core count.
    #
    # The columns travel under positional stand-in names: mapInPandas
    # resolves every input column by name, and a name holding a
    # backtick does not parse as one. The scan restores the real names.
    names = df.columns
    pos = {n: f"_{i}" for i, n in enumerate(names)}
    prepared = (
        df.toDF(*pos.values())
        .repartition(*[pos[k] for k in key_cols])
        .sortWithinPartitions(*[pos[c] for c in (*key_cols, *sort_cols)])
    )

    def scan_partition(batches):
        carry: pd.DataFrame | None = None

        def emit_groups(pdf: pd.DataFrame):
            # dropna=False: null keys are normal groups, exactly as in
            # Spark's groupBy().applyInPandas.
            for _, g in pdf.groupby(key_cols, sort=False, dropna=False):
                out = process_group(g)
                if len(out):
                    yield out

        for pdf in batches:
            pdf.columns = names
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            # hold back the final key of the batch — it may continue in
            # the next batch
            last_key = tuple(pdf.iloc[-1][k] for k in key_cols)
            mask = pd.Series(True, index=pdf.index)
            for k, v in zip(key_cols, last_key):
                mask &= pdf[k].isna() if pd.isna(v) else (pdf[k] == v)
            carry = pdf[mask]
            head = pdf[~mask]
            if len(head):
                yield from emit_groups(head)
        if carry is not None and len(carry):
            yield from emit_groups(carry)

    return prepared.mapInPandas(scan_partition, output_schema)
