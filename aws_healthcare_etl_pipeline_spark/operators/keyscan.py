"""Partition-wise keyed stateful scan: the fast path for per-key
sequential operators.

``groupBy(key).applyInPandas(fn)`` launches one Arrow exchange per
GROUP; with tens of thousands of small groups the fixed per-group cost
(~1 ms) dominates the actual scan work by 10-100x (measured: the
capped-balance scan spent 9.3 s on 1.5k groups at sf0.1, the interval
DP 18 s on 15k groups). This helper keeps the same logical shape —
hash-shuffle on the key, sequential scan within a key — but runs ONE
``mapInPandas`` pass per PARTITION, iterating that partition's groups
inside a single Python worker call:

    repartition(key) -> sortWithinPartitions(key, *order)
        -> mapInPandas(scan all complete groups per Arrow batch,
                       carrying the trailing partial group to the next
                       batch so group boundaries never split)

The carry loop is required because Arrow hands the partition to Python
in ~10k-row batches and a group may straddle a batch boundary.

At 100 TB the shape is unchanged: one shuffle on the key, per-key
sequential work (the information-theoretic minimum for order-sensitive
recurrences), parallel across partitions; per-batch memory stays at
Arrow batch size + one group.

SKEW LIMITATION: the "one group" term is unbounded — the trailing
key's rows accumulate in ``carry`` across Arrow batches, so a single
dominant key materializes its ENTIRE group in one Python worker. That
is inherent to order-sensitive per-key recurrences (the whole group
must be seen in order), but it means the memory bound degrades from
"batch + typical group" to "batch + largest group". ``carry_limit``
makes that failure LOUD: past the threshold the scan raises with the
offending key instead of silently OOM-ing the worker. Callers with a
known-heavy key should pre-aggregate, split the recurrence, or raise
the limit deliberately.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame


def keyed_pandas_scan(
    df: DataFrame,
    key: str,
    order: list[str],
    per_group: Callable[[pd.DataFrame], pd.DataFrame],
    out_schema: str,
    carry_limit: int = 5_000_000,
) -> DataFrame:
    """Run ``per_group`` over each key's rows (pre-sorted by ``order``)
    with one Python call per Arrow batch instead of one per group.

    ``per_group`` (it ships to executors by value) receives one key's
    rows in ``order`` and returns its output rows.

    ``carry_limit`` bounds the cross-batch carry (the trailing key's
    accumulated rows): a pathologically skewed key fails loudly with
    its key value instead of OOM-ing the Python worker (see module
    docstring, SKEW LIMITATION).
    """

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last = pdf[key].iloc[-1]
            tail = pdf[key] == last
            carry = pdf[tail]
            if len(carry) > carry_limit:
                raise ValueError(
                    f"keyed_pandas_scan: key {last!r} exceeds "
                    f"carry_limit={carry_limit} rows in one group — "
                    "skewed key would materialize in a single worker; "
                    "pre-aggregate or raise carry_limit deliberately"
                )
            done = pdf[~tail]
            if len(done):
                yield pd.concat(
                    [
                        per_group(g)
                        for _, g in done.groupby(key, sort=False)
                    ],
                    ignore_index=True,
                )
        if carry is not None and len(carry):
            yield per_group(carry)

    return (
        df.repartition(key)
        .sortWithinPartitions(key, *order)
        .mapInPandas(scan, out_schema)
    )
