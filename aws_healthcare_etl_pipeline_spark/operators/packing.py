"""First-fit-decreasing (FFD) sequence packing via ``applyInPandas``.

``pipeline_sequence_packing`` (plans/llm_text2.py) is the concat-and-
chunk packer: a window cumsum, fully parallel, the right default at
100 TB. FFD is the other packer production pipelines use — it never
splits a document across context windows and wastes less tail space —
but it is inherently sequential WITHIN a packing group (each placement
depends on every earlier one), so no composition of built-in operators
expresses it. This is the honest ``applyInPandas`` case from the
design brief: per-group imperative logic that Catalyst genuinely
cannot express.

Scale contract: parallelism comes from the GROUPING KEY, exactly like
real training pipelines that pack per shard — each group's docs must
fit one executor's memory as a pandas frame, and the loop is
O(n_items * n_bins) per group. At 100 TB you pack per (lang, shard)
where a shard is a bounded hash split, never one global group. The
Arrow transfer ships only (group, id, size) — never document text.

Determinism (required by the self-graded oracle): items sort by
(size DESC, id ASC) and bins are scanned in creation order, so the
assignment is a pure function of the group's (id, size) multiset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ffd_shard_count(df: DataFrame, group_col: str, shard_target: int) -> int:
    """Number of hash shards needed so no (group, shard) packing unit
    exceeds ~``shard_target`` items: ceil(max group size / target).
    One tiny aggregate job; deterministic for a given input."""
    row = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]
    )
    biggest = int(row.m or 0)
    return max(1, -(-biggest // int(shard_target)))


def ffd_pack(
    df: DataFrame,
    group_col: str,
    id_col: str,
    size_col: str,
    capacity: int,
    n_shards: int = 1,
) -> DataFrame:
    """Assign each row to a bin of ``capacity`` per group via FFD.

    Returns (group_col, id_col, size_col, bin_id). Items larger than
    ``capacity`` get a dedicated singleton bin (they cannot fit any
    shared bin; callers that forbid oversize items should filter or
    split upstream).

    ``n_shards`` > 1 packs each group in ``n_shards`` independent
    hash shards (shard = xxhash64(id) mod n_shards; bin ids are
    disjoint across shards). This is the scale lever the module
    docstring promises: FFD's inner loop is O(items x bins) and
    SEQUENTIAL per packing unit, so an unbounded group is O(n^2) on
    one core (measured: sf1->sf3 exponent 1.73 on per-lang groups).
    Sharding by ceil(max_group/target) (``ffd_shard_count``) bounds
    every unit's cost regardless of corpus size; the price is at most
    one extra under-half-full tail bin PER SHARD.

    Guarantees (pinned by tests and the query's self-graded oracle):
      * every bin's fill is <= capacity, except a bin holding a single
        oversize item (whose fill is that item's size);
      * at most one bin per (group, shard) packing unit is less than
        half full — true for any first-fit order: were there two, the
        later bin's items would all have fit in the earlier one, so
        first-fit would never have opened it. Per group that means
        <= n_shards under-half-full bins.
    """
    out_schema = (
        f"{group_col} string, {id_col} long, {size_col} long, bin_id long"
    )
    cap = int(capacity)
    gcol, icol, scol = group_col, id_col, size_col
    shards = max(1, int(n_shards))

    def pack(pdf):
        import pandas as pd

        # bin ids disjoint across shards: shard * 2^32 + local index
        base = int(pdf["_ffd_shard"].iloc[0]) << 32
        items = sorted(
            zip(pdf[icol].tolist(), pdf[scol].tolist()),
            key=lambda t: (-t[1], t[0]),
        )
        fills: list[int] = []  # current fill per bin, creation order
        assign: dict[int, int] = {}
        for item_id, size in items:
            if size > cap:  # oversize: dedicated bin — its real fill
                # already exceeds cap, so no later item can fit it
                assign[item_id] = base + len(fills)
                fills.append(size)
                continue
            for b, fill in enumerate(fills):
                if fill + size <= cap:
                    assign[item_id] = base + b
                    fills[b] = fill + size
                    break
            else:
                assign[item_id] = base + len(fills)
                fills.append(size)
        return pd.DataFrame(
            {
                gcol: pdf[gcol].iloc[0],
                icol: pdf[icol],
                scol: pdf[scol],
                "bin_id": pdf[icol].map(assign),
            }
        )

    narrow = df.select(
        F.col(group_col).cast("string").alias(group_col),
        F.col(id_col).cast("long").alias(id_col),
        F.col(size_col).cast("long").alias(size_col),
        (F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))).alias("_ffd_shard"),
    )
    return narrow.groupBy(group_col, "_ffd_shard").applyInPandas(
        pack, schema=out_schema
    )
