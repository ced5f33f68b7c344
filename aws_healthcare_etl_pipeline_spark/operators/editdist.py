"""Scalable edit-distance self-join candidate generation.

Blocking for a levenshtein(a, b) <= k self-join must have block
cardinality that GROWS with the data; blocking on a low-cardinality
attribute pair (e.g. 125 (nation, segment) cells) leaves block sizes
O(N) and pair counts O(N^2 / 125) — the quadratic is deferred, not
removed. Equally, q-gram blocking degrades on key-like strings drawn
from a small alphabet (zero-padded numeric ids): distinct q-grams cap
at |charset|^q, another constant ceiling.

The scheme here is symmetric-delete blocking (the SymSpell family):
if lev(a, b) <= k then deleting at most k characters from each can
reach a COMMON string, so the <= k-deletion neighborhoods intersect.
(Each substitution deletes the differing position from both sides;
each insertion/deletion deletes the extra character from the longer
side — at most k deletions per side total.) Candidates = pairs
sharing any deletion variant; block cardinality is the number of
distinct variants, which scales with the number of distinct strings
— long constant affixes COLLAPSE (deleting any 2 chars of a constant
zero-run yields the same variant) instead of forming giant blocks.

Scale shape: one JVM-side variant explosion (1 + L + C(L,2) keys per
row at k=2 before array_distinct — right-sized for short key-like
strings, L <~ 40), one equi-join on the 64-bit hash of the variant
(hash collisions only ADD candidates; verification removes them),
one distinct on pairs, then the threshold-bounded levenshtein verify
which early-exits at O(len * k) per pair. No all-pairs anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .parallelism import widen


def _deletion_variants_sql(str_col: str, k: int) -> str:
    """SQL fragment: array of all strings obtainable by deleting at
    most ``k`` (<= 2) characters from ``str_col``."""
    s = str_col
    parts = [f"array({s})"]
    if k >= 1:
        parts.append(
            f"transform(sequence(1, length({s})),"
            f" i -> concat(substring({s}, 1, i - 1),"
            f"             substring({s}, i + 1, length({s}))))"
        )
    if k >= 2:
        parts.append(
            f"flatten(transform(sequence(1, greatest(length({s}) - 1, 1)),"
            f" i -> transform(sequence(i + 1, length({s})),"
            f"  j -> concat(substring({s}, 1, i - 1),"
            f"              substring({s}, i + 1, j - i - 1),"
            f"              substring({s}, j + 1, length({s}))))))"
        )
    if k > 2:
        raise ValueError("symmetric-delete blocking implemented for k <= 2")
    return f"concat({', '.join(parts)})"


def edit_distance_candidates(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 2,
    block_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Candidate pairs (a_*, b_*) for a levenshtein <= k self-join.

    ``block_cols`` are attributes the caller requires EQUAL on both
    sides of a pair; folding them into the join key (rather than
    post-filtering) keeps candidates that will be discarded anyway
    from ever being generated — on data where near-names are dense
    (sequential ids), the attribute restriction can be the larger
    selectivity factor.

    Returns distinct pairs with ``a_<id> < b_<id>``, each side
    carrying ``str_col`` and ``block_cols`` (prefixed a_/b_). The result is a SUPERSET of the true block-equal <= k
    pair set (no false negatives — see module docstring); callers
    apply the residual ``levenshtein(..., k) >= 0`` verify.
    """
    side_cols = (str_col, *block_cols)
    # variant generation is pure per-row CPU (1 + L + C(L,2) string
    # builds + hashes): widen a coarse-grained scan so it doesn't
    # serialize on one task; no-op on an already-wide production scan
    df = widen(df, id_col)
    # Join on the variant's 64-bit hash with the block attributes
    # FOLDED INTO the hash (xxhash64 is variadic): the join sides are
    # (id, key) pairs — 16 bytes/row — instead of rows carrying the
    # string + block + carry columns. A close pair shares ~2L deletion
    # variants, so the raw join output has ~2L-fold multiplicity; r2
    # deduplicated those as FULL-WIDTH rows, which made the distinct()
    # the dominant shuffle at 10x scale (sf1 sweep: 31s, exp 1.22).
    # Now the distinct runs on bare 16-byte id pairs and the side
    # columns come back via two linear hash joins on the id. Hash
    # collisions (including cross-block ones, now that blocks live
    # inside the hash) only ADD candidates; block equality is
    # re-checked below and the caller's verify rejects the rest.
    block_args = "".join(f", {c}" for c in block_cols)
    keyed = df.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform({_deletion_variants_sql(str_col, k)},"
                    f" v -> xxhash64(v{block_args}))"
                )
            )
        ).alias("_key"),
    )
    # both join sides read the same exploded frame; pin it so the
    # variant expansion runs once, not once per side
    keyed = keyed.localCheckpoint(eager=False)
    a = keyed.select(F.col(id_col).alias("_aid"), F.col("_key").alias("_akey"))
    b = keyed.select(F.col(id_col).alias("_bid"), F.col("_key").alias("_bkey"))
    # The key self-join is corpus x variants on BOTH sides — pin it
    # to sort-merge: 16-byte (id, hash) rows compress far below the
    # 64 MB auto-broadcast threshold at fixture scale while the
    # deserialized relation is GBs (AQE broadcast promotion = driver
    # OOM, observed at sf3), and shuffled-hash builds blow up on the
    # skewed variant-hash blocks this workload produces — SMJ is the
    # only fully spillable choice for a big-big skewed join.
    pairs = (
        a.join(
            b.hint("merge"),
            (F.col("_akey") == F.col("_bkey")) & (F.col("_aid") < F.col("_bid")),
        )
        .select("_aid", "_bid")
        .distinct()
    )
    a_side = df.select(
        F.col(id_col).alias(f"a_{id_col}"),
        *[F.col(c).alias(f"a_{c}") for c in side_cols],
    )
    b_side = df.select(
        F.col(id_col).alias(f"b_{id_col}"),
        *[F.col(c).alias(f"b_{c}") for c in side_cols],
    )
    # Payload-return joins are big-to-big at scale (pairs grow with
    # the workload's match density, sides with the corpus): pin them
    # to sort-merge so AQE can never promote either relation to a
    # driver broadcast — (id, id) pair shuffles compress so well that
    # runtime size stats underestimate the deserialized relation by
    # orders of magnitude (measured: driver broadcast OOM at sf3).
    wide = pairs.join(
        a_side.hint("merge"), F.col("_aid") == F.col(f"a_{id_col}")
    ).join(
        b_side.hint("merge"), F.col("_bid") == F.col(f"b_{id_col}")
    ).drop("_aid", "_bid")
    # residual: blocks folded into the hash are only PROBABLY equal
    for c in block_cols:
        wide = wide.filter(F.col(f"a_{c}") == F.col(f"b_{c}"))
    return wide
