"""Deduplication family for large-scale text corpora (SURVEY.md §2.8).

All four flavors are expressed with built-in Catalyst expressions only
(xxhash64 / md5 / array transforms / bit ops) — no Python UDFs — so every
stage is whole-stage-codegen'd, shuffles only on compact keys, and
scales linearly with the corpus:

  exact      : md5-of-normalized-text groupBy (one shuffle on a 32-byte key)
  MinHash+LSH: shingle -> H seeded xxhash64 minima -> B bands ->
               bucket self-join -> exact-Jaccard verify
  SimHash    : 60-bit md5-token sign-sum signature -> 15-bit band blocking ->
               hamming<=k verify (bit_count(xor))
  n-gram Jaccard: blocked exact Jaccard over distinct shingle sets

At 100 TB the candidate-pair stages are the hot spot; they shuffle only
(id, band_hash) pairs — a few hundred bytes/doc, not the documents
themselves — and the verify join re-reads shingle sets for candidate
pairs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_md5,
    normalize_text,
    shingles_from_tokens,
    tokens,
)
from .parallelism import widen


# ---------------------------------------------------------------- exact

def drop_exact_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep exactly one row (lowest id) per distinct text.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row). One shuffle on the md5 fingerprint.
    """
    w = Window.partitionBy(fingerprint_md5(F.col(text_col))).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_duplicate_clusters(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(fingerprint, keeper_id, n_copies) per distinct normalized text."""
    return (
        df.select(
            fingerprint_md5(F.col(text_col)).alias("fingerprint"),
            F.col(id_col),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -------------------------------------------------- bucket pair helper

# Buckets larger than this are dropped during candidate generation: a
# bucket of b docs contributes b^2/2 pairs, so one degenerate flood
# (e.g. thousands of near-empty documents) would dominate the whole
# job with quadratic TOTAL work no matter how it is distributed.
# Floods that big are exact-dup-shaped — the md5 path owns them.
# Drops are never silent: ``_bucket_pairs(observation=)`` counts them.
MAX_BUCKET_SIZE = 10_000

# Buckets above this size are not expanded inside one task (a 10k
# bucket is ~50M struct pairs in a single row — a straggler/OOM risk);
# they are split into salted sub-buckets of ~this size and expanded as
# sub-bucket cross products, bounding per-task work at ~SPLIT^2 pairs
# while preserving EVERY pair (no recall loss from splitting).
SPLIT_THRESHOLD = 1_000


def _expand_sorted(ids: Column) -> Column:
    """All (id_a < id_b) pairs from a sorted id array."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _bucket_pairs(
    buckets: DataFrame, key_cols: list[str], observation=None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs co-bucketed under any key.

    groupBy + sorted collect_list + in-bucket pair expansion: one
    shuffle of (id, key) rows, versus two sides + a join for the
    equivalent self-join formulation. Buckets larger than
    ``SPLIT_THRESHOLD`` take the salted sub-bucket path (extra shuffle,
    bounded tasks); buckets larger than ``MAX_BUCKET_SIZE`` are dropped
    and counted via ``observation`` (a pyspark.sql.Observation) as
    ``dropped_buckets`` / ``dropped_docs``.
    """
    grouped = buckets.groupBy(*key_cols).agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    if observation is not None:
        oversized = F.size("ids") > MAX_BUCKET_SIZE
        grouped = grouped.observe(
            observation,
            F.sum(oversized.cast("long")).alias("dropped_buckets"),
            F.sum(F.when(oversized, F.size("ids")).otherwise(0).cast("long")).alias(
                "dropped_docs"
            ),
        )
    grouped = grouped.filter(
        (F.size("ids") > 1) & (F.size("ids") <= MAX_BUCKET_SIZE)
    )

    small = grouped.filter(F.size("ids") <= SPLIT_THRESHOLD)
    pairs_small = small.select(F.explode(_expand_sorted(F.col("ids"))).alias("p"))

    # Oversized buckets: salt members into ceil(n/SPLIT) sub-buckets and
    # expand every sub-bucket PAIR (ga <= gb), so no cross-group pair is
    # lost. Each joined row expands at most SPLIT^2 pairs.
    big = grouped.filter(F.size("ids") > SPLIT_THRESHOLD)
    exploded = big.select(
        *key_cols,
        F.ceil(F.size("ids") / SPLIT_THRESHOLD).cast("long").alias("n_groups"),
        F.explode("ids").alias("doc_id"),
    ).withColumn("g", F.pmod(F.xxhash64("doc_id"), F.col("n_groups")))
    subb = exploded.groupBy(*key_cols, "g").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )
    a = subb.select(
        *key_cols, F.col("g").alias("ga"), F.col("ids").alias("ids_a")
    )
    b = subb.select(
        *key_cols, F.col("g").alias("gb"), F.col("ids").alias("ids_b")
    )
    crossed = a.join(b, on=key_cols).filter(F.col("ga") <= F.col("gb"))
    pairs_same = crossed.filter(F.col("ga") == F.col("gb")).select(
        F.explode(_expand_sorted(F.col("ids_a"))).alias("p")
    )
    pairs_diff = crossed.filter(F.col("ga") < F.col("gb")).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids_a"),
                    lambda x: F.transform(
                        F.col("ids_b"),
                        lambda y: F.struct(
                            F.least(x, y).alias("id_a"),
                            F.greatest(x, y).alias("id_b"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    pairs = pairs_small.unionByName(pairs_same).unionByName(pairs_diff)
    return pairs.select("p.id_a", "p.id_b").distinct()


# ------------------------------------------------------------- MinHash

def _seed_minima_expr(base_attr: str, num_hashes: int) -> Column:
    """Seed-family minima over a MATERIALIZED int64 hash-array column.

    ``base_attr`` must name a projected column holding the per-shingle
    string hashes; referencing it 64 times here is safe —
    CollapseProject refuses to inline a non-cheap multi-referenced
    alias, so the string hashing is computed ONCE per row, not per
    seed (the inline form re-evaluates its input array per outer
    transform: 64x the string hashing). The whole 64-branch array is
    also ONE ``F.expr`` parse — building it Column-by-Column cost
    ~1.5s of py4j round trips per plan (SCALE.md: "plan construction
    is py4j-bound").
    """
    parts = ",".join(
        f"array_min(transform({base_attr}, b -> xxhash64({i}, b)))"
        for i in range(num_hashes)
    )
    return F.expr(f"array({parts})")


def minhash_signature_from_shingles(shingles: Column, num_hashes: int = 64) -> Column:
    """Array of ``num_hashes`` min-over-shingles hash values, straight
    from a shingle-array column. Convenience/test form: the inline
    base array is re-evaluated per seed transform; the hot path
    (``minhash_near_duplicates``) materializes the base hashes as a
    column and uses ``_seed_minima_expr`` instead.
    """
    base = F.transform(shingles, lambda s: F.xxhash64(s))

    # CAUTION: the per-seed lambda must take exactly ONE parameter.
    # PySpark dispatches higher-order-function lambdas by arity: a
    # 2-arg lambda is called as (element, index), so the old
    # ``lambda b, i=i: xxhash64(lit(i), b)`` had its seed default
    # silently replaced by the array-index Column — collapsing all
    # ``num_hashes`` functions into ONE position-sensitive hash and
    # destroying the signature (caught by the r2 ground-truth sweep;
    # pinned in tests/test_operators.py::test_minhash_seed_family).
    def _seed_min(seed: int) -> Column:
        return F.array_min(F.transform(base, lambda b: F.xxhash64(F.lit(seed), b)))

    return F.array(*[_seed_min(i) for i in range(num_hashes)])


def _band_hashes_expr(sig_attr: str, bands: int, rows: int) -> Column:
    """Array of one hash per band (band b = rows [b*rows, (b+1)*rows)).

    xxhash64 is variadic over the raw int64 signature slots — no string
    concat/cast per band (band hashes never cross engines, so they
    don't need a portable text form; the LSH oracle is ground-truth
    all-pairs Jaccard, independent of the banding hash family).
    Single ``F.expr`` parse over a named signature column for the same
    py4j plan-build reason as ``_seed_minima_expr``.
    """
    parts = ",".join(
        "xxhash64({},{})".format(
            b,
            ",".join(
                f"element_at({sig_attr}, {b * rows + r + 1})" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return F.expr(f"array({parts})")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays.

    Single array_intersect evaluation (|A∪B| = |A|+|B|-|A∩B|).
    Edge contract (pinned by tests/test_operators.py): two EMPTY sets
    are identical documents -> 1.0, not null (0/0). One-empty pairs
    fall out as 0.0 from the formula.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    LSH recall: with 16 bands x 4 rows, pairs at J=0.7 collide in at
    least one band w.p. ~0.975. Candidates are verified with exact
    Jaccard on the shingle sets, so precision is exact.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands

    # three explicit projections: tokenize -> shingle -> sign. Each
    # lambda then only indexes a materialized array attribute (see
    # shingles_from_tokens performance contract). The signature stage is
    # pure per-row CPU — widen() first so a coarse-split source (single
    # row group -> one task) doesn't serialize it.
    sigs = (
        widen(df, id_col).select(
            F.col(id_col).alias("doc_id"),
            tokens(normalize_text(F.col(text_col))).alias("toks"),
        )
        .select(
            "doc_id",
            F.array_distinct(
                shingles_from_tokens(F.col("toks"), shingle_size)
            ).alias("shingles"),
        )
        .withColumn(
            "__mh_base",
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s)),
        )
        .withColumn("sig", _seed_minima_expr("__mh_base", num_hashes))
        .select("doc_id", "shingles", "sig")
    )
    buckets = sigs.select(
        "doc_id",
        F.posexplode(_band_hashes_expr("sig", bands, rows)).alias("band", "band_hash"),
    )
    # candidate pairs: docs sharing any (band, band_hash) bucket — via
    # one groupBy + in-bucket pair expansion (single shuffle of compact
    # (id, band_hash) rows; ~35% faster than the bucket self-join).
    candidates = _bucket_pairs(buckets, ["band", "band_hash"])
    sh = sigs.select("doc_id", "shingles")
    verified = (
        candidates.join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ------------------------------------------------------------- SimHash

PORTABLE_SIMHASH_BITS = 60


def simhash_portable(text: Column) -> Column:
    """60-bit SimHash over distinct normalized whitespace tokens, unit
    weights, whose token hash is md5-derived — bit-identical across
    engines (md5 is standardized; xxhash64 seeds/variants are not), so
    an external SQL engine can recompute the signature for
    cross-engine verification. 15 hex digits = 60 bits keeps the value
    inside a signed int64 in every engine.

    Per bit position: sum of (+1/-1); signature bit j set iff the sum
    is positive. Entirely array/bit expressions.
    """
    hashes = F.transform(
        F.array_distinct(F.split(normalize_text(text), r"\s+")),
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    n_bits = PORTABLE_SIMHASH_BITS
    # bit_sums[j] = sum over tokens of (bit j of hash ? 1 : -1).
    # bit_get accepts a Column position (shiftright does not).
    bit_sums = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bits - 1)),
                lambda j: F.bit_get(h, j) * 2 - 1,
            ),
            lambda x, y: x + y.cast("long"),
        ),
    )
    # fold positive-sum bits into one int64; bit positions are disjoint
    # so plain addition assembles the signature
    powers = F.array(*[F.lit(1 << j).cast("long") for j in range(n_bits)])
    signed = F.zip_with(
        bit_sums, powers, lambda s, p: F.when(s > 0, p).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(signed, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 8,
) -> DataFrame:
    """Pairs with hamming(simhash_a, simhash_b) <= max_hamming over the
    md5-derived ``simhash_portable`` signature.

    Blocking: the signature split into 4 equal bands; by pigeonhole
    any pair at hamming <= 3 shares an exact band — so with
    ``max_hamming <= 3`` the banded output is EXACTLY the all-pairs
    result (zero false negatives, a deterministic set). At the default
    8 most near-pairs still collide in >=1 band but recall < 1.
    Verify is ``bit_count(xor)`` on the full signature.
    """
    band_bits = PORTABLE_SIMHASH_BITS // 4
    mask = (1 << band_bits) - 1
    sigs = widen(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        simhash_portable(F.col(text_col)).alias("simhash"),
    )
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), band_bits * b)
                    .bitwiseAND(F.lit(mask))
                    .alias(f"b{b}")
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    candidates = _bucket_pairs(banded, ["band", "band_val"])
    s = sigs
    return (
        candidates.join(
            s.withColumnRenamed("doc_id", "id_a").withColumnRenamed("simhash", "sh_a"),
            "id_a",
        )
        .join(
            s.withColumnRenamed("doc_id", "id_b").withColumnRenamed("simhash", "sh_b"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------- n-gram Jaccard (blocked)

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    shingle_size: int = 3,
    threshold: float = 0.5,
    with_counts: bool = False,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold via prefix filtering
    (the PPJoin candidate-generation principle).

    Shingle sets are hashed to int64 and canonically sorted; each doc
    exposes only its ``|X| - ceil(t*|X|) + 1`` smallest hashes. Any
    pair with J >= t has overlap >= ceil(t*max(|A|,|B|)), so the two
    prefixes must share an element — candidates are exactly the pairs
    sharing a prefix hash (plus equal ``block_cols``), with NO false
    negatives. Cheap size-ratio pruning (J <= min/max sizes) runs
    before the exact verify.

    Two-stage verify (r2): candidates are first scored with Jaccard
    over the int64 HASH arrays (8 bytes/element on the wire instead of
    ~25-byte shingle strings, and long intersects are far cheaper than
    string intersects) with a 0.05 safety margin below the threshold;
    only survivors fetch the string shingle arrays for the exact final
    Jaccard. Hash collisions can only merge set elements, which never
    lowers the hash-Jaccard below string-Jaccard by more than the
    margin in practice — and the FINAL filter is always the exact
    string-set Jaccard, so the output contract is unchanged. On the
    sf0.1 fixture this cuts the verify stage roughly in half (431k
    candidates -> ~6k string verifications).

    Multi-prefix count filter (r3): the r2 funnel still sent every
    pair sharing ONE prefix hash into the array-intersect verify, and
    on a dense shingle domain (fixed small vocabulary — exactly the
    regime a 10x scale-up of the synthetic corpus lands in) those
    one-collision pairs grow quadratically: the sf1 sweep measured
    20.8M verify pairs for 50k true pairs (exp 1.36). Fix is the
    k-prefix generalization (the mpjoin/adaptive-prefix family):
    extend each prefix by one element (n - ceil(t*n) + 2) and require
    candidates to share >= 2 prefix hashes whenever the pair-level
    required overlap is >= 2. Exactness proof: let o =
    ceil(t*max(|A|,|B|)). J >= t implies |A∩B| >= t/(1+t)(|A|+|B|)
    >= o (size-ratio filter gives the last step), and both prefixes
    have length >= n - o + 2. If the prefixes shared <= 1 element,
    then (sorted arrays) every shared element smaller than the larger
    prefix-max lies in BOTH prefixes (<= 1 of them), and shared
    elements beyond a prefix number <= o - 2 — total <= o - 1 < o,
    contradiction. Pairs with o < 2 (tiny docs) keep the single-share
    requirement. The same groupBy also tightens the positional ubound
    with the count: overlap <= c + min(|A|-1-pa_max, |B|-1-pb_max)
    (every shared element below the largest shared prefix hash is
    already counted in c). Measured at sf1: verify pairs 20.8M ->
    1.77M (11.7x) for +3% candidate-generation rows.
    """
    base = widen(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in block_cols],
        tokens(normalize_text(F.col(text_col))).alias("toks"),
    ).select(
        "doc_id",
        *block_cols,
        F.array_distinct(
            shingles_from_tokens(F.col("toks"), shingle_size)
        ).alias("shingles"),
    )
    hashed = base.select(
        "doc_id",
        *block_cols,
        "shingles",
        F.array_sort(
            F.array_distinct(F.transform(F.col("shingles"), lambda s: F.xxhash64(s)))
        ).alias("hs"),
    ).withColumn("n_sh", F.size("hs"))
    # r12 note: `hashed` feeds EIGHT plan branches (both prefix
    # sides, the global freq table, and the a/b sides of the two
    # verify stages — 32 parquet scans in the r12 before-pin). A
    # localCheckpoint here was TRIED and REJECTED: measured A/B
    # (same session, min-of-3) read 2.84s vs 2.87s on
    # dedup_ngram_jaccard_pairs and 6.20s vs 5.66s on
    # dedup_method_agreement — the branches recompute in PARALLEL
    # inside broadcast stages, while the checkpoint adds a serial
    # materialization barrier. At cluster scale the 8x recompute is
    # 8 scans of the corpus; revisit with a disk-backed persist if
    # scans dominate there.
    # Document-frequency canonical order for the PREFIXES (PPJoin's
    # df-ordering, r4): r3 ordered prefixes by hash VALUE, so every
    # doc's prefix held the globally-smallest hashes it possessed — on
    # a saturating shingle domain (fixed vocabulary, exactly the
    # 10x-synthetic regime) the popular small hashes land in ~every
    # prefix and their buckets grow linearly with corpus size, making
    # the bucket self-join quadratic (the measured exp-1.09 residual).
    # Ordering each doc's hashes by ASCENDING GLOBAL FREQUENCY (ties
    # by hash value — a total order) puts the RAREST shingles in
    # prefixes instead: bucket sizes track shingle rarity, not corpus
    # size, so candidate generation stays near-linear as the domain
    # saturates. The candidate filters (prefix-share, k=2 count,
    # positional ubound) only require SOME shared global total order,
    # so their proofs are unchanged — pos is the rank in (f, h) order.
    # The verify stages use set semantics and keep the cheap per-row
    # value-sorted arrays above; only prefix construction pays the
    # freq shuffle. The freq table is vocabulary-sized (shrinks
    # relative to corpus under saturation) and AQE broadcasts it.
    #
    # k=2 multi-prefix: one extra element buys the shared-count filter.
    # Same 1e-9 guard as alpha/o_req below: if the double product rounds
    # strictly above an exact-integer t*n the unguarded ceil would shorten
    # the prefix by one while o_req keeps the tighter bound — a recall
    # hole. The slack means float rounding can only LENGTHEN the prefix.
    prefix_len = F.greatest(
        (
            F.col("n_sh")
            - F.ceil(F.lit(float(threshold)) * F.col("n_sh") - F.lit(1e-9))
            + 2
        ).cast("int"),
        F.lit(1),
    )
    ex = hashed.select(
        "doc_id", *block_cols, "n_sh", F.explode("hs").alias("h")
    )
    freq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
    by_rarity = Window.partitionBy("doc_id").orderBy("f", "h")
    prefixes = (
        ex.join(freq, "h")
        .withColumn("pos", F.row_number().over(by_rarity) - F.lit(1))
        .filter(F.col("pos") < prefix_len)
        .select("doc_id", *block_cols, "n_sh", "pos", F.col("h").alias("ph"))
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cond = (F.col("a.ph") == F.col("b.ph")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    # size-ratio bound: J <= min(|A|,|B|)/max(|A|,|B|)
    cond = cond & (
        F.least(F.col("a.n_sh"), F.col("b.n_sh"))
        >= F.lit(float(threshold)) * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    matched = a.join(b, cond).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.col("a.n_sh").alias("na"),
        F.col("b.n_sh").alias("nb"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    # POSITIONAL filter (PPJoin's ubound): arrays are canonically
    # sorted, so for the SMALLEST shared prefix hash (positions pa, pb)
    # no shared element precedes it in either array; overlap is then
    # at most 1 + min(|A|-1-pa, |B|-1-pb). The max over matches of
    # min(|A|-1-pa, |B|-1-pb) is attained exactly at that minimal
    # match, so the groupBy-max computes the valid bound — provably no
    # false negatives. J >= t requires overlap >= t/(1+t)*(|A|+|B|);
    # the 1e-9 slack guards float rounding at exact boundaries (extra
    # candidates are harmless — the final verify is exact). At sf0.1
    # this halves the candidate set (431k -> 213k) AND replaces the
    # distinct() with a cheaper aggregate.
    alpha = F.lit(float(threshold) / (1.0 + float(threshold))) * (
        F.col("na") + F.col("nb")
    ) - F.lit(1e-9)
    # pair-level required overlap o = ceil(t * max(na, nb)); when o >= 2
    # the k=2 prefixes must share >= 2 hashes (proof in the docstring)
    o_req = F.ceil(
        F.lit(float(threshold)) * F.greatest(F.col("na"), F.col("nb"))
        - F.lit(1e-9)
    )
    candidates = (
        matched.groupBy("id_a", "id_b", "na", "nb")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max(
                F.least(F.col("na") - 1 - F.col("pa"), F.col("nb") - 1 - F.col("pb"))
            ).alias("m"),
            F.max("pa").alias("pa_max"),
            F.max("pb").alias("pb_max"),
        )
        .filter(F.col("m") + 1 >= alpha)
        .filter(F.col("c") >= F.when(o_req >= 2, F.lit(2)).otherwise(F.lit(1)))
        # count-aware ubound: shared elements below the largest shared
        # prefix hash are all counted in c already
        .filter(
            F.col("c")
            + F.least(
                F.col("na") - 1 - F.col("pa_max"),
                F.col("nb") - 1 - F.col("pb_max"),
            )
            >= alpha
        )
        .select("id_a", "id_b")
    )
    # stage 1: cheap hash-array Jaccard with a safety margin
    hsets = hashed.select("doc_id", "hs")
    pre = (
        candidates.join(
            hsets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("hs", "h_a"),
            "id_a",
        )
        .join(
            hsets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("hs", "h_b"),
            "id_b",
        )
        .filter(jaccard(F.col("h_a"), F.col("h_b")) >= threshold - 0.05)
        .select("id_a", "id_b")
    )
    # stage 2: exact string-set Jaccard on the survivors only
    sh = hashed.select("doc_id", "shingles")
    return (
        pre.join(
            sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("shingles", "sh_a"),
            "id_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("shingles", "sh_b"),
            "id_b",
        )
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint"),
        )
        .withColumn(
            "n_union",
            (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")).cast(
                "bigint"
            ),
        )
        .select(
            "id_a",
            "id_b",
            "jaccard",
            *(["n_inter", "n_union"] if with_counts else []),
        )
    )
