"""Semantic invariants for the wave 108-124 operators.

Oracle parity proves Spark == DuckDB; these tests prove both match
the MATH — closed-form identities and dominance properties the
implementations must satisfy regardless of data.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aws_healthcare_etl_pipeline_spark.plans import REGISTRY


def _rows(spark, sf_dir, name):
    return REGISTRY[name].fn(spark, sf_dir).collect()


def test_permutation_test_enumerates_choose_16_8(spark, sf_dir):
    """p_den must be exactly C(16,8): the mask filter kept every
    8-treated assignment and nothing else."""
    [r] = _rows(spark, sf_dir, "stat_exact_permutation_pvalue")
    assert r.p_den == math.comb(16, 8) == 12870
    assert 0 <= r.p_num <= r.p_den
    # the observed assignment is itself one of the enumerated masks,
    # so the exact p-value can never be 0
    assert r.p_num >= 1


def test_dtw_never_exceeds_l1(spark, sf_dir):
    """The identity alignment is one admissible warping path, so
    DTW <= L1 for every year pair."""
    for r in _rows(spark, sf_dir, "timeseries_dtw_monthly"):
        assert r.dtw_cents <= r.l1_cents, r
        assert r.dtw_cents >= 0


def test_erlang_blocking_strictly_decreases(spark, sf_dir):
    """Adding a server can only reduce blocking; ppm quantization
    preserves monotone non-increase."""
    rows = _rows(spark, sf_dir, "ops_erlang_b_blocking")
    assert [r.s for r in rows] == list(range(1, 17))
    for a, b in zip(rows, rows[1:]):
        assert b.blocking_ppm <= a.blocking_ppm, (a, b)
    assert rows[0].blocking_ppm < 1_000_000


def test_newsvendor_quantile_dominates_mean(spark, sf_dir):
    """q* minimizes expected newsvendor cost over integer stocks,
    so it must not lose to mean-stocking on the same histogram."""
    for r in _rows(spark, sf_dir, "inventory_newsvendor_quantile"):
        assert r.cost_at_qstar <= r.cost_at_mean, r


def test_bh_rejections_form_prefix(spark, sf_dir):
    """BH rejects exactly the hypotheses ranked 1..k_max in p-order:
    the rejected set must be a prefix of bh_rank."""
    rows = _rows(spark, sf_dir, "stats_benjamini_hochberg_fdr")
    rejected_ranks = sorted(r.bh_rank for r in rows if r.rejected == 1)
    assert rejected_ranks == list(range(1, len(rejected_ranks) + 1))


def test_markov_stationary_mass_conserved_up_to_truncation(
    spark, sf_dir
):
    """Each power step loses < k ppm to per-term truncation; after
    16 steps total mass stays within 16*k ppm of 1e6 (and the v0
    rounding of 1e6 div k)."""
    rows = _rows(spark, sf_dir, "events_markov_stationary_power")
    k = len(rows)
    total = sum(r.stationary_ppm for r in rows)
    # dominant loss: each P row's milli-quantization drops up to
    # (k-1)/1000 of its mass PER STEP -> geometric envelope; add
    # per-term ppm truncation and the v0 rounding
    floor_mass = int(1_000_000 * ((1000 - (k - 1)) / 1000) ** 16)
    slack = 16 * k * k + k
    assert floor_mass - slack <= total <= 1_000_000, (total, floor_mass)
    emp = sum(r.empirical_ppm for r in rows)
    assert 1_000_000 - k <= emp <= 1_000_000


def test_betweenness_known_path_graph(spark, sf_dir):
    """On the path graph 0-1-2-3 the interior nodes carry known
    betweenness: sigma-based shares for node 1 are the ordered
    pairs (0,2),(2,0),(0,3),(3,0) -> 4 * 1000 permille; same for
    node 2; endpoints carry 0. Drives the production BFS
    (``analytics86._bfs_all_pairs``) and the same identity as the
    production query via a stub edge frame."""
    from aws_healthcare_etl_pipeline_spark.plans import analytics86

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "u long, v long"
    )
    reach = analytics86._bfs_all_pairs(edges)[2]
    r1 = reach.selectExpr("s", "v AS m", "dist AS d1", "sigma AS g1")
    r2 = reach.selectExpr("s AS m", "v AS t", "dist AS d2", "sigma AS g2")
    r3 = reach.selectExpr("s", "v AS t", "dist AS d3", "sigma AS g3")
    bc = (
        r1.join(r2, "m")
        .join(r3, ["s", "t"])
        .where(
            (F.col("s") != F.col("m"))
            & (F.col("m") != F.col("t"))
            & (F.col("s") != F.col("t"))
            & (F.col("d1") + F.col("d2") == F.col("d3"))
        )
        .groupBy("m")
        .agg(
            F.sum(F.expr("(g1 * g2 * 1000) div g3"))
            .cast("long")
            .alias("b")
        )
    )
    got = {r.m: r.b for r in bc.collect()}
    assert got == {1: 4000, 2: 4000}, got


def test_evalset_curve_nested_and_converging_endpoint(spark, sf_dir):
    """The 16/16 point IS the full population: deviation 0; subset
    sizes must be strictly increasing (nesting)."""
    rows = _rows(spark, sf_dir, "ml_evalset_sizing_curve")
    assert rows[-1].sixteenths == 16
    assert rows[-1].abs_dev_permille == 0
    sizes = [r.n_eval for r in rows]
    assert sizes == sorted(sizes) and len(set(sizes)) == len(sizes)


def test_jackknife_se_positive_and_theta_bracketed(spark, sf_dir):
    [r] = _rows(spark, sf_dir, "stats_jackknife_ratio_variance")
    assert r.jk_se_cents >= 0
    # leave-one-out mean stays within a few SE of the plug-in theta
    assert abs(r.jk_mean_cents - r.theta_cents) <= max(
        10 * r.jk_se_cents, 100
    )


def test_roc_sweep_monotone_tradeoffs(spark, sf_dir):
    """As the threshold rises, recall (tp) can only fall and tn can
    only rise — the defining ROC monotonicity."""
    rows = _rows(spark, sf_dir, "ml_roc_threshold_sweep")
    for a, b in zip(rows, rows[1:]):
        assert b.threshold_cents > a.threshold_cents
        assert b.tp <= a.tp
        assert b.tn >= a.tn
        assert a.tp + a.fn == b.tp + b.fn  # P constant
        assert a.fp + a.tn == b.fp + b.tn  # N constant
