"""Wave-108 (round 5): CUPED experiment adjustment + lattice geofencing.

* ``experiment_cuped_variance_reduction`` — the industry-standard
  pre-experiment covariate adjustment (CUPED): per-customer 1996
  spend (metric y) adjusted by 1995 spend (covariate x) with
  theta = cov(x,y)/var(x). All five moment sums are EXACT
  DECIMAL(38) integers in cents; theta and the achieved variance
  reduction rho^2 come out of one VARCHAR-routed int->double
  conversion each (the portability rule for >2^53 integers), so the
  engines agree bit-for-bit. Reports the raw and CUPED-adjusted
  treated-vs-control gap under a deterministic md5 arm split.
* ``geo_point_in_polygon_winding`` — geofence hit-counting with
  ZERO floating point: users map to a 1024x1024 integer lattice via
  md5, three convex fences are literal vertex lists, and
  point-in-polygon is the all-edges integer cross-product test —
  the same literal predicate text compiled by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex8, query, sql_hex8

# ------------------------------------------------------- CUPED


# VARCHAR-routed DECIMAL(38)->DOUBLE (portable above 2^53)
_D = "CAST(CAST({x} AS VARCHAR) AS DOUBLE)"


@query(
    "experiment_cuped_variance_reduction",
    oracle=f"""
        WITH units AS (
            SELECT c.c_custkey AS k,
                   {sql_hex8("'arm:' || CAST(c.c_custkey AS VARCHAR)")} % 2
                       AS arm,
                   CAST(COALESCE(SUM(CASE
                       WHEN EXTRACT(year FROM o.o_orderdate) = 1995
                       THEN CAST(o.o_totalprice AS DECIMAL(15,2)) * 100
                       END), 0) AS BIGINT) AS x,
                   CAST(COALESCE(SUM(CASE
                       WHEN EXTRACT(year FROM o.o_orderdate) = 1996
                       THEN CAST(o.o_totalprice AS DECIMAL(15,2)) * 100
                       END), 0) AS BIGINT) AS y
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        ), mom AS (
            SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                       AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
                       AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
                       AS syy
            FROM units
        ), arms AS (
            SELECT CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS nt,
                   CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS nc,
                   CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
                       AS sxt,
                   CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT)
                       AS sxc,
                   CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
                       AS syt,
                   CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
                       AS syc
            FROM units
        ), frac AS (
            SELECT nt, nc, sxt, sxc, syt, syc,
                   CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS cnum,
                   CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS cdenx,
                   CAST(n * syy - sy * sy AS DECIMAL(38,0)) AS cdeny
            FROM mom CROSS JOIN arms
        )
        SELECT nt, nc,
               {_D.format(x="cnum")} / {_D.format(x="cdenx")} AS theta,
               (CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                   AS raw_diff_cents,
               ((CAST(syt AS DOUBLE) / CAST(nt AS DOUBLE)
                 - CAST(syc AS DOUBLE) / CAST(nc AS DOUBLE))
                - ({_D.format(x="cnum")} / {_D.format(x="cdenx")})
                  * (CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)
                     - CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE)))
                   AS adj_diff_cents,
               CAST(FLOOR(({_D.format(x="cnum")} * {_D.format(x="cnum")}
                           * 1000.0)
                          / ({_D.format(x="cdenx")}
                             * {_D.format(x="cdeny")})) AS BIGINT)
                   AS rho2_permille
        FROM frac
    """,
    description="CUPED variance reduction on a deterministic md5 "
    "arm split: per-customer 1996 spend (metric) adjusted by 1995 "
    "spend (pre-period covariate), theta = cov/var from five moment "
    "sums carried as EXACT DECIMAL(38) cent integers — the only "
    "doubles are VARCHAR-routed conversions of those exact integers "
    "(the >2^53 portability rule) and identical-tree divisions, so "
    "theta, both arm gaps, and the achieved variance-reduction "
    "rho^2 (permille, floored) hash identically across engines. "
    "This is THE production A/B pattern: at 100 TB the unit table "
    "is one customer-grain aggregate off the orders fact (partial "
    "aggs do the heavy lifting), the moments are a single scalar "
    "row, and the same exact-moment machinery retargets any "
    "metric/covariate pair. rho^2 here quantifies how much "
    "experiment runtime the covariate buys back.",
)
def experiment_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(15,2)") * 100)
    units = (
        customer.join(
            orders, orders.o_custkey == customer.c_custkey, "left"
        )
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.year("o_orderdate") == 1995, cents)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(F.year("o_orderdate") == 1996, cents)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            (
                hex8(
                    F.concat(
                        F.lit("arm:"), F.col("c_custkey").cast("string")
                    )
                )
                % 2
            ).alias("arm"),
            "x",
            "y",
        )
        .localCheckpoint(eager=False)  # feeds mom AND arms
    )
    d38 = "decimal(38,0)"
    mom = units.agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum("x").cast(d38).alias("sx"),
        F.sum("y").cast(d38).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).cast(d38).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).cast(d38).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).cast(d38).alias("syy"),
    )
    arms = units.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nt"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("nc"),
        F.sum(F.when(F.col("arm") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxt"),
        F.sum(F.when(F.col("arm") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxc"),
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("syt"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("syc"),
    )
    frac = mom.crossJoin(F.broadcast(arms)).select(
        "nt",
        "nc",
        "sxt",
        "sxc",
        "syt",
        "syc",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast(d38)
        .alias("cnum"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast(d38)
        .alias("cdenx"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast(d38)
        .alias("cdeny"),
    )
    dnum = F.col("cnum").cast("string").cast("double")
    ddenx = F.col("cdenx").cast("string").cast("double")
    ddeny = F.col("cdeny").cast("string").cast("double")
    raw = F.col("syt").cast("double") / F.col("nt").cast("double") - F.col(
        "syc"
    ).cast("double") / F.col("nc").cast("double")
    xgap = F.col("sxt").cast("double") / F.col("nt").cast("double") - F.col(
        "sxc"
    ).cast("double") / F.col("nc").cast("double")
    return frac.select(
        "nt",
        "nc",
        (dnum / ddenx).alias("theta"),
        raw.alias("raw_diff_cents"),
        (raw - (dnum / ddenx) * xgap).alias("adj_diff_cents"),
        F.floor((dnum * dnum * F.lit(1000.0)) / (ddenx * ddeny))
        .cast("long")
        .alias("rho2_permille"),
    )


# ------------------------------------- point-in-polygon winding

_LAT = 1024  # lattice width

# convex fences, vertices counter-clockwise on the 1024x1024 lattice
_FENCES = (
    ("triangle_nw", ((64, 512), (448, 960), (64, 960))),
    ("diamond_center", ((512, 256), (768, 512), (512, 768), (256, 512))),
    ("hex_se", ((640, 64), (896, 64), (960, 192), (896, 320), (640, 320),
                (576, 192))),
)


def _inside_expr(verts: tuple[tuple[int, int], ...]) -> str:
    """All-edges CCW cross-product test as literal SQL (both engines)."""
    conds = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        conds.append(
            f"(({x2 - x1}) * (py - {y1}) - ({y2 - y1}) * (px - {x1}) >= 0)"
        )
    return "(" + " AND ".join(conds) + ")"


def _pip_oracle() -> str:
    rows = []
    for name, verts in _FENCES:
        rows.append(f"""
            SELECT '{name}' AS fence,
                   CAST(SUM(CASE WHEN {_inside_expr(verts)} THEN 1 ELSE 0
                            END) AS BIGINT) AS users_inside,
                   CAST(SUM(CASE WHEN {_inside_expr(verts)} THEN ne ELSE 0
                            END) AS BIGINT) AS events_inside,
                   CAST((SUM(CASE WHEN {_inside_expr(verts)} THEN 1 ELSE 0
                             END) * 1000) // COUNT(*) AS BIGINT)
                       AS coverage_permille
            FROM pts
        """)
        # one aggregate per fence keeps each predicate a single literal
    body = " UNION ALL ".join(rows)
    return f"""
        WITH pts AS (
            SELECT user_id,
                   {sql_hex8("'px:' || CAST(user_id AS VARCHAR)")}
                       % {_LAT} AS px,
                   {sql_hex8("'py:' || CAST(user_id AS VARCHAR)")}
                       % {_LAT} AS py,
                   CAST(COUNT(*) AS BIGINT) AS ne
            FROM events GROUP BY user_id
        )
        SELECT * FROM ({body}) ORDER BY fence
    """


@query(
    "geo_point_in_polygon_winding",
    oracle=_pip_oracle(),
    description="Geofence hit-counting with zero floating point: "
    "each user maps to a 1024x1024 integer lattice point (md5-"
    "derived, engine-identical), three convex fences are literal "
    "CCW vertex lists, and membership is the all-edges integer "
    "cross-product sign test — the identical predicate TEXT is "
    "compiled by both engines, so counts hash exactly. Reports "
    "users inside, event-weighted hits, and lattice coverage per "
    "fence. The 100 TB shape: classification is a narrow user-grain "
    "aggregate then a handful of branch-free integer predicates "
    "(no UDF, no geometry library, fully codegen'd); production "
    "would pre-filter by the bounding-box/grid-cell index this repo "
    "ships in the geo_grid family before running the exact test.",
)
def geo_point_in_polygon_winding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pts = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("ne")
    ).select(
        (
            hex8(F.concat(F.lit("px:"), F.col("user_id").cast("string")))
            % _LAT
        ).alias("px"),
        (
            hex8(F.concat(F.lit("py:"), F.col("user_id").cast("string")))
            % _LAT
        ).alias("py"),
        "ne",
    ).localCheckpoint(eager=False)  # feeds one aggregate per fence
    out = None
    for name, verts in _FENCES:
        inside = F.expr(_inside_expr(verts))
        row = pts.agg(
            F.sum(F.when(inside, 1).otherwise(0))
            .cast("long")
            .alias("users_inside"),
            F.sum(F.when(inside, F.col("ne")).otherwise(0))
            .cast("long")
            .alias("events_inside"),
            F.expr(
                f"CAST((SUM(CASE WHEN {_inside_expr(verts)} THEN 1 ELSE 0"
                " END) * 1000) div COUNT(*) AS LONG)"
            ).alias("coverage_permille"),
        ).select(
            F.lit(name).alias("fence"),
            "users_inside",
            "events_inside",
            "coverage_permille",
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("fence")
