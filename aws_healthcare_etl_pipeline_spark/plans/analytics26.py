"""Wave-52 (round 5): graph traversal + spatial blocking — two join
shapes Spark has no native operator for, each decomposed into
shuffle-safe primitives and proven against the textbook oracle.

* ``graph_bfs_reachability_khop`` — multi-source BFS as iterative
  frontier joins (the Pregel shape) vs a DuckDB ``WITH RECURSIVE``
  path-enumeration oracle. The hash match proves the frontier/visited
  anti-join computes exact min-hop distances.
* ``geo_grid_radius_join`` — fixed-radius pair join via grid-cell
  blocking (cell size = radius, 9-cell neighbor expansion) vs the
  brute-force all-pairs oracle. The hash match proves the blocking is
  lossless; the Spark plan never materializes the quadratic pair space.

Portability follows plans/registry.py: md5 is the only cross-engine
hash; all arithmetic stays in integer domains (squared distances, no
sqrt needed); integer division via Spark ``div`` / DuckDB ``//``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import query, sql_hex4

# ------------------------------------------------ BFS k-hop reachability

_BFS_MAX_HOP = 3
_SEED_MOD = 5  # s_suppkey % 5 == 0 -> multi-source seed set
_PART_MOD = 50  # sparsify: only parts with p % 50 == 0 contribute an edge


def _bfs_edges_sql() -> str:
    """Undirected supplier adjacency: per selected part, the two
    suppliers with the smallest md5(part:supp) draw (unique hashes ->
    deterministic), emitted in both directions."""
    return f"""
        ps AS (
            SELECT DISTINCT l_partkey AS p, l_suppkey AS s
            FROM lineitem WHERE l_partkey % {_PART_MOD} = 0
        ),
        ranked AS (
            SELECT p, s,
                   row_number() OVER (
                       PARTITION BY p
                       ORDER BY md5(CAST(p AS VARCHAR) || ':' || CAST(s AS VARCHAR))
                   ) AS rn
            FROM ps
        ),
        pairs AS (
            SELECT p,
                   MAX(CASE WHEN rn = 1 THEN s END) AS a,
                   MAX(CASE WHEN rn = 2 THEN s END) AS b
            FROM ranked WHERE rn <= 2
            GROUP BY p
            HAVING COUNT(*) = 2
        ),
        edges AS (
            SELECT DISTINCT a AS src, b AS dst FROM pairs
            UNION
            SELECT DISTINCT b AS src, a AS dst FROM pairs
        )
    """


@query(
    "graph_bfs_reachability_khop",
    oracle=f"""
        WITH RECURSIVE
        {_bfs_edges_sql()},
        reach(node, hop) AS (
            SELECT s_suppkey AS node, 0 AS hop
            FROM supplier WHERE s_suppkey % {_SEED_MOD} = 0
            UNION ALL
            SELECT e.dst AS node, r.hop + 1 AS hop
            FROM reach r JOIN edges e ON e.src = r.node
            WHERE r.hop < {_BFS_MAX_HOP}
        )
        SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
        FROM reach GROUP BY node ORDER BY node
    """,
    description="Multi-source BFS reachability to 3 hops over a "
    "supplier adjacency graph (per selected part, the two suppliers "
    "with the smallest md5 draw form an edge — a deterministic sparse "
    "graph). Spark side is the Pregel/GraphFrames shape: per round ONE "
    "frontier-to-edges equi-join plus an anti-join against the visited "
    "set, localCheckpoint flattening lineage — never path enumeration, "
    "so per-round cost is O(frontier boundary), not O(paths). The "
    "oracle enumerates ALL paths <= 3 hops with WITH RECURSIVE and "
    "takes MIN(hop); the hash match proves frontier BFS computes exact "
    "min-hop distances. At 100 TB the edge list is hash-partitioned on "
    "src and reused across rounds (one shuffle, amortized); the "
    "visited set stays node-cardinality, and round count bounds total "
    "work at k scans — the recursive oracle would explode "
    "combinatorially at that scale, which is exactly why the frontier "
    "decomposition is the production shape.",
)
def graph_bfs_reachability_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")

    ps = (
        li.filter(F.col("l_partkey") % _PART_MOD == 0)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .withColumn(
            "h",
            F.md5(F.concat(F.col("p").cast("string"), F.lit(":"), F.col("s").cast("string"))),
        )
    )
    # two smallest md5 draws per part; hashes are unique so min_by and
    # the second-pass min_by are deterministic
    first = ps.groupBy("p").agg(F.min_by("s", "h").alias("a"), F.min("h").alias("h1"))
    second = (
        ps.join(first, "p")
        .filter(F.col("h") > F.col("h1"))
        .groupBy("p")
        .agg(F.min_by("s", "h").alias("b"))
    )
    pairs = first.join(second, "p").select("a", "b")
    edges = (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)  # reused every round: cut lineage once
    )

    frontier = (
        sup.filter(F.col("s_suppkey") % _SEED_MOD == 0)
        .select(F.col("s_suppkey").alias("node"))
        .withColumn("hop", F.lit(0).cast("long"))
    )
    visited = frontier
    for hop in range(1, _BFS_MAX_HOP + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(hop).cast("long"))
        )
        visited = visited.union(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.orderBy("node")


# ------------------------------------------------ grid-blocked radius join

_GEO_R = 128  # radius; cell size == radius -> 9-cell neighborhood
_GEO_R2 = _GEO_R * _GEO_R
_BANDS = 8  # dist2 // (R2/8) -> bands 0..8 (8 only at dist2 == R2)
# Constant-density world: the lattice width scales with point count
# (W ~ 16*sqrt(N), snapped to a power-of-two ladder) so points-per-cell
# stays bounded and the radius join stays O(N), not O(N^2). A fixed
# world under growing N is the classic spatial-join scale bug: density
# rises linearly, TRUE qualifying pairs rise quadratically (measured:
# sf0.1->sf1 exponent 1.93 before this ladder). The ladder is integer
# CASE logic — portable, no log2 — and keeps W=2048 for N<=20k so
# small-SF results are unchanged. 16-bit md5 coordinates cap the
# ladder at W=65536 (density grows again past N~5M; extend the hex
# draw to 6 nibbles if that regime is ever real).
_GEO_LADDER = [
    (20_000, 2048),
    (80_000, 4096),
    (320_000, 8192),
    (1_280_000, 16384),
    (5_120_000, 32768),
]
_GEO_W_MAX = 65536
_CELL_PACK = 1 << 20  # cell-key packing; > max cells per axis at W_MAX


def _geo_w_sql() -> str:
    cases = " ".join(
        f"WHEN n <= {lim} THEN {w}" for lim, w in _GEO_LADDER
    )
    return (
        f"(SELECT CASE {cases} ELSE {_GEO_W_MAX} END AS w FROM "
        f"(SELECT COUNT(*) AS n FROM customer))"
    )


@query(
    "geo_grid_radius_join",
    oracle=f"""
        WITH wsel AS {_geo_w_sql()}, pts AS (
            SELECT c_custkey AS id,
                   ({sql_hex4("'x:' || CAST(c_custkey AS VARCHAR)")}) % w.w AS x,
                   ({sql_hex4("'y:' || CAST(c_custkey AS VARCHAR)")}) % w.w AS y
            FROM customer, wsel w
        ),
        pairs AS (
            SELECT (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
            FROM pts a JOIN pts b
              ON a.id < b.id
             AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_GEO_R2}
        )
        SELECT CAST(dist2 // {_GEO_R2 // _BANDS} AS BIGINT) AS band,
               CAST(COUNT(*) AS BIGINT) AS pair_count,
               CAST(MIN(dist2) AS BIGINT) AS min_dist2,
               CAST(MAX(dist2) AS BIGINT) AS max_dist2,
               CAST(SUM(dist2) AS BIGINT) AS sum_dist2
        FROM pairs GROUP BY 1 ORDER BY band
    """,
    description="Fixed-radius spatial pair join via grid-cell blocking: "
    "points live on a md5-derived integer lattice whose width scales "
    "with point count (constant density, power-of-two CASE ladder — a "
    "fixed world under growing N is quadratic by construction); cell "
    "size equals the "
    "radius, so every qualifying pair is confined to a 3x3 cell "
    "neighborhood. Spark explodes 9 neighbor offsets on one side and "
    "equi-joins on a single composite cell key (shuffle-hash-friendly, "
    "uniformly distributed cells — no skew), then applies the exact "
    "integer squared-distance filter; a<b on ids dedups pairs because "
    "the partner's cell lands in exactly one neighbor slot. The oracle "
    "is the brute-force all-pairs textbook join; the hash match proves "
    "the blocking lossless. At 100 TB the all-pairs form is O(N^2) and "
    "dead; grid blocking is O(N * density) with a per-cell bound, and "
    "hot cells shard by salting the cell key — the standard spatial-join "
    "scale path (same shape as GeoSpark/Sedona partitioned joins). All "
    "arithmetic is integer (squared distances, no sqrt), bit-exact in "
    "any engine.",
)
def geo_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")

    def hex4(prefix: str) -> F.Column:
        h = F.md5(F.concat(F.lit(prefix), F.col("c_custkey").cast("string")))
        return F.conv(F.substring(h, 1, 4), 16, 10).cast("long")

    cases = " ".join(
        f"WHEN n <= {lim} THEN {w}" for lim, w in _GEO_LADDER
    )
    wsel = cust.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(f"CASE {cases} ELSE {_GEO_W_MAX} END").alias("w")
    )
    pts = cust.crossJoin(F.broadcast(wsel)).select(
        F.col("c_custkey").alias("id"),
        (hex4("x:") % F.col("w")).alias("x"),
        (hex4("y:") % F.col("w")).alias("y"),
    )
    cell = lambda c: F.expr(f"{c} div {_GEO_R}")  # noqa: E731
    right = pts.select(
        F.col("id").alias("rid"),
        F.col("x").alias("rx"),
        F.col("y").alias("ry"),
        (cell("x") * _CELL_PACK + cell("y")).alias("rcell"),
    )
    offsets = F.array(*[F.lit(d) for d in range(-1, 2)])
    left = (
        pts.withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            F.col("id").alias("lid"),
            F.col("x").alias("lx"),
            F.col("y").alias("ly"),
            (
                (cell("x") + F.col("dx")) * _CELL_PACK
                + (cell("y") + F.col("dy"))
            ).alias("lcell"),
        )
    )
    dist2 = (F.col("lx") - F.col("rx")) * (F.col("lx") - F.col("rx")) + (
        F.col("ly") - F.col("ry")
    ) * (F.col("ly") - F.col("ry"))
    pairs = (
        left.join(
            right,
            (F.col("lcell") == F.col("rcell")) & (F.col("lid") < F.col("rid")),
        )
        .withColumn("dist2", dist2)
        .filter(F.col("dist2") <= _GEO_R2)
    )
    return (
        pairs.groupBy(
            F.expr(f"dist2 div {_GEO_R2 // _BANDS}").cast("long").alias("band")
        )
        .agg(
            F.count(F.lit(1)).alias("pair_count"),
            F.min("dist2").cast("long").alias("min_dist2"),
            F.max("dist2").cast("long").alias("max_dist2"),
            F.sum("dist2").cast("long").alias("sum_dist2"),
        )
        .orderBy("band")
    )
