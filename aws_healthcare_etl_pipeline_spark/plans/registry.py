"""Query registry + the exact-arithmetic conventions for oracle parity.

Every query is a ``(spark, sf_dir) -> DataFrame`` callable plus, when
SQL-expressible, a DuckDB oracle string. The driver hash-compares
values, so floating-point aggregation must be *bit-identical* across
engines. Convention used throughout (fixture measures are exactly
2-decimal, verified in tests/test_fixture_assumptions.py):

  SUM(double_col)  ->  SUM(CAST(col AS DECIMAL(15,2))) :: DOUBLE
  products        ->  multiply DECIMAL-cast operands (exact), then sum
  AVG             ->  exact decimal SUM :: DOUBLE / COUNT  (identical
                      double division on identical inputs)

Decimal arithmetic is exact in both Spark and DuckDB, and casting the
exact result to double is deterministic — so partial-aggregation order
(which differs run to run AND engine to engine) can't change the hash.

Fragments that a Spark plan and its oracle must both spell live here
once, as pairs (``disc_price()``/``SQL_DISC_PRICE``, ``hex8``/``sql_hex8``,
``heavy_trade``/``SQL_HEAVY_TRADE``, ...); plan modules import them
rather than copy them. The md5 hash behind every deterministic draw is
the first n hex digits of md5(x) read as an integer (n = 8 or 4): one
``conv`` expression per width in Spark, one strpos nibble chain per
width in DuckDB.

The side pipelines some plans run before returning a frame are defined
here once too: ``run_available_now`` (a streaming frame drained to a
memory sink) and ``scratch`` (a directory for write-then-read plans,
removed at interpreter exit).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver rows-only check
    description: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None, description: str = ""):
    """Decorator registering a named query with its oracle SQL."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, description or (fn.__doc__ or ""))
        return fn

    return deco


# ---- exact-aggregation column helpers (Spark side) ----

def dec(col: Column | str, typ: str = "decimal(15,2)") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: Column | str, typ: str = "decimal(15,2)") -> Column:
    """Order-insensitive exact sum of a 2-decimal double, as double."""
    return F.sum(dec(col, typ)).cast("double")


def davg(col: Column | str, typ: str = "decimal(15,2)") -> Column:
    """Exact-sum / count as double — engine-portable average."""
    return F.sum(dec(col, typ)).cast("double") / F.count(F.lit(1))


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount), exact decimal."""
    return dec("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")).cast("decimal(8,2)")


def charge() -> Column:
    """l_extendedprice * (1-l_discount) * (1+l_tax), exact decimal."""
    return disc_price() * (F.lit(1.0) + F.col("l_tax")).cast("decimal(8,2)")


# matching DuckDB SQL fragments
SQL_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(1 - l_discount AS DECIMAL(8,2))"
SQL_CHARGE = SQL_DISC_PRICE + " * CAST(1 + l_tax AS DECIMAL(8,2))"


def sql_dsum(expr: str, typ: str = "DECIMAL(15,2)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"


# ---- the md5 hash, one spelling per engine ----

def hex8(col: Column) -> Column:
    """Spark: the first 8 hex digits of md5(col) as a long."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def hex4(col: Column) -> Column:
    """Spark: the first 4 hex digits of md5(col) as a long."""
    return F.conv(F.substring(F.md5(col), 1, 4), 16, 10).cast("long")


def _sql_nibble(hexstr: str, i: int) -> str:
    return f"(strpos('0123456789abcdef', substr({hexstr}, {i + 1}, 1)) - 1)"


def sql_hexstr8(hexstr: str) -> str:
    """DuckDB: the first 8 digits of the hex string ``hexstr`` as a BIGINT."""
    out = "CAST(0 AS BIGINT)"
    for i in range(8):
        out = f"({out} * 16 + {_sql_nibble(hexstr, i)})"
    return out


def sql_hex8(expr: str) -> str:
    """DuckDB twin of ``hex8``: the same integer from md5(expr)."""
    return sql_hexstr8(f"md5({expr})")


def sql_hex4(expr: str) -> str:
    """DuckDB twin of ``hex4``: the same integer from md5(expr)."""
    n = [_sql_nibble(f"md5({expr})", i) for i in range(4)]
    return f"((({n[0]} * 16 + {n[1]}) * 16 + {n[2]}) * 16 + {n[3]})"


# ---- the customer segment score: whole acctbal units + 10 x segment weight ----

SEG_W = (
    "CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 120 WHEN 'BUILDING' THEN 80 "
    "WHEN 'FURNITURE' THEN 40 WHEN 'MACHINERY' THEN 160 ELSE 0 END"
)
SQL_SEG_SCORE = (
    "CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT) // 100"
    f" + CAST({SEG_W} AS BIGINT) * 10"
)


def seg_score() -> Column:
    """Spark twin of ``SQL_SEG_SCORE``."""
    return F.expr(
        "CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT) div 100"
        f" + CAST({SEG_W} AS BIGINT) * 10"
    )


# ---- SQL text helpers ----

def split_top_level(s: str) -> list[str]:
    """Split on commas at paren depth 0 (CASE/DECIMAL commas safe)."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


# ---- the heavy nation-trade graph ----
# trade(u, v, w): cross-nation revenue (cents) per unordered nation pair
# (u < v); heavy(u, v): the pairs whose w is at least 1.5x the mean pair w.

SQL_NATION_TRADE = """trade AS (
            SELECT least(cn.n_nationkey, sn.n_nationkey) AS u,
                   greatest(cn.n_nationkey, sn.n_nationkey) AS v,
                   CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS w
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            JOIN nation cn ON cn.n_nationkey = c.c_nationkey
            JOIN nation sn ON sn.n_nationkey = s.s_nationkey
            WHERE cn.n_nationkey <> sn.n_nationkey
            GROUP BY 1, 2
        ), st AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(w) AS BIGINT) AS tot
            FROM trade
        )"""
SQL_HEAVY_TRADE = SQL_NATION_TRADE + """, heavy AS (
            SELECT u, v FROM trade CROSS JOIN st
            WHERE w * cnt * 2 >= 3 * tot
        )"""


def heavy_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``SQL_HEAVY_TRADE``: the heavy edge set ``(u, v)``."""
    line = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    cn = F.col("c_nationkey")
    sn = F.col("s_nationkey")
    trade = (
        line.join(orders, orders.o_orderkey == line.l_orderkey)
        .join(F.broadcast(customer), customer.c_custkey == orders.o_custkey)
        .join(F.broadcast(supplier), supplier.s_suppkey == line.l_suppkey)
        .where(cn != sn)
        .groupBy(F.least(cn, sn).alias("u"), F.greatest(cn, sn).alias("v"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(15,2)") * 100)
            .cast("long")
            .alias("w")
        )
    )
    st = trade.agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("w").cast("long").alias("tot"),
    )
    return (
        trade.crossJoin(F.broadcast(st))
        .where(F.col("w") * F.col("cnt") * 2 >= 3 * F.col("tot"))
        .select("u", "v")
    )


# ---- the 1996-buyer label ----

def buyers_1996(spark: SparkSession, sf_dir: str, value: Column) -> DataFrame:
    """The 1996-buyer label frame ``lab(k, value, y)``: one row per customer k
    (grouped with ``value``), y = 1 iff k placed an order in 1996, else 0."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, orders.o_custkey == customer.c_custkey, "left")
        .groupBy(customer.c_custkey.alias("k"), value)
        .agg(
            F.when(F.count(F.when(F.year("o_orderdate") == 1996, 1)) > 0, 1)
            .otherwise(0)
            .alias("y")
        )
    )


# ---- side pipelines: the memory-sink run and the scratch directory ----

def run_available_now(df: DataFrame, output_mode: str) -> DataFrame:
    """Drain the streaming frame ``df`` to a memory sink under
    Trigger.AvailableNow and return the sink's rows. The sink's view is
    dropped before returning; the frame keeps the rows it resolved to."""
    spark = df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:8]}"
    (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


# One per-process root: each call gets a fresh subdirectory (deltalite
# tables are version logs, so reuse would accrete manifests), and the
# whole root is removed at interpreter exit, so repeated bench sessions
# leave nothing in the temp directory.
_SCRATCH_ROOT: list[str] = []


def scratch(prefix: str) -> str:
    """A fresh directory for a plan that writes data and reads it back."""
    if not _SCRATCH_ROOT:
        root = tempfile.mkdtemp(prefix="sparkgraft_scratch_")
        _SCRATCH_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT[0])
