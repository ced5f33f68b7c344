"""Wave-216 (round 11), part 1: serial-correlation and influence
diagnostics, threshold secret sharing, and two protocol replays.

Five oracle-backed queries in lanes the engine does not yet carry:

- ``stat_durbin_watson_autocorr`` — the Durbin-Watson serial-
  correlation statistic on each nation's daily-revenue residual
  series, computed WITHOUT per-row big residuals: multiplying the
  residual e_d = y_d - S/n through by n makes both DW terms pure
  aggregate algebra (num = n*sum((dy)^2), den = n*sum(y^2) - S^2),
  so the whole test is two shuffles of plain sums.
- ``regr_leverage_hat_audit`` — OLS leverage (hat-matrix diagonal)
  for the date regressor: h_i = (Q + (n*x_i - S)^2) / (n*Q) with
  Q = n*sum(x^2) - S^2, all integer; flags h_i > 4/n by pure
  cross-multiplication ((n*x_i - S)^2 > 3*Q) and proves the
  trace identity sum(h_i) = 2 AS DATA (sum of numerators == 2*n*Q).
- ``privacy_shamir_secret_sharing`` — Shamir 3-of-5 threshold
  sharing over GF(257): per-customer secret (acctbal cents mod 257),
  md5-derived polynomial coefficients, shares at x = 1..5, and
  reconstruction through ALL ten 3-subsets using precomputed
  Lagrange-at-zero weights (module-level modular inverses) — the
  completeness theorem (every authorized subset reconstructs
  exactly) lands in the result as n_customers == n_reconstruct_ok.
- ``ops_aimd_cwnd_replay`` — TCP-style AIMD congestion control
  replayed per supplier over its shipment sequence (md5-derived 5%
  loss): additive increase +1 to a cap, multiplicative decrease
  cwnd DIV 2 on loss — a grouped ``F.aggregate`` fold with O(1)
  state, aggregated to per-nation totals.
- ``queue_lindley_waiting_replay`` — the Lindley waiting-time
  recursion W_n = max(0, W_{n-1} + s_{n-1} - a_n) over each
  nation's 1995 order arrivals in exact deci-day units — the
  G/G/1 companion to the declarative Little's-law and Kingman
  audits already in the registry.

House rules: no transcendental in the hash path; integer DIV only on
non-negative operands (== FLOOR in both engines); DECIMAL(38,0) on
the Spark side pairs with HUGEINT in DuckDB for quadratic forms;
every ordering carries an explicit integer tie-break.

Reference parity note: the reference pipeline's only analytics is an
Athena GROUP BY (README.md:92-101 of the reference); everything here
is [EXT] surface built on the same curated tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import hex4, query, sql_hex4

_D38 = "decimal(38,0)"


# ------------------------------------------- Durbin-Watson statistic


@query(
    "stat_durbin_watson_autocorr",
    oracle="""
        WITH daily AS (
            SELECT n.n_name, o.o_orderdate AS day,
                   CAST(SUM(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100)
                        AS BIGINT) AS y
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            GROUP BY 1, 2
        ), lagged AS (
            SELECT n_name, y,
                   y - LAG(y) OVER (PARTITION BY n_name ORDER BY day) AS dy
            FROM daily
        ), agg AS (
            SELECT n_name,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(y) AS HUGEINT) AS s,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sy2,
                   CAST(SUM(CASE WHEN dy IS NULL THEN 0
                            ELSE CAST(dy AS HUGEINT) * dy END)
                        AS HUGEINT) AS sd2
            FROM lagged GROUP BY n_name
        )
        SELECT n_name,
               CAST(n AS BIGINT) AS n_days,
               CAST((1000000 * n * sd2) // (n * sy2 - s * s)
                    AS BIGINT) AS dw_micro,
               ((1000000 * n * sd2) // (n * sy2 - s * s)) < 2000000
                   AS positive_autocorr
        FROM agg
        WHERE n * sy2 - s * s > 0
        ORDER BY n_name
    """,
    description="Durbin-Watson serial-correlation statistic of each "
    "nation's daily order-revenue residuals (residual = deviation "
    "from the nation mean). Multiplying the residual through by n "
    "turns both DW terms into closed-form aggregate algebra — "
    "num = n*sum(diff^2), den = n*sum(y^2) - S^2 — so no per-row "
    "big-integer residual ever materializes: one partial-agg shuffle "
    "to the (nation, day) grain, one lag window inside the bounded "
    "per-nation day spine, one final 25-row aggregate. dw_micro < "
    "2e6 flags positive autocorrelation (DW < 2). Constant series "
    "(den = 0) are filtered identically in both engines. Exact "
    "integer end-to-end: DECIMAL(38,0) quadratic forms on the Spark "
    "side, HUGEINT in the oracle, one final floor division on "
    "non-negative operands.",
)
def stat_durbin_watson_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    daily = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(15,2)") * 100)
            .cast("long")
            .alias("y")
        )
    )
    w = Window.partitionBy("n_name").orderBy("day")
    lagged = daily.select(
        "n_name", "y", (F.col("y") - F.lag("y").over(w)).alias("dy")
    )
    agg = lagged.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("y").cast(_D38).alias("s"),
        F.sum(F.col("y").cast(_D38) * F.col("y")).cast(_D38).alias("sy2"),
        F.sum(
            F.when(F.col("dy").isNull(), F.lit(0).cast(_D38)).otherwise(
                F.col("dy").cast(_D38) * F.col("dy")
            )
        )
        .cast(_D38)
        .alias("sd2"),
    )
    den = F.col("n") * F.col("sy2") - F.col("s") * F.col("s")
    dw = F.expr("CAST((1000000 * n * sd2) DIV (n * sy2 - s * s) AS BIGINT)")
    return (
        agg.where(den > 0)
        .select(
            "n_name",
            F.col("n").cast("long").alias("n_days"),
            dw.alias("dw_micro"),
            (dw < 2000000).alias("positive_autocorr"),
        )
        .orderBy("n_name")
    )


# ------------------------------------------- OLS leverage / hat audit


@query(
    "regr_leverage_hat_audit",
    oracle="""
        WITH pts AS (
            SELECT n.n_name,
                   CAST(datediff('day', DATE '1970-01-01', o.o_orderdate)
                        AS HUGEINT) AS x
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
        ), agg AS (
            SELECT n_name,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(x) AS HUGEINT) AS s,
                   CAST(SUM(x * x) AS HUGEINT) AS sx2
            FROM pts GROUP BY n_name
        ), dev AS (
            SELECT p.n_name,
                   (a.n * p.x - a.s) * (a.n * p.x - a.s) AS d2,
                   a.n, a.n * a.sx2 - a.s * a.s AS q
            FROM pts p JOIN agg a USING (n_name)
        )
        SELECT n_name,
               CAST(MAX(n) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN d2 > 3 * q THEN 1 ELSE 0 END)
                    AS BIGINT) AS high_leverage_count,
               CAST((1000000 * (MAX(q) + MAX(d2))) // (MAX(n) * MAX(q))
                    AS BIGINT) AS max_h_micro,
               SUM(q + d2) = 2 * MAX(n) * MAX(q) AS hat_trace_is_two
        FROM dev
        WHERE q > 0
        GROUP BY n_name
        ORDER BY n_name
    """,
    description="OLS leverage (hat-matrix diagonal) audit for the "
    "intercept+date design, per nation: h_i = (Q + d_i^2)/(n*Q) with "
    "d_i = n*x_i - S and Q = n*sum(x^2) - S^2 — the textbook "
    "h_i = 1/n + (x_i - xbar)^2/Sxx cleared of every fraction. "
    "High-leverage points (h_i > 2p/n = 4/n) are flagged by pure "
    "integer cross-multiplication d_i^2 > 3Q, and the hat-trace "
    "theorem trace(H) = p = 2 is proven AS DATA per nation "
    "(sum(Q + d_i^2) == 2nQ, exact). Scale shape: one partial-agg "
    "shuffle for (n, S, sum x^2), one broadcast join of the 25-row "
    "aggregate back onto the fact rows, one final per-nation "
    "aggregate — no per-row state, no windows over fact-scale data; "
    "DECIMAL(38,0) / HUGEINT quadratic forms.",
)
def regr_leverage_hat_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    pts = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast(_D38)
            .alias("x"),
        )
    )
    agg = pts.groupBy("n_name").agg(
        F.count(F.lit(1)).cast(_D38).alias("n"),
        F.sum("x").cast(_D38).alias("s"),
        F.sum(F.col("x") * F.col("x")).cast(_D38).alias("sx2"),
    )
    dev = pts.join(F.broadcast(agg), "n_name").select(
        "n_name",
        ((F.col("n") * F.col("x") - F.col("s"))
         * (F.col("n") * F.col("x") - F.col("s"))).alias("d2"),
        "n",
        (F.col("n") * F.col("sx2") - F.col("s") * F.col("s")).alias("q"),
    )
    return (
        dev.where(F.col("q") > 0)
        .groupBy("n_name")
        .agg(
            F.max("n").cast("long").alias("n_orders"),
            F.sum(F.when(F.col("d2") > 3 * F.col("q"), 1).otherwise(0))
            .cast("long")
            .alias("high_leverage_count"),
            F.expr(
                "CAST((1000000 * (MAX(q) + MAX(d2))) DIV (MAX(n) * MAX(q))"
                " AS BIGINT)"
            ).alias("max_h_micro"),
            (F.sum(F.col("q") + F.col("d2"))
             == 2 * F.max("n") * F.max("q")).alias("hat_trace_is_two"),
        )
        .orderBy("n_name")
    )


# --------------------------------------- Shamir 3-of-5 secret sharing

_SH_P = 257  # field prime; all share/secret values live in 0..256
_SH_XS = (1, 2, 3, 4, 5)


def _lagrange_at_zero(subset: tuple[int, int, int]) -> list[int]:
    """Lagrange weights at x=0 over GF(257) for the given share x's.

    Public textbook math evaluated at import time: lam_i =
    prod_{j != i} x_j * inv(x_j - x_i) mod p, so that
    secret = sum_i lam_i * y_i mod p for any degree-2 polynomial.
    """
    lams = []
    for i in subset:
        num, den = 1, 1
        for j in subset:
            if j != i:
                num = (num * j) % _SH_P
                den = (den * (j - i)) % _SH_P
        lams.append((num * pow(den, _SH_P - 2, _SH_P)) % _SH_P)
    return lams


_SH_SUBSETS = [
    (i, j, k)
    for i in _SH_XS
    for j in _SH_XS
    for k in _SH_XS
    if i < j < k
]
_SH_LAMBDAS = {t: _lagrange_at_zero(t) for t in _SH_SUBSETS}


def _shamir_recon_sql(t: tuple[int, int, int]) -> str:
    lam = _SH_LAMBDAS[t]
    terms = " + ".join(
        f"{lam[n]} * y{t[n]}" for n in range(3)
    )
    return f"(({terms}) % {_SH_P})"


@query(
    "privacy_shamir_secret_sharing",
    oracle=f"""
        WITH base AS (
            SELECT c_custkey,
                   ((CAST(CAST(c_acctbal AS DECIMAL(15,2)) * 100 AS BIGINT)
                     % {_SH_P}) + {_SH_P}) % {_SH_P} AS s,
                   {sql_hex4("'sh1:' || CAST(c_custkey AS VARCHAR)")}
                       % {_SH_P} AS a1,
                   {sql_hex4("'sh2:' || CAST(c_custkey AS VARCHAR)")}
                       % {_SH_P} AS a2
            FROM customer
        ), shares AS (
            SELECT c_custkey, s,
                   {", ".join(
                       f"(s + a1 * {x} + a2 * {x * x}) % {_SH_P} AS y{x}"
                       for x in _SH_XS
                   )}
            FROM base
        ), audited AS (
            SELECT y1 // 26 AS share1_bucket,
                   CASE WHEN {" AND ".join(
                       f"{_shamir_recon_sql(t)} = s" for t in _SH_SUBSETS
                   )} THEN 1 ELSE 0 END AS all_ok
            FROM shares
        )
        SELECT CAST(share1_bucket AS BIGINT) AS share1_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(all_ok) AS BIGINT) AS n_reconstruct_ok
        FROM audited
        GROUP BY share1_bucket
        ORDER BY share1_bucket
    """,
    description="Shamir 3-of-5 threshold secret sharing over GF(257): "
    "each customer's secret (acctbal cents mod 257) is split with a "
    "degree-2 polynomial whose coefficients are md5-derived 16-bit "
    "draws, shares evaluated at x = 1..5, and the completeness "
    "theorem — EVERY 3-subset of shares reconstructs the secret "
    "exactly — is proven as data across all C(5,3) = 10 subsets "
    "using Lagrange-at-zero weights whose modular inverses are "
    "precomputed module-level constants (no runtime inverse). "
    "Grouping by the first share's value bucket also exposes the "
    "share marginal distribution (secrecy comes from uniform-ish "
    "marginals; the exact bucket counts are the auditable artifact). "
    "Scale shape: a pure per-row projection (share generation and 10 "
    "reconstructions are ~60 integer ops/row, all JVM codegen) plus "
    "ONE aggregation shuffle on a 10-value key.",
)
def privacy_shamir_secret_sharing(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    p = _SH_P
    base = customer.select(
        "c_custkey",
        (
            (
                (F.col("c_acctbal").cast("decimal(15,2)") * 100)
                .cast("long") % p + p
            ) % p
        ).alias("s"),
        (hex4(F.concat(F.lit("sh1:"), F.col("c_custkey").cast("string"))) % p)
        .alias("a1"),
        (hex4(F.concat(F.lit("sh2:"), F.col("c_custkey").cast("string"))) % p)
        .alias("a2"),
    )
    shares = base.select(
        "c_custkey",
        "s",
        *[
            ((F.col("s") + F.col("a1") * x + F.col("a2") * (x * x)) % p)
            .alias(f"y{x}")
            for x in _SH_XS
        ],
    )
    ok = None
    for t in _SH_SUBSETS:
        lam = _SH_LAMBDAS[t]
        recon = (
            F.col(f"y{t[0]}") * lam[0]
            + F.col(f"y{t[1]}") * lam[1]
            + F.col(f"y{t[2]}") * lam[2]
        ) % p
        cond = recon == F.col("s")
        ok = cond if ok is None else (ok & cond)
    audited = shares.select(
        (F.col("y1") / 26).cast("long").alias("share1_bucket"),
        F.when(ok, 1).otherwise(0).alias("all_ok"),
    )
    return (
        audited.groupBy("share1_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("all_ok").cast("long").alias("n_reconstruct_ok"),
        )
        .orderBy("share1_bucket")
    )


# ------------------------------------------------ AIMD cwnd replay

_AIMD_CAP = 64
_AIMD_LOSS_MOD = 20  # md5 draw % 20 == 0  ->  5% deterministic loss


@query(
    "ops_aimd_cwnd_replay",
    oracle=f"""
        WITH RECURSIVE ship AS (
            SELECT l.l_suppkey AS sk,
                   CASE WHEN {sql_hex4(
                       "'ld:' || CAST(l.l_orderkey AS VARCHAR) || ':' "
                       "|| CAST(l.l_linenumber AS VARCHAR)"
                   )} % {_AIMD_LOSS_MOD} = 0 THEN 1 ELSE 0 END AS loss,
                   l.l_shipdate AS d, l.l_orderkey AS ok,
                   l.l_linenumber AS ln
            FROM lineitem l
        ), packed AS (
            SELECT sk, list(loss ORDER BY d, ok, ln) AS ls
            FROM ship GROUP BY sk
        ), it AS (
            SELECT sk, ls, 0 AS t,
                   CAST(1 AS BIGINT) AS cwnd, CAST(0 AS BIGINT) AS sent,
                   CAST(0 AS BIGINT) AS losses
            FROM packed
            UNION ALL
            SELECT sk, ls, t + 1,
                   CASE WHEN ls[t+1] = 1
                        THEN GREATEST(1, cwnd // 2)
                        ELSE LEAST({_AIMD_CAP}, cwnd + 1) END,
                   sent + CASE WHEN ls[t+1] = 1
                               THEN GREATEST(1, cwnd // 2)
                               ELSE LEAST({_AIMD_CAP}, cwnd + 1) END,
                   losses + ls[t+1]
            FROM it WHERE t < len(ls)
        ), final AS (
            SELECT sk, len(ls) AS slots, cwnd, sent, losses
            FROM it WHERE t = len(ls)
        )
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               CAST(SUM(f.slots) AS BIGINT) AS total_slots,
               CAST(SUM(f.sent) AS BIGINT) AS total_sent,
               CAST(SUM(f.losses) AS BIGINT) AS total_losses,
               CAST(MAX(f.cwnd) AS BIGINT) AS max_final_cwnd,
               CAST(SUM(f.cwnd) AS BIGINT) AS sum_final_cwnd
        FROM final f
        JOIN supplier s ON s.s_suppkey = f.sk
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name
        ORDER BY n.n_name
    """,
    description="TCP-style AIMD congestion control replayed per "
    "supplier over its shipment sequence (ordered by shipdate, "
    "orderkey, linenumber): a deterministic md5-derived 5% loss "
    f"halves the window (integer DIV, floor 1), an ACK adds 1 up to "
    f"the {_AIMD_CAP}-segment cap, and each slot transmits the "
    "post-update window. A grouped F.aggregate fold with O(1) "
    "struct state — the LPT/Holt-Winters per-group-replay contract: "
    "per-supplier sequences stay bounded under the replica scale "
    "generator, so the collect_list arrays are per-group bounded. "
    "Aggregated to per-nation transmission totals. Oracle: DuckDB "
    "recursive CTE carrying the same (cwnd, sent, losses) scalars. "
    "Scale shape: one shuffle to group shipments per supplier, one "
    "broadcast dim join, one 25-key aggregate.",
)
def ops_aimd_cwnd_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    ship = lineitem.select(
        F.col("l_suppkey").alias("sk"),
        F.when(
            hex4(
                F.concat(
                    F.lit("ld:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            )
            % _AIMD_LOSS_MOD
            == 0,
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("loss"),
        F.col("l_shipdate").alias("d"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    packed = ship.groupBy("sk").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("d", "ok", "ln", "loss"))),
            lambda s: s.getField("loss"),
        ).alias("ls")
    )
    zero = F.struct(
        F.lit(1).cast("long").alias("cwnd"),
        F.lit(0).cast("long").alias("sent"),
        F.lit(0).cast("long").alias("losses"),
    )

    def step(acc, x):
        # cwnd is always >= 1, so double-divide + cast == floor == DIV
        nxt = F.when(
            x == 1,
            F.greatest(
                F.lit(1).cast("long"),
                (acc.getField("cwnd") / 2).cast("long"),
            ),
        ).otherwise(
            F.least(F.lit(_AIMD_CAP).cast("long"), acc.getField("cwnd") + 1)
        )
        return F.struct(
            nxt.alias("cwnd"),
            (acc.getField("sent") + nxt).alias("sent"),
            (acc.getField("losses") + x).alias("losses"),
        )

    folded = packed.select(
        "sk",
        F.size("ls").cast("long").alias("slots"),
        F.aggregate("ls", zero, step).alias("st"),
    )
    return (
        folded.join(supplier, folded.sk == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("slots").cast("long").alias("total_slots"),
            F.sum(F.col("st.sent")).cast("long").alias("total_sent"),
            F.sum(F.col("st.losses")).cast("long").alias("total_losses"),
            F.max(F.col("st.cwnd")).cast("long").alias("max_final_cwnd"),
            F.sum(F.col("st.cwnd")).cast("long").alias("sum_final_cwnd"),
        )
        .orderBy("n_name")
    )


# -------------------------------------------- Lindley waiting times


@query(
    "queue_lindley_waiting_replay",
    oracle="""
        WITH RECURSIVE arr AS (
            SELECT n.n_name,
                   CAST(datediff('day', DATE '1970-01-01', o.o_orderdate)
                        AS BIGINT) AS day,
                   1 + (CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100
                             AS BIGINT) // 100) % 13 AS svc,
                   o.o_orderkey AS ok
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE EXTRACT(year FROM o.o_orderdate) = 1995
        ), packed AS (
            SELECT n_name,
                   list(struct_pack(day := day, svc := svc)
                        ORDER BY day, ok) AS js
            FROM arr GROUP BY n_name
        ), it AS (
            SELECT n_name, js, 0 AS t,
                   CAST(0 AS BIGINT) AS prevday, CAST(0 AS BIGINT) AS prevsvc,
                   CAST(0 AS BIGINT) AS w, CAST(0 AS BIGINT) AS sumw,
                   CAST(0 AS BIGINT) AS maxw
            FROM packed
            UNION ALL
            SELECT n_name, js, t + 1,
                   js[t+1].day, js[t+1].svc,
                   CASE WHEN t = 0 THEN 0
                        ELSE GREATEST(0, w + prevsvc
                                         - 10 * (js[t+1].day - prevday)) END,
                   sumw + CASE WHEN t = 0 THEN 0
                               ELSE GREATEST(0, w + prevsvc
                                    - 10 * (js[t+1].day - prevday)) END,
                   GREATEST(maxw, CASE WHEN t = 0 THEN 0
                            ELSE GREATEST(0, w + prevsvc
                                 - 10 * (js[t+1].day - prevday)) END)
            FROM it WHERE t < len(js)
        )
        SELECT n_name,
               CAST(len(js) AS BIGINT) AS n_orders,
               CAST(maxw AS BIGINT) AS max_wait_deci,
               CAST((1000000 * sumw) // len(js) AS BIGINT)
                   AS mean_wait_micro,
               CAST(w AS BIGINT) AS final_wait_deci
        FROM it WHERE t = len(js)
        ORDER BY n_name
    """,
    description="Lindley waiting-time recursion W_n = max(0, W_{n-1} "
    "+ s_{n-1} - a_n) replayed over each nation's 1995 order "
    "arrivals in exact deci-day units: interarrival = 10 * day gap "
    "(orders sorted by day then orderkey), deterministic service "
    "1 + (cents DIV 100) % 13 deci-days. The G/G/1 single-server "
    "wait companion to the registry's declarative Little's-law and "
    "Kingman-bound audits — those verify steady-state identities, "
    "this one replays the actual sample path. Grouped F.aggregate "
    "fold with O(1) struct state (prev arrival, prev service, W, "
    "running sum/max) under the per-group-bounded replay contract. "
    "Scale shape: one shuffle to group arrivals per nation, then a "
    "linear fold per group; output is one row per nation.",
)
def queue_lindley_waiting_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    arr = (
        orders.where(F.year("o_orderdate") == 1995)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
            (
                1
                + F.expr(
                    "(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 "
                    "AS BIGINT) DIV 100) % 13"
                )
            )
            .cast("long")
            .alias("svc"),
            F.col("o_orderkey").alias("ok"),
        )
    )
    packed = arr.groupBy("n_name").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "ok", "svc"))),
            lambda s: F.struct(
                s.getField("day").alias("day"), s.getField("svc").alias("svc")
            ),
        ).alias("js")
    )
    zero = F.struct(
        F.lit(0).cast("long").alias("t"),
        F.lit(0).cast("long").alias("prevday"),
        F.lit(0).cast("long").alias("prevsvc"),
        F.lit(0).cast("long").alias("w"),
        F.lit(0).cast("long").alias("sumw"),
        F.lit(0).cast("long").alias("maxw"),
    )

    def step(acc, j):
        neww = F.when(acc.getField("t") == 0, F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(0).cast("long"),
                acc.getField("w")
                + acc.getField("prevsvc")
                - 10 * (j.getField("day") - acc.getField("prevday")),
            )
        )
        return F.struct(
            (acc.getField("t") + 1).alias("t"),
            j.getField("day").alias("prevday"),
            j.getField("svc").alias("prevsvc"),
            neww.alias("w"),
            (acc.getField("sumw") + neww).alias("sumw"),
            F.greatest(acc.getField("maxw"), neww).alias("maxw"),
        )

    folded = packed.select(
        "n_name",
        F.size("js").cast("long").alias("n_orders"),
        F.aggregate("js", zero, step).alias("st"),
    )
    return folded.select(
        "n_name",
        "n_orders",
        F.col("st.maxw").alias("max_wait_deci"),
        F.expr("CAST((1000000 * st.sumw) DIV n_orders AS BIGINT)").alias(
            "mean_wait_micro"
        ),
        F.col("st.w").alias("final_wait_deci"),
    ).orderBy("n_name")
